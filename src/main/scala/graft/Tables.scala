package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (`TESTDATA.md`).
  * All reads go through here so filter pushdown / column pruning apply
  * uniformly and the `events` nanos quirk is handled in one place.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The tables directory the timing and triage tools read:
    * `SPARK_GRAFT_SF_DIR`, sf0.1 when unset.
    */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Warm a session before timing: parquet footers, the codegen
    * framework, shuffle machinery. Steady-state cost is what a
    * long-running cluster job sees; without this the first queries
    * absorb ~10 s of one-time JVM/Spark initialization. A missing
    * table is skipped.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    names.foreach { n =>
      try table(spark, dir, n).limit(1).count()
      catch { case _: Throwable => () }
    }
    try table(spark, dir, "lineitem")
      .groupBy("l_returnflag").agg(count(lit(1))).count()
    catch { case _: Throwable => () }
  }

  /** Normalize a raw `events`-shaped frame (batch or streaming) to the
    * engine's canonical event-time columns, whatever the physical `ts`
    * type of the data generation:
    *  - epoch-nanos Long (TIMESTAMP(NANOS) parquet read under
    *    `nanosAsLong`), or
    *  - µs TimestampType (regenerated testdata stores timestamp[us]).
    * Output carries `ts_ns` (epoch-nanos Long, exact — µs data is
    * ns-lossless by construction) in the slot `ts` occupied, plus `ts`
    * (µs TimestampType) appended, same order in both branches so
    * downstream shapes don't depend on the source's physical schema.
    */
  def withEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val shaped = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts must be epoch-nanos Long or TimestampType, got $other")
    }
    val cols = raw.columns.map { case "ts" => "ts_ns"; case c => c } :+ "ts"
    shaped.select(cols.toIndexedSeq.map(col): _*)
  }

  /** `events` with the normalized time columns ([[withEventTime]]):
    *  - `ts_ns`  — epoch-nanos Long (full precision),
    *  - `ts`     — microsecond TimestampType (Spark-native),
    *  - `ts_sec` — second-truncated TimestampType (what oracle-compared
    *    queries use: DuckDB may keep ns precision, Spark keeps micros,
    *    so any sub-second output would hash-mismatch by construction).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTime(table(spark, dir, "events"))
      .withColumn("ts_sec", timestamp_seconds(expr("ts_ns div 1000000000")))

  /** Max event time as epoch nanos; None on an empty table. The stream
    * gates use it to place watermark-advancing sentinels past the data.
    *
    * MEMOIZED per path for the life of the JVM: assumes the data at
    * `dir` is immutable while this process lives (true for every gate
    * run). A long-lived library JVM whose table at the same path is
    * REGENERATED would be served a stale stat — restart, or call
    * through a fresh path.
    */
  def maxEventNs(spark: SparkSession, dir: String): Option[Long] = {
    // memoized per sf dir: the testdata is immutable within a run and
    // ~10 stream gates each paid this full-column agg (~0.3 s at
    // sf0.1) just to place their watermark sentinels — the same
    // caching any production system applies to table statistics.
    // Keyed on the NORMALIZED path ("sf0.1" vs "sf0.1/" were two
    // entries); [[clearStatsCache]] is the regeneration hook.
    maxNsCache.computeIfAbsent(
      java.nio.file.Paths.get(dir).normalize().toString, { _ =>
        val r = events(spark, dir).agg(max("ts_ns")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      })
  }
  private val maxNsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()

  /** Drop the memoized per-dir statistics. A long-lived JVM that
    * REGENERATES a table under the same path must call this (test
    * fixtures, notebook sessions) — otherwise stream gates place
    * their watermark sentinels relative to the OLD max event time and
    * silently drop late rows (the r7 regeneration lesson, reduced
    * from "restart the JVM" to one call).
    */
  def clearStatsCache(): Unit = maxNsCache.clear()

  /** Per-run scratch path for queries that write real files (ORC
    * round-trip, CoW merge, persisted IVF, stream sink …). Fixed
    * names raced when two Verify/Bench runs shared a machine — two
    * processes would overwrite each other's layouts and checkpoints
    * mid-query — so the name carries the Spark application id:
    * stable within a run (the same query function can re-enter its
    * own directory), unique across concurrent runs. The directory is
    * deleted when the JVM exits (Spark's shutdown-delete hook), so
    * whatever a caller writes must live UNDER it: a standing index
    * given it as its `pathPrefix` keeps every table inside it.
    */
  def scratchDir(spark: SparkSession, name: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${name}_${spark.sparkContext.applicationId}")
    org.apache.spark.sql.graftshim.Bridge.deleteAtExit(dir.toFile)
    dir
  }

  /** Per-run catalog table name `<name>_<application id>` — the
    * [[scratchDir]] rule for tables, with the id's non-alphanumerics
    * mapped to `_` so the name stays a plain identifier.
    */
  def scratchTable(spark: SparkSession, name: String): String =
    s"${name}_${spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")}"
}
