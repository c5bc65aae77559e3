package graft

import org.apache.spark.sql.SparkSession

/** One place for the session settings every entry point (Verify, Bench,
  * tests) shares, so oracle parity and scale knobs stay consistent:
  *
  *  - UTC session time zone (DuckDB-oracle parity for date math);
  *  - `nanosAsLong`: an `events` table carrying TIMESTAMP(NANOS)
  *    (early testdata generations) is rejected by Spark's parquet
  *    reader by default; with the flag it arrives as a Long of
  *    epoch-nanos and [[Tables.withEventTime]] converts explicitly;
  *  - NTZ inference OFF: regenerated testdata stores `events.ts` as
  *    timestamp[us] with isAdjustedToUTC=false, which Spark would
  *    otherwise surface as TIMESTAMP_NTZ — breaking every
  *    TimestampType consumer (encoders, watermarks) and diverging
  *    from DuckDB's naive-read-as-UTC. With inference off it reads as
  *    plain TimestampType; under the UTC session zone the stored
  *    micros are taken as-is, matching the oracle's `epoch_ns(ts)`;
  *  - AQE on (runtime shuffle coalescing + skew-join splitting — the
  *    behavior we want on a real cluster, exercised locally too).
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // bytes-based AQE partition sizing (parallelismFirst=false +
    // canChangeCachedPlanOutputPartitioning) is QUERY-scoped, not
    // session-wide: r18 set both flags here and ~12 untouched
    // pair-mining/stat queries serialized 1.5–2.8× — byte-based
    // sizing ignores CPU density, and a byte-small frame feeding
    // pair-mining / explode compute collapses to ~1 partition (the
    // r19 bisect: full-revert 151.3 s vs flags-on 194.4 s over the
    // affected 22-query set, idle host, both core counts). The
    // cache-heavy index/pipeline queries that DO win from bytes-based
    // sizing opt in per query via ScaleOps.byteSizedAqe (restored by
    // the harness's per-query releaseAll); the session keeps Spark's
    // defaults.
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")

  /** Local session for every harness (Verify, Bench, the tools, the
    * specs). `cpus` threads, `SPARK_GRAFT_CPUS` or 4 when unset;
    * shuffle partitions sized to match (not the 200 default, which
    * just fragments local runs; on a real cluster this is set per-job
    * to ~2-3× total cores).
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
