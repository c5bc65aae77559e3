package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Events-schema contract regression: the testdata generator has
  * shipped `events.ts` both as TIMESTAMP(NANOS) (arriving as an
  * epoch-ns Long under `nanosAsLong`) and as timestamp[us]. A
  * regeneration flipping the physical type must not break the 40+
  * events-based queries again — [[Tables.withEventTime]] must yield
  * byte-identical `ts_ns`/`ts`/`ts_sec` (and the same column order)
  * over either shape.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def writeEvents(asTimestamp: Boolean): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events_schema")
    val rows = Seq(
      (1L, 1704067200_123456000L, 10L, "view", 1.5, "{}"),
      (2L, 1704067205_000001000L, 11L, "click", 2.5, "{}"),
      (3L, 1704067210_999999000L, 10L, "view", 3.5, "{}"))
    val longDf = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val df =
      if (asTimestamp)
        longDf.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else longDf
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  test("withEventTime yields identical rows over ns-long and µs-timestamp data") {
    val longDir = writeEvents(asTimestamp = false)
    val tsDir = writeEvents(asTimestamp = true)
    val a = Tables.events(spark, longDir)
    val b = Tables.events(spark, tsDir)
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.schema == b.schema)
    val ka = a.orderBy("event_id").collect().toSeq
    val kb = b.orderBy("event_id").collect().toSeq
    assert(ka == kb)
    // µs→ns is lossless: ts_ns round-trips the original micros exactly
    assert(ka.map(_.getAs[Long]("ts_ns")) ==
      Seq(1704067200_123456000L, 1704067205_000001000L, 1704067210_999999000L))
    assert(Tables.maxEventNs(spark, longDir) ==
      Tables.maxEventNs(spark, tsDir))
  }

  test("withEventTime rejects an unsupported ts type") {
    import spark.implicits._
    val bad = Seq((1L, "oops")).toDF("event_id", "ts")
    intercept[IllegalArgumentException](Tables.withEventTime(bad))
  }

  /** Verify's blind-spot guard: a query that THROWS must still leave a
    * per-query output directory (error marker, no parquet) so the
    * driver's compare reports a red row instead of silently dropping
    * the query from the round's correctness file.
    */
  test("Verify.runOne leaves a visible error marker for a failing query") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_err")
    val ok = Verify.runOne(spark, "/unused", out.toString, "q_boom",
      (_, _) => throw new RuntimeException("forced failure"))
    assert(!ok)
    val qDir = out.resolve("q_boom")
    assert(java.nio.file.Files.isDirectory(qDir))
    assert(java.nio.file.Files.exists(qDir.resolve("_ERROR.txt")))
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(qDir)
    val files = try st.iterator().asScala.toList finally st.close()
    assert(!files.exists(_.getFileName.toString.endsWith(".parquet")))
  }

  test("every declared oracle refers to a declared query") {
    // an orphan oracle would silently never be checked; a query
    // without an oracle is legal (rows-only gate) but the reverse is
    // always a wiring bug
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every static oracle declares each of its CTE names once") {
    // generators compose CTE blocks and can emit a name twice; DuckDB
    // then refuses the whole oracle (`Duplicate CTE name`), which
    // only a full Verify + check_oracle.py run would otherwise show
    val static =
      SparkEntry.oracleSql -- graft.queries.DynamicOracles.declared
    val dups = static.toSeq.sortBy(_._1).flatMap { case (q, sql) =>
      val names = TablesSpec.cteNames(sql)
      names.diff(names.distinct).distinct.map(n => s"$q: $n")
    }
    assert(dups.isEmpty, s"duplicate CTE names: ${dups.mkString(", ")}")
  }

  test("Verify.runOne writes parquet for a succeeding query") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_verify_ok")
    val ok = Verify.runOne(spark, "/unused", out.toString, "q_fine",
      (s, _) => { import s.implicits._; Seq((1, "a")).toDF("k", "v") })
    assert(ok)
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(out.resolve("q_fine"))
    val files = try st.iterator().asScala.toList finally st.close()
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
  }

  test("a scratch dir is deleted at JVM exit and holds a whole standing index") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.graftshim.Bridge
    val tp = "graft_scratch_exit"
    val dir = Tables.scratchDir(spark, tp)
    assert(Bridge.deletesAtExit(dir.toFile))
    // a standing index given the dir as its pathPrefix writes inside it
    try {
      graft.ops.TextDedup.writePrefixIndex(
        Seq((0L, "a b c d"), (1L, "a b c e")).toDF("doc_id", "text"),
        "doc_id", "text", tp, buckets = 2, pathPrefix = Some(dir.toString))
      def names(p: java.nio.file.Path) = {
        val st = java.nio.file.Files.list(p)
        try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
      }
      assert(names(dir).sorted == Seq("meta", "pref", "rank", "sh"))
      assert(!names(dir.getParent).exists(_.startsWith(s"${dir.getFileName}_")))
    } finally Seq("_rank", "_pref", "_sh", "_meta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $tp$sfx"))
  }
}

object TablesSpec {

  /** The names the leading `WITH [RECURSIVE]` of `sql` declares at
    * paren depth 0 — each `<ident> [(<columns>)] AS [MATERIALIZED] (`,
    * lower-cased — skipping single-quoted literals; empty when `sql`
    * does not open with WITH. Fails on a list it cannot read to its
    * end, so a shape it does not know cannot hide a name.
    */
  def cteNames(sql: String): Seq[String] = {
    // depth-0 text, each top-level (…) group collapsed to "()"
    val top = new StringBuilder
    var depth = 0
    var quoted = false
    sql.foreach { ch =>
      if (quoted) { if (ch == '\'') quoted = false }
      else ch match {
        case '\'' => quoted = true
        case '(' => if (depth == 0) top += '('; depth += 1
        case ')' => depth -= 1; if (depth == 0) top += ')'
        case c => if (depth == 0) top += c
      }
    }
    val head = """(?is)\s*WITH\s+(?:RECURSIVE\s+)?""".r
    val cte =
      """(?is)\s*(\w+)\s*(?:\(\))?\s+AS\s+(?:MATERIALIZED\s+)?\(\)\s*(,?)""".r
    head.findPrefixMatchOf(top) match {
      case None => Nil
      case Some(m) =>
        val names = Seq.newBuilder[String]
        var rest: CharSequence = m.after
        var more = true
        while (more) {
          val c = cte.findPrefixMatchOf(rest).getOrElse(
            throw new IllegalArgumentException(
              s"unreadable CTE list at: ${rest.toString.take(80)}"))
          names += c.group(1).toLowerCase
          rest = c.after
          more = c.group(2) == ","
        }
        names.result()
    }
  }
}
