package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one declared query and dump its result. A throwing query must
    * stay VISIBLE in the driver's correctness report: it still gets an
    * output directory, holding only an `_ERROR.txt` marker (no parquet),
    * which the compare reports as a red NO_SPARK_OUTPUT row. Without
    * this a failure left no directory at all and the query silently
    * vanished from the round's correctness file (the round-7 blind spot:
    * 41 crashed queries read as "fewer entries", not as failures).
    */
  def runOne(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
    try {
      val df = fn(spark, sfDir)
      // global-window tripwire: an unpartitioned window is a
      // single-reducer funnel at scale; only the audited bounded set
      // may plan one (see graft.tools.WindowAudit.whitelist). The
      // check rides the driver's own correctness run — a new global
      // window turns this query's row red instead of shipping as a
      // silent WARN in the bench tail. Inspect sparkPlan (pre-AQE);
      // the counter recurses persist/adaptive boundaries itself.
      val nGlobal = graft.tools.WindowAudit.unpartitionedWindows(
        df.queryExecution.sparkPlan)
      if (nGlobal > 0 && !graft.tools.WindowAudit.whitelist(name))
        throw new IllegalStateException(
          s"$name plans $nGlobal unpartitioned window(s) but is not in " +
            "WindowAudit.whitelist — partition the window (or, if " +
            "bounded by construction, whitelist it with the rationale)")
      // subquery bodies are invisible to the physical traversal (their
      // plans are still logical on the unprepared sparkPlan); audit
      // them on the optimized LOGICAL plan, same whitelist
      val nSubq = graft.tools.WindowAudit.unpartitionedSubqueryWindows(
        df.queryExecution.optimizedPlan)
      if (nSubq > 0 && !graft.tools.WindowAudit.whitelist(name))
        throw new IllegalStateException(
          s"$name plans $nSubq unpartitioned window(s) INSIDE a " +
            "subquery — a 1-row subquery output can still sort the " +
            "whole table in one reducer; partition or whitelist")
      // cartesian tripwire: the unbounded all-pairs join must never
      // plan. The broadcast(single-row) crossJoin idiom plans as
      // BroadcastNestedLoopJoin and is not counted; a true cartesian
      // means two unbounded sides met without a key — red row.
      val nCart = graft.tools.WindowAudit.cartesianProducts(
        df.queryExecution.sparkPlan)
      if (nCart > 0 && !graft.tools.WindowAudit.cartesianWhitelist(name))
        throw new IllegalStateException(
          s"$name plans $nCart CartesianProductExec node(s) — an " +
            "unbounded all-pairs join; key the join or broadcast a " +
            "bounded-by-construction side")
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val qDir = Paths.get(outDir, name)
      // a partial parquet write would shadow the marker — clear it
      if (Files.exists(qDir)) {
        import scala.jdk.CollectionConverters._
        val st = Files.walk(qDir)
        try st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally st.close()
      }
      // the marker write gets its own try: a disk-full/permission
      // failure HERE must cost one query's marker, not abort the loop
      // and leave every remaining query without any output at all
      try {
        Files.createDirectories(qDir)
        Files.writeString(qDir.resolve("_ERROR.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      } catch { case m: Throwable =>
        System.err.println(s"[verify] $name marker write failed: $m")
      }
      false
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names for a targeted
    // re-check (the driver always runs the full surface with 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [q_a,q_b,...]")
        sys.exit(2)
    }
    // clear the previous run's gate files BEFORE anything that can
    // fail (session build included): a startup crash on a reused
    // outdir must leave NO manifest — the checker then fails loudly
    // instead of certifying last round's outputs as this round's
    // (stale-green; the r13 manifest fix only covered aborts AFTER
    // the manifest write)
    new java.io.File(outDir).mkdirs()
    Files.deleteIfExists(Paths.get(s"$outDir/run_manifest.json"))
    Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.json"))
    Files.deleteIfExists(Paths.get(s"$outDir/run_full.json"))
    // a targeted name that matches no declared query must FAIL, not
    // silently shrink the checked surface (the round-7 vanished-query
    // class at the selection layer: a typo'd re-check printed green
    // over the query that was never run)
    val names = only.map { spec =>
      SparkEntry.select(spec, SparkEntry.queries.keySet) match {
        case Right(ns) => ns
        case Left(msg) => System.err.println(msg); sys.exit(2)
      }
    }
    val spark = GraftSession.local()
    val selected = SparkEntry.queries
      .filter { case (name, _) => names.forall(_.contains(name)) }
    // the manifest is written BEFORE the loop (as is oracle_sql.json
    // below — moved ahead of the loop in spirit by the manifest): if
    // the loop aborts, the checker sees which queries were ATTEMPTED
    // and fails the absent ones, instead of a reused outdir's stale
    // green results passing a truncated run (r13 harness review)
    val manifestNames = selected.keys.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/run_manifest.json"),
      if (manifestNames.isEmpty) "[]"
      else manifestNames.mkString("[\"", "\",\"", "\"]"))
    // separate marker file (the manifest stays a plain list — the
    // driver parses that shape): tells the checker whether this was
    // the FULL surface, so its gone-query ROWS_ONLY staleness sweep
    // can key off fact instead of the >=100-results heuristic
    Files.writeString(Paths.get(s"$outDir/run_full.json"),
      if (only.isEmpty) "true" else "false")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracle file is written BEFORE the loop, like the manifest:
    // on an aborted run over a REUSED outdir the checker must compare
    // fresh outputs against THIS round's oracle SQL, not the previous
    // round's stale file (r14 harness review — a changed query+oracle
    // pair would otherwise false-red, or worse, false-green)
    def writeOracle(): Unit = {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
    writeOracle()
    // multi-branch queries persist() shared subplans, registered in
    // the QueryCaches ledger; each is released once its result is
    // materialized
    selected.foreach { case (name, fn) =>
      graft.ops.QueryCaches.scoped(spark)(runOne(spark, sfDir, outDir, name, fn))
    }
    // re-dump AFTER the loop: queries that author their oracle at run
    // time (DynamicOracles — piece tables interpolated from in-query
    // training) have registered by now; an aborted run keeps the
    // pre-loop file, so the static entries' abort-safety is unchanged
    writeOracle()
    spark.stop()
  }
}
