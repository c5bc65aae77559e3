package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{CountsStamp, PlanSnap, ScaleSweep, WindowAudit}

/** Round-close tooling: the README count stamper's patterns and the
  * unpartitioned-window counter's traversal (incl. the persist
  * boundary a naive collect would stop at).
  */
class ToolsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("DynamicOracles: running the owning query surfaces its oracle in SparkEntry.oracleSql") {
    // the run-time-authored oracle channel: q_unigram_lm_segment
    // trains in-query and registers its interpolated recursive-CTE
    // Viterbi; after the query BUILDS, the entry must be visible to
    // the post-loop oracle_sql.json rewrite (Verify.writeOracle) —
    // and it must carry the interpolated piece literals
    // build EVERY declared dynamic-oracle query, then check the
    // registry is exactly the declared set — a new declared name
    // whose query forgets to register fails here, not at the driver
    graft.queries.DynamicOracles.declared.toSeq.sorted.foreach { n =>
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
    }
    val sql = SparkEntry.oracleSql.get("q_unigram_lm_segment")
    assert(sql.nonEmpty, "dynamic oracle entry missing after query build")
    assert(sql.get.contains("WITH RECURSIVE") &&
      sql.get.contains("CAST(v.lps AS DOUBLE)"), sql.get.take(200))
    val wp = SparkEntry.oracleSql.get("q_wordpiece_segment")
    assert(wp.nonEmpty, "wordpiece dynamic oracle missing after build")
    assert(wp.get.contains("WITH RECURSIVE") &&
      wp.get.contains("iscont"), wp.get.take(200))
    // the static contract CountsStamp counts from must match what
    // actually registered — stale in either direction fails
    assert(graft.queries.DynamicOracles.entries.keySet ==
      graft.queries.DynamicOracles.declared)
    // every declared name must be a real query, and never shadow a
    // static oracle entry
    graft.queries.DynamicOracles.declared.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n is not a declared query")
    }
    graft.ops.QueryCaches.releaseAll()
  }

  test("CountsStamp rewrites exactly the three count patterns") {
    val readme =
      """sbt test        # 310 specs
        |hash-matches at sf0.01 (307 declared queries, 0 failing)
        |and 303 oracle-checked rows, plus 307 unrelated digits
        |""".stripMargin
    val out = CountsStamp.stamp(readme, queries = 321, oracles = 317,
      testCount = Some(323))
    assert(out.contains("# 323 specs"))
    assert(out.contains("(321 declared queries"))
    assert(out.contains("317 oracle-checked"))
    // untouched: a number that matches none of the stamped patterns
    assert(out.contains("plus 307 unrelated digits"))
  }

  test("CountsStamp without a test count leaves the spec line alone") {
    val out = CountsStamp.stamp("# 310 specs and (5 declared queries",
      queries = 7, oracles = 7, testCount = None)
    assert(out.contains("# 310 specs") && out.contains("(7 declared queries"))
  }

  test("PlanSnap.normalize fixes run-specific ids and keeps real plan differences") {
    def plan(app: String, id: Int, cg: Int, build: String) =
      s"""* HashAggregate (3)
         |+- BroadcastHashJoin Inner Build$build (2)
         |   +- Scan parquet spark_catalog.default.graft_ppjidx_${app.replace('-', '_')}_rank (1)
         |(1) Scan parquet spark_catalog.default.graft_ppjidx_${app.replace('-', '_')}_rank [codegen id : $cg]
         |Location: InMemoryFileIndex [file:/tmp/graft_ppjidx_${app}_rank]
         |Output [2]: [doc_id#${id}L, shingle#${id + 1}]
         |*($cg) Project [doc_id#${id}L], plan_id=${id + 7}
         |""".stripMargin
    val a = PlanSnap.normalize(plan("local-1787048702576", 17248, 4, "Right"),
      "local-1787048702576")
    val b = PlanSnap.normalize(plan("local-1797000000001", 33783, 11, "Right"),
      "local-1797000000001")
    assert(a == b)
    assert(!a.contains("local") && !a.contains("1787048702576"), a)
    assert(a.contains("graft_ppjidx_<app-id>_rank") &&
      a.contains("file:/tmp/graft_ppjidx_<app-id>_rank"), a)
    assert(a.contains("[doc_id#NL, shingle#N]") &&
      a.contains("*(N) Project [doc_id#NL], plan_id=N") &&
      a.contains("[codegen id : N]"), a)
    // operator ids and a different build side are plan content
    assert(a.contains("HashAggregate (3)"))
    val c = PlanSnap.normalize(plan("local-1787048702576", 17248, 4, "Left"),
      "local-1787048702576")
    assert(a != c)
  }

  test("PlanSnap.normalize fixes AQE query-stage ids and no other Arguments") {
    def plan(shuffleId: Int, broadcastId: Int) =
      s"""(3) ShuffleQueryStage
         |Output [2]: [fp#12, min#13L]
         |Arguments: $shuffleId
         |
         |(5) BroadcastQueryStage
         |Output [1]: [doc_id#14L]
         |Arguments: $broadcastId
         |
         |(6) TableCacheQueryStage
         |Output [1]: [doc_id#14L]
         |Arguments: 0
         |
         |(7) Exchange
         |Input [1]: [doc_id#14L]
         |Arguments: hashpartitioning(doc_id#14L, 4), ENSURE_REQUIREMENTS, [plan_id=20]
         |""".stripMargin
    val a = PlanSnap.normalize(plan(3, 4), "local-1")
    val b = PlanSnap.normalize(plan(4, 3), "local-1")
    assert(a.contains("ShuffleQueryStage\nOutput [2]: [fp#N, min#NL]\nArguments: N\n"), a)
    assert(a.contains("BroadcastQueryStage\nOutput [1]: [doc_id#NL]\nArguments: N\n"), a)
    assert(a.contains("Arguments: hashpartitioning(doc_id#NL, 4), ENSURE_REQUIREMENTS, [plan_id=N]"), a)
    // only those two stage kinds: a table-cache stage's argument stays
    assert(a.contains("TableCacheQueryStage\nOutput [1]: [doc_id#NL]\nArguments: 0\n"), a)
    assert(a == b)
    assert(a != PlanSnap.normalize(plan(3, 4).replace("Arguments: 0", "Arguments: 1"), "local-1"))
  }

  test("unpartitionedWindows counts global windows, not keyed ones") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("v", "k")
    val global = df.withColumn("rn",
      row_number().over(Window.orderBy("v")))
    val keyed = df.withColumn("rn",
      row_number().over(Window.partitionBy("k").orderBy("v")))
    assert(WindowAudit.unpartitionedWindows(
      global.queryExecution.sparkPlan) == 1)
    assert(WindowAudit.unpartitionedWindows(
      keyed.queryExecution.sparkPlan) == 0)
  }

  test("cartesianProducts counts true cartesians, not broadcast NLJs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val a = Seq(1L, 2L).toDF("x")
    val b = Seq(3L, 4L).toDF("y")
    // the repo idiom — broadcast side bounded by construction — must
    // NOT count (it plans as BroadcastNestedLoopJoin)
    val bounded = a.crossJoin(broadcast(b.agg(max("y").as("m"))))
    assert(WindowAudit.cartesianProducts(
      bounded.queryExecution.sparkPlan) == 0)
    // with auto-broadcast off, an unhinted cross join of two unbounded
    // frames plans the CartesianProductExec the tripwire exists for
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cart = a.crossJoin(b)
      assert(WindowAudit.cartesianProducts(
        cart.queryExecution.sparkPlan) == 1)
      // and through a persist boundary, like the window counter
      val cached = a.crossJoin(b).persist()
      try {
        val downstream = cached.groupBy("x").count()
        assert(WindowAudit.cartesianProducts(
          downstream.queryExecution.sparkPlan) >= 1)
      } finally cached.unpersist()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("unpartitionedSubqueryWindows catches a global window hidden in a scalar subquery") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("v").createOrReplaceTempView("wa_sub_t")
    try {
      // the subquery returns ONE row but its window sorts the whole
      // table in one reducer — invisible to the physical traversal
      val df = spark.sql(
        """SELECT v FROM wa_sub_t
           WHERE v = (SELECT max(rn) FROM
             (SELECT row_number() OVER (ORDER BY v) AS rn FROM wa_sub_t))""")
      assert(WindowAudit.unpartitionedSubqueryWindows(
        df.queryExecution.optimizedPlan) >= 1)
      // physical traversal indeed misses it (the reason the logical
      // check exists)
      assert(WindowAudit.unpartitionedWindows(
        df.queryExecution.sparkPlan) == 0)
      // a main-plan-only window is NOT double-counted as a subquery one
      val plain = spark.sql(
        "SELECT row_number() OVER (ORDER BY v) AS rn FROM wa_sub_t")
      assert(WindowAudit.unpartitionedSubqueryWindows(
        plain.queryExecution.optimizedPlan) == 0)
    } finally spark.catalog.dropTempView("wa_sub_t")
  }

  test("unpartitionedSubqueryWindows sees through a persist boundary inside a subquery") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = Seq(1L, 2L, 3L).toDF("v")
    // the global window lives inside a CACHED subtree referenced from
    // a scalar subquery: the logical traversal sees only an
    // InMemoryRelation leaf, the physical traversal can't descend
    // into the subquery at all — the r13-named blind spot
    val cached = base
      .withColumn("rn", row_number().over(Window.orderBy("v")))
      .persist()
    base.createOrReplaceTempView("wa_outer_t")
    cached.createOrReplaceTempView("wa_cached_t")
    try {
      val df = spark.sql(
        """SELECT v FROM wa_outer_t
           WHERE v = (SELECT max(rn) FROM wa_cached_t)""")
      assert(WindowAudit.unpartitionedSubqueryWindows(
        df.queryExecution.optimizedPlan) >= 1)
      // and the physical half indeed misses it (why the recursion
      // had to go into the LOGICAL subquery traversal)
      assert(WindowAudit.unpartitionedWindows(
        df.queryExecution.sparkPlan) == 0)
      // a cached MAIN-plan window is not double-reported as a
      // subquery hit (both subtraction halves count it)
      val mainOnly = cached.groupBy("rn").count()
      assert(WindowAudit.unpartitionedSubqueryWindows(
        mainOnly.queryExecution.optimizedPlan) == 0)
      assert(WindowAudit.unpartitionedWindows(
        mainOnly.queryExecution.sparkPlan) >= 1)
    } finally {
      cached.unpersist()
      spark.catalog.dropTempView("wa_outer_t")
      spark.catalog.dropTempView("wa_cached_t")
    }
  }

  test("builderActionAudit counts global windows run during construction") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Seq(1L, 2L, 3L).toDF("v")
      .withColumn("rn", row_number().over(Window.orderBy("v")))
    // the window runs in a BUILD-time collect and never reaches any
    // returned plan — invisible to both plan traversals
    val (r, hits) = WindowAudit.builderActionAudit(spark) {
      df.collect().length
    }
    assert(r == Right(3))
    assert(hits >= 1)
    // a clean build registers zero
    val (_, clean) = WindowAudit.builderActionAudit(spark) {
      Seq(1L).toDF("v").collect().length
    }
    assert(clean == 0)
    // a throwing build reports the error instead of propagating
    val (err, _) = WindowAudit.builderActionAudit(spark) {
      throw new IllegalStateException("boom")
    }
    assert(err == Left("IllegalStateException"))
  }

  test("unpartitionedWindows sees through a persist boundary") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cached = Seq(1L, 2L, 3L).toDF("v")
      .withColumn("rn", row_number().over(Window.orderBy("v")))
      .persist()
    try {
      val downstream = cached.groupBy("rn").count()
      // the global window lives INSIDE the cached subtree; a naive
      // collect sees only the InMemoryTableScan leaf
      assert(WindowAudit.unpartitionedWindows(
        downstream.queryExecution.sparkPlan) >= 1)
    } finally cached.unpersist()
  }

  test("ScaleSweep.fitSlope recovers known exponents and rejects degenerates") {
    val ms = Seq(1.0, 2.0, 4.0, 8.0)
    // exact power laws t = c * m^k fit to k in log–log space
    for (k <- Seq(0.0, 1.0, 2.0)) {
      val pts = ms.map(m => (math.log(m), math.log(3.0 * math.pow(m, k))))
      assert(math.abs(ScaleSweep.fitSlope(pts) - k) < 1e-12, s"k=$k")
    }
    // a constant-plus-linear curve (fixed overhead) fits BELOW 1 —
    // the documented downward bias of the ladder
    val biased = ms.map(m => (math.log(m), math.log(1.0 + m)))
    assert(ScaleSweep.fitSlope(biased) < 1.0)
    assertThrows[IllegalArgumentException](
      ScaleSweep.fitSlope(Seq((1.0, 1.0))))
    assertThrows[IllegalArgumentException](
      ScaleSweep.fitSlope(Seq((1.0, 1.0), (1.0, 2.0))))
  }
}
