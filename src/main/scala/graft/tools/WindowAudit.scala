package graft.tools

import org.apache.spark.sql.execution.window.WindowExec

/** Sweeps every declared query's physical plan for UNPARTITIONED
  * window operators (`WindowExec` with an empty partition spec — the
  * single-reducer funnel that silently serializes at scale) and
  * prints the offenders. The known-benign set is whitelisted in
  * `PlanSpec` ("unpartitioned windows appear only in the whitelisted
  * queries"); this main is the discovery/triage half of that pin.
  *
  *   sbt "runMain graft.tools.WindowAudit [sfDir]"
  *
  * AQE is disabled for the sweep: executed plans under AQE hide
  * stage subtrees behind leaf QueryStageExec nodes (CLAUDE.md), and
  * a plan-only inspection needs no runtime re-planning anyway.
  */
object WindowAudit {

  /** The EXACT set of declared queries allowed to plan a global
    * window, each bounded by construction. Verified empirically by
    * this tool's full sweep (r11): every other query — including the
    * global-window users whose window runs in a driver-bounded
    * BUILD-time action (two-phase quantile lookups, IVF seed
    * selection) and therefore never appears in the returned plan —
    * is clean. Enforced two ways: `Verify.runOne` fails any
    * non-whitelisted query that plans one (driver-gated every
    * round), and PlanSpec asserts each member still plans one (a
    * stale entry must shrink this set, not linger).
    */
  val whitelist: Set[String] = Set(
    // reference-faithful global row_number (driver-sized; each has a
    // PlanSpec-pinned scale-safe `_scaled` twin via globalRowNumber)
    "q_batch", "q_reshape",
    // calendar-bounded hourly frames (corpus collapses to <= 8.8k
    // rows/year BEFORE the window)
    "q_seasonal_decomp", "q_anomaly_hours", "q_changepoint",
    // rank windows over frames bounded by a LIMIT literal (top-20
    // retrieval arms)
    "q_rrf_fusion", "q_hard_negatives")

  /** Count unpartitioned windows, recursing through persist boundaries
    * (an `InMemoryTableScan` leaf hides its cached subtree from a
    * naive collect) and subqueries. localCheckpoint cuts stay opaque
    * by construction — their subtree already ran at build time.
    */
  /* collect, NOT collectWithSubqueries: on the unprepared sparkPlan a
   * subquery expression still holds its LOGICAL plan and the traversal
   * would cast it to SparkPlan (q_sql_q11/q15/q22 crashed on exactly
   * this). Subquery bodies are covered separately by
   * [[unpartitionedSubqueryWindows]] on the optimized LOGICAL plan —
   * a subquery's 1-row OUTPUT says nothing about its window's INPUT
   * size, so they cannot simply be skipped. */
  def unpartitionedWindows(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => 1
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        unpartitionedWindows(s.relation.cachedPlan)
      // a cached plan (or a plan handed in post-wrapping) may carry
      // the adaptive wrapper; audit its input tree
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unpartitionedWindows(a.inputPlan)
    }.sum

  /** Unpartitioned windows INSIDE SUBQUERY expressions — the blind
    * spot of the physical traversal (whose collect cannot descend
    * into a subquery's still-logical plan on the unprepared
    * sparkPlan). On the optimized LOGICAL plan `collectWithSubqueries`
    * is cast-safe: count global windows everywhere, subtract the
    * main-plan count, and what remains lives in subquery bodies —
    * e.g. `(SELECT max(rn) FROM (… row_number() OVER (ORDER BY x) …))`
    * returns one row but sorts the whole table in one reducer.
    * A persist boundary inside a subquery is recursed too: the
    * `InMemoryRelation` LOGICAL leaf hides a PHYSICAL cached plan, so
    * the traversal hands it to [[unpartitionedWindows]] (which also
    * unwraps adaptive wrappers) — both halves count it, so a cached
    * main-plan window still cancels out of the subtraction and is
    * reported only by the physical tripwire. Residual blind spot,
    * accepted: windows executed in builder-time actions never reach
    * the returned plan (see [[builderActionAudit]] for the
    * discovery-mode sweep of those).
    */
  def unpartitionedSubqueryWindows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def hits(withSub: Boolean): Int =
      (if (withSub)
         plan.collectWithSubqueries {
           case w: Window if w.partitionSpec.isEmpty => 1
           case r: InMemoryRelation => unpartitionedWindows(r.cachedPlan) }
       else plan.collect {
         case w: Window if w.partitionSpec.isEmpty => 1
         case r: InMemoryRelation => unpartitionedWindows(r.cachedPlan) }).sum
    hits(withSub = true) - hits(withSub = false)
  }

  /** Queries allowed builder-time global windows (see
    * [[builderActionAudit]]): each runs its window during CONSTRUCTION
    * over a driver-bounded frame that never scales with the corpus.
    * Populated by the r14 discovery sweep; a new hit outside this set
    * is a triage item ("read the site"), printed loudly in [[main]].
    */
  val builderWhitelist: Set[String] = Set(
    // IvfIndex.buildExact seed ranking: row_number over an
    // `orderBy(vec_id).limit(k)` frame — k is a literal (8 here), the
    // LIMIT-k bounded-by-construction case; runs when the first
    // centroid persist materializes
    "q_ann_ivf_kmeans",
    // calendar-bounded hourly frames (the q_anomaly_hours main-plan
    // whitelist rationale): the same <= 8.8k-rows/year windows also
    // run in the query's anchor-probing build actions
    "q_anomaly_hours")

  /** Discovery-mode sweep of BUILDER-TIME actions — the tripwires'
    * last documented blind spot: a window executed while a query is
    * CONSTRUCTED (quantile boundary lookups, seed selection) never
    * appears in the RETURNED plan, so neither the physical nor the
    * subquery traversal can see it. This hook registers a
    * `QueryExecutionListener` around a construction thunk and counts
    * global windows in every executed plan the build fires (listener
    * bus drained through the graftshim before reading the counter).
    * Best-effort by nature — RDD-level materializations
    * (localCheckpoint) and streaming micro-batches bypass the
    * listener — which is why this reports for triage in [[main]]
    * rather than gating Verify.
    */
  def builderActionAudit[A](spark: org.apache.spark.sql.SparkSession)(
      build: => A): (Either[String, A], Int) = {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        hits.addAndGet(unpartitionedWindows(qe.executedPlan))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // NonFatal only: an OOM/VM error during one query's build must
      // abort the sweep, not be recorded as that query's plan error
      // while the sweep keeps running in a broken JVM
      val a =
        try Right(build)
        catch {
          case scala.util.control.NonFatal(e) =>
            Left(e.getClass.getSimpleName)
        }
      org.apache.spark.sql.graftshim.Bridge
        .drainListenerBus(spark.sparkContext)
      (a, hits.get)
    } finally spark.listenerManager.unregister(listener)
  }

  /** No declared query may plan one, ever — a `CartesianProductExec`
    * is the unbounded all-pairs join, the one shape that can never
    * survive a 100× scale-up. The repo's 60+ `crossJoin` sites all
    * join `broadcast()`-ed single-row aggregates (the
    * attach-a-global-total idiom) and plan as
    * BroadcastNestedLoopJoin, which this counter deliberately
    * ignores: the broadcast side there is bounded by construction,
    * and the hint is pinned at each site. A cartesian appears only
    * when someone cross-joins two unbounded frames — that must be a
    * red Verify row, not a silently quadratic plan.
    */
  val cartesianWhitelist: Set[String] = Set.empty

  /** Count `CartesianProductExec` nodes, with the same traversal
    * discipline as [[unpartitionedWindows]] (persist boundaries,
    * adaptive wrappers, plain `collect` — not subqueries).
    */
  def cartesianProducts(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => 1
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        cartesianProducts(s.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        cartesianProducts(a.inputPlan)
    }.sum

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val skipStreams = sys.env.get("SPARK_GRAFT_AUDIT_SKIP_STREAMS").contains("1")
    val t00 = System.nanoTime()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => skipStreams && n.startsWith("q_stream_"))
    var offenders = Vector.empty[(String, Int)]
    var cartesians = Vector.empty[(String, Int)]
    var builders = Vector.empty[(String, Int)]
    names.foreach { name =>
      val t0 = System.nanoTime()
      val (r, builderHits) = graft.ops.QueryCaches.scoped(spark) {
        builderActionAudit(spark) {
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val p = df.queryExecution.executedPlan
          (unpartitionedWindows(p), cartesianProducts(p))
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (builderHits > 0) {
        builders :+= (name, builderHits)
        println(f"$name%-28s $builderHits BUILDER-TIME global window(s)  [${dt}%.1f s]")
      }
      r match {
        case Right((n, c)) =>
          if (n > 0) {
            offenders :+= (name, n)
            println(f"$name%-28s $n global window(s)  [${dt}%.1f s]")
          }
          if (c > 0) {
            cartesians :+= (name, c)
            println(f"$name%-28s $c CARTESIAN product(s)  [${dt}%.1f s]")
          }
        case Left(err) => println(f"$name%-28s PLAN FAILED: $err")
      }
    }
    val newOnes = offenders.map(_._1).filterNot(whitelist)
    val unused = whitelist -- offenders.map(_._1).toSet
    println(f"\nswept ${names.size} queries in ${(System.nanoTime() - t00) / 1e9}%.1f s")
    println(s"${offenders.size} queries with global windows; " +
      s"NEW (not whitelisted): ${if (newOnes.isEmpty) "none" else newOnes.mkString(", ")}; " +
      s"whitelisted-but-clean: ${if (unused.isEmpty) "none" else unused.mkString(", ")}")
    println(s"${cartesians.size} queries with cartesian products" +
      (if (cartesians.isEmpty) "" else s": ${cartesians.map(_._1).mkString(", ")}"))
    val newBuilders = builders.map(_._1).filterNot(builderWhitelist)
    val staleBuilders = builderWhitelist -- builders.map(_._1).toSet
    println(s"${builders.size} queries with builder-time global windows; " +
      s"NEW (not builder-whitelisted): ${
        if (newBuilders.isEmpty) "none" else newBuilders.mkString(", ")}; " +
      s"builder-whitelisted-but-clean: ${
        if (staleBuilders.isEmpty) "none" else staleBuilders.mkString(", ")}")
  }
}
