package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale stress-family pipelines, shared verbatim between the two
  * harnesses that time them: [[Bench]] pins each family at ONE size
  * on every run (the [[queries]] rows), and [[graft.tools.ScaleSweep]]
  * measures the same plans over a 1×/2×/4×/8× multiplier ladder into
  * `docs/SCALING.md`. One body per family — a pipeline change (a
  * different band count, a new cos threshold) moves the point and the
  * curve TOGETHER; two copies would silently desynchronize the
  * exponent from the plan the bench actually pins.
  *
  * Each builder returns the final frame; the caller owns the action,
  * timing, and cache release (`QueryCaches.scoped` — the internal
  * persists ride the session ledger).
  */
object StressProxies {

  /** The bench-only proxy rows, in run order, in the
    * [[SparkEntry.queries]] shape. Not declared queries: they have no
    * oracle, so Verify never runs them.
    */
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // does the bucketed MinHash plan's cost stay ~linear in corpus size
    // (the TextDedupSpec 16x stress pins the plan SHAPE; this pins the
    // NUMBER)
    ("q_dedup_minhash_16x", (spark, sfDir) => minhashFamily(spark, sfDir, 16)),
    // vector-side twin: does the bucket-local equi-join stay ~linear as
    // the vector corpus multiplies
    ("q_ann_lsh_16x", (spark, sfDir) => lshPairsFamily(spark, sfDir, 16)),
    // the one scale hazard the 16x self-union proxies don't exercise is
    // DEGREE SKEW: 4 over-cap hubs (uncapped they alone would be 32M
    // pairs) beside ~354k real pairs, then pageRank over the ~1M
    // surviving edges — the capped-fold + rank path whose cost under
    // skew is otherwise asserted, never measured. Sf-independent.
    ("q_graph_hub", (spark, _) => graphHubFamily(spark, m = 1)))

  /** m shifted copies of a bounded documents slice through the full
    * MinHash → band-join → verify pipeline: every doc becomes an
    * m-member exact-dup family, the worst case for LSH bucket skew.
    */
  def minhashFamily(spark: SparkSession, sfDir: String, m: Int): DataFrame = {
    val docs0 = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 5000)
      .select(col("doc_id"), col("text"))
    val big = (0 until m).map(i =>
        docs0.select((col("doc_id") * m + i).as("doc_id"), col("text")))
      .reduce(_ unionAll _)
    graft.ops.TextDedup.minhashDedup(big, "doc_id", "text",
      shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8)
  }

  /** m shifted copies of the embeddings slice through sign-bucketize
    * + the bucket-local pair join: every vector gains m−1 exact
    * duplicates, the worst case for sign-bucket collisions.
    */
  def lshPairsFamily(spark: SparkSession, sfDir: String, m: Int): DataFrame = {
    val e0 = Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding"))
    val big = (0 until m).map(i =>
        e0.select((col("vec_id") * m + i).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val b = graft.ops.QueryCaches.persist(
      graft.ops.CosineLsh.bucketize(big, "vec_id", "embedding", k = 8)
        .filter(col("nrm") > 0))
    val l = b.select(col("vec_id").as("a"), col("v").as("va"),
      col("nrm").as("na"), col("bucket"))
    val r = b.select(col("vec_id").as("b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("a") < col("b"))
      .withColumn("cos",
        graft.expr.VectorFunctions.dotProduct(col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cos") >= 0.2)
  }

  /** Degree-skewed bipartite fold + PageRank, scaled by m at CONSTANT
    * per-key degree (m× the keys in every band, so pair fan-out per
    * key is fixed and the expected total cost is linear in m). Three
    * bands: light keys (degree 8), heavy-but-capped keys (degree 60,
    * just under the cap — the real fan-out cost), and over-cap hubs
    * (degree 4000) that the audited anti-join must drop BEFORE the
    * quadratic pair stage. Runs one internal action: the over-cap
    * count, REQUIRED to equal 4·m — a silent no-drop would time an
    * uncapped-equivalent plan.
    */
  def graphHubFamily(spark: SparkSession, m: Int): DataFrame = {
    val light = spark.range(0, 200000L * m)
      .select(col("id").as("item"), (col("id") % (25000L * m)).as("k"))
    val heavy = spark.range(0, 12000L * m)
      .select((col("id") + 300000L * m).as("item"),
        (col("id") % (200L * m) + 25000L * m).as("k"))
    val hubs = spark.range(0, 16000L * m)
      .select((col("id") + 400000L * m).as("item"),
        (col("id") % (4L * m) + 25200L * m).as("k"))
    val rel = light.unionAll(heavy).unionAll(hubs)
    val (edges, over) = graft.ops.GraphOps.coOccurrenceEdgesAudited(
      rel, "item", "k", minShared = 1L, maxKeyDegree = 64)
    val dropped = over.count()
    require(dropped == 4L * m,
      s"graph hub proxy: expected ${4L * m} over-cap hubs, got $dropped")
    graft.ops.GraphOps.pageRank(
      edges.select(col("ia").as("src"), col("ib").as("dst")), iters = 3)
  }
}
