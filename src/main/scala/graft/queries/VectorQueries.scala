package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding similarity / approximate-nearest-neighbor operators over
  * the `embeddings` table (`Array[Float]`, 64-dim).
  *
  *  - Brute-force cosine top-k is the correctness baseline: broadcast
  *    the (small) query set against all candidates — on a cluster the
  *    candidate scan stays fully partition-parallel, no shuffle.
  *  - The scale path is sign-bucket LSH (axis hyperplanes on the first
  *    8 dims → 256 buckets): candidates are joined *within bucket
  *    only*, turning O(n·m) into a bucket-local equi-join that AQE can
  *    plan as a shuffled hash join at 100 TB. (Production would draw
  *    random hyperplanes; axis planes keep the oracle SQL exact.)
  *
  * Float discipline: elements are cast to double *before* any product
  * (float×float truncation differs from double math), dots/norms fold
  * sequentially, and similarities are rounded to 6 decimals in the
  * output so cross-engine accumulation-order noise (≤1 ulp) can't flip
  * a hash compare.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  // Native codegen'd kernels (graft.expr.DotProduct): same
  // left-to-right summation as the zip_with/aggregate folds they
  // replace, so every oracle-checked value is bit-identical — but the
  // loop runs inside whole-stage codegen instead of interpreted
  // higher-order lambdas.
  private def asDouble(c: Column): Column =
    graft.expr.VectorFunctions.toDoubleArray(c)

  private def dot(a: Column, b: Column): Column =
    graft.expr.VectorFunctions.dotProduct(a, b)

  private def norm(v: Column): Column =
    graft.expr.VectorFunctions.l2Norm(v)

  /** Rounded cosine; all call sites share the ONE library definition
    * (VectorFunctions.cosineSimilarityRounded — also used by
    * SemanticDedup), so the oracle-compared rounding cannot drift.
    */
  private def cosR(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.expr.VectorFunctions.cosineSimilarityRounded(a, b, na, nb)

  /** Vectors with their norm, zero-norm rows dropped: cosine is
    * undefined there, and the engines disagree on double x/0 (Spark
    * NaN vs DuckDB NULL) — excluding them keeps oracle parity.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("v"))).filter(col("nrm") > 0)

  /** The normalized embedding slice (vec_id, `cols`…, v, nrm) over
    * vec_id < `below` — the Spark side of [[embeddingCtes]].
    */
  private def normed(s: SparkSession, dir: String, below: Int,
      cols: String*): DataFrame =
    withNorm(emb(s, dir).filter(col("vec_id") < below)
      .select((col("vec_id") +: cols.map(col)) :+
        asDouble(col("embedding")).as("v"): _*))

  /** `df` with its seeded-plane LSH bucket (8 planes over the 64 dims
    * of v) — the Spark side of [[lshBucket]].
    */
  private def withLshBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", graft.ops.CosineLsh.bucketCol(col("v"),
      graft.ops.CosineLsh.planes(k = 8, dim = 64)))

  private def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(v, i + 1) >= 0d, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Nearest same-bucket neighbor per query vector — shared by the
    * axis-plane (q_ann_bucketed) and random-hyperplane (q_ann_lsh)
    * variants, which differ only in how `bucket` was derived. `e` must
    * carry (vec_id, v, nrm, bucket); persisted here — both join sides
    * read it (CLAUDE.md self-join rule).
    */
  private def nearestInBucket(e: DataFrame, queryCap: Int): DataFrame = {
    val ep = e.transform(graft.ops.QueryCaches.persist)
    val q = ep.filter(col("vec_id") < queryCap)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val c = ep.select(col("vec_id").as("cand_id"), col("v").as("cv"),
      col("nrm").as("cn"), col("bucket").as("cbucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
    q.join(c, col("bucket") === col("cbucket") &&
        col("q_id") =!= col("cand_id"))
      .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("cand_id"), col("bucket"), col("cos_r"))
      .orderBy("q_id")
  }

  /** Bucket-local embedding near-dup pairs over seeded-plane LSH
    * buckets — ONE definition shared by q_cosine_pairs_lsh (pair list)
    * and q_embed_cluster (edge set), so their pair semantics cannot
    * drift. Returns the persisted vector frame (vec_id, v, nrm,
    * bucket) and the verified pairs (a, b, bucket, cos_r).
    */
  private def lshPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = normed(s, dir, 300).transform(withLshBucket)
      .transform(graft.ops.QueryCaches.persist) // both self-join sides (and cluster id universe) read it
    // Uncapped, mirroring the DuckDB oracle (which mines every bucket):
    // gate queries must match the oracle exactly, so the hot-bucket
    // bound (TextDedup.capBuckets, the 100 TB path for skewed LSH
    // cells) is NOT applied here — it stays the library default and is
    // spec-pinned in TextDedupSpec with a planted mega-bucket.
    val ec = e
    val a = ec.select(col("vec_id").as("a"), col("v").as("va"),
      col("nrm").as("na"), col("bucket"))
    val b = ec.select(col("vec_id").as("b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket").as("bbucket"))
    val pairs = a
      .join(b, col("bucket") === col("bbucket") && col("a") < col("b"))
      .withColumn("cos_r", cosR(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos_r") >= 0.2)
    (e, pairs)
  }

  /** Fixed-centroid IVF assignment (first 16 vectors as the coarse
    * quantizer): every vector with vec_id >= 16 labeled with its
    * nearest centroid's cell. ONE definition shared by q_ann_ivf
    * (in-memory), q_ann_ivf_persisted (save → cold-load lifecycle),
    * q_ivf_stats and q_stream_ivf, so the assignment rule cannot
    * drift between them; its oracle side is [[ivfCtes]].
    */
  private[queries] def ivfFixedAssigned(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir, 2000)
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id"))
    e.filter(col("vec_id") >= 16)
      .join(broadcast(cent))
      .withColumn("c_cos", cosR(col("v"), col("cv"), col("nrm"), col("cn")))
      .withColumn("rk", row_number().over(aw))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
  }

  /** The fixed coarse quantizer (first 16 vectors) as a driver-side
    * centroid array — 16 rows by design; shared by the persisted and
    * incremental IVF lifecycle gates.
    */
  private def fixedCentroids(
      s: SparkSession, dir: String): Array[(Int, Array[Double])] =
    normed(s, dir, 16)
      .select(col("vec_id").cast("int").as("c_id"), col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Semantic-dedup cells (id, v, nrm, cell) over every vector, the
    * first 8 as fixed centroids — shared by q_semantic_dedup and its
    * capped twin; the oracle side is [[ivfCtes]] at k = 8.
    */
  private def semanticCells(s: SparkSession, dir: String): DataFrame = {
    val n = withNorm(emb(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))
    val cent = n.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    graft.ops.SemanticDedup.assignCells(
      n.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("id"), col("v"), col("nrm")),
      cent)
  }

  /** Every candidate (vec_id >= 10) of the 2000-vector slice scored
    * against the 10 query vectors (q_id, qv, qn, cand_id, cv, cn,
    * cos_r) — the brute-force top-k input of q_ann_topk and
    * q_topk_agg.
    */
  private def top10Scored(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir, 2000)
      .transform(graft.ops.QueryCaches.persist) // query and candidate sides share it
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    c.join(broadcast(q))
      .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
  }

  /** [[top10Scored]]'s pairs with each side's seeded-plane LSH bucket
    * (qb, cb), persisted: q_ann_ndcg and q_ann_recall rank it exactly
    * and per bucket rule. Oracle side: [[lshScoredCtes]].
    */
  private def lshScored(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir, 2000).transform(withLshBucket)
      .transform(graft.ops.QueryCaches.persist) // query and candidate sides share it
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("bucket").as("cb"))
    c.join(broadcast(q))
      .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
      .transform(graft.ops.QueryCaches.persist) // the exact and LSH rankings read it
  }

  /** Own-cell (nprobe=1) nearest neighbor over an IVF assignment
    * (vec_id, v, nrm, cell): queries (vec_id < 66) join candidates
    * within their cell only — the per-cell equi-join that makes IVF
    * search `1/k` of the corpus per query instead of O(n·m).
    */
  private def ivfOwnCellSearch(assigned: DataFrame): DataFrame = {
    val q = assigned.filter(col("vec_id") < 66)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val c = assigned
      .select(col("vec_id").as("cand_id"), col("v").as("cv2"),
        col("nrm").as("cn2"), col("cell").as("ccell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
    q.join(c, col("cell") === col("ccell") &&
        col("q_id") =!= col("cand_id"))
      .withColumn("cos_r", cosR(col("qv"), col("cv2"), col("qn"), col("cn2")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("cand_id"), col("cell"), col("cos_r"))
      .orderBy("q_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Norms + dims: the sanity surface for the vector column.
    "q_vec_norm" -> ((s, dir) =>
      emb(s, dir).select(
        col("vec_id"),
        col("label"),
        size(col("embedding")).as("dim"),
        round(norm(asDouble(col("embedding"))), 6).as("norm_r"))
        .orderBy("vec_id")),

    // Top principal component by distributed power iteration
    // (VectorStats.pcaPowerTop): corpus → d-row moment sums + d²-row
    // second-moment matrix (the pair fan-out bounded by dim², never
    // rows²), then three matvec rounds against a dim-bounded
    // broadcast vector, every unbounded sum DECIMAL-cast per term so
    // the oracle unrolls the identical rounds. Output: the unit
    // eigenvector and eigenvalue estimate, one row per dimension.
    "q_pca_power" -> ((s, dir) =>
      graft.ops.VectorStats.pcaPowerTop(emb(s, dir), "vec_id",
        "embedding", rounds = 3).orderBy("i")),

    // Per-label embedding centroids (IvfIndex.groupCentroids — the
    // keyed M-step primitive, also the IVF cell-refresh path): one
    // exploded aggregate, map-side combined. exactMean: the group is
    // UNBOUNDED (every vector of a label), so the mean is a
    // DECIMAL-term sum — order-independent, immune to the round(…,6)
    // boundary / ±0.0 drift a double avg accrues as the corpus grows.
    "q_embed_centroid" -> ((s, dir) =>
      graft.ops.IvfIndex.groupCentroids(emb(s, dir), "label", "embedding",
        exactMean = true)
        .select(col("label"), col("pos"),
          round(col("c"), 6).as("c_r"), col("n_vecs"))
        .orderBy("label", "pos")),

    // Embedding drift between snapshot halves: per-label centroid
    // shift (L2 over the 64 rounded per-dimension means) between the
    // even- and odd-id halves — the embedding-space twin of
    // q_corpus_drift, the number that says "this label's vectors
    // moved" after a re-embed or a data refresh. One exploded keyed
    // aggregate (|labels|·|halves|·|dim| output rows, corpus-size
    // independent); the shift sums 64 bounded squared diffs of
    // already-rounded centroids.
    "q_embed_drift" -> ((s, dir) => {
      val c = emb(s, dir)
        .select(col("label"), (col("vec_id") % 2 === 0).as("even"),
          posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy("label", "even", "pos")
        // DECIMAL-term mean: unbounded group, same rationale as
        // q_embed_centroid's exactMean (oracle mirrors the sum)
        .agg(round(sum(col("x").cast("decimal(28,14)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("c_r"),
          count(lit(1)).as("n"))
        .transform(graft.ops.QueryCaches.persist) // both half branches read it
      val ce = c.filter(col("even")).select(col("label"), col("pos"),
        col("c_r").as("ca"), col("n").as("n_even"))
      val co = c.filter(!col("even")).select(col("label"), col("pos"),
        col("c_r").as("cb"), col("n").as("n_odd"))
      ce.join(co, Seq("label", "pos"))
        .withColumn("d2", (col("ca") - col("cb")) * (col("ca") - col("cb")))
        .groupBy("label")
        .agg(max(col("n_even")).as("n_even"), max(col("n_odd")).as("n_odd"),
          round(sqrt(sum(col("d2"))), 6).as("shift_r"))
        .orderBy("label")
    }),

    // Corpus-wide per-dimension standardization (VectorStats): stats
    // from the FULL table (one exploded keyed aggregate, |dim| output
    // rows — broadcast back by design, bounded by the dimension, not
    // the corpus), z-scores emitted for the gate slice only.
    "q_embed_standardize" -> ((s, dir) =>
      graft.ops.VectorStats.standardize(emb(s, dir), "vec_id", "embedding")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), col("pos"),
          round(col("x"), 6).as("x_r"),
          // + 0.0: z straddles zero for x within accumulation noise
          // of mu (the computed-zero rule; oracle mirrors it)
          (round(col("z"), 6) + lit(0.0)).as("z_r"))
        .orderBy("vec_id", "pos")),

    // Embedding-cosine near-dup: all pairs above threshold (bounded
    // brute force — the exhaustive baseline).
    "q_cosine_pairs" -> ((s, dir) => {
      val e = normed(s, dir, 300)
        .transform(graft.ops.QueryCaches.persist) // both self-join sides read it
      val a = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      val b = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))
      a.join(b, col("a") < col("b"))
        .withColumn("cos_r", cosR(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cos_r") >= 0.2)
        .select(col("a"), col("b"), col("cos_r"))
        .orderBy("a", "b")
    }),

    // Brute-force cosine top-k: 3 nearest candidates per query vector.
    "q_ann_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      top10Scored(s, dir)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("cand_id"), col("rank"), col("cos_r"))
        .orderBy("q_id", "rank")
    }),

    // IVF index balance report — the operational health check run
    // before trusting an inverted-file index: per-cell population and
    // corpus share under the same fixed coarse quantizer as q_ann_ivf.
    // A skewed cell means one probe does most of the scoring work (the
    // IVF analogue of an LSH hot bucket); this is the number that
    // tells you to re-train centroids or raise k. One broadcast
    // assignment pass + one keyed aggregate.
    "q_ivf_stats" -> ((s, dir) => {
      val assigned = ivfFixedAssigned(s, dir)
        .select(col("vec_id"), col("cell"))
        .transform(graft.ops.QueryCaches.persist) // total + per-cell agg
      assigned.count() // eager: broadcast(total) re-ran the whole assignment
      val total = assigned.agg(count(lit(1)).as("n_total"))
      assigned.groupBy("cell")
        .agg(count(lit(1)).cast("long").as("n_vecs"))
        .crossJoin(broadcast(total))
        .select(col("cell"), col("n_vecs"),
          round(col("n_vecs").cast("double") /
            col("n_total").cast("double"), 6).as("cell_frac"))
        .orderBy("cell")
    }),

    // IVF-style ANN: a coarse quantizer (here: the first 16 vectors as
    // fixed centroids — production would k-means them) assigns every
    // vector to its nearest cell; queries search only their own cell.
    // Turns O(n·m) scoring into per-cell equi-join work, like a real
    // inverted-file index.
    "q_ann_ivf" -> ((s, dir) =>
      ivfOwnCellSearch(ivfFixedAssigned(s, dir)
        // feeds both the query and candidate sides of the search
        .transform(graft.ops.QueryCaches.persist))),

    // Exact-arithmetic k-means (2 unrolled Lloyd iterations, k=4) —
    // the HASH-GATED clustering twin of the rows-only
    // q_ann_ivf_kmeans: every quantity that crosses an aggregate is
    // order-independent (squared-distance terms and coordinate sums
    // go through DECIMAL(28,14) — the gradient-sum treatment — so
    // assignment argmins compare exact decimals and centroid means
    // are exact until one division), which is what lets a DuckDB
    // oracle replay Lloyd's algorithm step for step. Per iteration:
    // one keyed distance aggregate + one keyed mean aggregate over
    // the exploded (vec, dim) frame; the min-struct argmin replaces
    // any window sort.
    "q_kmeans_exact" -> ((s, dir) => {
      val ex = emb(s, dir).filter(col("vec_id") < 500)
        .select(col("vec_id"),
          posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
        .transform(graft.ops.QueryCaches.persist) // every Lloyd pass
      var cent = ex.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("pos"), col("x").as("cx"))
      var asg: DataFrame = null
      for (_ <- 1 to 2) {
        val d = ex.join(cent, "pos")
          .groupBy("vec_id", "cid")
          .agg(sum(((col("x") - col("cx")) * (col("x") - col("cx")))
            .cast("decimal(28,14)")).as("d"))
        asg = d.groupBy("vec_id")
          .agg(min(struct(col("d"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"))
          .transform(graft.ops.QueryCaches.persist) // update + output
        cent = ex.join(asg, "vec_id")
          .groupBy("cid", "pos")
          .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
            count(lit(1))).as("cx"))
          .transform(graft.ops.QueryCaches.persist) // next pass reads 1-2×
      }
      val cnt = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
      val cs = cent.groupBy("cid")
        .agg(sum(round(col("cx"), 6).cast("decimal(20,12)"))
          .cast("double").as("cent_sum_r"))
      cnt.join(cs, "cid").orderBy("cid")
    }),

    // Int8 compressed-domain ANN — the serving path for the
    // q_quantize_embed storage format: top-10 by cosine computed
    // ENTIRELY over int8 codes (the per-vector scales cancel in the
    // cosine, so code dot products are exact integer arithmetic —
    // deterministic on any engine), then the survivors re-scored
    // against the float truth (the rerank pattern). Codes ride the
    // native codegen DotProduct as exact-integer doubles; the top-10
    // cut is a distributed TakeOrdered on the ROUNDED score.
    "q_ann_int8" -> ((s, dir) => {
      val vf = graft.expr.VectorFunctions
      val e = emb(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("scale", vf.int8Scale(col("v")))
        .filter(col("scale") > 0)
        .withColumn("q8",
          vf.toDoubleArray(vf.int8Quantize(col("v"), col("scale"))))
        .withColumn("ii", vf.dotProduct(col("q8"), col("q8")))
        .filter(col("ii") > 0)
        .transform(graft.ops.QueryCaches.persist) // query + candidates
      val q = e.filter(col("vec_id") === 0)
        .select(col("q8").as("qq8"), col("ii").as("qii"),
          col("v").as("qv"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("icos_r", round(vf.dotProduct(col("q8"), col("qq8")) /
          sqrt(col("ii") * col("qii")), 6) + lit(0.0))
        .orderBy(col("icos_r").desc, col("vec_id")).limit(10)
        .withColumn("cos_r", round(vf.dotProduct(col("v"), col("qv")) /
          (vf.l2Norm(col("v")) * vf.l2Norm(col("qv"))), 6) + lit(0.0))
        .select(col("vec_id"), col("icos_r"), col("cos_r"))
        .orderBy(col("icos_r").desc, col("vec_id"))
    }),

    // IVF+PQ — the FAISS-IVFPQ serving shape, composed from the two
    // verified halves: the fixed coarse quantizer prunes the corpus
    // to the query's cell (1/k of the data touched), and within the
    // cell the database stays PQ CODES — the approximate distance is
    // served from the broadcast 8×16 ADC table, never from raw cell
    // vectors. At 100 TB this is the ANN shape that actually ships:
    // cells bound the scan, codes bound the bytes.
    "q_ann_ivfpq" -> ((s, dir) => {
      val assigned = ivfFixedAssigned(s, dir)
        .transform(graft.ops.QueryCaches.persist) // query row + cell slice
      val qcell = assigned.filter(col("vec_id") === 20)
        .select(col("cell").as("qcell"))
      val cellVecs = assigned
        .join(broadcast(qcell), col("cell") === col("qcell"))
        .select(col("vec_id"), col("v"))
      graft.ops.ProductQuantizer.adcTopK(cellVecs, "vec_id", "v",
        queryId = 20L, subspaces = 8, subDim = 8, k = 16, topK = 10)
    }),

    // Embedding-cosine near-dup at scale: same pair semantics as
    // q_cosine_pairs but candidates come only from shared LSH buckets
    // (seeded Rademacher planes) — the bucket id is the shuffle key,
    // so pair mining is bucket-local instead of all-pairs. Mirrors the
    // minhash/simhash banding pattern for the embedding modality.
    "q_cosine_pairs_lsh" -> ((s, dir) => {
      val (_, pairs) = lshPairs(s, dir)
      pairs.select(col("a"), col("b"), col("bucket"), col("cos_r"))
        .orderBy("a", "b")
    }),

    // Cross-lingual near-duplicates — the translated-content dup
    // class text fingerprints CANNOT see (different surface tokens,
    // same meaning): embedding near-dup pairs whose endpoint
    // documents carry DIFFERENT language labels (ids are shared
    // across documents/embeddings). Bucket-local mining as ever; the
    // lang lookup joins the tiny (id → lang) projection twice.
    "q_crosslingual_dups" -> ((s, dir) => {
      val (_, pairs) = lshPairs(s, dir)
      val langs = graft.Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("a"),
          col("lang").as("lang_a")), "a")
        .join(langs.select(col("doc_id").as("b"),
          col("lang").as("lang_b")), "b")
        .filter(col("lang_a") =!= col("lang_b"))
        .select(col("a"), col("b"), col("lang_a"), col("lang_b"),
          col("cos_r"))
        .orderBy("a", "b")
    }),

    // Embedding dedup clusters: LSH-bucket-local near-dup pairs →
    // connected components — the same keep/drop clustering the text
    // dedup family uses, composed over the embedding modality (one
    // clustering op serves every fingerprint type).
    "q_embed_cluster" -> ((s, dir) => {
      val (e, pairs0) = lshPairs(s, dir)
      val pairs = pairs0
        .select("a", "b").transform(graft.ops.QueryCaches.persist) // clusters() iterates over the edges
      graft.ops.TextDedup.clusters(e.select(col("vec_id")), pairs)
        .toDF("vec_id", "cluster_id")
        .orderBy("vec_id")
    }),

    // Top-k per query via the bounded map-side heap aggregate
    // (graft.expr.TopKByScore) instead of shuffle+sort window rank:
    // same scored set and the same total order as q_ann_topk, but at
    // 10⁹ candidates only k-element buffers cross the wire. Verified
    // against the window-rank idiom's oracle.
    "q_topk_agg" -> ((s, dir) => {
      top10Scored(s, dir)
        .groupBy("q_id")
        .agg(graft.expr.TopKByScore.topK(col("cos_r"), col("cand_id"), 3)
          .as("nb"))
        .select(col("q_id"), posexplode(col("nb")))
        .select(col("q_id"), col("col.id").as("cand_id"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.score").as("cos_r"))
        .orderBy("q_id", "rank")
    }),

    // Random-hyperplane cosine LSH (graft.ops.CosineLsh): deterministic
    // seeded ±1 planes — reproducible across sessions/retries with no
    // stored model — 8 sign bits → 256 buckets, nearest same-bucket
    // neighbor. Oracle-exact: the plane matrix is literal on both sides.
    "q_ann_lsh" -> ((s, dir) =>
      nearestInBucket(normed(s, dir, 2000).transform(withLshBucket),
        queryCap = 50)),

    // Filtered vector search — top-3 bucket-local neighbors among
    // candidates passing a metadata predicate (even labels), with the
    // predicate applied BEFORE the bucket join (pre-filtering: the
    // candidate scan shrinks and recall within the filtered set is
    // preserved; post-filtering a fixed top-k would silently return
    // fewer than k). Same LSH machinery and rank tiebreak as
    // q_ann_lsh.
    "q_ann_filtered" -> ((s, dir) => {
      val base = normed(s, dir, 2000, "label").transform(withLshBucket)
        .transform(graft.ops.QueryCaches.persist) // query + candidate arms
      val q = base.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket"))
      val c = base.filter(col("label") % 2 === 0)
        .select(col("vec_id").as("cand_id"), col("label"),
          col("v").as("cv"), col("nrm").as("cn"),
          col("bucket").as("cbucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      q.join(c, col("bucket") === col("cbucket") &&
          col("q_id") =!= col("cand_id"))
        .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("cand_id"), col("label"),
          col("cos_r"))
        .orderBy("q_id", "rank")
    }),

    // IVF with k-means-TRAINED centroids + nprobe — the production
    // variant of the fixed-centroid q_ann_ivf, now HASH-GATED end to
    // end: IvfIndex.buildExact runs two unrolled Lloyd rounds with
    // lowest-id seeds and DECIMAL(28,14) distance/mean sums (the
    // q_kmeans_exact discipline), so the oracle replays training,
    // cell assignment, probe selection, and top-3 scoring step for
    // step. (The Spark-ML build() stays the library's fast path,
    // spec-covered in IvfIndexSpec.)
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 2000)
      val model = graft.ops.IvfIndex.buildExact(e, "vec_id", "embedding",
        k = 8, iters = 2, handle = graft.ops.QueryCaches.handle())
      val q = e.filter(col("vec_id") < 10)
      graft.ops.IvfIndex.search(model, q, "vec_id", "embedding",
        topK = 3, nprobe = 2)
        .select(col("q_id"), posexplode(col("neighbors")))
        .select(col("q_id"), col("col.id").as("cand_id"),
          (col("pos") + 1).cast("long").as("rank"),
          round(col("col.score"), 6).as("score_r"))
        .orderBy("q_id", "rank")
    }),

    // IVF index LIFECYCLE gate: the same fixed-centroid index as
    // q_ann_ivf, but round-tripped through IvfIndex.save (assignment
    // partitioned by cell on disk, centroids alongside) and a COLD
    // IvfIndex.load — the own-cell search then runs over the loaded
    // scan, so the on-disk layout, schema and values are all checked
    // against the SAME oracle as the in-memory variant. At 100 TB this
    // is the deployment shape: index once, serve probes from the
    // cell-partitioned files; a probe reads only its cells' directories
    // (PlanSpec pins PartitionFilters on the cold scan).
    "q_ann_ivf_persisted" -> ((s, dir) => {
      val path = Tables.scratchDir(s, "graft_ivf_persisted").toString
      graft.ops.IvfIndex.save(
        graft.ops.IvfIndex.Model(
          fixedCentroids(s, dir), ivfFixedAssigned(s, dir)), path)
      ivfOwnCellSearch(graft.ops.IvfIndex.load(s, path).assigned)
    }),

    // IVF index MAINTENANCE gate: the corpus arrives in two waves —
    // the first is indexed and saved; the second is appended into the
    // saved cell-partitioned layout (IvfIndex.appendAssigned: append
    // mode writes only the touched cells' directories, no rebuild, no
    // rewrite of the existing corpus — the nightly-arrivals shape at
    // 100 TB). A cold load then searches the updated index, and must
    // match the SAME oracle as q_ann_ivf: under fixed centroids,
    // assignment is independent of arrival wave.
    "q_ann_ivf_incremental" -> ((s, dir) => {
      val path = Tables.scratchDir(s, "graft_ivf_incremental").toString
      // save() overwrites the whole layout, clearing any previous
      // run's appends before this run's append lands
      graft.ops.IvfIndex.save(
        graft.ops.IvfIndex.Model(fixedCentroids(s, dir),
          ivfFixedAssigned(s, dir).filter(col("vec_id") < 1000)), path)
      graft.ops.IvfIndex.appendAssigned(
        ivfFixedAssigned(s, dir).filter(col("vec_id") >= 1000), path)
      ivfOwnCellSearch(graft.ops.IvfIndex.load(s, path).assigned)
    }),

    // Multi-probe LSH search: nearest neighbor over the query's bucket
    // PLUS every 1-bit-adjacent bucket (the recall/cost middle ground
    // q_ann_recall measures). The 9 probe buckets EXPLODE on the query
    // side and the candidate join stays a bucket EQUI-join — the shape
    // that scales to millions of queries, vs a Hamming-distance theta
    // join that degenerates to all-pairs. Probe buckets of one query
    // are distinct (bucket XOR distinct masks), so no pair duplicates.
    "q_ann_multiprobe" -> ((s, dir) => {
      val masks = lit(0) +: (0 until 8).map(p => lit(1 << p))
      val e = normed(s, dir, 2000).transform(withLshBucket)
        .transform(graft.ops.QueryCaches.persist) // query and candidate sides share it
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket"))
        .withColumn("m", explode(array(masks: _*)))
        .withColumn("pbucket", col("bucket").bitwiseXOR(col("m")))
        .drop("m")
      val c = e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("bucket").as("cbucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      c.join(broadcast(q), col("pbucket") === col("cbucket") &&
          col("q_id") =!= col("cand_id"))
        .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("q_id"), col("cand_id"), col("bucket"), col("cos_r"))
        .orderBy("q_id")
    }),

    // LSH-bucketed similarity search: nearest same-bucket neighbor
    // (axis hyperplanes keep this variant's oracle trivially exact).
    "q_ann_bucketed" -> ((s, dir) =>
      nearestInBucket(
        normed(s, dir, 2000)
          .withColumn("bucket", signBucket(col("v"), 8)),
        queryCap = 50)),

    // Semantic dedup (the SemDeDup recipe): coarse cells via fixed
    // centroids (the first 8 vectors — production would k-means them,
    // as q_ann_ivf_kmeans does for search), then within-cell cosine
    // near-dup pruning keeping the smallest id per group. Catches
    // embed-alike documents the fingerprint dedup family cannot; pair
    // mining is cell-local, never all-pairs.
    "q_semantic_dedup" -> ((s, dir) => {
      graft.ops.SemanticDedup.keepSet(semanticCells(s, dir), tau = 0.3)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // Production-shaped twin of q_semantic_dedup (the q_jaccard_capped
    // pattern): the SAME keep-set fold run through the maxCellSize
    // backstop — sub-shard machinery included in the executed plan. A
    // 4096 cap provably exceeds every cell (the whole table is ≤2000
    // vectors), so sub-sharding assigns shard 0 everywhere and the
    // result hash-matches the same uncapped oracle; the explicit
    // require names a regeneration that breaks the precondition.
    "q_semantic_dedup_capped" -> ((s, dir) => {
      val assigned = graft.ops.QueryCaches.persist(semanticCells(s, dir))
      val cap = 4096
      require(
        graft.ops.TextDedup.overCapBuckets(assigned, Seq("cell"), cap)
          .isEmpty,
        s"q_semantic_dedup_capped precondition: a cell exceeds cap=$cap " +
          "— the sub-sharded plan would no longer match the exact oracle")
      graft.ops.SemanticDedup.keepSet(assigned, tau = 0.3,
        maxCellSize = cap)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // Product quantization: every 64-dim vector compressed to 8
    // per-subspace codes against a hash-seeded 16-centroid codebook
    // (ProductQuantizer — broadcast-joined bounded codebook, map-side
    // min-struct argmin, no window sort). dist_r doubles as the
    // per-subspace reconstruction error.
    "q_pq_codes" -> ((s, dir) =>
      graft.ops.ProductQuantizer.pqCodes(
        emb(s, dir).select(col("vec_id"),
          asDouble(col("embedding")).as("v")),
        "vec_id", "v", subspaces = 8, subDim = 8, k = 16)
        .orderBy("vec_id", "sub")),

    // ADC search over the PQ codes: query vec_id 0 stays a full
    // vector, every other vector is its 8 codes, and the approximate
    // distance comes from a broadcast 8×16 lookup table — the
    // compressed-domain serving path of a PQ index. Rounded before
    // ranking so the top-20 cut is ulp-stable.
    "q_pq_adc" -> ((s, dir) =>
      graft.ops.ProductQuantizer.adcTopK(
        emb(s, dir).select(col("vec_id"),
          asDouble(col("embedding")).as("v")),
        "vec_id", "v", queryId = 0L,
        subspaces = 8, subDim = 8, k = 16, topK = 20)),

    // PQ quality measurement: recall of the compressed-domain ADC
    // top-20 against the exact L2 top-20 for the same query — the
    // recall/compression trade a PQ deployment tracks (q_ann_recall's
    // counterpart for the quantized path).
    "q_pq_recall" -> ((s, dir) => {
      val vf = graft.expr.VectorFunctions
      val e = emb(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .transform(graft.ops.QueryCaches.persist) // ADC + exact share it
      val adc = graft.ops.ProductQuantizer.adcTopK(e, "vec_id", "v",
        queryId = 0L, subspaces = 8, subDim = 8, k = 16, topK = 20)
        .select(col("vec_id"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("d_r", round(
          (vf.dotProduct(col("v"), col("v")) -
            lit(2.0) * vf.dotProduct(col("v"), col("qv"))) +
            vf.dotProduct(col("qv"), col("qv")), 6))
        .orderBy(col("d_r"), col("vec_id")).limit(20)
        .select(col("vec_id"))
      exact.join(adc.withColumn("hit", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)).cast("long").as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall_r",
          round(col("n_hit").cast("double") / col("n_exact").cast("double"),
            6))
    }),

    // Int8 scalar quantization: the storage path for embeddings at
    // 100 TB (4 bytes→1 per dim). Per-vector symmetric scale, codes
    // via floor(x/s + 0.5) (exact on both engines, unlike round()'s
    // mode-dependent halves); output = code stats + saturation count.
    // Pure per-row projection, no shuffle.
    "q_quantize_embed" -> ((s, dir) => {
      val vf = graft.expr.VectorFunctions
      emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("scale", vf.int8Scale(col("v")))
        .filter(col("scale") > 0) // all-zero vectors have no code scale
        .withColumn("q", vf.int8Quantize(col("v"), col("scale")))
        .select(col("vec_id"),
          size(col("q")).as("dim"),
          round(col("scale"), 6).as("scale_r"),
          array_min(col("q")).cast("long").as("qmin"),
          array_max(col("q")).cast("long").as("qmax"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long"))
            .as("qsum"),
          size(filter(col("q"), x => abs(x) === 127)).as("n_sat"))
        .orderBy("vec_id")
    }),

    // Hybrid text+embedding dedup clustering: minhash near-dup pairs
    // (textual) UNION embedding LSH near-dup pairs (semantic) feed the
    // ONE connected-components op — documents merge into a cluster if
    // they match in EITHER modality. The multimodal keep/drop decision
    // a real pipeline makes; edge mining stays bucket-local in both
    // modalities (ids are shared across documents/embeddings).
    "q_hybrid_cluster" -> ((s, dir) => {
      import graft.ops.TextDedup
      val d = graft.Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 2000)
      val textPairs = TextDedup.minhashDedup(d, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue) // uncapped: mirrors the oracle CTE
        .select(col("a"), col("b"))
      val (_, embPairs0) = lshPairs(s, dir)
      val edges = textPairs
        .unionByName(embPairs0.select(col("a"), col("b")))
        .distinct()
        .transform(graft.ops.QueryCaches.persist) // clusters() iterates over the edges
      TextDedup.clusters(d.select(col("doc_id")), edges)
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // ANN quality measured IN-ENGINE: recall@3 of the LSH index vs
    // brute force, per query, for THREE index configurations at once
    // (k=8 exact bucket, 1-bit multi-probe over k=8, k=4) — the metric
    // that picks the index BEFORE shipping it ("measure, don't guess"
    // as a declared, oracle-checked operator). The seeded planes are
    // tabulated by index, so the k=4 bucket is exactly the k=8
    // bucket's low nibble (bucket % 16) — one scored frame serves the
    // exact ranking and all three LSH rankings.
    // Ranking-quality companion to q_ann_recall: NDCG@5 of the k=4
    // LSH ranking against the exact cosine order. Graded relevance =
    // 6 − exact rank (5..1 for the exact top-5, 0 otherwise);
    // discounts are 1/ln(pos+1) with ≤5 terms per query (the
    // bounded-terms sum rule). Set membership is identical
    // cross-engine because positions derive from the same rounded
    // cosine total order.
    "q_ann_ndcg" -> ((s, dir) => {
      val scored = lshScored(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      val exact5 = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("cand_id"), (lit(6) - col("rk")).as("rel"))
      val lsh5 = scored.filter(col("qb") % 16 === col("cb") % 16)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("cand_id"), col("rk").as("pos"))
      val dcg = lsh5.join(exact5, Seq("q_id", "cand_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("rel"), lit(0)).cast("double") /
          log(col("pos").cast("double") + lit(1.0))).as("dcg"))
      val idcg = exact5.groupBy("q_id")
        .agg(sum(col("rel").cast("double") /
          log(lit(7.0) - col("rel").cast("double"))).as("idcg"))
      idcg.join(dcg, Seq("q_id"), "left")
        .select(col("q_id"),
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6)
            .as("ndcg_r"))
        .orderBy("q_id")
    }),

    "q_ann_recall" -> ((s, dir) => {
      val scored = lshScored(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      def top3(df: DataFrame): DataFrame = df
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("q_id"), col("cand_id"))
      val exact = top3(scored)
      val lsh8 = top3(scored.filter(col("qb") === col("cb")))
      val lsh4 = top3(scored.filter(col("qb") % 16 === col("cb") % 16))
      // multi-probe: also search every 1-bit-adjacent k=8 bucket —
      // recall between k=8-exact-bucket and k=4, at ~9 buckets probed
      // instead of 16 merged (the standard recall/cost middle ground)
      val mp8 = top3(scored.filter(
        bit_count(col("qb").bitwiseXOR(col("cb"))) <= 1))
      exact
        .join(lsh8.withColumn("h8", lit(1)), Seq("q_id", "cand_id"), "left")
        .join(lsh4.withColumn("h4", lit(1)), Seq("q_id", "cand_id"), "left")
        .join(mp8.withColumn("hm", lit(1)), Seq("q_id", "cand_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("h8"), lit(0))).as("n_hit_k8"),
          sum(coalesce(col("h4"), lit(0))).as("n_hit_k4"),
          sum(coalesce(col("hm"), lit(0))).as("n_hit_mp8"))
        .withColumn("recall_k8_r",
          round(col("n_hit_k8").cast("double") / col("n_exact"), 6))
        .withColumn("recall_k4_r",
          round(col("n_hit_k4").cast("double") / col("n_exact"), 6))
        .withColumn("recall_mp8_r",
          round(col("n_hit_mp8").cast("double") / col("n_exact"), 6))
        .orderBy("q_id")
    }),

    // Two-stage retrieval: cheap prefix-dim filter (first 16 of 64
    // dims) to top-10 candidates per query, exact full-dim rerank to
    // top-3 — the staged shape real ANN serving uses (a coarse score
    // over compressed vectors, exact math only over the shortlist).
    // At scale stage 1 scans 4× less data per candidate and stage 2
    // touches 10 rows per query.
    "q_ann_rerank" -> ((s, dir) => {
      val e = normed(s, dir, 2000)
        .withColumn("p", slice(col("v"), 1, 16))
        .withColumn("pn", norm(col("p")))
        .filter(col("pn") > 0)
        .transform(graft.ops.QueryCaches.persist) // query and candidate sides share it
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("p").as("qp"), col("pn").as("qpn"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv"),
          col("nrm").as("cn"), col("p").as("cp"), col("pn").as("cpn"))
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_r").desc, col("cand_id"))
      c.join(broadcast(q))
        .withColumn("pcos", cosR(col("qp"), col("cp"), col("qpn"), col("cpn")))
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= 10)
        .withColumn("cos_r", cosR(col("qv"), col("cv"), col("qn"), col("cn")))
        .withColumn("rank", row_number().over(w2).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("cand_id"), col("rank"), col("cos_r"))
        .orderBy("q_id", "rank")
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
    // and semantic (embedding-cosine) arms — rank-based fusion needs
    // no score calibration between arms (score = Σ 1/(K + rank),
    // K = 60, the standard constant). Each arm ranks on its ROUNDED
    // score with the id tiebreak, so the ranks — and therefore the
    // fused scores — are engine-portable; an id missing from one arm
    // contributes 0 and surfaces its rank as -1 (the outer-join null
    // sentinel rule). Scale shape: each arm's top-20 is a distributed
    // sort-limit (TakeOrdered — no global sort materializes), the
    // window rank then runs over a 20-row frame bounded by the LIMIT
    // literal, and the fusion join is ≤ 2·20 rows by construction.
    "q_rrf_fusion" -> ((s, dir) => {
      val lexTop = graft.ops.Retrieval.bm25(
        Tables.table(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "vector", "window"))
        .orderBy(col("score_r").desc, col("doc_id")).limit(20)
      val wl = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_r").desc, col("doc_id"))
      val lex = lexTop.select(col("doc_id"),
        row_number().over(wl).cast("long").as("lex_rank"))
      val e = normed(s, dir, 2000)
        .transform(graft.ops.QueryCaches.persist) // query + candidate arms share it
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val semTop = e.filter(col("vec_id") >= 10)
        .join(broadcast(q))
        .withColumn("cos_r", cosR(col("qv"), col("v"), col("qn"), col("nrm")))
        .orderBy(col("cos_r").desc, col("vec_id")).limit(20)
      val ws = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos_r").desc, col("vec_id"))
      val sem = semTop.select(col("vec_id").as("doc_id"),
        row_number().over(ws).cast("long").as("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
          coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"),
          round(
            when(col("lex_rank").isNotNull,
              lit(1.0) / (lit(60.0) + col("lex_rank"))).otherwise(lit(0.0)) +
              when(col("sem_rank").isNotNull,
                lit(1.0) / (lit(60.0) + col("sem_rank"))).otherwise(lit(0.0)),
            6).as("rrf_r"))
        .orderBy(col("rrf_r").desc, col("doc_id"))
    }),

    // Maximal-marginal-relevance reranking: greedy diversified top-4
    // from the semantic top-20 pool — pick argmax of
    // λ·relevance − (1−λ)·max-similarity-to-already-picked (λ = 0.7),
    // the standard redundancy-killing rerank for retrieval results.
    // Inherently sequential, but every round operates on frames
    // bounded by the k/pool LITERALS (20 candidates, 20×19 pair sims,
    // 4 rounds), so the driver loop is constant work at any corpus
    // size; only the pool selection itself (a distributed sort-limit)
    // sees the corpus. Scores rank on round-6 values with the id
    // tiebreak → the greedy trajectory is engine-deterministic. The
    // 0.3 complement is a shared LITERAL on both engines (1 − 0.7 in
    // binary is 0.30000000000000004, NOT the 0.3 literal — computing
    // it would diverge from the oracle's digits).
    "q_mmr" -> ((s, dir) => {
      val e = normed(s, dir, 2000)
        .transform(graft.ops.QueryCaches.persist)
      val cand = e.filter(col("vec_id") >= 10)
        .join(broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qn"))))
        .withColumn("rel", cosR(col("qv"), col("v"), col("qn"), col("nrm")))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("v"), col("nrm"), col("rel"))
        .transform(graft.ops.QueryCaches.persist) // sim matrix + every round read it
      val sims = cand.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
        .join(cand.select(col("vec_id").as("b"), col("v").as("vb"),
          col("nrm").as("nb")), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          cosR(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
        .transform(graft.ops.QueryCaches.persist) // read once per round
      var sel = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1L).as("pick"), col("rel").as("score_r"))
        .transform(graft.ops.QueryCaches.persist) // each round reads the running set
      for (r <- 2 to 4) {
        val maxsim = sims.join(sel.select(col("vec_id").as("b")), Seq("b"))
          .groupBy("a").agg(max(col("sim")).as("msim"))
        val next = cand.join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
          .join(maxsim, col("vec_id") === col("a"))
          // + 0.0: the 0.7·rel − 0.3·msim DIFFERENCE can land AT zero
          // (computed-zero sign-split rule; mirrored in mmrOracle)
          .withColumn("score_r",
            round(lit(0.7) * col("rel") - lit(0.3) * col("msim"), 6) +
              lit(0.0))
          .orderBy(col("score_r").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), lit(r.toLong).as("pick"), col("score_r"))
        sel = sel.unionByName(next)
          .transform(graft.ops.QueryCaches.persist)
      }
      sel.orderBy("pick")
    }),

    // Hard-negative mining for contrastive training: the BM25 lexical
    // top-20 annotated with each hit's semantic similarity to the
    // query vector — a lexically-relevant doc that is semantically far
    // (cos < 0.15 on the rounded value, the fence rule) is the classic
    // "hard negative". Docs without an embedding surface cos as the -2
    // sentinel (a real cosine is ≥ −1) and are never marked hard.
    // Scale shape: the top-20 is a distributed sort-limit; the
    // embedding lookup joins 20 rows against the keyed embeddings
    // side; everything downstream is bounded by the LIMIT literal.
    "q_hard_negatives" -> ((s, dir) => {
      val lexTop = graft.ops.Retrieval.bm25(
        Tables.table(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "vector", "window"))
        .orderBy(col("score_r").desc, col("doc_id")).limit(20)
      val wl = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_r").desc, col("doc_id"))
      val lex = lexTop.select(col("doc_id"), col("score_r"),
        row_number().over(wl).cast("long").as("lex_rank"))
      val e = normed(s, dir, 2000)
        .transform(graft.ops.QueryCaches.persist) // query row + lookup side share it
      // aggregate the query row into EXACTLY ONE row (nulls when
      // vec_id 0 is absent or zero-norm): a bare filter would make the
      // cross join drop ALL lex rows on an empty query side, while the
      // oracle's LEFT JOIN keeps them with the −2 sentinel — a
      // regeneration-triggered 0-vs-20-row hash split (the
      // q_adamic_adar "can't happen" domain-guard class)
      val q = e.filter(col("vec_id") === 0)
        .agg(first(col("v")).as("qv"), first(col("nrm")).as("qn"))
      lex.join(e.select(col("vec_id"), col("v"), col("nrm")),
          col("doc_id") === col("vec_id"), "left")
        .crossJoin(broadcast(q))
        .withColumn("cos_r",
          coalesce(cosR(col("qv"), col("v"), col("qn"), col("nrm")),
            lit(-2.0)))
        .withColumn("is_hard",
          col("cos_r") =!= -2.0 && col("cos_r") < 0.15)
        .select(col("doc_id"), col("lex_rank"), col("score_r"),
          col("cos_r"), col("is_hard"))
        .orderBy("lex_rank")
    }),

    // Johnson–Lindenstrauss random-projection audit: every vector
    // projected onto the 16 seeded ±1 hyperplanes (the SAME
    // deterministic plane generator as the LSH family — the 1/√16
    // scale cancels inside cosine, so raw dots ARE the projection),
    // then pairwise cosine before vs after over the bounded audit
    // slice — the distortion report run before trusting a
    // reduced-dimension index. Projection is a per-row map (16
    // codegen'd dot products, no shuffle); the pair join is bounded
    // by the slice literal.
    "q_rand_proj" -> ((s, dir) => {
      val planes = graft.ops.CosineLsh.planes(16, 64)
      val e = normed(s, dir, 120)
        .withColumn("p", array(planes.map(pl =>
          dot(col("v"), array(pl.map(x => lit(x)).toIndexedSeq: _*)))
          .toIndexedSeq: _*))
        .withColumn("pn", norm(col("p")))
        .filter(col("pn") > 0)
        .transform(graft.ops.QueryCaches.persist) // both pair sides read it
      val a = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"), col("p").as("pa"), col("pn").as("pna"))
      val b = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"), col("p").as("pb"), col("pn").as("pnb"))
      a.join(b, col("a") < col("b"))
        .select(col("a"), col("b"),
          cosR(col("va"), col("vb"), col("na"), col("nb")).as("cos_r"),
          cosR(col("pa"), col("pb"), col("pna"), col("pnb")).as("pcos_r"))
        .withColumn("err_r", round(col("pcos_r") - col("cos_r"), 6))
        .orderBy("a", "b")
    }))

  private val bucketSql = (0 until 8)
    .map(i => s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
    .mkString(" + ")

  // The ±1 plane matrix is deterministic in (seed, k, dim), so the
  // oracle embeds it as literals — both engines hash the identical
  // doubles (same left-to-right dot-product fold).
  // Only the k=8 matrix is ever rendered to SQL: smaller-k buckets
  // derive as low-bit prefixes (qb % 16 in q_ann_recall) because the
  // planes are tabulated by index — a separate k=4 literal would be a
  // second source of truth for the same buckets
  private val lshBucketSql = graft.ops.CosineLsh.planes(8, 64)
    .zipWithIndex
    .map { case (plane, p) =>
      val arr = plane.map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** The seeded-plane LSH bucket as an [[embeddingCtes]] `nCols`
    * entry — the oracle side of `CosineLsh.bucketCol` over `planes(8,
    * 64)`; shared with StreamQueries' streaming-ANN oracle.
    */
  private[queries] val lshBucket = s"$lshBucketSql AS bucket"

  /** The embedding slice as DuckDB CTEs — the oracle side of [[normed]]
    * (and of every body that casts `embedding` with `asDouble`). `e`
    * holds (vec_id, `cols`…, v): the `embeddings` rows matching the
    * predicate `slice` (every row when empty), v the embedding cast to
    * DOUBLE element-wise. With `norm`, `n` adds nrm, the L2 norm, drops
    * zero-norm rows as [[withNorm]] does, and appends the `nCols`
    * expressions over v ([[lshBucket]], a prefix slice). `e` and `n`
    * name the two CTEs.
    */
  private[queries] def embeddingCtes(slice: String = "",
      cols: Seq[String] = Nil, norm: Boolean = true,
      nCols: Seq[String] = Nil, e: String = "e", n: String = "n"): String = {
    val pre = cols.map(c => s" $c,").mkString
    val where = if (slice.isEmpty) "" else s" WHERE $slice"
    val eCte = s"""$e AS (SELECT vec_id,$pre
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings$where)"""
    val extra = nCols.map(c => s",\n             $c").mkString
    if (!norm) eCte
    else s"""$eCte,
         $n AS (SELECT * FROM (SELECT vec_id,$pre v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm$extra FROM $e)
             WHERE nrm > 0)"""
  }

  /** The rounded cosine in DuckDB — the oracle side of [[cosR]], with
    * the same arguments (two vectors, then their norms). The
    * two-argument form reads CTE aliases `a` and `b`'s v and nrm.
    */
  private[queries] def cosSql(a: String, b: String, na: String,
      nb: String): String =
    s"round(list_dot_product($a, $b) / ($na * $nb), 6) + 0.0"

  private[queries] def cosSql(a: String, b: String): String =
    cosSql(s"$a.v", s"$b.v", s"$a.nrm", s"$b.nrm")

  /** Per-query rank by rounded cosine, ties to the lower candidate id
    * — the order of every body's `partitionBy("q_id")
    * .orderBy(col("cos_r").desc, col("cand_id"))` window.
    */
  private val qRank =
    "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, cand_id)"

  /** The nearest candidate per query over a pair CTE `p` (q_id,
    * cand_id, `key`, cos_r) — the oracle side of the rank-1 tail of
    * [[nearestInBucket]] and [[ivfOwnCellSearch]].
    */
  private def nearestSql(key: String): String =
    s"""r AS (SELECT *, $qRank AS rk FROM p)
         SELECT q_id, cand_id, $key, cos_r FROM r WHERE rk = 1
         ORDER BY q_id"""

  /** [[nearestInBucket]]'s oracle: the first 50 of the 2000-vector
    * slice search their own bucket, `bucket` the `n` column that
    * derives it.
    */
  private def bucketNearestOracle(bucket: String): String =
    s"""WITH ${embeddingCtes("vec_id < 2000", nCols = Seq(bucket))},
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, q.bucket,
             ${cosSql("q", "c")} AS cos_r
           FROM n q JOIN n c
             ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 50),
         ${nearestSql("bucket")}"""

  /** The LSH near-dup pair SELECT over the bucketed CTE `n`: every
    * a < b sharing a bucket with rounded cosine >= 0.2, the `cols`
    * expressions following a and b — the oracle side of [[lshPairs]]
    * and of `StreamAnn.candidatePairs`.
    */
  private[queries] def lshPairSql(cols: Seq[String] = Nil,
      n: String = "n"): String =
    s"""SELECT a.vec_id AS a, b.vec_id AS b${cols.map(", " + _).mkString}
         FROM $n a JOIN $n b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE ${cosSql("a", "b")} >= 0.2"""

  /** [[lshPairSql]]'s cosine column. */
  private[queries] val pairCos = s"${cosSql("a", "b")} AS cos_r"

  /** The fixed-centroid IVF assignment chain over
    * [[embeddingCtes]]`(slice)` — the oracle side of
    * [[ivfFixedAssigned]] (k = 16 over the 2000 slice) and of
    * [[semanticCells]] (k = 8 over every vector). `cent` holds the
    * first `k` vectors as centroids, `scored` every other vector's
    * rounded cosine to each, and `assigned` (vec_id, v, nrm, cell) its
    * best cell, ties to the lower centroid id.
    */
  private[queries] def ivfCtes(slice: String, k: Int = 16): String =
    s"""${embeddingCtes(slice)},
         cent AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
             WHERE vec_id < $k),
         scored AS (SELECT x.vec_id, x.v, x.nrm, c.c_id,
             ${cosSql("x.v", "c.cv", "x.nrm", "c.cn")} AS c_cos
             FROM n x CROSS JOIN cent c WHERE x.vec_id >= $k),
         assigned AS (SELECT vec_id, v, nrm, c_id AS cell FROM (
             SELECT *, row_number() OVER
               (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rk
             FROM scored) WHERE rk = 1)"""

  /** Lloyd round `i` as CTEs over the exploded `x` (vec_id, x, pos)
    * and the previous round's centroids `c${i - 1}` (cid, pos, cx):
    * `d$i` the DECIMAL(28,14) squared distances, `a$i` each vector's
    * argmin (ties to the lower cid), `c$i` the decimal-exact means —
    * the oracle side of q_kmeans_exact's loop and of
    * `IvfIndex.buildExact`.
    */
  private def lloydCtes(i: Int): String =
    s"""d$i AS (SELECT x.vec_id, c.cid,
             sum(CAST((x.x - c.cx) * (x.x - c.cx) AS DECIMAL(28,14)))
               AS d
           FROM x JOIN c${i - 1} c ON c.pos = x.pos GROUP BY 1, 2),
         a$i AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
               AS rn
           FROM d$i) WHERE rn = 1),
         c$i AS (SELECT a.cid, x.pos,
             CAST(sum(CAST(x.x AS DECIMAL(28,14))) AS DOUBLE) /
               count(*) AS cx
           FROM x JOIN a$i a ON a.vec_id = x.vec_id GROUP BY 1, 2)"""

  /** Product-quantizer code search as CTEs over a base CTE `base`
    * (vec_id, v) — the oracle side of `ProductQuantizer.pqCodes`:
    * `seeds` the 16 codebook vectors in md5('pq:' || id) order, `sb`
    * the 8 subspaces, `ve`/`ce` the 8-dim slices of vectors and
    * seeds, `d` every (vector, subspace, seed) squared distance.
    */
  private def pqCodeCtes(base: String): String =
    s"""seeds AS (SELECT vec_id AS cid, v AS cv FROM $base
           ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id
           LIMIT 16),
         sb AS (SELECT unnest(range(0, 8)) AS sub),
         ve AS (SELECT vec_id, sub,
             v[CAST(sub * 8 + 1 AS INTEGER):CAST(sub * 8 + 8 AS INTEGER)]
               AS vs
           FROM $base CROSS JOIN sb),
         ce AS (SELECT cid, sub,
             cv[CAST(sub * 8 + 1 AS INTEGER):CAST(sub * 8 + 8 AS INTEGER)]
               AS cs
           FROM seeds CROSS JOIN sb),
         d AS (SELECT ve.vec_id, ve.sub, ce.cid,
             (list_dot_product(vs, vs) - 2.0 * list_dot_product(vs, cs))
               + list_dot_product(cs, cs) AS dist
           FROM ve JOIN ce ON ve.sub = ce.sub)"""

  /** [[pqCodeCtes]] plus `codes`, each vector's nearest seed per
    * subspace (ties to the lower cid), and `lut`, the ADC table of the
    * vector qv in CTE `query` — the exact arithmetic
    * `ProductQuantizer.adcTopK` runs.
    */
  private def pqAdcCtes(base: String, query: String): String =
    s"""${pqCodeCtes(base)},
         codes AS (SELECT vec_id, sub, cid AS code FROM (
             SELECT vec_id, sub, cid, row_number() OVER
               (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
             FROM d) WHERE rn = 1),
         lut AS (SELECT ce.sub, ce.cid,
             (list_dot_product(
                 qv[CAST(ce.sub * 8 + 1 AS INTEGER):CAST(ce.sub * 8 + 8 AS INTEGER)],
                 qv[CAST(ce.sub * 8 + 1 AS INTEGER):CAST(ce.sub * 8 + 8 AS INTEGER)])
               - 2.0 * list_dot_product(
                 qv[CAST(ce.sub * 8 + 1 AS INTEGER):CAST(ce.sub * 8 + 8 AS INTEGER)],
                 cs))
               + list_dot_product(cs, cs) AS ad
           FROM ce CROSS JOIN $query)"""

  /** PQ over the whole table with vec_id 0 as the query: `b` the base,
    * `q` the query vector, then [[pqAdcCtes]] — shared by q_pq_adc and
    * q_pq_recall.
    */
  private val pqAdcChainSql: String =
    s"""${embeddingCtes(norm = false)},
         b AS (SELECT * FROM e WHERE vec_id <> 0),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         ${pqAdcCtes("b", "q")}"""

  /** The BM25 scores for the terms spark, vector and window as CTEs
    * `d` … `bm` (doc_id, score_r) — the oracle side of
    * `Retrieval.bm25` as q_rrf_fusion and q_hard_negatives call it.
    */
  private val bm25Ctes =
    """d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS tot_len FROM d),
         t AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM d),
         tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE tok IN ('spark', 'vector', 'window')
           GROUP BY 1, 2, 3),
         dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         sc AS (SELECT tf.doc_id,
             ln(1.0 + (c.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * CAST(tf.tf AS DOUBLE) * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 +
                   0.75 * CAST(tf.dl AS DOUBLE)
                     / (CAST(c.tot_len AS DOUBLE) / c.n_docs)))
               AS term_score
           FROM tf JOIN dfq USING (tok) CROSS JOIN c),
         bm AS (SELECT doc_id, round(sum(term_score), 6) AS score_r
           FROM sc GROUP BY 1)"""

  /** The 2000-vector slice with `qv` (qvec, qn), vector 0 as the
    * query — the oracle side of the `vec_id === 0` query row that
    * q_rrf_fusion, q_mmr and q_hard_negatives score against.
    */
  private val query0Ctes =
    s"""${embeddingCtes("vec_id < 2000")},
         qv AS (SELECT v AS qvec, nrm AS qn FROM n WHERE vec_id = 0)"""

  /** The rounded cosine of an `n` row to [[query0Ctes]]' query. */
  private val query0Cos = cosSql("qv.qvec", "n.v", "qv.qn", "n.nrm")

  /** The candidates (vec_id >= 10) of the bucketed 2000 slice scored
    * against the 10 queries: `s` (q_id, cand_id, qb, cb, cos_r) — the
    * oracle side of [[lshScored]].
    */
  private val lshScoredCtes =
    s"""${embeddingCtes("vec_id < 2000", nCols = Seq(lshBucket))},
         s AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             q.bucket AS qb, c.bucket AS cb,
             ${cosSql("q", "c")} AS cos_r
           FROM n q JOIN n c ON c.vec_id >= 10 WHERE q.vec_id < 10)"""

  /** [[lshScoredCtes]]' `s` rows matching `where` with their
    * per-query rank rk, as a derived table.
    */
  private def rankedSql(where: String = ""): String =
    s"(SELECT q_id, cand_id, $qRank AS rk FROM s$where)"

  // One definition for the top-3-per-query result: q_ann_topk derives
  // it via the window-rank idiom, q_topk_agg via the heap aggregate —
  // both must produce exactly this, so they share the oracle text.
  private val topk3Oracle =
    s"""WITH ${embeddingCtes("vec_id < 2000")},
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             ${cosSql("q", "c")} AS cos_r
           FROM n q JOIN n c ON c.vec_id >= 10
           WHERE q.vec_id < 10),
         r AS (SELECT *, CAST($qRank AS BIGINT) AS rank
           FROM p)
         SELECT q_id, cand_id, rank, cos_r FROM r WHERE rank <= 3
         ORDER BY q_id, rank"""

  // One definition of the fixed-centroid IVF search result: q_ann_ivf
  // computes it in memory, q_ann_ivf_persisted through the save →
  // cold-load disk round trip — both must match exactly this.
  private val ivfOracle =
    s"""WITH ${ivfCtes("vec_id < 2000")},
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, q.cell,
             ${cosSql("q", "c")} AS cos_r
             FROM assigned q JOIN assigned c
               ON q.cell = c.cell AND q.vec_id <> c.vec_id
             WHERE q.vec_id < 66),
         ${nearestSql("cell")}"""

  /** Unrolled Lloyd oracle for q_kmeans_exact: each iteration's
    * distance/argmin/update mirrors the Spark side's decimal-exact
    * aggregates (terms and coordinate sums through DECIMAL(28,14)).
    */
  private val kmeansOracle: String =
    s"""WITH ${embeddingCtes("vec_id < 500", norm = false)},
         x AS (SELECT vec_id, unnest(v) AS x,
             generate_subscripts(v, 1) AS pos FROM e),
         c0 AS (SELECT vec_id AS cid, pos, x AS cx FROM x
           WHERE vec_id < 4),
         ${lloydCtes(1)},
         ${lloydCtes(2)},
         cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
           FROM a2 GROUP BY 1),
         cs AS (SELECT cid, CAST(sum(CAST(round(cx, 6)
             AS DECIMAL(20,12))) AS DOUBLE) AS cent_sum_r
           FROM c2 GROUP BY 1)
         SELECT cnt.cid, cnt.n_members, cs.cent_sum_r
         FROM cnt JOIN cs ON cs.cid = cnt.cid ORDER BY cnt.cid"""

  /** IVF+PQ oracle: the ivfOracle assignment chain composed with the
    * pqAdcCtes arithmetic, parameterized on the query's cell
    * (query = vec_id 20, database = its cell minus itself, codebook
    * seeded from the CELL members by the same pq: hash order).
    */
  private val ivfpqOracle =
    s"""WITH ${ivfCtes("vec_id < 2000")},
         qc AS (SELECT cell AS qcell FROM assigned WHERE vec_id = 20),
         qq AS (SELECT v AS qv FROM assigned WHERE vec_id = 20),
         b AS (SELECT a.vec_id, a.v FROM assigned a
           JOIN qc ON a.cell = qc.qcell WHERE a.vec_id <> 20),
         ${pqAdcCtes("b", "qq")}
         SELECT c.vec_id, round(sum(l.ad), 6) + 0.0 AS adist_r
         FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.code
         GROUP BY 1 ORDER BY adist_r, c.vec_id LIMIT 10"""

  /** Shared by q_semantic_dedup and its capped twin — the cap is
    * provably drop-free, so both run against the exact fold.
    */
  private val semanticDedupOracle: String =
    s"""WITH ${ivfCtes("", k = 8)},
         dropped AS (SELECT DISTINCT b.vec_id AS id
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${cosSql("a", "b")} >= 0.3)
         SELECT c.vec_id, c.cell FROM assigned c
         WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id = c.vec_id)
         ORDER BY c.vec_id"""

  /** Unrolled greedy MMR trajectory: the same top-20 pool, pairwise
    * sim matrix, and argmax rounds as the q_mmr Spark loop, each
    * round's cumulative selected set materialized as a named CTE.
    */
  private def mmrOracle(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""r$r AS (SELECT c.vec_id, c.rel,
             round(0.7 * c.rel - 0.3 * max(s.sim), 6) + 0.0 AS score_r
           FROM cand c JOIN sims s ON s.a = c.vec_id
           WHERE s.b IN (SELECT vec_id FROM sel${r - 1})
             AND c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           GROUP BY c.vec_id, c.rel),
         s$r AS (SELECT vec_id, CAST($r AS BIGINT) AS pick, score_r
           FROM r$r ORDER BY score_r DESC, vec_id LIMIT 1),
         sel$r AS (SELECT vec_id FROM sel${r - 1}
           UNION ALL SELECT vec_id FROM s$r)"""
    }.mkString(",\n         ")
    val parts = (1 to k).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH $query0Ctes,
         cand AS (SELECT vec_id, v, nrm, rel FROM (
             SELECT n.vec_id, n.v, n.nrm,
               $query0Cos
                 AS rel
             FROM n CROSS JOIN qv WHERE n.vec_id >= 10)
           ORDER BY rel DESC, vec_id LIMIT 20),
         sims AS (SELECT a.vec_id AS a, b.vec_id AS b,
             ${cosSql("a", "b")} AS sim
           FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         s1 AS (SELECT vec_id, CAST(1 AS BIGINT) AS pick, rel AS score_r
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         sel1 AS (SELECT vec_id FROM s1),
         $rounds
         SELECT vec_id, pick, score_r FROM ($parts) ORDER BY pick"""
  }

  // the 16 JL plane literals, rendered from the SAME deterministic
  // generator the Spark side uses (one source of truth, like
  // lshBucketSql) — an md5-seeded ±1 matrix in (seed, k, dim)
  private val jlProjSql: String = graft.ops.CosineLsh.planes(16, 64)
    .map { plane =>
      val arr = plane.map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"list_dot_product(v, $arr)"
    }.mkString("[", ",\n             ", "]")

  /** Power-iteration oracle: the identical covariance build and
    * unrolled matvec/normalize rounds as
    * [[graft.ops.VectorStats.pcaPowerTop]] — every unbounded sum
    * DECIMAL(28,14)-cast per term, divisions/sqrt in the same fixed
    * association, so each round's vector is bit-equal cross-engine.
    */
  private def pcaOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val mv =
        if (r == 1)
          """w1 AS (SELECT i, CAST(sum(CAST(c * CAST(0.125 AS DOUBLE)
             AS DECIMAL(28,14))) AS DOUBLE) AS w FROM cm GROUP BY 1)"""
        else
          s"""w$r AS (SELECT cm.i, CAST(sum(CAST(cm.c * v${r - 1}.v
             AS DECIMAL(28,14))) AS DOUBLE) AS w
           FROM cm JOIN v${r - 1} ON v${r - 1}.i = cm.j GROUP BY 1)"""
      s"""$mv,
         n$r AS (SELECT CAST(sum(CAST(w * w AS DECIMAL(28,14)))
             AS DOUBLE) AS n2 FROM w$r),
         v$r AS (SELECT i, w / sqrt(n2) AS v, n2
           FROM w$r CROSS JOIN n$r)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id,
           CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
         sf AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) AS s
           FROM e GROUP BY 1),
         ss AS (SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(a.x * b.x AS DECIMAL(28,14))) AS DOUBLE) AS ss
           FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         cm AS MATERIALIZED (SELECT ss.i, ss.j,
             (ss.ss - si.s * sj.s / si.n) / si.n AS c
           FROM ss JOIN sf si ON si.i = ss.i
                   JOIN sf sj ON sj.i = ss.j),
         $roundCtes
         SELECT i, round(v, 6) + 0.0 AS v_r, round(sqrt(n2), 6) AS lambda_r
         FROM v$rounds ORDER BY i"""
  }

  val oracles: Map[String, String] = Map(
    "q_pca_power" -> pcaOracle(3),
    "q_mmr" -> mmrOracle(4),
    "q_rand_proj" ->
      s"""WITH ${embeddingCtes("vec_id < 120")},
         pj AS (SELECT vec_id, v, nrm, $jlProjSql AS p FROM n),
         pp AS (SELECT * FROM (SELECT *,
             sqrt(list_sum(list_transform(p, x -> x * x))) AS pnrm
             FROM pj) WHERE pnrm > 0),
         pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
             ${cosSql("a", "b")}
               AS cos_r,
             ${cosSql("a.p", "b.p", "a.pnrm", "b.pnrm")}
               AS pcos_r
           FROM pp a JOIN pp b ON a.vec_id < b.vec_id)
         SELECT a, b, cos_r, pcos_r, round(pcos_r - cos_r, 6) AS err_r
         FROM pr ORDER BY a, b""",
    // same BM25 CTE chain as q_rrf_fusion; is_hard evaluates FALSE
    // (not NULL) for missing embeddings on both engines
    "q_hard_negatives" ->
      s"""WITH $bm25Ctes,
         lex AS (SELECT doc_id, score_r, CAST(row_number() OVER
             (ORDER BY score_r DESC, doc_id) AS BIGINT) AS lex_rank
           FROM (SELECT * FROM bm ORDER BY score_r DESC, doc_id LIMIT 20)),
         $query0Ctes,
         cs AS (SELECT n.vec_id,
             $query0Cos
               AS cosv
           FROM n CROSS JOIN qv)
         SELECT l.doc_id, l.lex_rank, l.score_r,
           coalesce(cs.cosv, -2.0) AS cos_r,
           (cs.cosv IS NOT NULL AND cs.cosv < 0.15) AS is_hard
         FROM lex l LEFT JOIN cs ON cs.vec_id = l.doc_id
         ORDER BY lex_rank""",
    "q_vec_norm" ->
      """SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm_r
         FROM embeddings ORDER BY vec_id""",
    // halves pivot through a self-join on the ROUNDED centroids, so
    // the 64-term shift sum compares exactly at round-6
    "q_embed_drift" ->
      """WITH e AS (SELECT label, vec_id % 2 = 0 AS even,
             unnest(range(len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
               AS x
           FROM embeddings),
         c AS (SELECT label, even, pos,
             round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS c_r,
             CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY 1, 2, 3),
         ce AS (SELECT label, pos, c_r AS ca, n AS n_even
           FROM c WHERE even),
         co AS (SELECT label, pos, c_r AS cb, n AS n_odd
           FROM c WHERE NOT even),
         j AS (SELECT ce.label, ce.n_even, co.n_odd,
             (ca - cb) * (ca - cb) AS d2
           FROM ce JOIN co ON ce.label = co.label AND ce.pos = co.pos)
         SELECT label, CAST(max(n_even) AS BIGINT) AS n_even,
           CAST(max(n_odd) AS BIGINT) AS n_odd,
           round(sqrt(sum(d2)), 6) AS shift_r
         FROM j GROUP BY label ORDER BY label""",
    // parallel unnests zip in DuckDB: (pos, element) pairs without a
    // lateral table function (CLAUDE.md's DuckDB-1.0 rule)
    "q_embed_centroid" ->
      """WITH e AS (SELECT label,
             unnest(range(len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
           FROM embeddings)
         SELECT label, pos,
           round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS c_r,
           CAST(count(*) AS BIGINT) AS n_vecs
         FROM e GROUP BY label, pos ORDER BY label, pos""",
    // identical moment expressions on both engines (avg(x²) − µ²,
    // clamped before sqrt); zero-variance dims dropped on both sides
    "q_embed_standardize" ->
      """WITH e AS (SELECT vec_id,
             unnest(range(len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
           FROM embeddings),
         st AS (SELECT pos, avg(x) AS mu,
             sqrt(greatest(avg(x * x) - avg(x) * avg(x), 0)) AS sd
           FROM e GROUP BY pos)
         SELECT e.vec_id, e.pos AS pos, round(e.x, 6) AS x_r,
           round((e.x - st.mu) / st.sd, 6) + 0.0 AS z_r
         FROM e JOIN st ON e.pos = st.pos AND st.sd > 0
         WHERE e.vec_id < 50
         ORDER BY vec_id, e.pos""",
    "q_cosine_pairs" ->
      s"""WITH ${embeddingCtes("vec_id < 300")}
         SELECT a.vec_id AS a, b.vec_id AS b,
             ${cosSql("a", "b")} AS cos_r
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a", "b")} >= 0.2
         ORDER BY a, b""",
    "q_ann_topk" -> topk3Oracle,
    "q_ivf_stats" ->
      s"""WITH ${ivfCtes("vec_id < 2000")},
         t AS (SELECT count(*) AS n_total FROM assigned)
         SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(count(*) AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
             AS cell_frac
         FROM assigned CROSS JOIN t
         GROUP BY cell, t.n_total ORDER BY cell""",
    "q_ann_ivf" -> ivfOracle,
    "q_ann_ivfpq" -> ivfpqOracle,
    "q_kmeans_exact" -> kmeansOracle,
    "q_ann_int8" ->
      s"""WITH ${embeddingCtes(norm = false)},
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
           FROM e),
         sv AS (SELECT * FROM s WHERE scale > 0),
         q8 AS (SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x / scale + 0.5)
               AS DOUBLE)) AS q8
           FROM sv),
         ii AS (SELECT vec_id, v, q8, list_dot_product(q8, q8) AS ii
           FROM q8),
         iv AS (SELECT * FROM ii WHERE ii > 0),
         qq AS (SELECT q8 AS qq8, ii AS qii, v AS qv FROM iv
           WHERE vec_id = 0),
         sc AS (SELECT c.vec_id,
             round(list_dot_product(c.q8, qq8) / sqrt(c.ii * qii), 6) + 0.0
               AS icos_r, c.v
           FROM iv c CROSS JOIN qq WHERE c.vec_id <> 0),
         top AS (SELECT vec_id, icos_r, v FROM sc
           ORDER BY icos_r DESC, vec_id LIMIT 10)
         SELECT t.vec_id, t.icos_r,
           round(list_dot_product(t.v, qv) /
             (sqrt(list_dot_product(t.v, t.v)) *
              sqrt(list_dot_product(qv, qv))), 6) + 0.0 AS cos_r
         FROM top t CROSS JOIN qq
         ORDER BY t.icos_r DESC, t.vec_id""",
    // the persisted variant must reproduce the in-memory index exactly
    // after its disk round trip, and the incrementally-appended one
    // must be arrival-wave-independent — one oracle serves all three
    "q_ann_ivf_persisted" -> ivfOracle,
    "q_ann_ivf_incremental" -> ivfOracle,
    "q_cosine_pairs_lsh" ->
      s"""WITH ${embeddingCtes("vec_id < 300", nCols = Seq(lshBucket))}
         ${lshPairSql(Seq("a.bucket", pairCos))}
         ORDER BY a, b""",
    "q_crosslingual_dups" ->
      s"""WITH ${embeddingCtes("vec_id < 300", nCols = Seq(lshBucket))},
         p AS (${lshPairSql(Seq(pairCos))})
         SELECT p.a, p.b, da.lang AS lang_a, db.lang AS lang_b, p.cos_r
         FROM p
         JOIN documents da ON da.doc_id = p.a
         JOIN documents db ON db.doc_id = p.b
         WHERE da.lang <> db.lang
         ORDER BY p.a, p.b""",
    "q_topk_agg" -> topk3Oracle,
    "q_embed_cluster" ->
      s"""WITH RECURSIVE ${embeddingCtes("vec_id < 300",
          nCols = Seq(lshBucket))},
         pairs AS (${lshPairSql()}),
         edges AS (SELECT a, b FROM pairs
             UNION ALL SELECT b, a FROM pairs),
         reach(id, lbl) AS (
             SELECT vec_id, vec_id FROM n
             UNION
             SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON e2.b = r.id)
         SELECT id AS vec_id, min(lbl) AS cluster_id
         FROM reach GROUP BY id ORDER BY vec_id""",
    "q_ann_lsh" -> bucketNearestOracle(lshBucket),
    "q_ann_filtered" ->
      s"""WITH ${embeddingCtes("vec_id < 2000", cols = Seq("label"),
          nCols = Seq(lshBucket))},
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.label,
             ${cosSql("q", "c")}
               AS cos_r
           FROM n q JOIN n c
             ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           WHERE q.vec_id < 50 AND c.label % 2 = 0),
         r AS (SELECT *, CAST($qRank AS BIGINT)
             AS rank FROM p)
         SELECT q_id, rank, cand_id, label, cos_r FROM r WHERE rank <= 3
         ORDER BY q_id, rank""",
    // Trained-IVF oracle: unrolls IvfIndex.buildExact — seeds = 8
    // lowest ids, two Lloyd rounds with DECIMAL(28,14) distance and
    // mean sums (identical to the Spark aggregates, so the trained
    // coordinates are bit-equal doubles) — then rebuilds centroid
    // LISTS so every dot product runs in the same fixed ascending
    // order as the Spark kernel, assigns cells (raw cosine, lowest-cid
    // ties), probes top-2 cells per query, and ranks top-3 candidates
    // by (score DESC, cand_id) — the TopKByScore total order.
    "q_ann_ivf_kmeans" ->
      s"""WITH ${embeddingCtes("vec_id < 2000", norm = false)},
         x AS (SELECT vec_id, unnest(v) AS x,
             generate_subscripts(v, 1) AS pos FROM e),
         seeds AS (SELECT vec_id,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid
           FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
         c0 AS (SELECT s.cid, x.pos, x.x AS cx
           FROM x JOIN seeds s ON s.vec_id = x.vec_id),
         ${lloydCtes(1)},
         ${lloydCtes(2)},
         cl AS (SELECT cid, list(cx ORDER BY pos) AS cv FROM c2
           GROUP BY cid),
         cn AS (SELECT cid, cv,
             sqrt(list_sum(list_transform(cv, y -> y * y))) AS cn
           FROM cl),
         n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm
           FROM e),
         asg AS (SELECT vec_id, v, nrm, cid AS cell FROM (
             SELECT nv.vec_id, nv.v, nv.nrm, c.cid,
               row_number() OVER (PARTITION BY nv.vec_id
                 ORDER BY list_dot_product(nv.v, c.cv) / (nv.nrm * c.cn)
                   DESC, c.cid) AS rk
             FROM n nv CROSS JOIN cn c) WHERE rk = 1),
         probe AS (SELECT q_id, cell FROM (
             SELECT nv.vec_id AS q_id, c.cid AS cell,
               row_number() OVER (PARTITION BY nv.vec_id
                 ORDER BY list_dot_product(nv.v, c.cv) / (nv.nrm * c.cn)
                   DESC, c.cid) AS rk
             FROM n nv CROSS JOIN cn c WHERE nv.vec_id < 10) WHERE rk <= 2),
         qv AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
           WHERE vec_id < 10),
         sc AS (SELECT p.q_id, a.vec_id AS cand_id,
             list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS score
           FROM probe p
           JOIN qv q ON q.q_id = p.q_id
           JOIN asg a ON a.cell = p.cell
           WHERE a.vec_id <> p.q_id),
         r AS (SELECT q_id, cand_id, score,
             row_number() OVER (PARTITION BY q_id
               ORDER BY score DESC, cand_id) AS rk
           FROM sc)
         SELECT q_id, cand_id, CAST(rk AS BIGINT) AS rank,
           round(score, 6) AS score_r
         FROM r WHERE rk <= 3
         ORDER BY q_id, rank""",
    "q_ann_bucketed" -> bucketNearestOracle(s"$bucketSql AS bucket"),
    // the capped twin runs the identical fold under a provably
    // drop-free cell cap — same exact oracle
    "q_semantic_dedup_capped" -> semanticDedupOracle,
    "q_semantic_dedup" -> semanticDedupOracle,
    "q_ann_multiprobe" ->
      s"""WITH ${embeddingCtes("vec_id < 2000", nCols = Seq(lshBucket))},
         m AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS mask),
         qp AS (SELECT vec_id, v, nrm, bucket,
             xor(bucket, mask) AS pbucket
           FROM n CROSS JOIN m WHERE vec_id < 50),
         p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, q.bucket,
             ${cosSql("q", "c")} AS cos_r
           FROM qp q JOIN n c
             ON q.pbucket = c.bucket AND q.vec_id <> c.vec_id),
         ${nearestSql("bucket")}""",
    "q_ann_ndcg" ->
      s"""WITH $lshScoredCtes,
         ex AS (SELECT q_id, cand_id, 6 - rk AS rel FROM
             ${rankedSql()} WHERE rk <= 5),
         l4 AS (SELECT q_id, cand_id, rk AS pos FROM
             ${rankedSql(" WHERE qb % 16 = cb % 16")} WHERE rk <= 5),
         d AS (SELECT l.q_id,
             sum(CAST(COALESCE(x.rel, 0) AS DOUBLE) /
               ln(CAST(l.pos AS DOUBLE) + 1.0)) AS dcg
           FROM l4 l LEFT JOIN ex x
             ON l.q_id = x.q_id AND l.cand_id = x.cand_id
           GROUP BY l.q_id),
         i AS (SELECT q_id, sum(CAST(rel AS DOUBLE) /
             ln(7.0 - CAST(rel AS DOUBLE))) AS idcg
           FROM ex GROUP BY q_id)
         SELECT i.q_id, round(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg_r
         FROM i LEFT JOIN d ON i.q_id = d.q_id ORDER BY i.q_id""",
    "q_ann_recall" ->
      s"""WITH $lshScoredCtes,
         ex AS (SELECT q_id, cand_id FROM ${rankedSql()} WHERE rk <= 3),
         l8 AS (SELECT q_id, cand_id FROM ${rankedSql(" WHERE qb = cb")}
             WHERE rk <= 3),
         l4 AS (SELECT q_id, cand_id FROM
             ${rankedSql(" WHERE qb % 16 = cb % 16")} WHERE rk <= 3),
         lm AS (SELECT q_id, cand_id FROM
             ${rankedSql(" WHERE bit_count(xor(qb, cb)) <= 1")}
             WHERE rk <= 3)
         SELECT x.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit_k8,
           CAST(sum(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit_k4,
           CAST(sum(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit_mp8,
           round(CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS recall_k8_r,
           round(CAST(sum(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS recall_k4_r,
           round(CAST(sum(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS recall_mp8_r
         FROM ex x
         LEFT JOIN l8 a ON x.q_id = a.q_id AND x.cand_id = a.cand_id
         LEFT JOIN l4 b ON x.q_id = b.q_id AND x.cand_id = b.cand_id
         LEFT JOIN lm m ON x.q_id = m.q_id AND x.cand_id = m.cand_id
         GROUP BY x.q_id ORDER BY x.q_id""",
    // minhash text pairs (shared CTE chain) ∪ embedding LSH pairs →
    // recursive reachability closure — same closure as q_dedup_cluster
    // over the union edge set
    "q_hybrid_cluster" ->
      s"""WITH RECURSIVE ${TextQueries.minhashCtes()},
         ${embeddingCtes("vec_id < 300", nCols = Seq(lshBucket),
           e = "ev", n = "en")},
         epairs AS (${lshPairSql(n = "en")}),
         allp AS (SELECT a, b FROM pairs UNION SELECT a, b FROM epairs),
         ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
         edges AS (SELECT a, b FROM allp UNION ALL SELECT b, a FROM allp),
         reach(id, lbl) AS (
             SELECT doc_id, doc_id FROM ids
             UNION
             SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON e2.b = r.id)
         SELECT id AS doc_id, min(lbl) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q_pq_codes" ->
      s"""WITH ${embeddingCtes(norm = false)},
         ${pqCodeCtes("e")},
         r AS (SELECT vec_id, sub, cid, dist, row_number() OVER
             (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
           FROM d)
         SELECT vec_id, sub, cid AS code, round(dist, 6) + 0.0 AS dist_r
         FROM r WHERE rn = 1 ORDER BY vec_id, sub""",
    "q_pq_adc" ->
      s"""WITH $pqAdcChainSql
         SELECT c.vec_id, round(sum(l.ad), 6) + 0.0 AS adist_r
         FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cid
         GROUP BY c.vec_id
         ORDER BY adist_r, c.vec_id LIMIT 20""",
    "q_pq_recall" ->
      s"""WITH $pqAdcChainSql,
         adc AS (SELECT c.vec_id FROM codes c
             JOIN lut l ON c.sub = l.sub AND c.code = l.cid
           GROUP BY c.vec_id
           ORDER BY round(sum(l.ad), 6), c.vec_id LIMIT 20),
         ex AS (SELECT b.vec_id,
             round((list_dot_product(v, v) - 2.0 * list_dot_product(v, qv))
               + list_dot_product(qv, qv), 6) AS d_r
           FROM b CROSS JOIN q),
         ext AS (SELECT vec_id FROM ex ORDER BY d_r, vec_id LIMIT 20)
         SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall_r
         FROM ext LEFT JOIN adc a ON ext.vec_id = a.vec_id""",
    "q_quantize_embed" ->
      s"""WITH ${embeddingCtes(norm = false)},
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
           FROM e),
         sv AS (SELECT * FROM s WHERE scale > 0),
         q AS (SELECT vec_id, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
               AS qs
           FROM sv)
         SELECT vec_id, CAST(len(qs) AS INTEGER) AS dim,
           round(scale, 6) AS scale_r,
           CAST(list_min(qs) AS BIGINT) AS qmin,
           CAST(list_max(qs) AS BIGINT) AS qmax,
           CAST(list_sum(qs) AS BIGINT) AS qsum,
           CAST(len(list_filter(qs, c -> abs(c) = 127)) AS INTEGER) AS n_sat
         FROM q ORDER BY vec_id""",
    "q_ann_rerank" ->
      s"""WITH ${embeddingCtes("vec_id < 2000",
          nCols = Seq("list_slice(v, 1, 16) AS p"))},
         n2 AS (SELECT * FROM (SELECT vec_id, v, nrm, p,
             sqrt(list_sum(list_transform(p, x -> x * x))) AS pn FROM n)
             WHERE pn > 0),
         s1 AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             q.v AS qv, c.v AS cv, q.nrm AS qn, c.nrm AS cn,
             ${cosSql("q.p", "c.p", "q.pn", "c.pn")} AS pcos
           FROM n2 q JOIN n2 c ON c.vec_id >= 10 WHERE q.vec_id < 10),
         r1 AS (SELECT *, row_number() OVER
             (PARTITION BY q_id ORDER BY pcos DESC, cand_id) AS rk1 FROM s1),
         s2 AS (SELECT q_id, cand_id,
             ${cosSql("qv", "cv", "qn", "cn")} AS cos_r
           FROM r1 WHERE rk1 <= 10),
         r2 AS (SELECT *, CAST($qRank AS BIGINT)
             AS rank FROM s2)
         SELECT q_id, cand_id, rank, cos_r FROM r2 WHERE rank <= 3
         ORDER BY q_id, rank""",
    // both arms rank on the ROUNDED score (+ id tiebreak) before the
    // LIMIT, so the top-20 sets and rank values are engine-identical;
    // the BM25 CTE chain mirrors TextQueries' q_bm25 oracle verbatim
    "q_rrf_fusion" ->
      s"""WITH $bm25Ctes,
         lex AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY score_r DESC, doc_id) AS BIGINT) AS lex_rank
           FROM (SELECT * FROM bm ORDER BY score_r DESC, doc_id LIMIT 20)),
         $query0Ctes,
         scd AS (SELECT n.vec_id,
             $query0Cos
               AS cos_r
           FROM n CROSS JOIN qv WHERE n.vec_id >= 10),
         sem AS (SELECT vec_id AS doc_id, CAST(row_number() OVER
             (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS sem_rank
           FROM (SELECT * FROM scd ORDER BY cos_r DESC, vec_id LIMIT 20))
         SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           coalesce(l.lex_rank, -1) AS lex_rank,
           coalesce(s.sem_rank, -1) AS sem_rank,
           round((CASE WHEN l.lex_rank IS NOT NULL
               THEN 1.0 / (60.0 + l.lex_rank) ELSE 0.0 END)
             + (CASE WHEN s.sem_rank IS NOT NULL
               THEN 1.0 / (60.0 + s.sem_rank) ELSE 0.0 END), 6) AS rrf_r
         FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
         ORDER BY rrf_r DESC, doc_id""")
}
