package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact cosine-threshold pair mining over shingle term-frequency
  * vectors — the AllPairs prefix filter (Bayardo, Ma & Srikant,
  * WWW 2007) re-expressed as Spark equi-joins, completing the exact
  * near-dup family beside the Jaccard PPJoin
  * ([[TextDedup.prefixJaccardPairs]]; cosine and Jaccard catch
  * different duplicate shapes — cosine is insensitive to repetition
  * ratio, Jaccard to weighting).
  *
  * Features are word n-gram shingles WITH multiplicity (tf counts),
  * so the gate-scale 31-token vocabulary still yields a sparse
  * feature space (the shingleN=3 rule). The vector for doc d is its
  * tf vector; cos(a, b) = num / (sqrt(na2) * sqrt(nb2)) with
  * num = Σ_t tf_a(t)·tf_b(t) and na2 = Σ_t tf_a(t)² — ALL-INTEGER
  * numerators, so the threshold decision is the double comparison
  *
  *   num² ≥ τ² · (na2 · nb2)
  *
  * over exactly-representable doubles (each factor < 2^53 — see the
  * contract below), written with the same association on both
  * engines: bit-identical decisions, no boundary-row hash risk.
  *
  * Prefix filter: features take the corpus-wide RARITY total order
  * (df asc, shingle asc — the [[TextDedup]] rank, unique). For each
  * doc, features are scanned in that order with the suffix bound
  * b(i) = Σ_{j ≥ i} ŵ(t_j)·maxŵ(t_j), where ŵ = tf/sqrt(na2) is the
  * unit-normalized weight and maxŵ(t) the corpus maximum. A
  * qualifying pair's EARLIEST shared feature t* must sit in both
  * docs' prefixes: if t* were past a's cut, every shared feature
  * would be in a's suffix and cos(a,b) ≤ Σ_{suffix} ŵ_a·maxŵ < τ.
  * So only features with b(i) ≥ τ are indexed, and candidates come
  * from the prefix-posting self-join — the same lossless
  * prefix-prefix equi-join shape as the Jaccard PPJoin, with the
  * heavy (common) features excluded from candidate generation
  * entirely. The cut bound is computed in doubles ENGINE-LOCALLY
  * (the oracle never sees it), so it only needs to be conservative:
  * a 1e-9 margin keeps it over-inclusive against rounding.
  *
  * Family contracts (the PPJoin rules): hot prefix postings are
  * AUDITED, never capped (a cap would break losslessness) — the
  * audit collect doubles as the prefix frame's eager materializer;
  * survivors verify EXACTLY against the full tf vectors; all joins
  * are key equi-joins; the rank is the two-phase global row number
  * (no single-reducer window).
  *
  * Integer-range contract: na2 ≤ Σ tf² ≤ (doc shingle count)·max_tf²
  * must stay under ~3·10^15 so na2·nb2 and num² are exact in double
  * — any realistically chunked document (≤ ~10^6 shingles) is orders
  * of magnitude inside it.
  *
  * Output: (a, b, num, na2, nb2, cos_r) for pairs with cos ≥ τ,
  * a < b, cos_r rounded to 6 places.
  */
object CosineAllPairs {

  /** Shared single-corpus frames: tf vectors (shingles WITH
    * multiplicity), squared norms, and the rarity-ordered prefix
    * frame under the AllPairs suffix bound — all persisted via the
    * handle; tf/sz eagerly materialized (multiple readers race a
    * lazy cache), pref left lazy for the caller's first action (the
    * audit/cap collect doubles as its materializer).
    */
  private def tfFrames(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      handle: CacheHandle): (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    val tf = CacheHandle.persistWith(handle,
      TextDedup.shingles(df, idCol, textCol, shingleN, dedup = false)
        .groupBy(idCol, "shingle").agg(count(lit(1)).as("tf")))
    val sz = CacheHandle.persistWith(handle,
      tf.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("na2")))
    // ONE eager action fills BOTH caches (sz's job scans tf through
    // its persist): norms, df rank, weights + two verify sides all
    // read warm
    sz.count()
    val wn = tf.join(sz, idCol)
      .select(col(idCol), col("shingle"),
        (col("tf").cast("double") /
          sqrt(col("na2").cast("double"))).as("w"))
    // ONE shingle-keyed aggregate carries both per-shingle stats
    // (max unit weight for the suffix bound, document frequency for
    // the rarity order) — the split maxw/dfc version paid a second
    // full exchange and a second join for the same information
    val stats = wn.groupBy("shingle")
      .agg(max(col("w")).as("maxw"), count(lit(1)).as("dfc"))
    val ranked = ScaleOps.globalRowNumber(stats, 8,
        handle, col("dfc"), col("shingle"))
      .select(col("shingle"), col("rn"), col("maxw"))
    // suffix bound at feature i: Σ_{j ≥ i} ŵ·maxŵ, computed directly
    // as the inclusive running sum in REVERSE rarity order — one
    // window instead of the cum/tot pair (same quantity up to float
    // association; the cut is engine-local and only needs to be
    // OVER-inclusive — the 1e-9 margin absorbs rounding, so
    // losslessness never rides on a double rounding). `rn` rides
    // along so the candidate self-join can key on a LONG instead of
    // re-hashing shingle strings over the fan-out.
    val byDocDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("rn").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val pref = CacheHandle.persistWith(handle,
      wn.join(ranked, "shingle")
        .withColumn("sfx", sum(col("w") * col("maxw")).over(byDocDesc))
        .filter(col("sfx") >= lit(threshold - 1e-9))
        .select(col(idCol), col("shingle"), col("rn")))
    (tf, sz, pref)
  }

  /** Shared verify tail: candidate (a < b) pairs from a prefix
    * posting self-join, then the exact integer dot product over the
    * full tf vectors and the engine-portable threshold
    * num² ≥ τ²·(na2·nb2) — every factor exact in double, association
    * mirrored verbatim in the oracle.
    */
  private def candidateVerify(
      tf: DataFrame,
      sz: DataFrame,
      pref: DataFrame,
      idCol: String,
      threshold: Double,
      handle: CacheHandle): DataFrame = {
    // self-join keyed on the rarity rank `rn` — a LONG that is
    // injective on shingles (globalRowNumber total order), so the
    // candidate set is identical to the shingle-string join while the
    // hash/compare over the Σ|posting|² fan-out (the family's hottest
    // loop — measured 93 s of task CPU at sf0.1) runs on 8 bytes.
    // PERSISTED: the two verify joins otherwise re-run the whole
    // fan-out once per AQE broadcast build (the q_pca_power rule —
    // measured as two back-to-back 93 s stages); the count is the
    // eager materializer.
    val cand = CacheHandle.persistWith(handle, pref.as("x")
      .join(pref.as("y"), col("x.rn") === col("y.rn") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct())
    cand.count()
    val num = cand
      .join(tf.select(col(idCol).as("a"), col("shingle"),
        col("tf").as("tfa")), Seq("a"))
      .join(tf.select(col(idCol).as("b"), col("shingle"),
        col("tf").as("tfb")), Seq("b", "shingle"))
      .groupBy("a", "b").agg(sum(col("tfa") * col("tfb")).as("num"))
    num
      .join(sz.select(col(idCol).as("a"), col("na2")), "a")
      .join(sz.select(col(idCol).as("b"), col("na2").as("nb2")), "b")
      .filter(col("num").cast("double") * col("num").cast("double") >=
        lit(threshold) * lit(threshold) *
          (col("na2").cast("double") * col("nb2").cast("double")))
      .select(col("a"), col("b"), col("num"), col("na2"), col("nb2"),
        round(col("num").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))), 6).as("cos_r"))
  }

  def pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    require(maxPrefixPosting > 0,
      s"maxPrefixPosting must be positive, got $maxPrefixPosting")
    val (tf, sz, pref) =
      tfFrames(df, idCol, textCol, shingleN, threshold, handle)
    // audit, not cap (the family rule) — it doubles as the eager
    // materializer both candidate sides read
    TextDedup.auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"CosineAllPairs: prefix posting for shingle '$s' has $n members " +
        s"(> maxPrefixPosting=$maxPrefixPosting) — the candidate join " +
        "would fan out quadratically on it; raise the bound if the " +
        "fan-out is affordable"
    }
    candidateVerify(tf, sz, pref, idCol, threshold, handle)
  }

  /** The LOSSY twin of [[pairs]] for corpora that trip its audit —
    * the [[TextDedup.prefixJaccardPairsCapped]] contract at cosine
    * semantics: prefix postings over `maxPrefixPosting` are DROPPED
    * from candidate generation entirely (a capped hot shingle would
    * otherwise fan the self-join out quadratically), so a pair whose
    * every shared prefix shingle is hot can be missed — a strict
    * SUBSET of the truth (fuzz-pinned), with every emitted pair
    * still exactly verified against the full tf vectors. Returns
    * (pairs, dropped) where `dropped` is the over-cap posting report
    * (shingle, n_members) — the caller's visibility into what recall
    * was traded, the capBuckets rule.
    */
  def pairsCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxPrefixPosting: Int = TextDedup.DefaultMaxBucket,
      handle: CacheHandle = null): (DataFrame, DataFrame) = {
    require(maxPrefixPosting > 0,
      s"maxPrefixPosting must be positive, got $maxPrefixPosting")
    val (tf, sz, pref) =
      tfFrames(df, idCol, textCol, shingleN, threshold, handle)
    val over = CacheHandle.persistWith(handle,
      TextDedup.overCapBuckets(pref, Seq("shingle"), maxPrefixPosting))
    // eager: the anti-join's broadcast subtrees run as separate
    // driver jobs and would each re-run the over-cap aggregate
    // against a LAZY cache (the q_pca_power rule); tiny by
    // construction. No broadcast hint — the over-cap set is
    // corpus-derived (the capBuckets rule); AQE converts when small.
    over.count()
    val capped = CacheHandle.persistWith(handle,
      pref.join(over.select(col("shingle")), Seq("shingle"), "left_anti"))
    capped.count() // eager: both candidate sides read it
    (candidateVerify(tf, sz, capped, idCol, threshold, handle), over)
  }

  /** Nightly-incremental cosine AllPairs — tonight's `batch` exactly
    * threshold-joined against the standing `corpus`
    * ([[TextDedup.prefixJaccardAgainst]]'s shape at cosine
    * semantics): emits every CROSS pair (a ∈ batch, b ∈ corpus) with
    * cos(a, b) ≥ τ over shingle-tf vectors, exactly verified. Only
    * cross pairs — in-batch mining composes with [[pairs]] on the
    * batch alone, and the corpus is assumed already mined.
    *
    * The prefix theorem needs ONE rarity total order spanning both
    * sides (a qualifying pair's earliest shared feature must land in
    * both prefixes under the SAME order), so the rank is computed
    * over corpus ∪ batch — the family's cross-side rule. The
    * cosine-specific hazard the Jaccard family doesn't have: the
    * suffix bound multiplies by maxŵ(t), and a batch doc can RAISE a
    * shingle's max weight above the corpus's — a corpus-only maxŵ
    * would UNDER-include (lossy). maxŵ here is the max over
    * corpus ∪ batch, i.e. greatest(corpus maxŵ, batch maxŵ) per
    * shingle: over-inclusive for each side's bound, never lossy.
    *
    * Internal keys carry a side tag, so id collisions between corpus
    * and batch never conflate norms or verification — the output
    * columns (a, b) are the raw ids per side. The hot-posting audit
    * counts each prefix posting across BOTH sides (that union is what
    * the cross candidate join fans out on — both factors bounded at
    * once, the prefixJaccardAgainst contract).
    *
    * Scale honesty: the union rank re-scans the corpus tfs once per
    * run — exactness of the shared order, not a standing index (the
    * frozen-rank index generalization needs a maxŵ that appends can
    * only RAISE, plus the `_meta` lifecycle — future work; every join
    * here is a key equi-join, so the plan shape carries over).
    *
    * Output: (a, b, num, na2, nb2, cos_r), a ∈ batch, b ∈ corpus.
    */
  def pairsAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    TextDedup.requirePairArgs(threshold, maxPrefixPosting)
    val tf = CacheHandle.persistWith(handle,
      TextDedup.shingles(corpus, idCol, textCol, shingleN, dedup = false)
        .select(lit(0).as("__side"), col(idCol), col("shingle"))
        .unionAll(
          TextDedup.shingles(batch, idCol, textCol, shingleN,
            dedup = false)
            .select(lit(1).as("__side"), col(idCol), col("shingle")))
        .groupBy("__side", idCol, "shingle")
        .agg(count(lit(1)).as("tf")))
    val sz = CacheHandle.persistWith(handle,
      tf.groupBy("__side", idCol)
        .agg(sum(col("tf") * col("tf")).as("na2")))
    sz.count() // ONE eager action fills both caches (tf via sz's scan)
    val wn = tf.join(sz, Seq("__side", idCol))
      .select(col("__side"), col(idCol), col("shingle"),
        (col("tf").cast("double") /
          sqrt(col("na2").cast("double"))).as("w"))
    // one shingle-keyed aggregate carries both stats; the union max
    // IS greatest(corpus maxw, batch maxw) per shingle — the
    // cosine-specific cross contract (a corpus-frozen maxw would be
    // LOSSY for batch-raised weights)
    val stats = wn.groupBy("shingle")
      .agg(max(col("w")).as("maxw"), count(lit(1)).as("dfc"))
    val ranked = ScaleOps.globalRowNumber(stats, 8,
        handle, col("dfc"), col("shingle"))
      .select(col("shingle"), col("rn"), col("maxw"))
    // suffix bound as ONE reverse-order running sum (the tfFrames
    // rule); `rn` rides along for the long-keyed candidate join
    val byDocDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("__side", idCol).orderBy(col("rn").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val pref = CacheHandle.persistWith(handle,
      wn.join(ranked, "shingle")
        .withColumn("sfx", sum(col("w") * col("maxw")).over(byDocDesc))
        .filter(col("sfx") >= lit(threshold - 1e-9))
        .select(col("__side"), col(idCol), col("shingle"), col("rn")))
    TextDedup.auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"CosineAllPairs.pairsAgainst: prefix posting for shingle '$s' " +
        s"has $n members across corpus+batch (> maxPrefixPosting=" +
        s"$maxPrefixPosting) — the cross candidate join would fan out " +
        "on it; raise the bound if the fan-out is affordable"
    }
    // cross candidate join keyed on the LONG rank (injective on
    // shingles — identical candidates, cheap hash/compare over the
    // fan-out); persisted so the verify joins' broadcast builds don't
    // each re-run it (the candidateVerify rule)
    val cand = CacheHandle.persistWith(handle,
      pref.filter(col("__side") === 1)
        .select(col(idCol).as("a"), col("rn"))
        .join(pref.filter(col("__side") === 0)
          .select(col("rn"), col(idCol).as("b")), Seq("rn"))
        .select(col("a"), col("b"))
        .distinct())
    cand.count()
    val num = cand
      .join(tf.filter(col("__side") === 1)
        .select(col(idCol).as("a"), col("shingle"),
          col("tf").as("tfa")), Seq("a"))
      .join(tf.filter(col("__side") === 0)
        .select(col(idCol).as("b"), col("shingle"),
          col("tf").as("tfb")), Seq("b", "shingle"))
      .groupBy("a", "b").agg(sum(col("tfa") * col("tfb")).as("num"))
    num
      .join(sz.filter(col("__side") === 1)
        .select(col(idCol).as("a"), col("na2")), "a")
      .join(sz.filter(col("__side") === 0)
        .select(col(idCol).as("b"), col("na2").as("nb2")), "b")
      .filter(col("num").cast("double") * col("num").cast("double") >=
        lit(threshold) * lit(threshold) *
          (col("na2").cast("double") * col("nb2").cast("double")))
      .select(col("a"), col("b"), col("num"), col("na2"), col("nb2"),
        round(col("num").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))), 6).as("cos_r"))
  }

  /** Build the standing-corpus half of the incremental cosine
    * AllPairs ONCE — [[pairsAgainst]]'s production twin, the cosine
    * member of the [[TextDedup.writePrefixIndex]] index family: four
    * bucketed, key-sorted EXTERNAL tables plus the `_meta` contract
    * sidecar, so every nightly [[pairsAgainstIndexed]] pays
    * batch-sized cost with zero exchange on any corpus side:
    *
    *  - `<prefix>_rank` (shingle, rn, maxw), bucketed by shingle —
    *    the corpus rarity total order (df asc, shingle asc; unique)
    *    PLUS the per-shingle max unit weight ŵ, FROZEN at first
    *    sight (appends add new shingles with rn = null — see the
    *    order contract below — and never update an existing maxw);
    *  - `<prefix>_pref` (shingle, id), bucketed by shingle — the
    *    corpus prefix postings under the AllPairs suffix bound cut
    *    at `threshold`;
    *  - `<prefix>_tf` (id, shingle, tf, na2), bucketed by id — the
    *    full tf vectors + norms for exact verification;
    *  - `<prefix>_tfs` (shingle, id), bucketed by shingle — the full
    *    postings keyed the OTHER way, read only by the raised-shingle
    *    compensation (a shingle-keyed lookup the id-bucketed `_tf`
    *    cannot serve without a full scan) and its audit; the 2×
    *    posting storage is the price of a batch-sized raised night;
    *  - `<prefix>_raised` (shingle) — an append-only log of shingles
    *    whose frozen maxw a later [[appendIndex]] batch EXCEEDED
    *    (empty at build);
    *  - `<prefix>_meta` (tau_build, shingle_n, buckets, shard_by) —
    *    the enforced build contract, owned by [[StandingIndex]] like
    *    the naming and shard layout: τ' < τ_build or a shingleN
    *    mismatch is rejected by the reader/append instead of silently
    *    losing pairs.
    *
    * Why the Jaccard frozen-rank proof does NOT carry over verbatim
    * (the [[pairsAgainst]] scaladoc's flagged hazard): the cosine
    * suffix bound multiplies each weight by maxŵ(t), and a future
    * batch or appended document can RAISE a shingle's true max unit
    * weight above the frozen value — prefixes cut with the stale
    * maxw would then be too short for pairs sharing that shingle
    * (lossy). The lifecycle's answer is freeze-and-compensate:
    * maxw(t) is frozen at the first vintage that sees t, every
    * append LOGS the shingles it raises into `_raised`, the reader
    * detects the shingles tonight's batch raises, and for the union
    * of raised shingles it injects the EXACT full-posting candidates
    * (batch docs containing t × corpus docs containing t, from
    * `_tf`) alongside the prefix candidates. Pairs none of whose
    * shared shingles are raised are covered by the classical prefix
    * argument at the frozen maxw; pairs sharing a raised shingle are
    * covered by the injection — lossless either way (the proof is
    * spelled out at [[pairsAgainstIndexed]]; fuzz- and oracle-pinned).
    *
    * The family's hot-posting audit runs at build over the fresh
    * corpus prefix postings; the reader re-audits the batch factor,
    * the corpus postings tonight touches (append drift), and the
    * raised-shingle compensation fan-out per run.
    *
    * `shardBy` > 0 layers the [[StandingIndex]] storage-pruning
    * scheme UNDER the bucketing: `_rank`/`_pref`/`_tfs` shard on the
    * shingle hash and `_tf` on the id hash; the reader prunes the shingle-keyed tables to
    * tonight's batch shingle shards and the `_tf` VERIFY scan to the
    * candidate ids' shards (prefix candidates always; plus the
    * compensation candidates' shards on raised nights) — corpus
    * bytes read track the batch footprint on EVERY corpus-side scan,
    * raised nights included. Exactness is untouched: a pruned row
    * can match no batch shingle / hold no candidate's postings.
    */
  def writeIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      buckets: Int,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      pathPrefix: Option[String] = None,
      maxPrefixPosting: Int = Int.MaxValue,
      shardBy: Int = 0,
      handle: CacheHandle = null): Unit = {
    TextDedup.requirePairArgs(threshold, maxPrefixPosting)
    val idx = StandingIndex.build(corpus.sparkSession, tablePrefix,
      pathPrefix, StandingIndex.Meta(threshold, shingleN, buckets, shardBy))
    val tf = CacheHandle.persistWith(handle,
      TextDedup.shingles(corpus, idCol, textCol, shingleN, dedup = false)
        .groupBy(idCol, "shingle").agg(count(lit(1)).as("tf")))
    val sz = CacheHandle.persistWith(handle,
      tf.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("na2")))
    sz.count() // ONE eager action fills both caches (tf via sz's scan)
    val wn = tf.join(sz, idCol)
      .select(col(idCol), col("shingle"),
        (col("tf").cast("double") /
          sqrt(col("na2").cast("double"))).as("w"))
    // one shingle-keyed aggregate carries both per-shingle stats (the
    // tfFrames rule); the global rank carries maxw through, so no
    // post-rank join is needed
    val stats = wn.groupBy("shingle")
      .agg(max(col("w")).as("maxw"), count(lit(1)).as("dfc"))
    val rankTab = CacheHandle.persistWith(handle,
      ScaleOps.globalRowNumber(stats, 8, handle, col("dfc"), col("shingle"))
        .select(col("shingle"), col("rn"), col("maxw")))
    rankTab.count() // eager: the _rank write + the prefix build read it
    val byDocDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("rn").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val pref = CacheHandle.persistWith(handle,
      wn.join(rankTab, "shingle")
        .withColumn("sfx", sum(col("w") * col("maxw")).over(byDocDesc))
        .filter(col("sfx") >= lit(threshold - 1e-9))
        .select(col("shingle"), col(idCol)))
    // build-time audit — it doubles as pref's materializer
    TextDedup.auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"CosineAllPairs.writeIndex: corpus prefix posting for shingle " +
        s"'$s' has $n members (> maxPrefixPosting=$maxPrefixPosting) — " +
        "every nightly cross join would fan out on it; raise the bound " +
        "or dedup the corpus before indexing"
    }
    // the six table writes are INDEPENDENT once the shared frames are
    // materialized (tf/sz/rankTab/pref caches are all warm here): run
    // them concurrently so each write's commit/catalog tail backfills
    // the others' idle executors (guide §2.6 — actions are only
    // sequential because the driver calls them sequentially)
    ScaleOps.concurrently(
      () => idx.write(rankTab, "rank", "shingle"),
      () => idx.write(pref, "pref", "shingle"),
      () => idx.write(tf.join(sz, idCol).select(col(idCol), col("shingle"),
        col("tf"), col("na2")), "tf", idCol),
      () => idx.write(tf.select(col("shingle"), col(idCol)), "tfs",
        "shingle"),
      () => {
        // `_raised` starts EMPTY (appends log into it); overwrite
        // makes a rebuild reset the log with the prefixes it
        // invalidates
        val sp = corpus.sparkSession
        idx.writeSmall(sp.createDataFrame(
          sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("shingle",
              org.apache.spark.sql.types.StringType, nullable = true)))),
          "raised")
      },
      () => idx.writeMeta())
  }

  /** Nightly-incremental cosine AllPairs against a standing-corpus
    * index written by [[writeIndex]] — [[pairsAgainst]]'s production
    * twin: the same exact cross-pair output (a ∈ batch, b ∈ corpus,
    * cos ≥ τ, exactly verified, all-integer threshold), but the
    * corpus is never re-shingled, re-ranked, or re-weighted.
    * Tonight's cost is batch-sized: the batch tf frame, keyed lookups
    * into the bucketed `_rank`/`_pref`/`_tf` tables — plus `_tfs` on
    * raised nights — all zero corpus-side exchange (spec-pinned), and
    * the tiny `_raised` log.
    *
    * Exactness under the FROZEN order and FROZEN maxw — the theorem,
    * with F(t) the stored maxw (0 for shingles in no vintage) and
    * R = {shingles tonight's batch raises: batch maxŵ(t) > F(t)}
    *     ∪ {`_raised`: shingles some append raised over F(t)}:
    *
    *  - Every corpus prefix (build or append vintage) was cut with
    *    the suffix bound Σ ŵ_b(t)·F(t) under the one extended total
    *    order O = (shingles with rn null or absent from `_rank`,
    *    by shingle text) then (`_rank` shingles by frozen rn) — the
    *    [[TextDedup.prefixJaccardAgainstIndexed]] order contract,
    *    with appended new shingles joining class one AT their text
    *    position, which never reorders any earlier participant's
    *    sequence. Tonight's batch prefixes are cut under O with the
    *    same F.
    *  - Pair (a ∈ batch, b ∈ corpus) with cos ≥ τ whose shared
    *    shingles all avoid R: for every shared t, ŵ_a(t) ≤ batch
    *    maxŵ(t) ≤ F(t) (t not batch-raised) and ŵ_b(t) ≤ F(t) (t not
    *    append-raised; build docs satisfy F by construction) — both
    *    classical prefix arguments hold at F, the earliest shared
    *    feature sits in BOTH prefixes, and the prefix candidate join
    *    finds the pair.
    *  - Pair with some shared t ∈ R: the compensation join emits
    *    (batch docs containing t) × (corpus docs containing t, from
    *    the full `_tf` postings) as candidates directly — no bound
    *    involved, so no loss. Both paths verify exactly; the union is
    *    lossless (fuzz-pinned against [[pairsAgainst]], oracle-pinned
    *    against the full-posting ground truth).
    *
    * `threshold` ≥ τ_build and shingleN equality are ENFORCED against
    * the `_meta` sidecar. With `maxPrefixPosting` set, FOUR audits
    * run per nightly: the batch prefix postings, the corpus prefix
    * postings tonight touches (append drift — the
    * [[TextDedup.prefixJaccardAgainstIndexed]] rule), and both
    * factors of the raised-shingle compensation fan-out (corpus full
    * postings and batch full postings restricted to R).
    */
  def pairsAgainstIndexed(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    TextDedup.requirePairArgs(threshold, maxPrefixPosting)
    val idx = StandingIndex.forRead(spark, tablePrefix,
      "CosineAllPairs.pairsAgainstIndexed", threshold, shingleN)
    val btf = CacheHandle.persistWith(handle,
      TextDedup.shingles(batch, idCol, textCol, shingleN, dedup = false)
        .groupBy(idCol, "shingle").agg(count(lit(1)).as("tf")))
    val bsz = CacheHandle.persistWith(handle,
      btf.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("na2")))
    bsz.count() // ONE eager action fills both caches (btf via bsz's scan)
    val bwn = btf.join(bsz, idCol)
      .select(col(idCol), col("shingle"),
        (col("tf").cast("double") /
          sqrt(col("na2").cast("double"))).as("w"))
    // shard pruning (sharded builds only): a rank/prefix row outside
    // tonight's batch shingle shard set can match no batch shingle
    val shingleShards = idx.shardsOf("shingle", btf)
    val rank = idx.read("rank", shingleShards)
    // R: shingles whose frozen maxw tonight's batch exceeds, plus
    // shingles some append exceeded (`_raised`), restricted to
    // tonight's shingles (a raised shingle the batch doesn't contain
    // cannot be SHARED by any of tonight's pairs). Batch-sized frame.
    val braise = bwn.groupBy("shingle").agg(max(col("w")).as("bmaxw"))
      .join(rank.select(col("shingle"), col("maxw")), Seq("shingle"))
      .filter(col("bmaxw") > col("maxw"))
      .select("shingle")
    val raised = CacheHandle.persistWith(handle,
      braise.unionAll(
        spark.table(idx.table("raised"))
          .join(btf.select("shingle").distinct(),
            Seq("shingle"), "left_semi"))
        .distinct())
    // one tiny action decides the compensation branch (commonly
    // empty); also the frame's eager materializer
    val nRaised = raised.count()
    // batch prefixes under the frozen order at the frozen maxw:
    // F = coalesce(stored maxw, 0) — a shingle in NO vintage has no
    // corpus occurrence (any corpus doc would have frozen it), so its
    // partner weight is 0 and M = 0 is both valid and tight
    // suffix bound as ONE reverse-order running sum (the tfFrames
    // rule): the extended order O read backwards is (rank shingles by
    // rn desc) then (absent shingles by shingle text desc)
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("rn").isNotNull.desc,
        coalesce(col("rn"), lit(-1L)).desc, col("shingle").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bpref = CacheHandle.persistWith(handle,
      bwn.join(rank, Seq("shingle"), "left")
        .withColumn("sfx",
          sum(col("w") * coalesce(col("maxw"), lit(0.0))).over(wDesc))
        .filter(col("sfx") >= lit(threshold - 1e-9))
        .select(col(idCol), col("shingle")))
    val cpref = idx.read("pref", shingleShards)
    // the shingle-keyed posting copy serves the raised paths — the
    // compensation lookup and its audit read it bucketed (and
    // shard-pruned) on shingle, so raised nights stay batch-sized
    val ctfs = idx.read("tfs", shingleShards)
    // the BATCH factor of the cross fan-out; the audit (or its count,
    // unbounded) materializes bpref before the candidate join reads it
    TextDedup.auditShinglePostings(bpref, maxPrefixPosting) { (s, n) =>
      s"CosineAllPairs.pairsAgainstIndexed: batch prefix posting for " +
        s"shingle '$s' has $n members (> maxPrefixPosting=" +
        s"$maxPrefixPosting) — the cross candidate join would fan out " +
        "on it; raise the bound if the fan-out is affordable"
    }
    // the corpus prefix postings tonight touches: left-semi keyed on
    // the bucket key, zero corpus exchange, batch-sized output
    val touched = cpref.join(bpref.select("shingle").distinct(),
      Seq("shingle"), "left_semi")
    val ctfsRaised = ctfs.join(raised, Seq("shingle"), "left_semi")
    if (maxPrefixPosting != Int.MaxValue) {
      // the CORPUS factor tonight touches (append drift — the
      // prefixJaccardAgainstIndexed rule)
      TextDedup.auditShinglePostings(touched, maxPrefixPosting) { (s, n) =>
        s"CosineAllPairs.pairsAgainstIndexed: corpus prefix posting " +
          s"for batch-touched shingle '$s' has $n members (> " +
          s"maxPrefixPosting=$maxPrefixPosting) — appends have grown it " +
          "past the build-time audit; rebuild the index (one " +
          "writeIndex) or raise the bound if the fan-out is affordable"
      }
      if (nRaised > 0) {
        // both factors of the raised-shingle compensation fan-out:
        // full corpus postings and full batch postings on R
        TextDedup.auditShinglePostings(ctfsRaised, maxPrefixPosting) {
          (s, n) =>
            s"CosineAllPairs.pairsAgainstIndexed: corpus full posting " +
              s"for RAISED shingle '$s' has $n members (> " +
              s"maxPrefixPosting=$maxPrefixPosting) — the compensation " +
              "join would fan out on it; rebuild the index (refreezes " +
              "maxw) or raise the bound if the fan-out is affordable"
        }
        TextDedup.auditShinglePostings(
            btf.join(raised, Seq("shingle"), "left_semi"),
            maxPrefixPosting) { (s, n) =>
          s"CosineAllPairs.pairsAgainstIndexed: batch full posting for " +
            s"RAISED shingle '$s' has $n members (> maxPrefixPosting=" +
            s"$maxPrefixPosting) — the compensation join would fan out " +
            "on it; raise the bound if the fan-out is affordable"
        }
      }
    }
    // prefix candidates: batch prefix postings against the bucketed
    // corpus prefix postings — corpus side zero-exchange
    val prefCand = bpref
      .select(col(idCol).as("a"), col("shingle"))
      .join(cpref.select(col("shingle"), col(idCol).as("b")),
        Seq("shingle"))
      .select(col("a"), col("b"))
    // raised-shingle compensation: exact full-posting injection on R
    // (skipped entirely when R is empty — the common nightly).
    // PERSISTED: the verify joins' broadcast builds would each re-run
    // the candidate fan-out otherwise (the candidateVerify rule) —
    // and here a re-run is also a second corpus `_pref` scan.
    val cand = CacheHandle.persistWith(handle,
      (if (nRaised == 0) prefCand
      else prefCand.unionAll(
        btf.join(raised, Seq("shingle"), "left_semi")
          .select(col(idCol).as("a"), col("shingle"))
          .join(ctfsRaised.select(col("shingle"), col(idCol).as("b")),
            Seq("shingle"))
          .select(col("a"), col("b")))).distinct())
    cand.count()
    // verify-side pruning (sharded builds only): every candidate id
    // comes from a batch-touched prefix posting or a raised-shingle
    // posting, so the candidate id shard set is derivable BEFORE the
    // verify join — keyed semi-lookups, collects bounded by shardBy
    val ctfVerify = idx.read("tf", idx.shardsOf(idCol,
      touched +: (if (nRaised == 0) Nil else Seq(ctfsRaised)): _*))
    // exact verify: pull each candidate corpus doc's tf vector from
    // the id-bucketed table (zero corpus exchange — the join key is
    // the bucket key); nb2 rides along (functionally determined by b)
    val num = cand
      .join(ctfVerify.select(col(idCol).as("b"), col("shingle"),
        col("tf").as("tfb"), col("na2").as("nb2")), Seq("b"))
      .join(btf.select(col(idCol).as("a"), col("shingle"),
        col("tf").as("tfa")), Seq("a", "shingle"))
      .groupBy("a", "b", "nb2")
      .agg(sum(col("tfa") * col("tfb")).as("num"))
    num
      .join(bsz.select(col(idCol).as("a"), col("na2")), "a")
      .filter(col("num").cast("double") * col("num").cast("double") >=
        lit(threshold) * lit(threshold) *
          (col("na2").cast("double") * col("nb2").cast("double")))
      .select(col("a"), col("b"), col("num"), col("na2"), col("nb2"),
        round(col("num").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))), 6).as("cos_r"))
  }

  /** Extend a standing cosine index written by [[writeIndex]] with
    * newly ACCEPTED documents — the incremental half of the
    * lifecycle, so the corpus is never re-shingled between rebuilds.
    * `_rank` rows are never UPDATED: new shingles append with
    * rn = null (they join order-class one — by shingle text — AT
    * their text position, which never reorders any earlier
    * participant's sequence) and maxw frozen at this batch's max
    * unit weight; existing shingles whose frozen maxw this batch
    * EXCEEDS are logged into `_raised` (the reader compensates them
    * exactly — see [[pairsAgainstIndexed]]). Appended documents' own
    * prefixes are cut under the frozen order at the frozen maxw
    * (their own batch max for brand-new shingles — exactly the value
    * being frozen for them), so every stored prefix in the index is
    * a true prefix of the one extended total order at its shingles'
    * frozen weights, whatever vintage wrote it. What drifts is the
    * df HEURISTIC (postings can run hotter than a fresh rebuild's) —
    * policed per nightly by the reader's touched-posting audit.
    * τ, shingleN and buckets must match the build — validated
    * against the `_meta` sidecar.
    */
  def appendIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null): Unit = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    val idx = StandingIndex.forAppend(spark, tablePrefix,
      "CosineAllPairs.appendIndex", threshold, shingleN, buckets)
    val btf = CacheHandle.persistWith(handle,
      TextDedup.shingles(batch, idCol, textCol, shingleN, dedup = false)
        .groupBy(idCol, "shingle").agg(count(lit(1)).as("tf")))
    val bsz = CacheHandle.persistWith(handle,
      btf.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("na2")))
    bsz.count() // ONE eager action fills both caches (btf via bsz's scan)
    val bwn = btf.join(bsz, idCol)
      .select(col(idCol), col("shingle"),
        (col("tf").cast("double") /
          sqrt(col("na2").cast("double"))).as("w"))
    // sharded builds: the rank lookup only needs the batch's shingle
    // shards (a rank row elsewhere cannot match a batch shingle)
    val rank = idx.read("rank", idx.shardsOf("shingle", btf))
    val bmax = CacheHandle.persistWith(handle,
      bwn.groupBy("shingle").agg(max(col("w")).as("bmaxw")))
    bmax.count() // eager: the rank append, raised log + prefix read it
    // new shingles freeze maxw NOW at this batch's max; raises of
    // already-frozen shingles are logged for reader compensation.
    // Order of operations: log raises and compute prefixes against
    // the PRE-append rank table, then append — a same-JVM reader
    // later sees the extended tables consistently.
    val joined = bmax.join(rank, Seq("shingle"), "left")
    val newRank = joined.filter(col("rn").isNull && col("maxw").isNull)
      .select(col("shingle"), lit(null).cast("long").as("rn"),
        col("bmaxw").as("maxw"))
    val raisedLog = joined
      .filter(col("maxw").isNotNull && col("bmaxw") > col("maxw"))
      .select("shingle")
    // appended docs' prefixes: frozen order, frozen maxw — for
    // brand-new shingles that's this batch's max (the value frozen
    // above), making stored prefixes self-consistent at read time.
    // Suffix bound as ONE reverse-order running sum (the tfFrames
    // rule): the extended order O read backwards is (rank shingles by
    // rn desc) then (absent shingles by shingle text desc).
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("rn").isNotNull.desc,
        coalesce(col("rn"), lit(-1L)).desc, col("shingle").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val newPref = bwn.join(rank, Seq("shingle"), "left")
      .join(bmax, Seq("shingle"))
      .withColumn("sfx",
        sum(col("w") * coalesce(col("maxw"), col("bmaxw"))).over(wDesc))
      .filter(col("sfx") >= lit(threshold - 1e-9))
      .select(col("shingle"), col(idCol))
    // write order: everything that READS the pre-append `_rank` table
    // (the raised log, the prefix cut) must run before the `_rank`
    // append lands; `_raised`/`_pref`/`_tf`/`_tfs` target distinct
    // tables none of the group reads, so they overlap (guide §2.6)
    ScaleOps.concurrently(
      () => raisedLog.write.mode("append").format("parquet")
        .saveAsTable(idx.table("raised")),
      () => idx.append(newPref, "pref", "shingle"),
      () => idx.append(btf.join(bsz, idCol).select(col(idCol),
        col("shingle"), col("tf"), col("na2")), "tf", idCol),
      () => idx.append(btf.select(col("shingle"), col(idCol)), "tfs",
        "shingle"))
    idx.append(newRank, "rank", "shingle")
  }
}
