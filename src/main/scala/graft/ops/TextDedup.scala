package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable document-deduplication building blocks. The declared
  * queries in [[graft.queries.TextQueries]] are thin wrappers over
  * these, so library users and the oracle gate exercise the same code.
  *
  * All hashing is md5-based (stable across engines and versions); all
  * shapes are scan + keyed join/groupBy — no driver-side loops.
  */
object TextDedup {

  def tokens(c: Column): Column = split(trim(c), " ")

  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Distinct word n-gram shingles per document: (idCol, "shingle").
    * Documents with fewer than n tokens are dropped (no shingles).
    * `dedup = false` skips the per-document distinct (and its shuffle)
    * — for consumers that dedup AFTER a selective join, where
    * deduplicating only the surviving rows is far cheaper than
    * exchanging the whole exploded corpus up front.
    */
  def shingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      dedup: Boolean = true): DataFrame = {
    val parts = (0 until n)
      .map(j => s"element_at(__t, i + $j)").mkString(", ' ', ")
    val raw = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col(idCol),
        explode(expr(
          s"transform(sequence(1, size(__t) - ${n - 1}), i -> concat($parts))"))
          .as("shingle"))
    if (dedup) raw.distinct() else raw
  }

  /** Segment-level exact dedup with document reassembly — the
    * C4/CCNet "line dedup" shape for text without natural line
    * boundaries: split each document into fixed `segTokens`-token
    * spans, keep each distinct span's FIRST corpus-wide occurrence
    * (ordered by document id, then span position), drop every other
    * copy, and rebuild the document from its surviving spans in
    * order. Output: (idCol, n_segs, n_kept, clean_text); clean_text
    * is null when every span was seen earlier (a fully-boilerplate
    * document — the caller's drop signal).
    *
    * Scale shape: scan + explode (no shuffle), ONE exchange on the
    * span fingerprint (the keep-first window — md5 keys the shuffle
    * so payload, not raw text, is what buckets), one keyed aggregate
    * back to documents. Same two-exchange budget as `Corpus.curate`.
    * The reassembly HOFs (array_sort/transform) run interpreted
    * (CodegenFallback) but only over each document's own spans —
    * bounded per row, never corpus-wide.
    */
  /** Fixed `segTokens`-token spans per document: (idCol, seg_idx,
    * seg) — the segmentation shared by [[dedupSegments]] and the
    * incremental [[dedupSegmentsAgainst]]. Scan + explode, no shuffle.
    */
  def segments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      // ceil(size/segTokens) spans; int cast truncates a positive
      .withColumn("__n",
        ((size(col("__toks")) + lit(segTokens - 1)) / lit(segTokens))
          .cast("int"))
      .withColumn("__i", explode(sequence(lit(0), col("__n") - 1)))
      .select(col(idCol),
        col("__i").cast("long").as("seg_idx"),
        array_join(slice(col("__toks"),
          col("__i") * lit(segTokens) + lit(1), lit(segTokens)), " ")
          .as("seg"))

  /** Shared reassembly tail of the batch and incremental forms: spans
    * with a boolean `__keep` → (idCol, n_segs, n_kept, clean_text).
    */
  private def reassemble(decided: DataFrame, idCol: String): DataFrame =
    decided
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_segs"),
        count(when(col("__keep"), lit(1))).cast("long").as("n_kept"),
        // collect_list skips the nulls the `when` leaves on dropped
        // spans; array_sort on the struct orders by seg_idx
        when(count(when(col("__keep"), lit(1))) > 0,
          array_join(
            transform(
              array_sort(collect_list(
                when(col("__keep"),
                  struct(col("seg_idx"), col("seg"))))),
              x => x.getField("seg")), " "))
          .as("clean_text"))

  /** Keep-first marker via GROUPED ARGMIN + fp-keyed join-back
    * (CLAUDE.md: min(struct(id, seg_idx)) per fingerprint == the
    * row_number() = 1 of the same total order, with map-side partial
    * combine): a boilerplate span repeated 10⁷ times previously
    * funneled every copy through ONE window reducer just to keep one.
    * Caller persists `segs` (it feeds both the winner aggregate and
    * the join side).
    */
  private def markKeepFirst(
      segs: DataFrame, idCol: String, fpCol: Column): DataFrame = {
    val withFp = segs.withColumn("__fp", fpCol)
    val winners = withFp.groupBy("__fp")
      .agg(min(struct(col(idCol), col("seg_idx"))).as("__w"))
    withFp.join(winners, "__fp")
      .withColumn("__first",
        col(idCol) === col(s"__w.$idCol") &&
          col("seg_idx") === col("__w.seg_idx"))
      .drop("__w", "__fp")
  }

  def dedupSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int = 8): DataFrame = {
    val segs = CacheHandle.persistWith(null,
      segments(df, idCol, textCol, segTokens))
    reassemble(
      markKeepFirst(segs, idCol, md5(col("seg")))
        .withColumnRenamed("__first", "__keep"),
      idCol)
  }

  /** Materialize the standing corpus's distinct span fingerprints as
    * a bucketed table — the layout half of incremental segment dedup,
    * the [[graft.ops.Corpus.writeCorpusFingerprints]] pattern applied
    * at span granularity: rebuild once per corpus refresh, then every
    * nightly batch dedups against it with no exchange on the corpus
    * side.
    */
  def writeSegmentFingerprints(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      buckets: Int,
      segTokens: Int = 8): Unit =
    ScaleOps.writeBucketed(
      segments(corpus, idCol, textCol, segTokens)
        .select(md5(col("seg")).as("seg_fp")).distinct(),
      table, "seg_fp", buckets)

  /** [[dedupSegments]] of `batch` against an EXTERNAL span-fingerprint
    * set (one column `seg_fp`) — the nightly C4-style shape: spans the
    * standing corpus already holds drop everywhere, and among the
    * genuinely new spans the first in-batch occurrence wins. Output
    * matches [[dedupSegments]]: (idCol, n_segs, n_kept, clean_text),
    * n_segs counting ALL of the document's spans.
    *
    * Scale shape: the corpus side is a one-column fingerprint scan —
    * bucketed via [[writeSegmentFingerprints]] it never exchanges;
    * only tonight's (small) exploded batch shuffles, into the
    * fingerprint key for the anti-lookup and keep-first window.
    */
  def dedupSegmentsAgainst(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusFps: DataFrame,
      segTokens: Int = 8): DataFrame = {
    val segs = CacheHandle.persistWith(null,
      segments(batch, idCol, textCol, segTokens)
        .withColumn("seg_fp", md5(col("seg"))))
    // same grouped-argmin keep-first as dedupSegments (the hot-span
    // window funnel), then the corpus anti-lookup marks drops
    val decided = markKeepFirst(segs, idCol, col("seg_fp"))
      .join(corpusFps.select(col("seg_fp"))
        .withColumn("__in_corpus", lit(1)), Seq("seg_fp"), "left")
      .withColumn("__keep",
        col("__in_corpus").isNull && col("__first"))
      .drop("__first")
    reassemble(decided, idCol)
  }

  /** Exact dedup groups: (fp, keep_id, n_dups) on normalized-text md5. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normText(col(textCol))).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures, columns mh0..mh{k-1}. One md5 digest carries
    * FOUR independent 32-bit minhash slots (8 hex chars each —
    * equal-length lowercase hex order IS numeric order, so the string
    * min is the numeric min), so k hashes cost ceil(k/4) digests per
    * (doc, shingle) instead of k: the dominant term of the signature
    * stage at corpus scale, and band values shrink 4× on the shuffle.
    * Digests are materialized in a projection BEFORE the aggregate so
    * the sharing never depends on codegen subexpression elimination.
    */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val nGroups = (numHashes + 3) / 4
    val withDigests = sh.select(col(idCol) +: (0 until nGroups).map(g =>
      md5(concat(lit(s"$g:"), col("shingle"))).as(s"__dg$g")): _*)
    val aggs = (0 until numHashes).map(k =>
      min(substring(col(s"__dg${k / 4}"), (k % 4) * 8 + 1, 8)).as(s"mh$k"))
    withDigests.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: rows-per-band = numHashes/bands consecutive
    * signature columns concatenated; output (idCol, band_idx, band_val).
    */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      struct(lit(b).as("band_idx"), concat(cols: _*).as("band_val"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol), col("bd.band_idx"), col("bd.band_val"))
  }

  /** Hot-bucket bound for LSH candidate generation. A bucket of m rows
    * emits m² candidate pairs, and on a real 100 TB corpus degenerate
    * buckets (boilerplate, near-empty documents) reach millions of
    * members — AQE skew-splitting only splits partitions, it cannot
    * reduce the pair count. Production MinHash pipelines therefore cap
    * bucket membership and drop the overflow: members of a mega-bucket
    * are near-duplicates of each other mostly via content that LSH has
    * already declared worthless for discrimination.
    *
    * 1000 members = 10⁶ candidate pairs per bucket, a bounded unit of
    * join work; callers that cannot tolerate dropped buckets should
    * sub-shard upstream (more bands / longer shingles) rather than
    * raise the cap.
    */
  val DefaultMaxBucket: Int = 1000

  /** Keep only rows whose bucket (the `keyCols` group) has at most
    * `maxBucket` members. The over-cap bucket list is an aggregate with
    * map-side partial combine — its shuffle carries one count per
    * DISTINCT bucket key, not the banded rows — and is removed with an
    * anti-join that carries NO broadcast hint: the over-cap set is
    * corpus-derived (bounded only by rows/maxBucket, which GROWS with
    * the corpus — a boilerplate-heavy 100 TB crawl can push 1e9 keys
    * over a 1000-cap; see CLAUDE.md: broadcast-hint rule, q_tfidf is
    * the pinned precedent). AQE converts the join to a broadcast at
    * runtime whenever the measured over-cap set is actually small —
    * which at sane caps it is.
    *
    * Dropping is never silent: pair it with [[overCapBuckets]] — same
    * inputs, returns the dropped (key, n_members) set — to log/audit
    * what the cap removed.
    */
  def capBuckets(
      banded: DataFrame,
      keyCols: Seq[String],
      maxBucket: Int): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val over = overCapBuckets(banded, keyCols, maxBucket)
      .select(keyCols.map(col): _*)
    banded.join(over, keyCols, "left_anti")
  }

  /** The keep-some alternative to [[capBuckets]]: over-cap buckets are
    * sharded into ceil(n/maxBucket) deterministic sub-buckets (id
    * hash), so per-bucket pair mining stays O(maxBucket²) per shard
    * while intra-shard pairs survive instead of the whole bucket being
    * dropped. Recall trade: cross-shard pairs inside a mega-bucket are
    * not generated — its members are near-dups of each other through
    * content LSH already found non-discriminating, so production
    * pipelines accept the loss. Under-cap buckets keep shard 0 and are
    * untouched. Output = `banded` + `__shard` (join on keys + shard).
    */
  def subBandBuckets(
      banded: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      maxBucket: Int): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    // no broadcast hint — the over-cap set is corpus-derived (see
    // capBuckets); AQE converts when it measures small
    val over = overCapBuckets(banded, keyCols, maxBucket)
    banded.join(over, keyCols, "left_outer")
      .withColumn("__shard",
        when(col("n_members").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col(idCol)),
            floor((col("n_members") + lit(maxBucket - 1)) / lit(maxBucket))
              .cast("long"))))
      .drop("n_members")
  }

  /** [[lshCandidates]] with sub-banding instead of dropping: candidate
    * pairs come from (band, shard)-local self-joins, so a planted
    * mega-bucket contributes bounded work but still yields pairs.
    */
  def lshCandidatesSubBanded(
      bands: DataFrame,
      idCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val in = subBandBuckets(bands, Seq("band_idx", "band_val"), idCol, maxBucket)
    in.as("x")
      .join(in.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.__shard") === col("y.__shard") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** Audit twin of [[capBuckets]]: the buckets the cap drops, with
    * member counts — tiny by construction (at most rows/maxBucket
    * groups), so callers can collect/log it cheaply.
    */
  def overCapBuckets(
      banded: DataFrame,
      keyCols: Seq[String],
      maxBucket: Int): DataFrame =
    banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** The exact family's hot-posting AUDIT — never a cap, which would
    * break the losslessness proof: fails with `failure(shingle,
    * n_members)` naming the worst `shingle` posting of `postings`
    * past `maxPosting` (one map-side-combined aggregate + a limit(1)
    * argmax, a bounded collect by construction). Exactly one Spark
    * action either way, and it doubles as the eager materializer of a
    * persisted `postings` frame: the argmax collect, or a plain count
    * when `maxPosting` is `Int.MaxValue` (no bound to audit).
    */
  private[ops] def auditShinglePostings(
      postings: DataFrame, maxPosting: Int)(
      failure: (String, Long) => String): Unit =
    if (maxPosting == Int.MaxValue) postings.count()
    else {
      val worst = overCapBuckets(postings, Seq("shingle"), maxPosting)
        .orderBy(col("n_members").desc, col("shingle"))
        .limit(1).collect()
      require(worst.isEmpty,
        failure(worst.head.getString(0), worst.head.getLong(1)))
    }

  /** Candidate pairs (a < b) sharing at least one band, from buckets
    * within `maxBucket` members (pass `Int.MaxValue` to skip the cap —
    * e.g. when the input was already capped and cached upstream).
    */
  def lshCandidates(
      bands: DataFrame,
      idCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val in =
      if (maxBucket == Int.MaxValue) bands
      else capBuckets(bands, Seq("band_idx", "band_val"), maxBucket)
    in.as("x")
      .join(in.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** True-Jaccard verification of candidate pairs against the shingle
    * sets: (a, b, inter, na, nb, jaccard), filtered to >= threshold.
    * Pass `cand = null` to verify ALL pairs (bounded brute force).
    */
  def verifiedJaccard(
      sh: DataFrame,
      idCol: String,
      cand: DataFrame,
      threshold: Double,
      handle: CacheHandle = null): DataFrame = {
    val inter =
      if (cand == null)
        sh.as("x")
          .join(sh.as("y"),
            col("x.shingle") === col("y.shingle") &&
              col(s"x.$idCol") < col(s"y.$idCol"))
          .groupBy(col(s"x.$idCol"), col(s"y.$idCol"))
          .agg(count(lit(1)).as("inter"))
          .toDF("a", "b", "inter")
      else
        // NOT persisted here: the candidate frame has exactly ONE
        // consumer (this intersection chain), and its joins against
        // corpus-sized `sh` are sort-merge — no broadcast build ever
        // re-runs the bucket self-join, so the prefixCandidateVerify
        // rule does not apply. An unconditional eager persist+count
        // here (r18 snapshot commit) added a full extra candidate
        // fan-out pass and tripled q_dedup_minhash_16x (11.8 → 36.7 s
        // at 8c). Callers whose candidate frame genuinely feeds more
        // than one action (q_dedup_precision's n_cand arm) persist it
        // THEMSELVES before calling.
        cand
          .join(sh.as("sa"), col("a") === col(s"sa.$idCol"))
          .join(sh.as("sb"),
            col("b") === col(s"sb.$idCol") &&
              col("sa.shingle") === col("sb.shingle"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    inter
      .join(sz.as("za"), col("a") === col(s"za.$idCol"))
      .join(sz.as("zb"), col("b") === col(s"zb.$idCol"))
      .select(col("a"), col("b"), col("inter"),
        col("za.n").as("na"), col("zb.n").as("nb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → cap →
    * candidates → verify. The shingle set is persisted internally (it
    * feeds four branches and Spark has no cross-branch CSE); the bands
    * are persisted PRE-cap so every branch the cap fans into — the
    * over-cap count aggregate plus both anti-joined candidate sides —
    * reads the cache instead of re-running the signature pipeline.
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 6,
      bands: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket,
      handle: CacheHandle = null): DataFrame =
    minhashDedupFromShingles(
      CacheHandle.persistWith(handle, shingles(df, idCol, textCol, shingleN)),
      idCol, numHashes, bands, threshold, maxBucket, handle)

  /** [[minhashDedup]] over an ALREADY-persisted distinct shingle set —
    * for callers that need the shingles for other work in the same
    * pipeline (e.g. the recall measurement scores ground truth and the
    * LSH index off one explode). `sh` must be (idCol, "shingle")
    * distinct per document, and the CALLER owns its persistence.
    */
  def minhashDedupFromShingles(
      sh: DataFrame,
      idCol: String,
      numHashes: Int = 6,
      bands: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket,
      handle: CacheHandle = null): DataFrame = {
    val bandsDf = CacheHandle.persistWith(handle, lshBands(
      minhashSignatures(sh, idCol, numHashes), idCol, numHashes, bands))
    // eager: the candidate self-join (x/y) and the verify step's four
    // reads of `sh` are independent AQE stages that materialize
    // CONCURRENTLY — against a lazy cache each racing stage recomputes
    // the whole shingle→signature pipeline (3× measured on
    // q_cluster_sizes). One cheap count materializes bands AND, in the
    // same pass, the sh cache it reads; every fan-out branch below
    // then hits memory.
    bandsDf.count()
    verifiedJaccard(sh, idCol,
      lshCandidates(bandsDf, idCol, maxBucket), threshold, handle)
  }

  /** Exact repeated-substring removal planning — the ExactSubstr
    * dedup step of training-data pipelines (remove every character
    * span that appears verbatim elsewhere in the corpus, rather than
    * dropping whole near-dup documents): character grams of length
    * `gramLen` at EVERY offset, grams occurring >= `minCount` times
    * corpus-wide mark their covering spans, and per-document
    * overlapping spans merge into disjoint cut intervals
    * (`(idCol, cut_start, cut_end)`, 1-based, end exclusive).
    *
    * Scale shape: the gram fan-out is |text| rows per doc (map-side,
    * spread to [[ScaleOps.fanoutWidth]] first — a few-file source
    * would funnel it); duplicate detection is ONE hash aggregate on
    * the gram and one equi-join back; interval merging is the
    * gap-and-island idiom — two window passes over the SAME
    * (doc, start) sort, so one exchange keyed by document. Nothing is
    * pairwise: a gram repeated a million times costs one aggregate
    * row, and the cut set is bounded by corpus length.
    *
    * Shuffle width: grams travel as an 8-byte `xxhash64`, never as
    * raw text — a `gramLen`-char gram would amplify the exchange (and
    * the cache) ~`gramLen`× over the source bytes, the same
    * slot-packing economics as the minhash signatures. Equality on
    * the 64-bit hash stands in for gram equality; a collision needs
    * two distinct grams in the same 2^64 slot (birthday ~5e9 DISTINCT
    * grams for even one expected collision, and its worst case is one
    * spurious cut interval, not a lost document).
    */
  def substringRemovalPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramLen: Int,
      minCount: Long = 2L,
      handle: CacheHandle = null): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // offsets explode as a bare sequence and the per-gram
    // substring+hash runs as a PROJECTION after it — higher-order
    // array functions are CodegenFallback (interpreted per element),
    // so building (pos, hash) structs inside a transform() lambda
    // would drop the hottest per-character work out of whole-stage
    // codegen (measured ~25% on the sf0.1 gram stage)
    val grams = CacheHandle.persistWith(handle,
      df.transform(d => d.repartition(ScaleOps.fanoutWidth(d)))
        .select(col(idCol), lower(trim(col(textCol))).as("t"))
        .filter(length(col("t")) >= gramLen)
        .select(col(idCol), col("t"),
          explode(sequence(lit(1), length(col("t")) - lit(gramLen - 1)))
            .as("pos"))
        .select(col(idCol), col("pos"),
          xxhash64(expr(s"substring(t, pos, $gramLen)")).as("g")))
    // NO eager materialization, unlike minhashDedupFromShingles: this
    // plan has only TWO readers of the lazy cache (dup aggregate +
    // join probe) and an A/B at sf0.1 measured the extra count() pass
    // as pure cost (+85% on q_dedup_substring, 1.47→2.73 s) — the
    // concurrent-stage recompute the minhash pipeline suffers does not
    // materialize here. Measure before "fixing" lazy caches.
    val dup = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select("g")
    val hits = grams.join(dup, "g")
      .select(col(idCol), col("pos").as("start"),
        (col("pos") + gramLen).as("end"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("start")
    val islands = hits
      .withColumn("__pmax", max(col("end")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("start") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
    islands.groupBy(col(idCol), col("__island"))
      .agg(min("start").as("cut_start"), max("end").as("cut_end"))
      .select(col(idCol), col("cut_start"), col("cut_end"))
  }

  /** 32-bit SimHash fingerprints: (idCol, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .select(col(idCol),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
    val aggs = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b"))
    val bits = tok.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val fp = (0 until 32)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    bits.select(col(idCol), fp.as("simhash"))
  }

  /** Large-star contraction step: every node attaches its
    * strictly-larger neighbors to the minimum of its closed
    * neighborhood. One symmetrize + one min-aggregate + one equi-join;
    * output stays canonically oriented (a > b).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("__nbr_min"))
      .select(col("a").as("__u"),
        least(col("a"), col("__nbr_min")).as("__m"))
    // no distinct here: different centers can emit the same (v, m)
    // edge (at most deg(v) copies, so volume stays O(|E|)), but the
    // following small-star pass min-aggregates and distincts anyway —
    // dedup'ing now would only add a third shuffle per round
    sym.join(mins, sym("a") === col("__u"))
      .filter(col("b") > col("a")) // only larger neighbors re-attach
      .select(col("b").as("a"), col("__m").as("b"))
  }

  /** Small-star contraction step: every node attaches its
    * smaller-or-equal neighbors (and itself) to the minimum of its
    * closed neighborhood. Operates on the canonical orientation, so
    * the per-node neighbor list is exactly the rows keyed by `a`.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val mins = canon.groupBy("a").agg(min("b").as("__m"))
      .select(col("a").as("__u"), col("__m"))
    val viaNeighbors = canon.join(mins, canon("a") === col("__u"))
      .filter(col("b") =!= col("__m")) // the min itself gains no edge
      .select(col("b").as("a"), col("__m").as("b"))
    val self = mins.select(col("__u").as("a"), col("__m").as("b"))
    viaNeighbors.unionAll(self).distinct()
  }

  /** Connected components over near-dup pairs → dedup clusters:
    * (id, cluster_id = smallest id reachable). This is the step that
    * turns pairwise candidates into keep/drop decisions at scale.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Each phase is one keyed min-aggregate plus one
    * equi-join over the edge list, and the alternation contracts every
    * component onto its minimum node in O(log² n) rounds worst-case —
    * single digits in practice — INDEPENDENT of component diameter.
    * That independence is the 100-TB property: near-dup *chains*
    * (v1~v2~…~vk, each revision close only to its neighbors — exactly
    * what crawl/revision drift produces) have diameter k, and plain
    * min-label propagation pays one full edges⋈labels shuffle per hop,
    * while star contraction halves the forest depth every round. At
    * convergence the edge set IS the answer: a forest of depth-1 stars
    * whose centers are the component minima.
    *
    * Sparsity: most of the corpus touches no edge and is its own
    * singleton cluster by definition; only edge-connected nodes enter
    * the iteration, so every round runs over |V(edges)| ≪ |V|.
    *
    * Iteration hygiene: every round boundary is a LAZY
    * `localCheckpoint`, never a bare `persist` (see CLAUDE.md:
    * persist caches DATA, not the PLAN — uncut iterative plans go
    * exponential). Lazy (eager = false) keeps it to ONE action per
    * round — the exact set-equality convergence check, whose map
    * stage doubles as the checkpoint materialization.
    *
    * `maxIter` is a safety bound far above the O(log² n) worst case
    * (25 rounds covers any component a real corpus can hold);
    * non-convergence raises rather than returning partial clusters.
    */
  def clusters(
      ids: DataFrame, // single column: the id universe
      pairs: DataFrame, // columns a, b (undirected edges)
      maxIter: Int = 25): DataFrame = {
    val idCol = ids.columns.head
    // canonical (big, small) edge set, self-loops dropped; the plan
    // cut at loop entry keeps the caller's whole pair-mining plan
    // (with its cached subtrees) out of every round's tree
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    val touched = edges.select(col("a").as("__cc_n"))
      .unionAll(edges.select(col("b").as("__cc_n")))
    val isolated = ids
      .join(touched, ids(idCol) === col("__cc_n"), "left_anti")
      .select(col(idCol).as("id"), col(idCol).as("cluster_id"))
    var converged = edges.count() == 0L // also materializes the entry cut
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // convergence test in ONE action per round, and one ROUND
      // earlier than comparing against the previous edge set: the
      // algorithm is converged exactly when the edge set is a depth-1
      // star forest — no node is both a child (a side) and a center
      // (b side), and no child has two centers. (Both star phases
      // emit (bigger, smaller) only and preserve the input's
      // connectivity, so a star forest's stars ARE the original
      // components, centered on their minima, and both phases map it
      // to itself.) Exact — never a hash-sum shortcut, because a
      // false "converged" would silently ship wrong clusters through
      // the correctness gate. The map stage reads every partition of
      // `next`, so the one take(1) also materializes this round's
      // checkpoint.
      converged = next.select(col("a").as("__n"), lit(1L).as("__c"))
        .unionAll(next.select(col("b").as("__n"), lit(0L).as("__c")))
        .groupBy("__n")
        .agg(sum("__c").as("__nc"),
          count(when(col("__c") === 0L, lit(1))).as("__nr"))
        .filter(col("__nc") >= 2L ||
          (col("__nc") >= 1L && col("__nr") >= 1L))
        .isEmpty
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedup clustering did not converge in $maxIter star rounds " +
          "(bound is far above the O(log^2 n) worst case; raise maxIter)")
    // converged edges are (member, component-min) stars; centers
    // appear only on the b side and label themselves
    val members = edges.select(col("a").as("id"), col("b").as("cluster_id"))
    val roots = edges.select(col("b").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
    members.unionAll(roots).unionAll(isolated)
  }

  /** SimHash near-dup pairs within a Hamming-distance bound.
    *
    * Hamming-LSH banding (pigeonhole): the 32-bit fingerprint splits
    * into `maxHamming + 1` disjoint bit bands; two fingerprints within
    * Hamming distance k differ in at most k bits, so at least one band
    * is bit-identical. Candidates therefore come from an equi-join on
    * (band_idx, band_val) — the band value is the shuffle key, work is
    * bucket-local — and the exact `bit_count(xor) <= k` check keeps
    * true pairs only (distinct: a pair may collide on several bands).
    * No all-pairs comparison anywhere in the plan.
    */
  def simhashPairs(
      sim: DataFrame,
      idCol: String,
      maxHamming: Int,
      maxBucket: Int = DefaultMaxBucket,
      fpCol: String = "simhash"): DataFrame = {
    // >= 32 would create zero-width bands whose band_val is 0 for every
    // row — one hot bucket, i.e. the all-pairs join this exists to avoid
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32), got $maxHamming")
    val nBands = maxHamming + 1
    val bands = (0 until nBands).map { b =>
      val lo = b * 32 / nBands
      val hi = (b + 1) * 32 / nBands
      struct(lit(b).as("band_idx"),
        shiftright(col("fp"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
          .as("band_val"))
    }
    // select BY NAME — the former positional toDF("id", "fp") silently
    // mislabeled any input not shaped exactly (id, fp), making the
    // idCol/fpCol parameters lies
    val banded0 = sim.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .select(col("id"), col("fp"), explode(array(bands: _*)).as("bd"))
      .select(col("id"), col("fp"),
        col("bd.band_idx").as("band_idx"), col("bd.band_val").as("band_val"))
    // hot-bucket bound (see capBuckets): a popular band value — short
    // boilerplate text collapses to few distinct fingerprints — would
    // otherwise emit m² pairs from one bucket
    val banded =
      if (maxBucket == Int.MaxValue) banded0
      else capBuckets(banded0, Seq("band_idx", "band_val"), maxBucket)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("ham"))
      .filter(col("ham") <= maxHamming)
      .distinct()
  }

  /** Asymmetric containment mining — near-SUPERSET detection: one doc
    * embedding another (quote inclusion, boilerplate wrapping, partial
    * scrapes) that symmetric dedup misses because Jaccard penalizes
    * size asymmetry: a 10-shingle doc fully inside a 1000-shingle doc
    * scores J ≈ 0.01 but containment 1.0. MinHash-LSH candidates are
    * USELESS here for the same reason — band collision probability IS
    * a Jaccard power, so exactly the pairs containment exists for
    * never collide. The honest generator is the shingle-POSTING
    * self-join (pairs sharing ≥1 shingle), whose cost is
    * Σ_s C(posting_s, 2): stopword-grade shingles are the hazard and
    * get the same hot-bucket cap as LSH buckets (`maxPosting`, exact
    * results for all shingles under the cap — [[capBuckets]]).
    * Verification scores containment(a→b) = |A∩B|/|A| BOTH directions
    * against the uncapped set sizes, keeping pairs whose larger
    * direction clears `minContainment` (ROUNDED before the threshold,
    * the repo rule).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minContainment: Double = 0.9,
      maxPosting: Int = DefaultMaxBucket,
      handle: CacheHandle = null): DataFrame = {
    val sh = CacheHandle.persistWith(handle,
      shingles(df, idCol, textCol, shingleN))
    val in =
      if (maxPosting == Int.MaxValue) sh
      else capBuckets(sh, Seq("shingle"), maxPosting)
    val inter = in.as("x")
      .join(in.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    inter
      .join(sz.as("za"), col("a") === col(s"za.$idCol"))
      .join(sz.as("zb"), col("b") === col(s"zb.$idCol"))
      .select(col("a"), col("b"), col("inter"),
        col("za.n").as("na"), col("zb.n").as("nb"))
      .withColumn("cont_a_r",
        round(col("inter").cast("double") / col("na").cast("double"), 6))
      .withColumn("cont_b_r",
        round(col("inter").cast("double") / col("nb").cast("double"), 6))
      .filter(greatest(col("cont_a_r"), col("cont_b_r")) >= minContainment)
  }

  /** Prefix-filtered exact Jaccard self-join (the PPJoin candidate
    * rule; Chaudhuri/Ganti/Kaushik ICDE 2006, Xiao et al. WWW 2008):
    * the third candidate-generation idiom beside MinHash banding
    * (probabilistic, q_dedup_minhash) and the capped full posting
    * join (exact but every shared shingle is a candidate row,
    * q_dedup_ngram / containmentPairs). Shingles are ordered by
    * corpus rarity (df asc); a pair with J ≥ τ MUST share one of
    * each side's first `sz − floor(τ·sz) + 1` rarest shingles — the
    * i ≥ τ·|A| overlap bound plus the pigeonhole on the prefix — so
    * only PREFIX postings join (≈ (1−τ) of the posting volume,
    * squared in the pair fan-out), and survivors are verified
    * EXACTLY against the full shingle sets. Lossless by construction:
    * the floor() prefix is one longer than the ⌈τ·sz⌉ minimum, and
    * the length prune `least ≥ floor(τ·greatest)` only drops pairs
    * that cannot reach τ. Output (a, b, inter, sz_a, sz_b, ja_r) for
    * exact-quotient Jaccard ≥ τ — hash-comparable to a ground-truth
    * oracle that never saw the prefix machinery.
    *
    * Scale shape: the rarity rank is a vocabulary-sized two-phase
    * global rank (no single-reducer window); the per-document prefix
    * position window partitions on the document id (corpus-cardinality
    * key — distributes); every join is a key equi-join. The prefix
    * frame feeds both self-join sides and the shingle frame feeds four
    * readers — both persisted via the handle/ledger, eagerly
    * materialized per the self-join rule.
    *
    * Hot-posting audit (`maxPrefixPosting`): rarity ordering bounds
    * prefix postings on any realistic corpus — a shingle lands in
    * prefixes only while it is RARE relative to its documents' sizes —
    * but a degenerate corpus of tiny documents made only of
    * globally-common shingles can still concentrate one posting (a
    * 2-shingle doc's prefix is its whole shingle set, however common).
    * Capping would break the losslessness this join proves, so the
    * treatment is an AUDIT, not a cap: one tiny aggregate over the
    * already-persisted prefix frame fails LOUDLY (worst posting named)
    * when any prefix posting exceeds the bound — the
    * coOccurrenceEdgesAudited pattern. The lossy alternative for
    * corpora that trip it is [[prefixJaccardPairsCapped]].
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    require(maxPrefixPosting > 0,
      s"maxPrefixPosting must be positive, got $maxPrefixPosting")
    val (sh, sz, pref) =
      prefixFrames(df, idCol, textCol, shingleN, threshold, handle,
        // the audit below materializes it for the self-join sides
        eagerPref = false)
    auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"prefixJaccardPairs: prefix posting for shingle '$s' has $n " +
        s"members (> maxPrefixPosting=$maxPrefixPosting) — the " +
        "candidate join would fan out quadratically on it; raise the " +
        "bound if the fan-out is affordable, or use the lossy " +
        "prefixJaccardPairsCapped twin"
    }
    prefixCandidateVerify(sh, sz, pref, idCol, threshold, handle)
  }

  /** The lossy production twin of [[prefixJaccardPairs]] for corpora
    * whose audit trips: prefix postings past `maxPrefixPosting` are
    * DROPPED (capBuckets), bounding the candidate fan-out at
    * O(maxPrefixPosting²) per shingle. Recall semantics: a qualifying
    * pair is missed only if EVERY prefix shingle it shares sits in an
    * over-cap posting — by the prefix pigeonhole such pairs are built
    * almost entirely from globally-common shingles, the
    * non-discriminating evidence the cap exists to shed (same trade as
    * [[containmentPairs]]' `maxPosting`). Never silent: the second
    * return is the dropped (shingle, n_members) audit frame — tiny by
    * construction (≤ prefixRows/maxPrefixPosting groups) — for
    * logging/asserting, computed from the SAME persisted prefix frame
    * the cap reads. Survivors verify exactly, so emitted pairs carry
    * true Jaccard (precision is unaffected; only recall is traded).
    */
  def prefixJaccardPairsCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxPrefixPosting: Int = DefaultMaxBucket,
      handle: CacheHandle = null): (DataFrame, DataFrame) = {
    require(maxPrefixPosting > 0,
      s"maxPrefixPosting must be positive, got $maxPrefixPosting")
    val (sh, sz, pref) =
      prefixFrames(df, idCol, textCol, shingleN, threshold, handle)
    val over = CacheHandle.persistWith(handle,
      overCapBuckets(pref, Seq("shingle"), maxPrefixPosting))
    // eager: the anti-join's broadcast subtrees (one per self-join
    // side) run as separate driver jobs and would each re-run the
    // over-cap aggregate against a LAZY cache (the q_pca_power rule);
    // tiny by construction, so the count is cheap
    over.count()
    // no broadcast hint — the over-cap set is corpus-derived (the
    // capBuckets rule); AQE converts when it measures small
    val capped = CacheHandle.persistWith(handle,
      pref.join(over.select(col("shingle")), Seq("shingle"), "left_anti"))
    capped.count() // eager: both candidate sides read it
    (prefixCandidateVerify(sh, sz, capped, idCol, threshold, handle), over)
  }

  /** The ONE gear-CDC chunk-fingerprint frame — the canonical
    * definition all three chunk-dedup legs share (batch q_cdc_chunks,
    * nightly q_cdc_chunks_incr via TextQueries.cdcChunkFrame,
    * streaming [[graft.streaming.EventStream.dedupCdcChunks]]), so the
    * recursive-CTE gear-walk oracle can never drift from only one of
    * them: each row's `textCol` UTF-8 bytes are chunked at
    * content-defined boundaries ([[graft.expr.GearChunks]] — a
    * codegen'd per-row kernel) and each chunk is fingerprinted via the
    * engine-portable hex-slice md5 (CLAUDE.md: DuckDB has no BLOB
    * substring). Output: `carryCols` ++ (off, len, fp). Null text
    * yields a null chunk array — explode drops the row.
    */
  def cdcChunkFp(
      df: DataFrame,
      carryCols: Seq[String],
      textCol: String,
      maskBits: Int,
      minLen: Int,
      maxLen: Int): DataFrame = {
    val carry = carryCols.map(col)
    df.select(carry :+ encode(col(textCol), "UTF-8").as("__bin"): _*)
      .select(carry ++ Seq(hex(col("__bin")).as("__hx"),
        graft.expr.CdcFunctions.gearChunks(col("__bin"),
          maskBits = maskBits, minLen = minLen, maxLen = maxLen)
          .as("__chunks")): _*)
      .select(carry ++ Seq(col("__hx"),
        explode(col("__chunks")).as("__c")): _*)
      .select(carry ++ Seq(
        col("__c.off").as("off"), col("__c.len").as("len"),
        md5(col("__hx").substr(col("__c.off") * 2 + 1,
          col("__c.len") * 2)).as("fp")): _*)
  }

  /** The argument check the cross-side and indexed pair ops
    * (`prefixJaccardAgainst`, `writePrefixIndex`,
    * `prefixJaccardAgainstIndexed` and their `CosineAllPairs` twins)
    * open with: the threshold first, then the posting bound.
    */
  private[ops] def requirePairArgs(
      threshold: Double, maxPrefixPosting: Int): Unit = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    require(maxPrefixPosting > 0,
      s"maxPrefixPosting must be positive, got $maxPrefixPosting")
  }

  /** Nightly-incremental PPJoin — tonight's `batch` exactly
    * threshold-joined against the standing `corpus` (the
    * q_dedup_incremental / q_cdc_chunks_incr shape at EXACT-Jaccard
    * semantics): emits every cross pair (a ∈ batch, b ∈ corpus) with
    * J(a, b) ≥ τ, verified exactly. Only CROSS pairs — in-batch dedup
    * composes with [[prefixJaccardPairs]] on the batch alone, and the
    * corpus is assumed already deduped.
    *
    * The prefix theorem needs ONE total order over both sides'
    * shingles (the rarest SHARED shingle of a qualifying pair lands
    * in both prefixes only if both prefixes are cut under the same
    * rank), so the rarity rank is computed over corpus ∪ batch.
    * Internal keys carry a side tag, so id collisions between corpus
    * and batch never conflate sizes or verification — the output
    * columns (a, b) are the raw ids per side.
    *
    * Scale honesty: the union df count re-scans the corpus shingles
    * once per run — exactness of the shared rank, not an incremental
    * index. A production deployment maintains the df table and the
    * corpus prefix postings as a bucketed store (the
    * writeSegmentFingerprints pattern) and pays only the batch side
    * nightly; every join here is a key equi-join either way, so the
    * plan shape carries over unchanged.
    */
  def prefixJaccardAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    requirePairArgs(threshold, maxPrefixPosting)
    val sh = CacheHandle.persistWith(handle,
      shingles(corpus, idCol, textCol, shingleN)
        .select(lit(0).as("__side"), col(idCol), col("shingle"))
        .unionAll(shingles(batch, idCol, textCol, shingleN)
          .select(lit(1).as("__side"), col(idCol), col("shingle"))))
    // no standalone sh.count: the rank's internal shaping action is
    // the first (sequential) scan of sh and fills the cache before
    // any concurrent reader exists (the prefixFrames rule)
    val sz = CacheHandle.persistWith(handle,
      sh.groupBy("__side", idCol).agg(count(lit(1)).as("sz")))
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("dfc"))
    val ranked = ScaleOps.globalRowNumber(dfc, 8,
        handle, col("dfc"), col("shingle"))
      .select(col("shingle"), col("rn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__side", idCol).orderBy("rn")
    val pref = CacheHandle.persistWith(handle,
      sh.join(ranked, "shingle")
        .withColumn("p", row_number().over(w).cast("long"))
        .join(sz, Seq("__side", idCol))
        .filter(col("p") <=
          col("sz") - floor(lit(threshold) * col("sz").cast("double")) + 1L)
        .select(col("__side"), col(idCol), col("shingle"), col("sz"),
          col("rn")))
    // same hot-posting AUDIT as the within-corpus join, materializing
    // pref for both candidate sides; posting size counts BOTH sides —
    // that union is what the cross join fans out on
    auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"prefixJaccardAgainst: prefix posting for shingle '$s' has $n " +
        s"members across corpus+batch (> maxPrefixPosting=" +
        s"$maxPrefixPosting) — the cross candidate join would fan out " +
        "quadratically on it; raise the bound if the fan-out is " +
        "affordable"
    }
    val la = pref.filter(col("__side") === 1)
      .select(col(idCol).as("a"), col("rn"), col("sz").as("sa"))
    val lb = pref.filter(col("__side") === 0)
      .select(col(idCol).as("b"), col("rn"), col("sz").as("sb"))
    // cross candidate join keyed on the LONG rank (injective on
    // shingles — identical candidates, cheap hash/compare over the
    // fan-out); persisted so the verify joins' broadcast builds don't
    // each re-run it (the prefixCandidateVerify rule)
    val cand = CacheHandle.persistWith(handle, la.join(lb, Seq("rn"))
      .filter(least(col("sa"), col("sb")).cast("double") >=
        floor(lit(threshold) *
          greatest(col("sa"), col("sb")).cast("double")).cast("double"))
      .select(col("a"), col("b"))
      .distinct())
    cand.count()
    val inter = cand
      .join(sh.filter(col("__side") === 1)
        .select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(sh.filter(col("__side") === 0)
        .select(col(idCol).as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.filter(col("__side") === 1)
        .select(col(idCol).as("a"), col("sz").as("sz_a")), "a")
      .join(sz.filter(col("__side") === 0)
        .select(col(idCol).as("b"), col("sz").as("sz_b")), "b")
      .withColumn("ja", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("ja") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("ja"), 6).as("ja_r"))
  }

  /** Build the standing-corpus half of the incremental PPJoin ONCE —
    * the production twin [[prefixJaccardAgainst]]'s scaladoc promises:
    * three bucketed, key-sorted EXTERNAL tables (the
    * [[graft.ops.Corpus.writeCorpusFingerprints]] /
    * [[ScaleOps.writeBucketed]] layout) so every nightly
    * [[prefixJaccardAgainstIndexed]] pays batch-sized cost with ZERO
    * exchange on any corpus side:
    *
    *  - `<prefix>_rank` (shingle, rn), bucketed by shingle — the
    *    corpus rarity total order (df asc, shingle asc; unique);
    *  - `<prefix>_pref` (shingle, id, sz), bucketed by shingle — the
    *    corpus prefix postings cut at `threshold`;
    *  - `<prefix>_sh` (id, shingle), bucketed by id — the full corpus
    *    postings for exact verification.
    *
    * The prefix theorem is order-agnostic (ANY one total order shared
    * by both sides works — the df-asc choice is a posting-size
    * heuristic, not a correctness condition), which is what makes a
    * FROZEN corpus order exact: see [[prefixJaccardAgainstIndexed]]
    * for how a batch shingle absent from `_rank` is ordered without
    * re-scanning the corpus. The index bakes in (shingleN, threshold):
    * a nightly run at threshold' > threshold stays lossless (stored
    * prefixes are longer than that cut needs — over-inclusive only);
    * threshold' < threshold would need prefixes the index never
    * stored. That contract is ENFORCED, not trusted: the
    * [[StandingIndex]] `_meta` sidecar (tau_build, shingle_n,
    * buckets, shard_by) is written with the index, and both the
    * reader and [[appendPrefixIndex]] reject a call that violates it
    * instead of silently losing pairs.
    *
    * The family's hot-posting audit runs at BUILD time over the
    * corpus prefix postings (fail loud once per rebuild, not at 3am
    * in the nightly): `maxPrefixPosting` bounds the corpus factor of
    * the nightly cross fan-out (posting_batch × posting_corpus); the
    * reader audits the batch factor per run, plus the corpus postings
    * the batch actually touches (appends can grow them past the
    * build-time audit — see [[appendPrefixIndex]]).
    *
    * `shardBy` > 0 additionally partitions all three tables into hive
    * directories UNDER the bucketing (the [[StandingIndex]] shard
    * layout) — `_rank`/`_pref` on the shingle hash, `_sh` on the id
    * hash: the reader
    * collects tonight's batch shingle-shard set, prunes untouched
    * `_rank`/`_pref` directories, derives the candidate corpus IDs'
    * shard set from the batch-touched prefix postings (one keyed
    * semi-lookup, bounded collect), and prunes `_sh` the same way —
    * so corpus bytes read scale with the batch's footprint rather
    * than the corpus on EVERY corpus-side scan: the storage-level
    * path toward a sublinear nightly. Exactness is untouched (a
    * pruned row could never match a batch shingle / candidate id);
    * the zero-exchange bucketed join layout is preserved inside every
    * directory. Size it so |batch distinct prefix shingles| ≪ shardBy
    * at the expected nightly batch, else every directory is touched
    * and the pruning is a no-op (the fixed-vocab gate corpus is
    * exactly that case — the declared queries build unsharded).
    */
  def writePrefixIndex(
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
    requirePairArgs(threshold, maxPrefixPosting)
    val idx = StandingIndex.build(corpus.sparkSession, tablePrefix,
      pathPrefix, StandingIndex.Meta(threshold, shingleN, buckets, shardBy))
    val sh = CacheHandle.persistWith(handle,
      shingles(corpus, idCol, textCol, shingleN))
    // no standalone sh.count: the rank's internal shaping action is
    // the first (sequential) scan of sh and fills the cache before
    // any concurrent reader exists (the prefixFrames rule)
    val sz = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("dfc"))
    val ranked = CacheHandle.persistWith(handle,
      ScaleOps.globalRowNumber(dfc, 8, handle, col("dfc"), col("shingle"))
        .select(col("shingle"), col("rn")))
    ranked.count() // eager: the _rank write + the prefix build read it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("rn")
    val pref = CacheHandle.persistWith(handle,
      sh.join(ranked, "shingle")
        .withColumn("p", row_number().over(w).cast("long"))
        .join(sz, idCol)
        .filter(col("p") <=
          col("sz") - floor(lit(threshold) * col("sz").cast("double")) + 1L)
        .select(col("shingle"), col(idCol), col("sz")))
    // build-time audit — it doubles as pref's materializer
    auditShinglePostings(pref, maxPrefixPosting) { (s, n) =>
      s"writePrefixIndex: corpus prefix posting for shingle '$s' has " +
        s"$n members (> maxPrefixPosting=$maxPrefixPosting) — every " +
        "nightly cross join would fan out on it; raise the bound or " +
        "dedup the corpus before indexing"
    }
    // the four table writes are INDEPENDENT once the shared frames
    // are materialized (sh/ranked/pref caches are warm here): run
    // them concurrently so each write's commit/catalog tail backfills
    // the others' idle executors (guide §2.6). `_sh` buckets and
    // shards on the ID: the reader derives the candidate corpus ids'
    // shard set from the batch-touched prefix postings and prunes the
    // verify-side scan the same way.
    ScaleOps.concurrently(
      () => idx.write(ranked, "rank", "shingle"),
      () => idx.write(pref, "pref", "shingle"),
      () => idx.write(sh.select(col(idCol), col("shingle")), "sh", idCol),
      () => idx.writeMeta())
  }

  /** Nightly-incremental PPJoin against a standing-corpus index
    * written by [[writePrefixIndex]] — [[prefixJaccardAgainst]]'s
    * documented production twin: the same exact cross-pair output
    * (a ∈ batch, b ∈ corpus, J ≥ τ, exactly verified), but the corpus
    * side is never re-scanned, re-ranked, or re-shuffled. Tonight's
    * cost is batch-sized: the batch shingle frame, one keyed lookup
    * into the bucketed `_rank` table, a per-batch-doc prefix window,
    * and candidate/verify equi-joins whose corpus sides read
    * pre-bucketed layouts with zero exchange (spec-pinned).
    *
    * Exactness with a FROZEN corpus rank — the new-shingle contract:
    * the prefix theorem needs one total order shared by both sides,
    * not any particular one. The order used here is O = (batch
    * shingles absent from `_rank`, sorted among themselves by shingle)
    * BEFORE (corpus shingles in `_rank` order). Corpus documents
    * contain no absent shingle by definition, so their shingle
    * sequences under O are exactly their `_rank`-order sequences — the
    * STORED prefixes are their true O-prefixes, unchanged. Batch
    * prefixes are computed directly under O. Both sides' prefixes
    * therefore share the one total order and the pigeonhole holds:
    * lossless, no recall trade (fuzz-pinned against
    * [[prefixJaccardAgainst]] in TextDedupSpec). Ordering absent
    * shingles FIRST is the df-asc heuristic taken to its limit —
    * corpus df 0 — and is also the cheap end: their corpus postings
    * are empty, so they generate no cross candidates at all (and a
    * batch doc whose prefix is ALL absent shingles provably has no
    * qualifying corpus partner: >= sz − floor(τ·sz) + 1 of its
    * shingles miss every corpus doc).
    *
    * `threshold` must be >= the index's build threshold: the stored
    * corpus prefixes are cut at the build τ, and a looser nightly τ
    * would need longer prefixes than the index holds. The contract is
    * ENFORCED against the `_meta` sidecar the builder writes
    * (τ' < τ_build or a shingleN mismatch is rejected here, loudly,
    * instead of silently losing pairs).
    *
    * With `maxPrefixPosting` set, TWO audits run per nightly: the
    * batch prefix postings (the batch factor of the cross fan-out),
    * and the CORPUS prefix postings tonight's batch actually touches
    * (a left-semi lookup keyed on the bucket key — zero corpus
    * exchange, batch-sized output). The corpus factor was audited
    * once at build time, but [[appendPrefixIndex]] grows postings
    * under a frozen rank, so the touched-posting audit is what makes
    * append drift loud instead of a quiet quadratic fan-out.
    */
  def prefixJaccardAgainstIndexed(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      handle: CacheHandle = null,
      maxPrefixPosting: Int = Int.MaxValue): DataFrame = {
    requirePairArgs(threshold, maxPrefixPosting)
    val idx = StandingIndex.forRead(spark, tablePrefix,
      "prefixJaccardAgainstIndexed", threshold, shingleN)
    val bsh = CacheHandle.persistWith(handle,
      shingles(batch, idCol, textCol, shingleN))
    // no standalone bsh.count: the first sequential action over bpref
    // (its count or the audit collect) scans bsh through the persist
    // and fills the cache before the verify side reads it
    // (sharded builds fill it even earlier, at the shard-set collect)
    // shard pruning (sharded builds only): a rank/prefix row outside
    // tonight's batch shard set cannot match any batch shingle
    val shards = idx.shardsOf("shingle", bsh)
    val rank = idx.read("rank", shards)
    val cpref = idx.read("pref", shards)
    val bpref = CacheHandle.persistWith(handle,
      frozenOrderPrefix(rank, bsh, idCol, threshold))
    // the BATCH factor of the cross fan-out; the audit (or its count,
    // unbounded) materializes bpref before the candidate join reads it
    auditShinglePostings(bpref, maxPrefixPosting) { (s, n) =>
      s"prefixJaccardAgainstIndexed: batch prefix posting for shingle " +
        s"'$s' has $n members (> maxPrefixPosting=$maxPrefixPosting) — " +
        "the cross candidate join would fan out on it; raise the bound " +
        "if the fan-out is affordable"
    }
    // the corpus prefix postings tonight's batch touches. Left-semi
    // keyed on the bucket key: zero corpus exchange, batch-sized output.
    val touched = cpref.join(bpref.select("shingle").distinct(),
      Seq("shingle"), "left_semi")
    if (maxPrefixPosting != Int.MaxValue)
      // the CORPUS factor, restricted to what tonight actually
      // touches: the build-time audit covered the freshly-built
      // postings, but appendPrefixIndex grows them under a frozen
      // rank — without this, a run of appends fans the candidate
      // join out with no tripwire
      auditShinglePostings(touched, maxPrefixPosting) { (s, n) =>
        s"prefixJaccardAgainstIndexed: corpus prefix posting for " +
          s"batch-touched shingle '$s' has $n members (> " +
          s"maxPrefixPosting=$maxPrefixPosting) — appends have grown it " +
          "past the build-time audit; rebuild the index (one " +
          "writePrefixIndex) or raise the bound if the fan-out is " +
          "affordable"
      }
    // verify-side pruning (sharded builds only): every candidate
    // corpus id comes from a batch-touched prefix posting, so the
    // candidate ID shard set is derivable BEFORE the candidate join.
    // `_sh` directories outside it can hold no candidate's postings;
    // pruning them makes the verify scan track the candidate
    // footprint, not the corpus.
    val csh = idx.read("sh", idx.shardsOf(idCol, touched))
    // candidate join: batch prefix postings against the bucketed
    // corpus prefix postings — corpus side zero-exchange; sizes ride
    // along (functionally determined by the ids) so verification
    // needs no extra corpus lookup
    // PERSISTED: the verify joins' broadcast builds would each re-run
    // the candidate fan-out otherwise (the prefixCandidateVerify
    // rule) — and here a re-run is also a second corpus `_pref` scan
    val cand = CacheHandle.persistWith(handle, bpref
      .select(col(idCol).as("a"), col("shingle"), col("sz").as("sz_a"))
      .join(cpref.select(col("shingle"), col(idCol).as("b"),
        col("sz").as("sz_b")), Seq("shingle"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        floor(lit(threshold) *
          greatest(col("sz_a"), col("sz_b")).cast("double")).cast("double"))
      .select(col("a"), col("b"), col("sz_a"), col("sz_b"))
      .distinct())
    cand.count()
    // exact verify: pull each candidate corpus doc's postings from the
    // id-bucketed table (zero corpus exchange — the join key is the
    // bucket key), intersect with the batch side's cached shingles
    val inter = cand
      .join(csh.select(col(idCol).as("b"), col("shingle")), Seq("b"))
      .join(bsh.select(col(idCol).as("a"), col("shingle")),
        Seq("a", "shingle"))
      .groupBy("a", "b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
    inter
      .withColumn("ja", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("ja") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("ja"), 6).as("ja_r"))
  }

  /** Extend a standing-corpus index written by [[writePrefixIndex]]
    * with newly ACCEPTED documents (tonight's batch after dedup) —
    * the incremental half of the index lifecycle, so the corpus never
    * needs a full re-shingle between rebuilds. The `_rank` table
    * stays FROZEN: the index order O is "(shingles absent from
    * `_rank`, sorted by shingle) before (`_rank` shingles by rank)",
    * which is one well-defined total order for every past and future
    * participant — appended documents' prefixes are computed under O
    * exactly like a query batch's (shared [[frozenOrderPrefix]]), so
    * stored and appended prefixes are all true O-prefixes and the
    * reader's exactness proof carries over unchanged. What drifts is
    * only the df HEURISTIC: an appended shingle's real document
    * frequency grows while its rank stays frozen, so prefix postings
    * can run hotter than a fresh rebuild's — a performance property,
    * policed per nightly by the reader's touched-corpus-posting audit
    * ([[prefixJaccardAgainstIndexed]] with `maxPrefixPosting` set
    * semi-joins `_pref` against tonight's batch prefix shingles and
    * REQUIREs every touched posting within the bound); rebuild the
    * index (one [[writePrefixIndex]]) when that audit trips.
    * `threshold`, `shingleN` and `buckets` must match the build —
    * validated here against the `_meta` sidecar (an append at a
    * different τ would store prefixes cut at the wrong length and
    * quietly break readers between the two τs).
    */
  def appendPrefixIndex(
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
      "appendPrefixIndex", threshold, shingleN, buckets)
    val bsh = CacheHandle.persistWith(handle,
      shingles(batch, idCol, textCol, shingleN))
    bsh.count() // eager: the two appends below run CONCURRENTLY and
    // would otherwise race the lazy cache (the q_pca_power rule)
    // sharded builds: the rank lookup only needs the batch's shards
    // (a rank row elsewhere cannot match a batch shingle)
    val rank = idx.read("rank", idx.shardsOf("shingle", bsh))
    val newPref = frozenOrderPrefix(rank, bsh, idCol, threshold)
      .select(col("shingle"), col(idCol), col("sz"))
    // the two appends target distinct tables neither reads (guide
    // §2.6): overlap them
    ScaleOps.concurrently(
      () => idx.append(newPref, "pref", "shingle"),
      () => idx.append(bsh.select(col(idCol), col("shingle")), "sh", idCol))
  }

  /** Batch-side prefix frame under a FROZEN index order (shared by
    * the indexed reader and [[appendPrefixIndex]]): shingles absent
    * from `rank` order FIRST among themselves by shingle (corpus df
    * 0 — the rarity heuristic's limit), then `rank` shingles by their
    * frozen unique rank. The rank lookup is the one corpus-table
    * touch (bucketed on shingle — no corpus-side exchange); a LEFT
    * join keeps absent shingles with null rn. Output
    * (idCol, shingle, sz).
    */
  private def frozenOrderPrefix(
      rank: DataFrame,
      bsh: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val bsz = bsh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      // O: absent-from-corpus first (false < true), among themselves
      // by shingle; then corpus shingles by their frozen unique rank
      .orderBy(col("rn").isNotNull, coalesce(col("rn"), lit(-1L)),
        col("shingle"))
    bsh.join(rank, Seq("shingle"), "left")
      .withColumn("p", row_number().over(w).cast("long"))
      .join(bsz, idCol)
      .filter(col("p") <=
        col("sz") - floor(lit(threshold) * col("sz").cast("double")) + 1L)
      .select(col(idCol), col("shingle"), col("sz"))
  }

  /** Shared [[prefixJaccardPairs]] core: shingles, per-doc sizes, and
    * the rarity-ordered prefix frame — all persisted via the handle
    * and eagerly materialized (multiple readers race a lazy cache).
    */
  private def prefixFrames(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      handle: CacheHandle,
      eagerPref: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    val sh = CacheHandle.persistWith(handle,
      shingles(df, idCol, textCol, shingleN))
    // no standalone sh.count: the rarity rank's internal shaping
    // action (globalRowNumber's offset count) is the first scan of sh
    // and fills the cache before any concurrent reader exists — the
    // pref build, audits and verify sides all read it warm
    val sz = CacheHandle.persistWith(handle,
      sh.groupBy(idCol).agg(count(lit(1)).as("sz")))
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("dfc"))
    // rarity order: df asc, shingle as the total-order tiebreak; the
    // global rank is unique, so each document's prefix is
    // deterministic (retry-stable candidates). `rn` rides along in the
    // prefix frame so the candidate self-join keys on a LONG instead
    // of re-hashing shingle strings over the fan-out.
    val ranked = ScaleOps.globalRowNumber(dfc, 8,
        handle, col("dfc"), col("shingle"))
      .select(col("shingle"), col("rn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("rn")
    val pref = CacheHandle.persistWith(handle,
      sh.join(ranked, "shingle")
        .withColumn("p", row_number().over(w).cast("long"))
        .join(sz, idCol)
        .filter(col("p") <=
          col("sz") - floor(lit(threshold) * col("sz").cast("double")) + 1L)
        .select(col(idCol), col("shingle"), col("sz"), col("rn")))
    // eager: both candidate sides read it (a caller whose own first
    // action over pref runs before anything else — the audit collect —
    // opts out and materializes it there instead)
    if (eagerPref) pref.count()
    (sh, sz, pref)
  }

  /** Shared [[prefixJaccardPairs]] tail: prefix-posting self-join with
    * the length prune, then EXACT verification against the full
    * shingle sets. `pref` may be the audited-lossless or the capped
    * frame — verification semantics are identical either way.
    */
  private def prefixCandidateVerify(
      sh: DataFrame,
      sz: DataFrame,
      pref: DataFrame,
      idCol: String,
      threshold: Double,
      handle: CacheHandle): DataFrame = {
    val la = pref.select(col(idCol).as("a"), col("rn"),
      col("sz").as("sa"))
    val lb = pref.select(col(idCol).as("b"), col("rn"),
      col("sz").as("sb"))
    // self-join keyed on the rarity rank `rn` — a LONG injective on
    // shingles (identical candidates, cheap hash/compare over the
    // Σ|posting|² fan-out). PERSISTED + eagerly counted: the two
    // verify joins' broadcast builds would otherwise each re-run the
    // whole fan-out (the q_pca_power rule, measured on the cosine
    // twin as two back-to-back 93 s stages at sf0.1).
    val cand = CacheHandle.persistWith(handle, la.join(lb, Seq("rn"))
      .filter(col("a") < col("b"))
      // length prune: a qualifying pair has min ≥ τ·max; floor keeps
      // the boundary (over-inclusive, never lossy)
      .filter(least(col("sa"), col("sb")).cast("double") >=
        floor(lit(threshold) *
          greatest(col("sa"), col("sb")).cast("double")).cast("double"))
      .select(col("a"), col("b"))
      .distinct())
    cand.count()
    val inter = cand
      .join(sh.select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col(idCol).as("b"), col("shingle")),
        Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col(idCol).as("a"), col("sz").as("sz_a")), "a")
      .join(sz.select(col(idCol).as("b"), col("sz").as("sz_b")), "b")
      .withColumn("ja", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("ja") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("ja"), 6).as("ja_r"))
  }
}
