package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline family: token stats, quality scoring,
  * language-ID heuristic, document fingerprinting, exact dedup,
  * n-gram-Jaccard near-dup, MinHash+LSH near-dup, SimHash.
  *
  * Portability notes (everything must hash-match DuckDB):
  *  - tokenization = split on single space after trim, identical on
  *    both sides;
  *  - all hashing goes through `md5` (lowercase hex in both engines) —
  *    engine-native `hash()` functions differ and can never agree;
  *  - ratios are exact-integer divisions in IEEE double (correctly
  *    rounded, so bit-identical across engines).
  *
  * Scale stance: every op is a scan + groupBy/join on a key — no
  * driver-side loops. The pairwise (O(n²)) queries are explicitly
  * bounded (`doc_id < cap`); the unbounded scale path is MinHash
  * banding (q_dedup_minhash) whose cost is O(n · shingles).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  // canonical definitions live in graft.ops — referenced here so the
  // per-document queries and the composed q_curate pipeline (and every
  // library caller) share one tokenizer / stopword list / normalizer
  private val stopWords = graft.ops.Corpus.defaultStopWords

  private def toks(c: Column): Column = graft.ops.TextDedup.tokens(c)

  private def normText(c: Column): Column =
    graft.ops.TextDedup.normText(c)

  // dedup internals live in graft.ops.TextDedup — the declared
  // queries below are thin wrappers so library users and the oracle
  // gate run the same code
  import graft.ops.TextDedup

  /** Per-chunk frame shared by the CDC dedup queries — the canonical
    * TextDedup.cdcChunkFp at gate-scale widths (maskBits=5, min 8,
    * max 64 — tiny per the fixed-vocab collision rule); one definition
    * for batch/nightly/streaming so the gear-walk oracle cannot drift
    * from only one leg. Output: (doc_id, off, len, fp).
    */
  private def cdcChunkFrame(s: SparkSession, dir: String): DataFrame =
    TextDedup.cdcChunkFp(docs(s, dir), Seq("doc_id"), "text",
      maskBits = 5, minLen = 8, maxLen = 64)

  /** (max token length, non-BMP excess) over a serving slice's
    * whitespace tokens — ONE probe shared by every segmentation gate
    * whose SQL oracle indexes DuckDB code points against a Scala
    * UTF-16 segmenter (the named-precondition pair: DP/lookahead
    * window bound + BMP-only alignment). The excess is
    * UTF-16BE bytes minus 2·code-points: 0 iff BMP-only. Empty
    * serving (no tokens) probes as (0, 0) — max() over zero rows is
    * null, which must not surface as an unnamed NPE.
    */
  private def servingTokenStats(serving: DataFrame): (Int, Int) = {
    val r = serving
      .select(explode(graft.ops.TextDedup.tokens(col("text"))).as("w"))
      .agg(max(length(col("w"))).as("mx"),
        max(length(encode(col("w"), "UTF-16BE")) -
          length(col("w")) * 2).as("nonbmp"))
      .head
    (if (r.isNullAt(0)) 0 else r.getInt(0),
      if (r.isNullAt(1)) 0 else r.getInt(1))
  }

  /** The trained unigram piece table as (piece, logProb-string)
    * VALUES literals — Double.toString round-trips the exact bits
    * (CLAUDE.md: interpolate doubles as quoted strings); one
    * serialization shared by the segment and compare oracles.
    */
  private def ugPieceVals(
      model: graft.ops.UnigramLmTrainer.Model): String =
    model.pieces
      .map(p => s"('${p.piece.replace("'", "''")}', " +
        s"'${java.lang.Double.toString(p.logProb)}')")
      .mkString(", ")

  /** The trained WordPiece inventory as (piece, body, iscont) VALUES
    * literals — ONE serialization shared by the segment and compare
    * oracles (two hand-maintained copies could silently
    * desynchronize the gates for the same model). Must stay a VALUES
    * table: see CLAUDE.md's recursive-lateral-over-derived-CTE rule.
    */
  private def wpInventoryVals(
      model: graft.ops.WordPieceTrainer.Model): String = {
    val esc = (s: String) => s.replace("'", "''")
    model.pieces
      .map { p =>
        val body = graft.ops.WordPieceTrainer.stripCont(p)
        s"('${esc(p)}', '${esc(body)}', ${p.startsWith("##")})"
      }
      .mkString(", ")
  }

  /** Bigram-profile language scorer shared by q_lang_ngram and
    * q_langid_confusion (one definition so the eval can never drift
    * from the predictor it measures): per-language profile-gram count
    * sums plus the explicit en > de > es > fr tie-precedence argmax.
    */
  private def langNgramScored(d: DataFrame): DataFrame = {
    val profiles = Seq(
      "en" -> Seq("th", "he", "in", "er"),
      "de" -> Seq("ch", "ei", "de", "er"),
      "es" -> Seq("de", "la", "os", "ar"),
      "fr" -> Seq("le", "es", "on", "en"))
    val scored = profiles.foldLeft(d) {
      case (df, (lang, grams)) =>
        df.withColumn(s"score_$lang",
          grams.map(g => regexp_count(col("text"), lit(g))).reduce(_ + _))
    }
    val best = when(
      col("score_en") >= col("score_de") &&
        col("score_en") >= col("score_es") &&
        col("score_en") >= col("score_fr"), "en")
      .when(col("score_de") >= col("score_es") &&
        col("score_de") >= col("score_fr"), "de")
      .when(col("score_es") >= col("score_fr"), "es")
      .otherwise("fr")
    scored.withColumn("pred_lang", best)
  }

  /** One similarity of the standing-index family — PPJoin (exact
    * Jaccard, [[TextDedup]]) or AllPairs (exact cosine,
    * [[graft.ops.CosineAllPairs]]) — as the ops the family's builders
    * call. Every family query runs over (doc_id, text) word
    * 3-shingles with 8 index buckets; τ and the hot-posting audit
    * bound come in per call.
    */
  private sealed trait IndexFamily {
    def pairs(d: DataFrame, tau: Double, bound: Int): DataFrame
    def pairsCapped(d: DataFrame, tau: Double, bound: Int): (DataFrame, DataFrame)
    def pairsAgainst(corpus: DataFrame, batch: DataFrame, tau: Double,
        bound: Int): DataFrame
    def writeIndex(corpus: DataFrame, table: String, path: String,
        tau: Double, bound: Int): Unit
    def appendIndex(s: SparkSession, table: String, batch: DataFrame,
        tau: Double): Unit
    def againstIndexed(s: SparkSession, table: String, batch: DataFrame,
        tau: Double, bound: Int): DataFrame
  }

  private object PPJoin extends IndexFamily {
    def pairs(d: DataFrame, tau: Double, bound: Int): DataFrame =
      TextDedup.prefixJaccardPairs(d, "doc_id", "text", shingleN = 3,
        threshold = tau, maxPrefixPosting = bound)
    def pairsCapped(d: DataFrame, tau: Double, bound: Int): (DataFrame, DataFrame) =
      TextDedup.prefixJaccardPairsCapped(d, "doc_id", "text",
        shingleN = 3, threshold = tau, maxPrefixPosting = bound)
    def pairsAgainst(corpus: DataFrame, batch: DataFrame, tau: Double,
        bound: Int): DataFrame =
      TextDedup.prefixJaccardAgainst(corpus, batch, "doc_id", "text",
        shingleN = 3, threshold = tau, maxPrefixPosting = bound)
    def writeIndex(corpus: DataFrame, table: String, path: String,
        tau: Double, bound: Int): Unit =
      TextDedup.writePrefixIndex(corpus, "doc_id", "text", table,
        buckets = 8, shingleN = 3, threshold = tau,
        pathPrefix = Some(path), maxPrefixPosting = bound)
    def appendIndex(s: SparkSession, table: String, batch: DataFrame,
        tau: Double): Unit =
      TextDedup.appendPrefixIndex(s, table, batch, "doc_id", "text",
        buckets = 8, shingleN = 3, threshold = tau)
    def againstIndexed(s: SparkSession, table: String, batch: DataFrame,
        tau: Double, bound: Int): DataFrame =
      TextDedup.prefixJaccardAgainstIndexed(s, table, batch, "doc_id",
        "text", shingleN = 3, threshold = tau, maxPrefixPosting = bound)
  }

  private object AllPairs extends IndexFamily {
    import graft.ops.CosineAllPairs
    def pairs(d: DataFrame, tau: Double, bound: Int): DataFrame =
      CosineAllPairs.pairs(d, "doc_id", "text", shingleN = 3,
        threshold = tau, maxPrefixPosting = bound)
    def pairsCapped(d: DataFrame, tau: Double, bound: Int): (DataFrame, DataFrame) =
      CosineAllPairs.pairsCapped(d, "doc_id", "text", shingleN = 3,
        threshold = tau, maxPrefixPosting = bound,
        handle = graft.ops.QueryCaches.handle())
    def pairsAgainst(corpus: DataFrame, batch: DataFrame, tau: Double,
        bound: Int): DataFrame =
      CosineAllPairs.pairsAgainst(corpus, batch, "doc_id", "text",
        shingleN = 3, threshold = tau, maxPrefixPosting = bound)
    def writeIndex(corpus: DataFrame, table: String, path: String,
        tau: Double, bound: Int): Unit =
      CosineAllPairs.writeIndex(corpus, "doc_id", "text", table,
        buckets = 8, shingleN = 3, threshold = tau,
        pathPrefix = Some(path), maxPrefixPosting = bound)
    def appendIndex(s: SparkSession, table: String, batch: DataFrame,
        tau: Double): Unit =
      CosineAllPairs.appendIndex(s, table, batch, "doc_id", "text",
        buckets = 8, shingleN = 3, threshold = tau)
    def againstIndexed(s: SparkSession, table: String, batch: DataFrame,
        tau: Double, bound: Int): DataFrame =
      CosineAllPairs.pairsAgainstIndexed(s, table, batch, "doc_id",
        "text", shingleN = 3, threshold = tau, maxPrefixPosting = bound)
  }

  private def below(id: Int): Column = col("doc_id") < id
  private def atLeast(id: Int): Column = col("doc_id") >= id

  /** The capped (lossy) pair join at gate scale, REQUIRED to have
    * dropped no prefix posting — a dropped posting fails by name
    * (worst posting first) instead of as an opaque hash mismatch
    * against the exact oracle.
    */
  private def cappedPairs(query: String, fam: IndexFamily, d: DataFrame,
      tau: Double, resite: String): DataFrame = {
    val (pairs, over) = fam.pairsCapped(d, tau, bound = 200)
    val dropped = over.orderBy(col("n_members").desc, col("shingle"))
      .limit(1).collect()
    require(dropped.isEmpty, {
      val r = dropped.head
      s"$query precondition: the gate-scale cap " +
        s"dropped prefix posting '${r.getString(0)}' " +
        s"(${r.getLong(1)} members > 200) — the exact oracle no " +
        s"longer mirrors the capped plan; re-site $resite"
    })
    pairs.orderBy("a", "b")
  }

  /** Tonight's batch joined against the standing corpus, the rarity
    * rank re-computed over both (no index) at τ 0.8.
    */
  private def incrPairs(fam: IndexFamily, d: DataFrame, corpus: Column,
      batch: Column): DataFrame =
    fam.pairsAgainst(d.filter(corpus), d.filter(batch), tau = 0.8,
      bound = 200).orderBy("a", "b")

  /** The standing-index lifecycle at τ 0.8: build the index over the
    * `built` slice (rerun-safe: the write overwrites), append the
    * `appended` slice under the FROZEN rank when given, then join
    * the `batch` slice against the index.
    */
  private def indexedPairs(s: SparkSession, fam: IndexFamily,
      name: String, d: DataFrame, built: Column, appended: Option[Column],
      batch: Column): DataFrame = {
    val tp = Tables.scratchTable(s, name)
    fam.writeIndex(d.filter(built), tp, Tables.scratchDir(s, tp).toString,
      tau = 0.8, bound = 200)
    appended.foreach(a => fam.appendIndex(s, tp, d.filter(a), tau = 0.8))
    fam.againstIndexed(s, tp, d.filter(batch), tau = 0.8, bound = 200)
      .orderBy("a", "b")
  }

  /** The stage frames of one night's ingest decision, each a
    * (doc_id, text) subset of the batch.
    */
  private final case class Night(gated: DataFrame, exactKeep: DataFrame,
      crossClean: DataFrame, accepted: DataFrame)

  /** The nightly's standing sides, built once per corpus rebuild in
    * production and here inside the query (rerun-safe via overwrite):
    * the corpus's bucketed fingerprint table `fpT` and the family's
    * index `tp`. The writes are independent — overlap them, and any
    * `alongside` action, with `concurrently` (guide §2.6).
    */
  private def buildStanding(s: SparkSession, fam: IndexFamily,
      corpus: DataFrame, fpT: String, tp: String, bound: Int)(
      alongside: (() => Unit)*): Unit =
    graft.ops.ScaleOps.concurrently(Seq[() => Unit](
      () => graft.ops.Corpus.writeCorpusFingerprints(corpus, "text",
        fpT, buckets = 8, path = Some(Tables.scratchDir(s, fpT).toString)),
      () => fam.writeIndex(corpus, tp, Tables.scratchDir(s, tp).toString,
        tau = 0.8, bound = bound)) ++ alongside: _*)

  /** Stage 1 of the nightly decision: the quality gates (pure filter,
    * no shuffle), eagerly checkpointed as every stage frame is (see
    * [[nightStages]]).
    */
  private def gate(batch: DataFrame): DataFrame =
    batch.filter(graft.ops.Corpus.qualityPass(col("text")))
      .transform(graft.ops.QueryCaches.localCheckpoint(_))

  /** Stages 2–4 of the nightly decision over the `gated` batch, at τ
    * 0.8: exact dedup against the bucketed fingerprint table `fpT`,
    * near-dup against the standing index `tp`, then in-batch near-dup
    * (drop the larger id of every qualifying pair).
    *
    * Stage frames are EAGER localCheckpoints, not persists: each
    * stage's plan would embed every upstream stage's full tree through
    * the persisted subplans, and the nesting multiplies — the persist
    * version's final flag-join plan string was 7.9 MB for the Jaccard
    * nightly, 15.7 MB for the two-night loop and 55.9 MB at cosine
    * (driver plan analysis dominated the query, the q_theilsen rule).
    * A checkpoint cuts the plan to a leaf at the same materialization
    * cost an eager count paid. `accepted` is left lazy: a caller that
    * reads it beyond the flag frame checkpoints it.
    */
  private def nightStages(s: SparkSession, fam: IndexFamily, fpT: String,
      tp: String, gated: DataFrame, bound: Int): Night = {
    val exactKeep =
      gated.join(
        graft.ops.Corpus.incrementalDedupBucketed(s, fpT, gated,
          "doc_id", "text").select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
        .transform(graft.ops.QueryCaches.localCheckpoint(_))
    val crossClean =
      exactKeep.join(
        fam.againstIndexed(s, tp, exactKeep, tau = 0.8, bound = bound)
          .select(col("a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
        .transform(graft.ops.QueryCaches.localCheckpoint(_))
    val accepted = crossClean.join(
      fam.pairs(crossClean, tau = 0.8, bound = bound)
        .select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    Night(gated, exactKeep, crossClean, accepted)
  }

  /** One row per batch doc with its four stage flags. */
  private def nightFlags(batch: DataFrame, n: Night): DataFrame = {
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.select(col("doc_id"), lit(true).as(name))
    batch.select("doc_id")
      .join(flag(n.gated.select("doc_id"), "gate_pass"), Seq("doc_id"), "left")
      .join(flag(n.exactKeep.select("doc_id"), "exact_keep"), Seq("doc_id"), "left")
      .join(flag(n.crossClean.select("doc_id"), "corpus_clean"), Seq("doc_id"), "left")
      .join(flag(n.accepted.select("doc_id"), "accepted"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("gate_pass"), lit(false)).as("gate_pass"),
        coalesce(col("exact_keep"), lit(false)).as("exact_keep"),
        coalesce(col("corpus_clean"), lit(false)).as("corpus_clean"),
        coalesce(col("accepted"), lit(false)).as("accepted"))
  }

  /** The single-night decision: corpus doc_id < 250, batch >= 250, at
    * the family's audit bound 200. The batch gate is independent of
    * the standing-side builds, so it overlaps them; `gated` is
    * published by the happens-before of the concurrently() join.
    */
  private def nightly(s: SparkSession, fam: IndexFamily, d: DataFrame,
      fpName: String, indexName: String): DataFrame = {
    val corpus = d.filter(below(250))
    val batch = d.filter(atLeast(250))
    val fpT = Tables.scratchTable(s, fpName)
    val tp = Tables.scratchTable(s, indexName)
    var gated: DataFrame = null
    buildStanding(s, fam, corpus, fpT, tp, bound = 200)(
      () => gated = gate(batch))
    nightFlags(batch, nightStages(s, fam, fpT, tp, gated, bound = 200))
      .orderBy("doc_id")
  }

  /** The queries that run under query-scoped bytes-based AQE sizing
    * ([[graft.ops.ScaleOps.byteSizedAqe]] doc): the standing-index
    * family's many byte-small persisted frames each feed dozens of
    * cheap stages — width × fixed task cost dominates at full session
    * width. `queries` applies the opt-in before each body runs.
    */
  val byteSizedAqeQueries: Set[String] = Set(
    "q_prefix_jaccard", "q_prefix_jaccard_capped", "q_prefix_jaccard_incr",
    "q_prefix_jaccard_incr_idx", "q_prefix_jaccard_incr_append",
    "q_pipeline_nightly", "q_pipeline_nightly2", "q_pipeline_nightly_cos",
    "q_cosine_allpairs", "q_cosine_allpairs_capped", "q_cosine_incr",
    "q_cosine_incr_idx", "q_cosine_incr_append")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // Token counting: whitespace tokens + regex word tokens.
    "q_token_stats" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(toks(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z0-9]+")).as("n_words"),
        length(col("text")).as("len_text"))
        .orderBy("doc_id")),

    // Quality scoring: length / token-count / stopword-ratio gates.
    "q_quality" -> ((s, dir) => {
      val tk = toks(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        size(tk).as("n_tokens"),
        size(filter(tk, x => x.isInCollection(stopWords))).as("n_stop"),
        length(col("text")).as("len_text"),
        // the shared gate predicate — same definition as curate and
        // the streaming curation, so the reported flag cannot drift
        graft.ops.Corpus.qualityPass(col("text")).as("quality_ok"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens").cast("double"))
        .select("doc_id", "n_tokens", "n_stop", "len_text",
          "stop_ratio", "quality_ok")
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: English-marker token ratio.
    "q_lang_id" -> ((s, dir) => {
      val tk = toks(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        (size(filter(tk, x => x.isInCollection(Seq("the", "a"))))
          .cast("double") / size(tk).cast("double")).as("en_ratio"))
        .withColumn("pred_lang",
          when(col("en_ratio") >= 0.08, "en").otherwise("unk"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: md5 of normalized text + 60-bit prefix.
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .withColumn("fp64",
          conv(substring(col("fp"), 1, 15), 16, 10).cast("long"))
        .orderBy("doc_id")),

    // Exact dedup: hash-groupBy on the normalized fingerprint.
    "q_dedup_exact" -> ((s, dir) =>
      TextDedup.exact(docs(s, dir), "doc_id", "text").orderBy("fp")),

    // n-gram (bigram) Jaccard near-dup — exhaustive pairwise over a
    // bounded slice (the honest brute-force baseline).
    "q_dedup_ngram" -> ((s, dir) => {
      val sh = TextDedup.shingles(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text", 2)
        .transform(graft.ops.QueryCaches.persist) // three branches: x/y join sides + sizes
      TextDedup.verifiedJaccard(sh, "doc_id", cand = null, threshold = 0.5)
        .orderBy("a", "b")
    }),

    // Prefix-filtered exact Jaccard pairs (PPJoin candidate rule) —
    // the third candidate-generation idiom beside MinHash banding and
    // the capped posting join: only each document's rarest
    // `sz − floor(τ·sz) + 1` shingles enter the pair join, survivors
    // verify exactly. The oracle computes ground truth from the FULL
    // posting join with no prefix machinery, so a hash match proves
    // the prefix rule lossless corpus-wide (and exact — no false
    // positives), the q_jaccard_capped gate pattern. Corpus-wide (no
    // doc_id bound): the prefix join is the production plan. The
    // hot-posting AUDIT runs here too (maxPrefixPosting): rarity
    // ordering bounds prefix postings on any realistic corpus, and
    // the audit fails loudly — worst posting named — if a degenerate
    // corpus ever concentrates one (measured sf0.1 worst: 8; the
    // lossy capped twin is prefixJaccardPairsCapped).
    "q_prefix_jaccard" -> ((s, dir) =>
      PPJoin.pairs(docs(s, dir), tau = 0.8, bound = 200).orderBy("a", "b")),

    // The lossy production twin, driver-gated the GateScale.uncapped
    // way: at gate scale the cap provably drops nothing (REQUIRED by
    // name — a regenerated corpus that concentrates a prefix
    // posting must fail legibly, not as an opaque hash mismatch), so
    // the capped plan's output is hash-comparable to the same exact
    // ground-truth oracle; the cap's lossy path and drop accounting
    // are spec-pinned on a planted degenerate corpus (TextDedupSpec).
    // Corpus-wide at tau=0.9 — a DIFFERENT operating point from
    // q_prefix_jaccard's 0.8 (a ~10% prefix, so the capped plan is
    // exercised at the tightest, cheapest prefix the family ships;
    // a doc_id slice would be structurally empty at sf0.1, where dup
    // partners scatter across the whole id range).
    "q_prefix_jaccard_capped" -> ((s, dir) =>
      cappedPairs("q_prefix_jaccard_capped", PPJoin, docs(s, dir),
        tau = 0.9, resite = "the cap or the slice")),

    // Nightly-incremental PPJoin (TextDedup.prefixJaccardAgainst):
    // tonight's batch (docs >= 250) exact-Jaccard-joined against the
    // standing corpus (docs < 250) at tau=0.8 — the incremental shape
    // the other dedup families have (q_dedup_incremental,
    // q_cdc_chunks_incr) at exact-threshold semantics. The rarity
    // rank spans corpus ∪ batch (the cross-prefix theorem needs one
    // total order); the oracle computes the cross posting join with
    // no prefix machinery, so a hash match proves the cross-side
    // prefix rule lossless too. Runs the family's hot-posting audit
    // at the same gate bound as q_prefix_jaccard.
    "q_prefix_jaccard_incr" -> ((s, dir) =>
      incrPairs(PPJoin, docs(s, dir), corpus = below(250),
        batch = atLeast(250))),

    // The PRODUCTION twin of q_prefix_jaccard_incr (VERDICT r16 #1):
    // the standing corpus's rank/prefix/posting tables are written
    // ONCE as bucketed, key-sorted external tables
    // (TextDedup.writePrefixIndex — the writeCorpusFingerprints
    // layout), and the nightly join reads them with ZERO exchange on
    // every corpus side (PlanSpec-pinned) — tonight's cost is
    // batch-sized. Exactness with the frozen corpus rank: the prefix
    // theorem is order-agnostic, and new batch shingles (absent from
    // the corpus) order FIRST among themselves by shingle — corpus
    // docs contain none of them, so the stored corpus prefixes remain
    // true prefixes of the extended order (no recall trade; the same
    // exact cross-pairs oracle as the re-ranking variant proves it
    // corpus-wide). Same slices and gate-scale audit bound as
    // q_prefix_jaccard_incr.
    "q_prefix_jaccard_incr_idx" -> ((s, dir) =>
      indexedPairs(s, PPJoin, "graft_ppjidx", docs(s, dir),
        built = below(250), appended = None, batch = atLeast(250))),

    // The index LIFECYCLE gate: build on half the standing corpus
    // (doc_id < 150), APPEND the other half (150..249 — tonight's
    // accepted docs joining the index under the FROZEN rank, the
    // TextDedup.appendPrefixIndex contract), then run the nightly
    // against the extended index. Ground truth is the SAME cross-pairs
    // oracle as q_prefix_jaccard_incr — a hash match proves appended
    // documents participate exactly (their prefixes are true prefixes
    // of the frozen total order even when their shingles never
    // appeared in the rank table). writePrefixIndex's overwrite mode
    // makes the query rerun-safe in one JVM (Bench runs it twice).
    "q_prefix_jaccard_incr_append" -> ((s, dir) =>
      indexedPairs(s, PPJoin, "graft_ppjapp", docs(s, dir),
        built = below(150), appended = Some(atLeast(150) && below(250)),
        batch = atLeast(250))),

    // The composed NIGHTLY INGEST decision — the production loop the
    // standing-corpus artifacts exist for, one row per batch doc with
    // its stage verdicts (nightStages): (1) quality gates (pure
    // filter, no shuffle); (2) exact dedup — in-batch keep-min-id per
    // fingerprint, then anti-join the corpus's bucketed fingerprint
    // table (zero corpus exchange — upgrades
    // Corpus.writeCorpusFingerprints from spec-level to
    // driver-gated); (3) corpus near-dup — the indexed PPJoin against
    // the standing prefix index (zero corpus exchange); (4) in-batch
    // near-dup — conservative drop of the LARGER id of every
    // qualifying pair (deterministic and oracle-expressible as
    // EXISTS; a chain a~b~c keeps only a). Output: all-boolean stage
    // flags per batch doc — no float surface at all (pair thresholds
    // compare raw quotients on both engines, the incr-oracle idiom).
    "q_pipeline_nightly" -> ((s, dir) =>
      nightly(s, PPJoin, docs(s, dir), "graft_night_fp", "graft_night_ppj")),

    // The FULL nightly lifecycle loop (two nights): night 1 runs the
    // composed decision (gates -> exact dedup vs corpus fingerprints
    // -> near-dup vs the standing prefix index -> in-batch near-dup),
    // then its ACCEPTED docs join the standing sides incrementally —
    // fingerprints via Corpus.appendCorpusFingerprints, prefixes via
    // TextDedup.appendPrefixIndex under the FROZEN rank — and night 2
    // runs the same decision against the EXTENDED sides. The gate
    // proves night 2 SEES night 1's accepted docs (an exact or near
    // dup of an accepted night-1 doc must be rejected in night 2)
    // without any corpus rebuild. Oracle replays both nights from
    // scratch with corpus-2 = corpus UNION night-1 accepted. Audit
    // bound 400 (not the family's 200): the appended night-1 docs
    // legitimately grow touched corpus postings — exactly the drift
    // the reader's touched-posting audit measures.
    "q_pipeline_nightly2" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(below(250))
      val b1 = d.filter(atLeast(250) && below(375))
      val b2 = d.filter(atLeast(375))
      val fpT = Tables.scratchTable(s, "graft_n2_fp")
      val tp = Tables.scratchTable(s, "graft_n2_ppj")
      buildStanding(s, PPJoin, corpus, fpT, tp, bound = 400)()
      // one night's decision against whatever fpT/tp hold when it
      // runs — returns (flags, accepted docs). `accepted` is an eager
      // checkpoint too: every stage frame is then an RDD-backed leaf,
      // which pins the night to the PRE-append table state (the
      // appends below cannot invalidate it), and the flag frame reads
      // only those leaves + the batch scan.
      def night(batch: DataFrame): (DataFrame, DataFrame) = {
        val st = nightStages(s, PPJoin, fpT, tp, gate(batch), bound = 400)
        val acc = st.accepted.transform(graft.ops.QueryCaches.localCheckpoint(_))
        (nightFlags(batch, st.copy(accepted = acc)), acc)
      }
      val (f1, acc1) = night(b1)
      // the two appends target independent tables and read only the
      // checkpointed acc1 leaf — overlap them (guide §2.6)
      graft.ops.ScaleOps.concurrently(
        () => graft.ops.Corpus.appendCorpusFingerprints(acc1, "text",
          fpT, buckets = 8),
        () => PPJoin.appendIndex(s, tp, acc1, tau = 0.8))
      val (f2, _) = night(b2)
      f1.withColumn("night", lit(1))
        .unionAll(f2.withColumn("night", lit(2)))
        .select(col("doc_id"), col("night"), col("gate_pass"),
          col("exact_keep"), col("corpus_clean"), col("accepted"))
        .orderBy("doc_id")
    }),

    // The composed nightly at COSINE semantics — the production loop
    // for the round's cosine index: quality gates -> exact dedup vs
    // the corpus's bucketed fingerprint table -> near-dup vs the
    // standing COSINE index (CosineAllPairs.pairsAgainstIndexed,
    // freeze-and-compensate) -> conservative in-batch cosine near-dup
    // (drop the larger id of every qualifying pair). Same all-boolean
    // flag surface as q_pipeline_nightly; the oracle replays all four
    // stages from scratch with the full tf posting joins and the
    // all-integer threshold — a hash match proves the indexed cosine
    // path composes exactly in the decision loop.
    "q_pipeline_nightly_cos" -> ((s, dir) =>
      nightly(s, AllPairs, docs(s, dir), "graft_nightc_fp", "graft_nightc_cos")),

    // Exact cosine-threshold pairs over shingle-tf vectors — the
    // AllPairs prefix filter (Bayardo et al. WWW'07), the exact
    // cosine companion to q_prefix_jaccard. The oracle computes
    // ground truth from the FULL tf posting join with no prefix
    // machinery, so a hash match proves the suffix-bound prefix rule
    // lossless corpus-wide; the threshold decision is the all-integer
    // num² >= τ²·(na2·nb2) comparison written with the identical
    // association on both engines (no boundary-row float risk). Runs
    // the family's hot-posting audit at the shared gate bound.
    "q_cosine_allpairs" -> ((s, dir) =>
      AllPairs.pairs(docs(s, dir), tau = 0.8, bound = 200).orderBy("a", "b")),

    // The capped (lossy) twin at a NON-tripping cap equals the exact
    // join — the q_prefix_jaccard_capped gate shape at cosine
    // semantics: same full-posting ground truth at tau = 0.9 (the
    // tightest prefix the family ships), with the run-time REQUIRE
    // proving the cap genuinely did not drop a posting at gate scale
    // (the lossy path and drop accounting are spec-pinned on planted
    // degenerate corpora in CosineAllPairsSpec).
    "q_cosine_allpairs_capped" -> ((s, dir) =>
      cappedPairs("q_cosine_allpairs_capped", AllPairs, docs(s, dir),
        tau = 0.9, resite = "the cap")),

    // Nightly-incremental cosine AllPairs (CosineAllPairs
    // .pairsAgainst) — the cosine twin of q_prefix_jaccard_incr:
    // tonight's batch (>= 250) exactly cosine-joined against the
    // standing corpus (< 250) at tau=0.8 over shingle-tf vectors. The
    // rarity rank spans corpus UNION batch and maxw is the union max
    // per shingle (a batch doc can RAISE a shingle's max weight — a
    // corpus-frozen maxw would silently under-include). The oracle
    // computes the cross pairs from the FULL tf posting join with no
    // prefix machinery, so a hash match proves the cross-side suffix
    // bound lossless corpus-wide. Runs the family's hot-posting audit
    // (both factors: postings counted across corpus+batch) at the
    // shared gate bound.
    "q_cosine_incr" -> ((s, dir) =>
      incrPairs(AllPairs, docs(s, dir), corpus = below(250),
        batch = atLeast(250))),

    // The PRODUCTION twin of q_cosine_incr (the CosineAllPairs
    // .writeIndex lifecycle — the cosine member of the standing-index
    // family): the corpus's rank/maxw/prefix/tf tables are written
    // ONCE as bucketed external tables and the nightly reads them
    // with zero corpus-side exchange. The cosine-specific contract
    // the Jaccard index doesn't need: per-shingle max unit weights
    // are FROZEN at build, the reader detects the shingles tonight's
    // batch RAISES and injects their exact full-posting candidates
    // (freeze-and-compensate — lossless either way, proven by the
    // SAME full-posting ground-truth oracle as q_cosine_incr).
    "q_cosine_incr_idx" -> ((s, dir) =>
      indexedPairs(s, AllPairs, "graft_cosidx", docs(s, dir),
        built = below(250), appended = None, batch = atLeast(250))),

    // The cosine index LIFECYCLE gate: build on half the standing
    // corpus, APPEND the other half (CosineAllPairs.appendIndex —
    // frozen rank rows never update; new shingles join order-class
    // one with rn null, and appended docs that RAISE a frozen max
    // weight land in the `_raised` log the reader compensates from),
    // then run the nightly. Ground truth is the SAME cross-pairs
    // oracle as q_cosine_incr — a hash match proves appended docs
    // participate exactly through the freeze-and-compensate path.
    "q_cosine_incr_append" -> ((s, dir) =>
      indexedPairs(s, AllPairs, "graft_cosapp", docs(s, dir),
        built = below(150), appended = Some(atLeast(150) && below(250)),
        batch = atLeast(250))),

    // Exact repeated-substring removal plan (TextDedup
    // .substringRemovalPlan) — the ExactSubstr step: cut every 40-char
    // span that appears verbatim >= 2 times corpus-wide, merged into
    // disjoint per-doc intervals. Distinct from the document-level
    // dedups above: documents survive, only the verbatim-repeated
    // spans are scheduled for removal. All-integer output (positions),
    // so the gate has no float surface at all.
    "q_dedup_substring" -> ((s, dir) =>
      TextDedup.substringRemovalPlan(docs(s, dir), "doc_id", "text",
        gramLen = 40, minCount = 2,
        handle = graft.ops.QueryCaches.handle())
        .withColumn("n_cut", col("cut_end") - col("cut_start"))
        .orderBy("doc_id", "cut_start")),

    // The removal plan rolled up to the decision report: per SOURCE,
    // how much of the text is verbatim-repeated boilerplate (cut
    // chars / total chars). A LEFT join keeps cut-free sources at
    // ratio 0 — the number a curation run reads before deciding which
    // feeds to drop. Integer sums; one rounded division.
    "q_dedup_substring_stats" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("source"),
          length(lower(trim(col("text")))).cast("long").as("len"))
      val cuts = TextDedup.substringRemovalPlan(docs(s, dir), "doc_id",
        "text", gramLen = 40, minCount = 2,
        handle = graft.ops.QueryCaches.handle())
        .groupBy("doc_id")
        .agg(sum((col("cut_end") - col("cut_start")).cast("long"))
          .as("cut"))
      d.join(cuts, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("n_chars"),
          coalesce(sum(col("cut")), lit(0L)).as("n_cut"),
          count(col("cut")).as("n_docs_cut"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("n_cut"), col("n_docs_cut"),
          round(col("n_cut").cast("double") /
            col("n_chars").cast("double"), 6).as("cut_ratio_r"))
        .orderBy("source")
    }),

    // MinHash + LSH banding (trigram shingles, 6 hashes, 3 bands of 2)
    // → candidate pairs → verified with true Jaccard >= 0.8. This is
    // the dedup scale path: cost O(n · shingles), pairs only within
    // colliding buckets.
    // maxBucket = MaxValue: the DuckDB oracle mines pairs uncapped, so
    // the gate query must too (the library default cap stays for real
    // pipelines; the cap itself is spec-pinned in TextDedupSpec).
    "q_dedup_minhash" -> ((s, dir) =>
      TextDedup.minhashDedup(
        docs(s, dir).filter(col("doc_id") < 2000), "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue)
        .orderBy("a", "b")),

    // Full dedup decision: minhash near-dup pairs → connected
    // components → (doc_id, cluster_id). Oracle side is a recursive
    // CTE reachability closure over the same pair set.
    "q_dedup_cluster" -> ((s, dir) => {
      val scoped = docs(s, dir).filter(col("doc_id") < 2000)
      val pairs = TextDedup.minhashDedup(scoped, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue) // uncapped: mirrors the oracle CTE
        .select("a", "b").transform(graft.ops.QueryCaches.persist)
      TextDedup.clusters(scoped.select("doc_id"), pairs)
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // Cross-source duplication matrix — the provenance report after
    // near-dup mining: which source pairs share near-duplicate
    // documents (mirror sites, syndication, scraped re-posts). The
    // verified minhash pair set joins the tiny (doc → source) lookup
    // twice; output is bounded by sources² however large the corpus.
    // The pair endpoints are ordered per row so the matrix is
    // triangular regardless of mining order.
    "q_source_overlap" -> ((s, dir) => {
      val scoped = docs(s, dir).filter(col("doc_id") < 2000)
        .transform(graft.ops.QueryCaches.persist) // pairs + 2 lookups
      val pairs = TextDedup.minhashDedup(scoped, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue) // uncapped: mirrors the oracle CTE
        .select("a", "b")
      val src = scoped.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a"),
          col("source").as("src_a")), "a")
        .join(src.select(col("doc_id").as("b"),
          col("source").as("src_b")), "b")
        .select(least(col("src_a"), col("src_b")).as("s1"),
          greatest(col("src_a"), col("src_b")).as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
        .orderBy("s1", "s2")
    }),

    // Incremental clustering — the nightly shape of q_dedup_cluster:
    // yesterday's labels survive as STAR EDGES (doc → its cluster
    // representative, one edge per labeled node — the contracted
    // graph, not yesterday's full edge set), union today's new pairs,
    // one components run. The result provably equals the full
    // recompute (star edges preserve both connectivity and the
    // min-member label), which is exactly what the shared recursive-
    // closure oracle checks. At 100 TB the nightly input is |V_old| +
    // |new pairs|, never the historical pair set.
    "q_cluster_incremental" -> ((s, dir) => {
      val scoped = docs(s, dir).filter(col("doc_id") < 2000)
      val pairs = TextDedup.minhashDedup(scoped, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue) // uncapped: mirrors the oracle CTE
        .select("a", "b").transform(graft.ops.QueryCaches.persist)
      val cut = 1000L
      val oldLabels = TextDedup.clusters(
        scoped.filter(col("doc_id") < cut).select("doc_id"),
        pairs.filter(col("a") < cut && col("b") < cut))
        .toDF("doc_id", "cluster_id")
      val starEdges = oldLabels
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("a"), col("cluster_id").as("b"))
      val newPairs = pairs.filter(col("a") >= cut || col("b") >= cut)
      TextDedup.clusters(scoped.select("doc_id"),
        starEdges.unionByName(newPairs))
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // Near-dup-aware representative selection — the curation step
    // AFTER clustering: keep the best member of every duplicate
    // family (longest doc, ties to the smallest id) instead of the
    // arbitrary first. One aggregate-argmin (min-struct, the CLAUDE
    // idiom) over the cluster join — no window sort on the scale
    // path.
    "q_cluster_best" -> ((s, dir) => {
      val scoped = docs(s, dir).filter(col("doc_id") < 2000)
        .transform(graft.ops.QueryCaches.persist) // pairs + quality read it
      val pairs = TextDedup.minhashDedup(scoped, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue)
        .select("a", "b").transform(graft.ops.QueryCaches.persist)
      val cl = TextDedup.clusters(scoped.select("doc_id"), pairs)
        .toDF("doc_id", "cluster_id")
      val qual = scoped.select(col("doc_id"),
        coalesce(size(split(trim(col("text")), " ")).cast("long"), lit(0L))
          .as("n_tokens"))
      cl.join(qual, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).cast("long").as("n_members"),
          min(struct((-col("n_tokens")).as("negn"), col("doc_id").as("id")))
            .as("m"))
        .select(col("cluster_id"), col("m.id").as("kept_doc_id"),
          (-col("m.negn")).as("kept_n_tokens"), col("n_members"))
        .orderBy("cluster_id")
    }),

    // Duplicate-family size distribution — the first report run after
    // a dedup pass ("how much of the corpus is families of size k"):
    // minhash pairs → connected components → histogram of cluster
    // sizes. Bounded slice keeps the gate cheap; the shape is two
    // keyed aggregates over the cluster output.
    "q_cluster_sizes" -> ((s, dir) => {
      val scoped = docs(s, dir).filter(col("doc_id") < 1000)
      val pairs = TextDedup.minhashDedup(scoped, "doc_id", "text",
        shingleN = 3, numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue)
        .select("a", "b").transform(graft.ops.QueryCaches.persist)
      TextDedup.clusters(scoped.select("doc_id"), pairs)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).cast("long").as("n_clusters"))
        .select(col("sz").cast("long").as("cluster_size"),
          col("n_clusters"))
        .orderBy("cluster_size")
    }),

    // Dedup index quality measured IN-ENGINE: banding recall of the
    // MinHash LSH pipeline vs exact-Jaccard ground truth on the
    // bounded slice — the dedup twin of q_ann_recall. Verified LSH
    // pairs are a subset of truth by construction (candidates are
    // true-Jaccard-checked), so recall = found/true; below 1 means
    // banding misses (pairs whose 6 minhashes never agree on a full
    // band) — the number you tune bands/hashes against before a
    // corpus-wide run.
    "q_minhash_recall" -> ((s, dir) => {
      val slice = docs(s, dir).filter(col("doc_id") < 1000)
      val sh = TextDedup.shingles(slice, "doc_id", "text", n = 3)
        .transform(graft.ops.QueryCaches.persist) // both truth join sides
      val truth = TextDedup.verifiedJaccard(sh, "doc_id", cand = null,
        threshold = 0.8)
      // the LSH side reuses the SAME persisted shingle set the ground
      // truth scored — one corpus explode serves both measurements
      val found = TextDedup.minhashDedupFromShingles(sh, "doc_id",
        numHashes = 6, bands = 3, threshold = 0.8,
        maxBucket = Int.MaxValue)
      truth.agg(count(lit(1)).cast("long").as("n_true"))
        .crossJoin(found.agg(count(lit(1)).cast("long").as("n_found")))
        .select(col("n_true"), col("n_found"),
          round(when(col("n_true") === 0L, lit(1.0))
            .otherwise(col("n_found").cast("double") /
              col("n_true").cast("double")), 6).as("recall_r"))
    }),

    // LSH banding S-curve measured on REAL data — the tuning artifact
    // behind q_minhash_recall's single point: recall of every valid
    // (bands, rows) regrouping of the SAME 6-hash signatures
    // (1×6, 2×3, 3×2, 6×1) against the exact-Jaccard truth. One
    // shingle explode and one signature aggregate serve all four
    // configs (banding only regroups signature columns); the bounded
    // slice keeps the all-pairs truth affordable, exactly as the
    // recall gate does.
    "q_banding_curve" -> ((s, dir) => {
      val slice = docs(s, dir).filter(col("doc_id") < 1000)
      val sh = TextDedup.shingles(slice, "doc_id", "text", n = 3)
        .transform(graft.ops.QueryCaches.persist) // truth + verify arms
      // ONE signature aggregate serves all four configs — banding
      // only regroups signature columns
      val sig = TextDedup.minhashSignatures(sh, "doc_id", numHashes = 6)
        .transform(graft.ops.QueryCaches.persist) // cand + flag joins
      sig.count() // eager: concurrent arms race a lazy cache into
      // recomputes (r9 lesson); materializes sh in the same pass
      val truth = TextDedup.verifiedJaccard(sh, "doc_id", cand = null,
        threshold = 0.8)
        .agg(count(lit(1)).cast("long").as("n_true"))
      // ONE candidate set and ONE verification serve all four
      // configs: the b=6 single-hash bands are a SUPERSET of every
      // valid regrouping's candidates (agreeing on a multi-hash band
      // implies agreeing on each of its single-hash bands), so
      // cand_b = cand_6 ∩ band-agreement(b) — config membership is a
      // projection over the verified pairs, not four verify joins
      // (the b=1/2/3 verification legs were ~half the query's task
      // time for answers the b=6 leg already contained).
      val cand6 = graft.ops.TextDedup.lshCandidates(
        TextDedup.lshBands(sig, "doc_id", numHashes = 6, bands = 6),
        "doc_id", maxBucket = Int.MaxValue)
      def agree(b: Int): Column = {
        val rows = 6 / b
        (0 until b).map { bi =>
          (0 until rows).map(r =>
            col(s"sa.mh${bi * rows + r}") === col(s"sb.mh${bi * rows + r}"))
            .reduce(_ && _)
        }.reduce(_ || _)
      }
      val flags = TextDedup.verifiedJaccard(sh, "doc_id", cand6,
        threshold = 0.8)
        .select(col("a"), col("b"))
        .join(sig.as("sa"), col("a") === col("sa.doc_id"))
        .join(sig.as("sb"), col("b") === col("sb.doc_id"))
        .select(agree(1).as("f1"), agree(2).as("f2"),
          agree(3).as("f3"), agree(6).as("f6"))
        .transform(graft.ops.QueryCaches.persist) // 4 count arms
      flags.count() // eager, same race
      val rows = Seq(1, 2, 3, 6).map { b =>
        flags.filter(col(s"f$b"))
          .agg(count(lit(1)).cast("long").as("n_found"))
          .select(lit(b.toLong).as("bands"), col("n_found"))
      }.reduce(_ unionByName _)
      rows.crossJoin(broadcast(truth))
        .select(col("bands"), col("n_true"), col("n_found"),
          round(when(col("n_true") === 0L, lit(1.0))
            .otherwise(col("n_found").cast("double") /
              col("n_true").cast("double")), 6).as("recall_r"))
        .orderBy("bands")
    }),

    // The other half of the q_minhash_recall measurement: banding
    // PRECISION — what fraction of LSH candidate pairs survive true-
    // Jaccard verification. Recall prices missed dups; precision
    // prices the verification bill (at 100 TB the candidate count IS
    // the dominant cost of the verify stage, so this is the number
    // that says whether b/r is wasting it). Same one shingle explode
    // and one signature aggregate as the recall gate.
    "q_dedup_precision" -> ((s, dir) => {
      val slice = docs(s, dir).filter(col("doc_id") < 1000)
      val sh = TextDedup.shingles(slice, "doc_id", "text", n = 3)
        .transform(graft.ops.QueryCaches.persist) // cand + verify arms
      val bandsDf = TextDedup.lshBands(
        TextDedup.minhashSignatures(sh, "doc_id", numHashes = 6),
        "doc_id", numHashes = 6, bands = 3)
      val cand = graft.ops.TextDedup.lshCandidates(bandsDf, "doc_id",
        maxBucket = Int.MaxValue)
        .transform(graft.ops.QueryCaches.persist)
      cand.count() // eager: the count arm and the verify arm race a
      // lazy cache into recomputing the signature chain (r9 lesson);
      // this also materializes sh in the same pass
      val nCand = cand.agg(count(lit(1)).cast("long").as("n_cand"))
      val nVer = TextDedup.verifiedJaccard(sh, "doc_id", cand,
        threshold = 0.8)
        .agg(count(lit(1)).cast("long").as("n_verified"))
      nCand.crossJoin(nVer)
        .select(col("n_cand"), col("n_verified"),
          round(when(col("n_cand") === 0L, lit(1.0))
            .otherwise(col("n_verified").cast("double") /
              col("n_cand").cast("double")), 6).as("precision_r"))
    }),

    // Segment-level dedup with reassembly (C4-style line dedup over
    // fixed 8-token spans): keep each distinct span's first
    // occurrence corpus-wide, rebuild documents from survivors.
    // One exchange on the span fingerprint + one keyed reassembly.
    "q_dedup_lines" -> ((s, dir) =>
      TextDedup.dedupSegments(docs(s, dir), "doc_id", "text",
        segTokens = 8)
        .orderBy("doc_id")),

    // Incremental segment dedup — the nightly C4-style shape: spans
    // the standing corpus (docs < 250) already holds drop everywhere
    // in tonight's batch; among genuinely new spans the first in-batch
    // occurrence wins. Production keeps the corpus span fingerprints
    // bucketed on disk (TextDedup.writeSegmentFingerprints) so the
    // corpus side never exchanges (spec-pinned in TextDedupSpec).
    "q_dedup_lines_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpusFps = TextDedup.segments(
        d.filter(col("doc_id") < 250), "doc_id", "text", 8)
        .select(md5(col("seg")).as("seg_fp")).distinct()
      TextDedup.dedupSegmentsAgainst(
        d.filter(col("doc_id") >= 250), "doc_id", "text", corpusFps, 8)
        .orderBy("doc_id")
    }),

    // Content-defined chunking dedup (FastCDC-style gear hash,
    // graft.expr.GearChunks): chunk each document's UTF-8 bytes at
    // content-defined boundaries (maskBits=5 → expected ~32-byte
    // chunks past min=8, forced cut at 64 — tiny widths per the
    // fixed-vocab rule, so the gate corpus actually produces dup
    // chunks), fingerprint each chunk via the engine-portable
    // hex-slice md5 (CLAUDE.md: DuckDB BLOB substring), and mark
    // every non-first occurrence corpus-wide. This is the byte-level
    // dedup primitive for payload columns where an insert shifts
    // every FIXED block but leaves content-defined boundaries after
    // the edit intact. Scale shape: one scan + one fp-keyed window
    // (distributes on fp); the chunker is a per-row kernel inside
    // whole-stage codegen.
    "q_cdc_chunks" -> ((s, dir) => {
      val ch = cdcChunkFrame(s, dir)
      val w = Window.partitionBy("fp").orderBy("doc_id", "off")
      ch.withColumn("is_dup",
          when(row_number().over(w) > 1, 1).otherwise(0))
        .orderBy("doc_id", "off")
    }),

    // Incremental CDC dedup — the nightly chunk-store shape: tonight's
    // batch (docs >= 250) chunks are flagged against the standing
    // corpus's (docs < 250) distinct chunk fingerprints — a crawl
    // re-scrape pays storage only for chunks the store doesn't hold.
    // One fp-keyed left join; the shared chunk frame is persisted
    // (two branches — the self-join re-execution rule).
    "q_cdc_chunks_incr" -> ((s, dir) => {
      val ch = cdcChunkFrame(s, dir)
        .transform(graft.ops.QueryCaches.persist)
      val corpus = ch.filter(col("doc_id") < 250)
        .select(col("fp")).distinct().withColumn("known", lit(1))
      ch.filter(col("doc_id") >= 250)
        .join(corpus, Seq("fp"), "left")
        .select(col("doc_id"), col("off"), col("len"), col("fp"),
          coalesce(col("known"), lit(0)).as("is_known"))
        .orderBy("doc_id", "off")
    }),

    // Language-ID via character-n-gram profiles: score each language
    // by occurrences of its characteristic bigrams, argmax with
    // deterministic tie-break. (Real systems learn the profiles; the
    // fixed lists keep both engines bit-identical.)
    "q_lang_ngram" -> ((s, dir) =>
      langNgramScored(docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("score_en"), col("score_de"),
          col("score_es"), col("score_fr"), col("pred_lang"))
        .orderBy("doc_id")),

    // Language-ID evaluation: the bigram-profile predictor's confusion
    // matrix against the labeled `lang` column, with per-actual-lang
    // fractions — the eval a production lang filter ships with
    // (zh has no profile, so its row shows where unprofiled languages
    // land). Exact counts + one keyed total join.
    "q_langid_confusion" -> ((s, dir) => {
      val p = langNgramScored(
        docs(s, dir).select(col("doc_id"), col("lang"), col("text")))
      val c = p.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).cast("long").as("n"))
      val tot = c.groupBy("lang").agg(sum(col("n")).as("n_lang"))
      c.join(tot, "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("n_lang").cast("double"), 6)
            .as("frac_r"))
        .orderBy("lang", "pred_lang")
    }),

    // BPE-ish tokenization: GPT-2-style pre-tokenizer regex (word /
    // number / punctuation-run / whitespace-prefix classes).
    "q_token_bpe" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"),
          lit("'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"))
          .as("n_bpe_tokens"),
        size(toks(col("text"))).as("n_ws_tokens"))
        .orderBy("doc_id")),

    // Repetition scoring (Gopher-style quality rule): the duplicated
    // word-bigram fraction per document — machine-generated and
    // boilerplate text repeats locally, and this gate catches it
    // without any dedup pass. Pure scan + explode + per-doc aggregate:
    // one keyed exchange, no joins.
    "q_repetition" -> ((s, dir) =>
      graft.ops.Corpus.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Winnowing document fingerprints: rolling hash over char 5-grams,
    // per-position window minimum (w=4), distinct selected prints.
    // This is the standard local fingerprinting scheme (MOSS-style):
    // output count + min/max print per doc keeps rows compact.
    "q_winnow_fp" -> ((s, dir) => {
      val grams = docs(s, dir)
        // spread BEFORE the ~|text|-per-row gram fan-out: the
        // single-file source otherwise runs the whole explode+hash
        // map stage in one task (measured 3.1 s of a 3.9 s pass)
        .transform(d => d.repartition(graft.ops.ScaleOps.fanoutWidth(d)))
        .select(col("doc_id"), lower(trim(col("text"))).as("t"))
        .filter(length(col("t")) >= 5)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, length(t) - 4), i -> struct(i AS pos, substring(t, i, 5) AS gram))"))
            .as("g"))
        .select(col("doc_id"), col("g.pos"),
          conv(substring(md5(col("g.gram")), 1, 8), 16, 10)
            .cast("long").as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
      grams.withColumn("wmin", min("h").over(w))
        .groupBy("doc_id")
        .agg(countDistinct("wmin").as("n_prints"),
          min("wmin").as("min_print"), max("wmin").as("max_print"))
        .orderBy("doc_id")
    }),

    // TF-IDF keyword extraction: top-3 terms per document. Term and
    // document frequencies are exact integer aggregates; the idf log
    // runs in double on both engines and the score is rounded.
    "q_tfidf" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_r").desc, col("tok"))
      // dfreq is the corpus vocabulary — unbounded at 100 TB, so no
      // broadcast hint: AQE broadcasts it when its measured size fits
      // (PlanSpec pins that it does at gate scale) and shuffles on tok
      // when it doesn't. Only the 1-row corpus count stays hinted.
      tf.join(dfreq, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score_r", round(col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("rank"),
          col("score_r"))
        .orderBy("doc_id", "rank")
    }),

    // SimHash near-dup pairs via Hamming-LSH banding: fingerprints
    // split into maxHamming+1 bands, candidates from a band equi-join
    // (pigeonhole guarantees no miss), verified with bit_count(xor)
    // <= 1 — all codegen'd integer ops, no all-pairs comparison.
    "q_dedup_simhash" -> ((s, dir) => {
      // both join sides read the fingerprints; persist to avoid
      // recomputing the 32-agg pipeline twice
      val sim = TextDedup.simhash(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text")
        .transform(graft.ops.QueryCaches.persist)
      TextDedup.simhashPairs(sim, "doc_id", maxHamming = 1,
        maxBucket = Int.MaxValue) // uncapped: mirrors the oracle CTE
        .orderBy("a", "b")
    }),

    // SimHash: 32-bit fingerprint from md5-derived token hashes —
    // one pass, 32 conditional aggregates, no explode of bit positions.
    "q_simhash" -> ((s, dir) =>
      TextDedup.simhash(docs(s, dir), "doc_id", "text").orderBy("doc_id")),

    // Corpus-wide top word-bigrams by document frequency — the
    // boilerplate-discovery scan (frequent n-grams across many docs
    // are candidate template/junk phrases for the quality gates).
    // Explode + one keyed aggregate + a 20-row ordered take; ties
    // broken by total count then shingle text, so the cut is total.
    "q_top_ngrams" -> ((s, dir) =>
      TextDedup.shingles(docs(s, dir), "doc_id", "text", n = 2,
        dedup = false)
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"))
        .orderBy(col("n_docs").desc, col("n_total").desc, col("shingle"))
        .limit(20)),

    // Cross-document repeated spans — the memorization/boilerplate
    // audit: every 8-token sliding window that appears in 2+ distinct
    // documents, with doc and occurrence counts. One groupBy on the
    // span (counts only, no posting self-join), so a hot span costs a
    // bigger count, never quadratic work.
    "q_repeated_spans" -> ((s, dir) =>
      TextDedup.shingles(docs(s, dir), "doc_id", "text", n = 8,
        dedup = false)
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 2)
        .select(col("shingle").as("span"), col("n_docs"), col("n_total"))
        .orderBy("span")),

    // Per-document n-gram novelty (Carlini-style memorization risk
    // proxy): the fraction of a doc's DISTINCT 8-token windows that
    // no other document contains. Distinct windows → span stats →
    // keyed join back (each span's fan-out equals its doc count — no
    // quadratic posting join); docs under 8 tokens are absent.
    "q_ngram_novelty" -> ((s, dir) => {
      val sh = graft.ops.QueryCaches.persist(
        TextDedup.shingles(docs(s, dir), "doc_id", "text", n = 8,
          dedup = true))
      val stats = sh.groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("nd"))
      sh.join(stats, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_windows"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long")
            .as("n_shared"))
        .withColumn("novelty_r", round(lit(1.0) -
          col("n_shared").cast("double") / col("n_windows").cast("double"),
          6))
        .orderBy("doc_id")
    }),

    // Vocabulary coverage curve — the "how big must the tokenizer
    // vocab be" analysis: tokens ranked by corpus frequency with the
    // cumulative covered fraction. Rank and running total both come
    // from the two-phase prefix machinery (no single-partition
    // window), so the curve scales to web-corpus vocabularies.
    "q_vocab_coverage" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(explode(TextDedup.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      val ranked = graft.ops.ScaleOps.globalRowNumber(counts, 8,
        col("n").desc, col("tok"))
        .withColumnRenamed("rn", "rank")
      graft.ops.ScaleOps.globalRunningSum(ranked, 8,
        valueCol = "n", outCol = "cum", col("rank"))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("tok"), col("n"),
          round(col("cum").cast("double") / col("total").cast("double"), 6)
            .as("cov_r"))
        .orderBy("rank")
    }),

    // Unigram-LM quality score: corpus-frequency negative mean
    // log-likelihood per document (the cheap perplexity proxy —
    // garbage/rare-token docs score high, boilerplate low). Vocab is
    // built once, join strategy left to AQE; see Corpus.unigramLogProb.
    "q_unigram_logprob" -> ((s, dir) =>
      graft.ops.Corpus.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Perplexity-band filtering — the CCNet-style curation step on
    // top of the unigram score: drop BOTH tails of the NLL
    // distribution (low = boilerplate/repetitive, high = garbage/
    // rare-token soup), keeping the [p5, p95] band. Thresholds are
    // exact interpolated percentiles over the ROUNDED per-doc scores
    // (identical doubles both engines → the band edges cannot
    // ulp-flip); one 1-row broadcast against the persisted score
    // frame, so the filter costs no second corpus pass.
    "q_ppl_filter" -> ((s, dir) => {
      val nll = graft.ops.Corpus.unigramLogProb(
        docs(s, dir), "doc_id", "text")
        .transform(graft.ops.QueryCaches.persist) // thresholds + keep
      // band edges via the two-phase global rank (one row per DOC at
      // 100 TB — the built-in exact percentile would funnel them all
      // through a single reducer); the interpolation formula is
      // mirrored textually in the oracle, so the unrounded edges stay
      // bit-identical cross-engine
      val ranked = graft.ops.ScaleOps.globalRowNumber(
        nll.select(col("nll").as("nv")), 8, col("nv").asc)
        .transform(graft.ops.QueryCaches.persist) // two edge lookups
      val nRow = ranked.agg(count(lit(1)).as("n"))
      val pos = Seq(("lo", 0.05), ("hi", 0.95)).map { case (nm, q) =>
        nRow.select(lit(nm).as("qname"),
          (floor((col("n") - 1).cast("double") * lit(q)) + 1)
            .cast("long").as("rlo"),
          ((col("n") - 1).cast("double") * lit(q)).as("h"))
      }.reduce(_ unionByName _)
      val edges = pos
        .join(ranked.select(col("rn").as("rlo"), col("nv").as("vlo")),
          "rlo")
        .join(ranked.select((col("rn") - 1).as("rlo"),
          col("nv").as("vhi")), Seq("rlo"), "left")
        .withColumn("v", col("vlo") + (col("h") - floor(col("h"))) *
          (coalesce(col("vhi"), col("vlo")) - col("vlo")))
      val th = edges.agg(
        max(when(col("qname") === "lo", col("v"))).as("lo"),
        max(when(col("qname") === "hi", col("v"))).as("hi"))
      nll.crossJoin(broadcast(th))
        .filter(col("nll") >= col("lo") && col("nll") <= col("hi"))
        .select(col("doc_id"), col("n_tokens"), col("nll"))
        .orderBy("doc_id")
    }),

    // Bigram-LM quality score: second-order companion to
    // q_unigram_logprob — flags unusual word ORDER (scrambled or
    // templated text), not just unusual words. See Corpus.bigramLogProb.
    "q_bigram_logprob" -> ((s, dir) =>
      graft.ops.Corpus.bigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Deterministic BERT-style MLM masking plan — the 15% / 80-10-10
    // recipe as a materialized, bit-reproducible artifact (the MLM
    // twin of q_span_corrupt's T5 spans): position selection and the
    // branch draw both come from one md5 per (doc, pos), the random-
    // replacement token is drawn from the frequency-ranked vocabulary
    // by hash index (rank via the two-phase globalRowNumber — no
    // single-partition window), and re-running the plan yields the
    // identical masks under retry or backfill. One exchange for the
    // vocab rank; selection itself is a pure per-row filter.
    "q_mlm_mask" -> ((s, dir) => {
      val tk = docs(s, dir)
        .select(col("doc_id"),
          posexplode(TextDedup.tokens(col("text"))).as(Seq("pos", "tok")))
        .transform(graft.ops.QueryCaches.persist) // vocab + mask arms
      val vocab = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = graft.ops.ScaleOps.globalRowNumber(vocab, 8,
        col("cnt").desc, col("tok"))
        .select(col("rn"), col("tok").as("repl_tok"))
        .transform(graft.ops.QueryCaches.persist) // size + repl join
      val vsize = ranked.agg(max("rn").as("v"))
      val h = conv(substring(md5(concat(lit("mlm:"),
        col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string"))), 1, 8), 16, 10).cast("long")
      val sel = tk.withColumn("h", h).filter(col("h") % 100 < 15)
        .crossJoin(broadcast(vsize))
        .withColumn("r", expr("(h div 100) % 10"))
        .withColumn("rv", expr("(h div 1000) % v + 1"))
        .withColumn("action", when(col("r") < 8, lit("mask"))
          .when(col("r") === 8, lit("random")).otherwise(lit("keep")))
      sel.join(ranked, sel("rv") === ranked("rn"), "left")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tok").as("orig"), col("action"),
          when(col("action") === "mask", lit("[MASK]"))
            .when(col("action") === "random", col("repl_tok"))
            .otherwise(col("tok")).as("replacement"))
        .orderBy("doc_id", "pos")
    }),

    // Positional phrase search — the retrieval op an inverted index
    // with positions exists FOR: find documents containing the exact
    // phrase "data table" by joining the two terms' postings on
    // (doc, adjacent position). Both postings filter to their term AT
    // THE SCAN (pushed predicates on the exploded frame), so the join
    // touches only the two terms' postings however large the corpus —
    // the q_inverted_index serving path, not a text rescan.
    "q_phrase_search" -> ((s, dir) => {
      val tk = docs(s, dir)
        .select(col("doc_id"),
          posexplode(TextDedup.tokens(col("text"))).as(Seq("pos", "tok")))
      val a = tk.filter(col("tok") === "data")
        .select(col("doc_id"), col("pos"))
      val b = tk.filter(col("tok") === "table")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      a.join(b, Seq("doc_id", "pos"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
        .orderBy("doc_id")
    }),

    // Class-based TF-IDF (the BERTopic c-TF-IDF shape): top-3
    // characteristic tokens PER SOURCE, scored tf_c · ln(1 + A/f_t)
    // where A is the average class token mass — the "what makes this
    // source different" keywords, where plain TF-IDF answers per-doc.
    // Ranking reads the ROUNDED score (fence rule); the per-source
    // window is partitioned — distributed by class however many
    // sources exist.
    "q_ctfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tk = docs(s, dir)
        .select(col("source"),
          explode(TextDedup.tokens(col("text"))).as("tok"))
        .transform(graft.ops.QueryCaches.persist) // class+global counts
      val cls = tk.groupBy("source", "tok").agg(count(lit(1)).as("tf"))
      val glob = tk.groupBy("tok").agg(count(lit(1)).as("ft"))
      val a = tk.agg((count(lit(1)).cast("double") /
        countDistinct("source").cast("double")).as("bigA"))
      val w = Window.partitionBy("source")
        .orderBy(col("score_r").desc, col("tok"))
      cls.join(glob, "tok").crossJoin(broadcast(a))
        .withColumn("score_r", round(col("tf").cast("double") *
          log(lit(1.0) + col("bigA") / col("ft").cast("double")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("tok"), col("score_r"))
        .orderBy("source", "rank")
    }),

    // Held-out perplexity with add-1 smoothing — the evaluation split
    // the in-corpus scores (q_unigram_logprob) cannot provide: the
    // unigram model trains on the deterministic 80% md5 split and
    // scores the held-out 20%, where unseen tokens get the Laplace
    // (cnt+1)/(N+V) mass instead of a crash. The OOV count rides
    // along (the coverage number that explains a bad perplexity).
    // Vocab join unhinted (AQE); the (N, V) scalars broadcast.
    "q_heldout_nll" -> ((s, dir) => {
      val bucket = pmod(conv(substring(md5(concat(lit("split:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100L))
      val tk = docs(s, dir)
        .select(col("doc_id"), (bucket < 80).as("is_train"),
          explode(TextDedup.tokens(col("text"))).as("tok"))
        .transform(graft.ops.QueryCaches.persist) // train + held arms
      val vocab = tk.filter(col("is_train"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // totals + score join
      val nv = vocab.agg(sum("cnt").as("bign"),
        count(lit(1)).as("bigv"))
      tk.filter(!col("is_train"))
        .join(vocab, Seq("tok"), "left")
        .crossJoin(broadcast(nv))
        .withColumn("p", (coalesce(col("cnt"), lit(0L)) + 1)
          .cast("double") / (col("bign") + col("bigv")).cast("double"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
          round(avg(-log(col("p"))), 6).as("nll_r"))
        .orderBy("doc_id")
    }),

    // Jelinek–Mercer interpolated LM score: per-doc NLL under the
    // λ-mixture 0.75·P(w₂|w₁) + 0.25·P(w₂) — the smoothing that keeps
    // unseen-in-context (but known) words from blowing up the bigram
    // score, the standard backoff a perplexity filter actually runs.
    // Both component probabilities are exact-integer ratios; the mix
    // and ln are identical doubles cross-engine, and the per-doc avg
    // follows the rounded-logprob precedent. The exploded token table
    // persists once and feeds the unigram counts and both bigram
    // sides.
    "q_lm_interp" -> ((s, dir) => {
      val tk = docs(s, dir)
        .select(col("doc_id"), TextDedup.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .transform(graft.ops.QueryCaches.persist)
      val uc = tk.groupBy("tok").agg(count(lit(1)).as("ucnt"))
        .transform(graft.ops.QueryCaches.persist) // score join + total
      val ut = uc.agg(sum("ucnt").as("total"))
      val bg = tk.select(col("doc_id"), col("pos"), col("tok").as("w1"))
        .join(tk.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("tok").as("w2")), Seq("doc_id", "pos"))
        .select(col("doc_id"), col("w1"), col("w2"))
        .transform(graft.ops.QueryCaches.persist) // counts + scoring
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // prefix sums + join
      val pc = bc.groupBy("w1").agg(sum("cnt").as("pcnt"))
      bg.join(bc, Seq("w1", "w2"))
        .join(pc, Seq("w1"))
        .join(uc.select(col("tok").as("w2"), col("ucnt")), Seq("w2"))
        .crossJoin(broadcast(ut))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          round(avg(-log(lit(0.75) * (col("cnt").cast("double") /
              col("pcnt").cast("double")) +
            lit(0.25) * (col("ucnt").cast("double") /
              col("total").cast("double")))), 6).as("nll_mix_r"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram score (the KenLM/CCNet-standard
    // smoothing; Kneser & Ney 1995, Chen & Goodman 1999): absolute
    // discount D=0.75 off every seen bigram, with the freed mass
    // backed off to the CONTINUATION probability — how many distinct
    // left contexts a word follows (n1l/btot), not how often it
    // occurs — the property that stops "Francisco" (frequent but only
    // ever after "San") from soaking up backoff mass the way the
    // q_lm_interp unigram mixture lets it. Every component is an
    // exact integer count; the discount/backoff composition is a
    // bounded chain of IEEE doubles mirrored textually in the oracle,
    // and the per-doc avg follows the rounded-logprob precedent.
    // Scale shape = q_lm_interp's: one exploded token table persisted
    // for both bigram sides, the bigram-count frame persisted for its
    // three readers (w1-aggregate fusing pcnt+n1p, w2-aggregate,
    // 1-row btot broadcast), all joins key-distributed under AQE.
    "q_kneser_ney" -> ((s, dir) => {
      val tk = docs(s, dir)
        .select(col("doc_id"), TextDedup.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .transform(graft.ops.QueryCaches.persist) // both bigram sides
      val bg = tk.select(col("doc_id"), col("pos"), col("tok").as("w1"))
        .join(tk.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("tok").as("w2")), Seq("doc_id", "pos"))
        .select(col("doc_id"), col("w1"), col("w2"))
        .transform(graft.ops.QueryCaches.persist) // counts + scoring
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // 3 readers below
      // one pass over bc serves both the prefix mass c(w1·) and the
      // continuation fan-out N1+(w1·) the lambda weight needs
      val pre = bc.groupBy("w1")
        .agg(sum("cnt").as("pcnt"), count(lit(1)).as("n1p"))
      val contL = bc.groupBy("w2").agg(count(lit(1)).as("n1l"))
      val btot = bc.agg(count(lit(1)).as("btot"))
      bg.join(bc, Seq("w1", "w2"))
        .join(pre, Seq("w1"))
        .join(contL, Seq("w2"))
        .crossJoin(broadcast(btot))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          round(avg(-log(
            greatest(col("cnt").cast("double") - lit(0.75), lit(0.0)) /
              col("pcnt").cast("double") +
            (lit(0.75) * col("n1p").cast("double") /
              col("pcnt").cast("double")) *
            (col("n1l").cast("double") / col("btot").cast("double")))),
            6).as("nll_kn_r"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval scoring (Lucene-style +1 idf floor) for a fixed
    // query term set — the search/mining half of a data platform.
    // Exploded tokens filter to the tiny term set at the scan; corpus
    // constants are exact integer sums (engine-portable doubles).
    "q_bm25" -> ((s, dir) =>
      graft.ops.Retrieval.bm25(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "vector", "window"))
        .orderBy("doc_id")),

    // Count-min sketch (Sketches.countMin/cmEstimate): the d×w
    // counter matrix is bounded BY CONSTRUCTION however big the
    // corpus, and the md5 hash rows make the sketch bit-reproducible
    // cross-engine — so unlike the engine-native sketches (rows-only
    // q_approx_distinct/q_quantiles_approx), the ESTIMATES themselves
    // hash-match the oracle. Gate: estimates for the exact top-20
    // tokens beside their true counts (one-sided error: est ≥ true).
    // w = 8 against the table's 31-token vocabulary so row collisions
    // actually inflate some estimates — a wide sketch would be
    // trivially exact here and demonstrate nothing.
    "q_cms_counts" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(graft.ops.TextDedup.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .transform(graft.ops.QueryCaches.persist) // sketch + truth share it
      val sketch = graft.ops.Sketches.countMin(toks, col("tok"), d = 3, w = 8)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("tok")).limit(20)
        .transform(graft.ops.QueryCaches.persist) // estimate + output join
      graft.ops.Sketches.cmEstimate(sketch, top, col("tok"), d = 3, w = 8)
        .join(top, col("item") === col("tok"))
        .select(col("item"), col("n_true"), col("n_est"))
        .orderBy("item")
    }),

    // Feature-hashing vectorizer (Corpus.hashingTf): fixed-dim sparse
    // TF vectors with NO vocabulary pass — one exploded keyed
    // aggregate, md5-portable bucket assignment.
    "q_hashing_tf" -> ((s, dir) =>
      graft.ops.Corpus.hashingTf(docs(s, dir), "doc_id", "text",
        numFeatures = 512)
        .orderBy("doc_id", "bucket")),

    // Distributed BPE tokenizer training (BpeTrainer.trainMerges):
    // the learned merge table, hash-gated against bpeMergesOracle's
    // 12 unrolled MATERIALIZED rounds (the PageRank pattern — the
    // merge sequence is deterministic under the (cnt DESC, l, r)
    // tie rule); BpeTrainerSpec additionally pins the trainer
    // against an independent driver-side reference.
    "q_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      graft.ops.BpeTrainer.trainMerges(docs(s, dir), "text", nMerges = 12)
        .merges.toDF()
        .select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("count"))
        .orderBy("rank")
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training
    // (UnigramLmTrainer.train): seed substrings + alphabet, hard-EM
    // Viterbi rounds over the vocabulary-sized word frame, prune to
    // the target size. ROWS-ONLY by design — the EM fixed point over
    // doubles is not SQL-expressible cross-engine; exactness is
    // pinned by UnigramLmSpec against an independent exhaustive-
    // search reference (the q_bpe_merges / BpeTrainerSpec pattern,
    // with the DRIVER gate carrying the rows check).
    "q_unigram_lm" -> ((s, dir) => {
      import s.implicits._
      graft.ops.UnigramLmTrainer.train(docs(s, dir), "text",
        vocabSize = 48, seedSize = 60, maxPieceLen = 4, emIters = 3)
        .pieces.toDF()
        .select(col("rank").cast("long").as("rank"), col("piece"),
          col("count"), round(col("logProb"), 6).as("log_prob_r"))
        .orderBy("rank")
    }),

    // Unigram-LM segmentation with the trained model: Viterbi under
    // the final piece probabilities, executor-parallel, OOV
    // characters fall back to raw chars. HASH-GATED via a run-time
    // oracle: training (the EM fixed point over doubles) stays
    // SQL-inexpressible, but segmentation under the FIXED trained
    // piece table is deterministic — the model is interpolated into
    // a recursive-CTE DuckDB Viterbi (unigramSegmentOracle) and
    // registered through DynamicOracles while the query runs.
    "q_unigram_lm_segment" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.UnigramLmTrainer.train(
        d.filter(col("doc_id") < 200), "text",
        vocabSize = 48, seedSize = 60, maxPieceLen = 4, emIters = 2)
      // named preconditions (the q_adamic_adar require pattern) for
      // the two ways a regenerated corpus could silently diverge from
      // the oracle as an opaque hash mismatch: (a) the oracle's DP
      // start positions come from a constant range(0,256); (b) the
      // oracle DP indexes DuckDB CHARACTERS (code points) while the
      // Scala viterbi indexes UTF-16 code units — they only align on
      // BMP-only tokens (a supplementary-plane char is 1 vs 2
      // positions). One aggregate checks both.
      val serving = d.filter(col("doc_id") < 50)
      val (mxTok, nonBmp) = servingTokenStats(serving)
      require(mxTok <= 256,
        s"q_unigram_lm_segment precondition: a serving token has " +
          s"$mxTok chars — the oracle's Viterbi window is bounded at 256")
      require(nonBmp == 0,
        "q_unigram_lm_segment precondition: a serving token carries a " +
          "supplementary-plane character — the SQL oracle's code-point " +
          "DP positions would diverge from viterbi's UTF-16 positions")
      DynamicOracles.put("q_unigram_lm_segment",
        unigramSegmentOracle(model))
      graft.ops.UnigramLmTrainer.segment(
        serving, "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "sub_pos")
    }),

    // BPE segmentation with a trained model: train on the standing
    // slice, segment the serving slice — in-vocab words take the
    // trained split via a keyed join (no broadcast hint, AQE decides),
    // OOV words fall back to character splits. Hash-gated via
    // bpeSegmentOracle (8 unrolled training rounds + the vocab join);
    // the spec additionally pins lossless reassembly (concat of
    // subwords == word for every row group).
    "q_bpe_segment" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.BpeTrainer.trainMerges(
        d.filter(col("doc_id") < 200), "text", nMerges = 8)
      graft.ops.BpeTrainer.segment(
        d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "sub_pos")
    }),

    // Tokenizer fertility by language — subwords emitted per word
    // under the trained BPE vocabulary, the bias audit run before
    // adopting a tokenizer (a language whose words shatter into
    // chars pays more sequence length per sentence). Reuses the
    // q_bpe_segment train/segment pipeline; two keyed aggregates on
    // top (per-word subword counts → per-language totals).
    "q_bpe_fertility" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.BpeTrainer.trainMerges(
        d.filter(col("doc_id") < 200), "text", nMerges = 8)
      val seg = graft.ops.BpeTrainer.segment(
        d.filter(col("doc_id") < 50), "doc_id", "text", model)
      seg.join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "doc_id", "word_pos")
        .agg(count(lit(1)).as("n_sub"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility_r"))
        .orderBy("lang")
    }),

    // WordPiece tokenizer training (WordPieceTrainer): likelihood-
    // scored merges — count(lr)/(count(l)·count(r)) — over
    // continuation-marked symbols, the BERT-family tokenizer beside
    // BPE (frequency) and unigram-LM (prune-down EM). Hash-gated via
    // unrolled MATERIALIZED rounds (the q_bpe_merges pattern) with
    // the score division mirrored verbatim — the doubles are
    // bit-identical (exact ints in, one product, one division).
    "q_wordpiece_merges" -> ((s, dir) => {
      import s.implicits._
      graft.ops.WordPieceTrainer.trainMerges(docs(s, dir), "text",
        nMerges = 8)
        .merges.toDF()
        .select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("count"),
          round(col("score"), 6).as("score_r"))
        .orderBy("rank")
    }),

    // WordPiece greedy serving (BERT's max-munch): train on the
    // standing slice, segment the serving slice with longest-match
    // under the piece inventory — word-initial pieces bare,
    // continuations '##'-marked, uncoverable words collapse to
    // [UNK]. HASH-GATED via a run-time oracle: the inventory is
    // interpolated into a recursive-CTE greedy matcher
    // (wordpieceSegmentOracle) through DynamicOracles — the
    // q_unigram_lm_segment channel. Greedy matching indexes DuckDB
    // code points vs Scala UTF-16 units, so the BMP-only serving
    // precondition is checked by name (same rule as the unigram
    // gate).
    "q_wordpiece_segment" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.WordPieceTrainer.trainMerges(
        d.filter(col("doc_id") < 200), "text", nMerges = 8)
      val serving = d.filter(col("doc_id") < 50)
      val (_, nonBmp) = servingTokenStats(serving)
      require(nonBmp == 0,
        "q_wordpiece_segment precondition: a serving token carries a " +
          "supplementary-plane character — the SQL oracle's code-point " +
          "positions would diverge from greedy's UTF-16 positions")
      DynamicOracles.put("q_wordpiece_segment",
        wordpieceSegmentOracle(model))
      graft.ops.WordPieceTrainer.segment(
        serving, "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "sub_pos")
    }),

    // Cross-tokenizer eval — the adopt-a-tokenizer decision table:
    // train all three families on the standing slice with their gate
    // configs, serve the same slice, compare fertility (subwords per
    // word, weighted by occurrence) and WordPiece's whole-word UNK
    // count. HASH-GATED through the dynamic channel: BPE + WordPiece
    // replay as prefixed unrolled rounds in ONE oracle statement,
    // the unigram piece table interpolates (tokenizerCompareOracle).
    "q_tokenizer_compare" -> ((s, dir) => {
      val d = docs(s, dir)
      val train = d.filter(col("doc_id") < 200)
      val serving = d.filter(col("doc_id") < 50)
      // same named preconditions as the unigram gate: its Viterbi
      // window and code-point/UTF-16 alignment carry over verbatim
      val (mxTok, nonBmp) = servingTokenStats(serving)
      require(mxTok <= 256,
        s"q_tokenizer_compare precondition: a serving token has " +
          s"$mxTok chars — the oracle's Viterbi window is bounded at 256")
      require(nonBmp == 0,
        "q_tokenizer_compare precondition: a serving token carries a " +
          "supplementary-plane character — the SQL oracles' code-point " +
          "positions would diverge from the UTF-16 segmenters")
      val bpe = graft.ops.BpeTrainer.trainMerges(train, "text",
        nMerges = 8)
      val wp = graft.ops.WordPieceTrainer.trainMerges(train, "text",
        nMerges = 8)
      val ugm = graft.ops.UnigramLmTrainer.train(train, "text",
        vocabSize = 48, seedSize = 60, maxPieceLen = 4, emIters = 2)
      DynamicOracles.put("q_tokenizer_compare",
        tokenizerCompareOracle(wp, ugm))
      def fert(seg: DataFrame, name: String, pieceCol: String,
          countUnk: Boolean): DataFrame = {
        val per = seg.groupBy("doc_id", "word_pos")
          .agg(count(lit(1)).as("n_sub"),
            max(when(col(pieceCol) === "[UNK]", 1).otherwise(0))
              .as("unk"))
        per.agg(
            count(lit(1)).cast("long").as("n_words"),
            sum(col("n_sub")).cast("long").as("n_subwords"),
            (if (countUnk) sum(col("unk")).cast("long")
             else lit(0L)).as("n_unk"),
            round(sum(col("n_sub")).cast("double") / count(lit(1)), 6)
              .as("fertility_r"))
          .select(lit(name).as("tokenizer"), col("n_words"),
            col("n_subwords"), col("n_unk"), col("fertility_r"))
      }
      fert(graft.ops.BpeTrainer.segment(serving, "doc_id", "text", bpe),
          "bpe", "subword", countUnk = false)
        .unionAll(fert(graft.ops.UnigramLmTrainer.segment(
          serving, "doc_id", "text", ugm), "unigram", "piece",
          countUnk = false))
        .unionAll(fert(graft.ops.WordPieceTrainer.segment(
          serving, "doc_id", "text", wp), "wordpiece", "piece",
          countUnk = true))
        .orderBy("tokenizer")
    }),

    // Posting-list inverted index over the corpus: df/cf per token and
    // the first-20 doc-id postings head as CSV.
    "q_inverted_index" -> ((s, dir) =>
      graft.ops.Retrieval.invertedIndex(docs(s, dir), "doc_id", "text",
        postingCap = 20).orderBy("tok")),

    // Collocation PMI over per-doc distinct token sets.
    "q_pmi" -> ((s, dir) =>
      graft.ops.Corpus.pmiPairs(docs(s, dir), "doc_id", "text")
        .orderBy("tok_a", "tok_b")),

    // Sparse TF-IDF cosine pairs (Retrieval.sparseCosinePairs): the
    // lexical twin of the dense-embedding similarity path, candidates
    // from the shared-token posting join only (uncapped here to
    // mirror the oracle; the library knob is maxPosting).
    "q_sparse_cosine" -> ((s, dir) =>
      graft.ops.Retrieval.sparseCosinePairs(
        docs(s, dir).filter(col("doc_id") < 400), "doc_id", "text",
        minSim = 0.9, maxPosting = Int.MaxValue)
        .orderBy("a", "b")),

    // Asymmetric containment pairs: near-superset detection via the
    // shingle-posting self-join (LSH bands cannot surface low-Jaccard
    // containment pairs — see TextDedup.containmentPairs), uncapped to
    // mirror the oracle; |A∩B|/|A| scored in both directions.
    "q_containment" -> ((s, dir) =>
      TextDedup.containmentPairs(
        docs(s, dir).filter(col("doc_id") < 2000), "doc_id", "text",
        shingleN = 3, minContainment = 0.9, maxPosting = Int.MaxValue)
        .orderBy("a", "b")),

    // Per-source unigram entropy: the corpus-mix diversity signal.
    // The p·ln p sum runs over the bounded per-source vocabulary (the
    // CLAUDE.md bounded-terms double-sum rule).
    "q_token_entropy" -> ((s, dir) => {
      val tk = docs(s, dir).select(col("source"),
        explode(TextDedup.tokens(col("text"))).as("tok"))
      val ct = tk.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val tot = ct.groupBy("source").agg(
        sum(col("c")).as("tot"), count(lit(1)).as("n_distinct"))
      // per-source totals: app-bounded source domain, still unhinted
      ct.join(tot, "source")
        .withColumn("plogp",
          (col("c").cast("double") / col("tot").cast("double")) *
            log(col("c").cast("double") / col("tot").cast("double")))
        .groupBy("source")
        .agg(max(col("tot")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          round(-sum(col("plogp")), 6).as("entropy_r"))
        .orderBy("source")
    }),

    // Gini concentration of document length per source — the
    // one-number inequality audit ("is this source a few huge pages
    // plus dust?") curation dashboards track beside the mean. Exact
    // sorted-rank form G = 2·Σ i·xᵢ/(n·Σx) − (n+1)/n with i the
    // per-source rank over the (n_chars, doc_id) total order (tied
    // lengths permute within equal values — Σ i·xᵢ is invariant);
    // rank-weighted sums are exact DECIMAL, one double formula per
    // source. The rank is a two-phase global row number over
    // (source, n_chars, doc_id) minus each source's min rank — a
    // window PARTITIONED by the ~20-value source key would sort 5 %
    // of the corpus in one reducer (the low-cardinality-key funnel
    // the unpartitioned-window tripwire can't see; the q_curriculum
    // treatment).
    "q_gini" -> ((s, dir) => {
      val dd = (c: Column) => c.cast("double")
      val de = (c: Column) => c.cast("decimal(18,0)")
      val ranked = graft.ops.ScaleOps.globalRowNumber(
        docs(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
        8, col("source"), col("n_chars"), col("doc_id"))
      val base = ranked.groupBy("source").agg(min(col("rn")).as("pbase"))
      ranked.join(base, "source")
        .withColumn("rn", col("rn") - col("pbase") + 1L)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(de(col("n_chars"))).as("sx"),
          sum(de(col("rn")) * de(col("n_chars"))).as("sidx"))
        .filter(col("sx") > 0)
        .select(col("source"), col("n"),
          round(lit(2.0) * dd(col("sidx")) /
            (dd(col("n")) * dd(col("sx"))) -
            (dd(col("n")) + lit(1.0)) / dd(col("n")), 6).as("gini_r"))
        .orderBy("source")
    }),

    // Heaps-law vocabulary growth: distinct 4-token spans (V) against
    // total spans (N) accumulated in doc_id order, fit V ≈ K·N^β by
    // log-log OLS — the "how fast does novelty arrive" curve that
    // sizes dedup sketches and tokenizer vocabularies. First
    // occurrences are a keyed min per span; both cumulative series
    // come from the two-phase ScaleOps.globalRunningSum (no
    // single-partition window); the OLS sums run over |docs| rows, so
    // every per-row log term is cast to DECIMAL(28,14) before SUM
    // (order-independent — the logreg gradient treatment, not the
    // bounded-terms waiver).
    "q_heaps_fit" -> ((s, dir) => {
      val sp = graft.ops.QueryCaches.persist(
        TextDedup.shingles(docs(s, dir), "doc_id", "text", n = 4,
          dedup = false))
      val perDoc = sp.groupBy("doc_id").agg(count(lit(1)).as("n_sp"))
      val newSp = sp.groupBy("shingle").agg(min(col("doc_id")).as("fd"))
        .groupBy("fd").agg(count(lit(1)).as("new_sp"))
      val frame = perDoc.join(newSp,
          perDoc("doc_id") === newSp("fd"), "left")
        .select(col("doc_id"), col("n_sp"),
          coalesce(col("new_sp"), lit(0L)).as("new_sp"))
      val cum = graft.ops.ScaleOps.globalRunningSum(
        graft.ops.ScaleOps.globalRunningSum(frame, 8,
          valueCol = "n_sp", outCol = "cum_n", col("doc_id")), 8,
        valueCol = "new_sp", outCol = "cum_v", col("doc_id"))
      val lx = log(col("cum_n").cast("double"))
      val ly = log(col("cum_v").cast("double"))
      val dec = (c: Column) => c.cast("decimal(28,14)")
      val dd = (c: Column) => c.cast("double")
      val pts = cum.select(dec(lx).as("lx"), dec(ly).as("ly"),
        dec(lx * lx).as("lxx"), dec(lx * ly).as("lxy"),
        dec(ly * ly).as("lyy"))
      val num = col("k") * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
      val den = col("k") * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
      val deny = col("k") * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
      pts.agg(count(lit(1)).as("k"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lxx")).as("sxx"), sum(col("lxy")).as("sxy"),
        sum(col("lyy")).as("syy"))
        .select(col("k").as("n_docs"),
          round(num / den, 6).as("slope_r"),
          round((dd(col("sy")) - (num / den) * dd(col("sx"))) / col("k"), 6)
            .as("icept_r"),
          round(num * num / (den * deny), 6).as("r2_r"))
    }),

    // Zipf rank-frequency fit: log-log OLS of token frequency against
    // rank — the one-number check that a corpus' token distribution
    // looks like natural language (slope ≈ −1) rather than templated
    // or synthetic junk. Rank comes from the two-phase
    // ScaleOps.globalRowNumber (no single-partition window); the OLS
    // moments run over n_types points — the vocabulary is
    // CORPUS-DERIVED (31 types in the synthetic corpus, 10⁵–10⁷ in
    // real text), so every per-point log term is DECIMAL(28,14)-cast
    // before SUM (order-independent — the q_heaps_fit treatment, not
    // the bounded-terms waiver): the k·sxx − sx² closed form cancels
    // catastrophically and would amplify accumulation epsilon past
    // the round-6 gate.
    "q_zipf_fit" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(explode(graft.ops.TextDedup.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val pts = graft.ops.ScaleOps.globalRowNumber(counts, 8,
        col("n").desc, col("tok"))
        .select(log(col("rn").cast("double")).as("lx"),
          log(col("n").cast("double")).as("ly"))
      val num = col("k") * col("sxy") - col("sx") * col("sy")
      val den = col("k") * col("sxx") - col("sx") * col("sx")
      val deny = col("k") * col("syy") - col("sy") * col("sy")
      pts.agg(count(lit(1)).as("k"),
        sum(col("lx").cast("decimal(28,14)")).cast("double").as("sx"),
        sum(col("ly").cast("decimal(28,14)")).cast("double").as("sy"),
        sum((col("lx") * col("lx")).cast("decimal(28,14)"))
          .cast("double").as("sxx"),
        sum((col("lx") * col("ly")).cast("decimal(28,14)"))
          .cast("double").as("sxy"),
        sum((col("ly") * col("ly")).cast("decimal(28,14)"))
          .cast("double").as("syy"))
        .select(col("k").as("n_types"),
          round(num / den, 6).as("slope_r"),
          round((col("sy") - (num / den) * col("sx")) / col("k"), 6)
            .as("icept_r"),
          round(num * num / (den * deny), 6).as("r2_r"))
    })).map { case (name, body) =>
      if (!byteSizedAqeQueries(name)) name -> body
      else name -> { (s: SparkSession, dir: String) =>
        graft.ops.ScaleOps.byteSizedAqe(s)
        body(s, dir)
      }
    }

  /** Shared CTE chain for the minhash near-dup pipeline: documents →
    * trigram shingles → 6 minhashes → 3 bands → candidates → verified
    * pairs (`pairs(a, b, inter, na, nb, jaccard)` at threshold 0.8).
    */
  // shared with VectorQueries' hybrid-cluster oracle (same package)
  private[queries] def minhashCtes(cap: Int = 2000): String =
    s"""d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents WHERE doc_id < $cap),
         d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 3),
         tok AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos FROM d2),
         sh AS (SELECT DISTINCT t1.doc_id,
               t1.tok || ' ' || t2.tok || ' ' || t3.tok AS shingle
             FROM tok t1
             JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
             JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2),
         sig AS (SELECT doc_id,
               min(substr(md5('0:' || shingle), 1, 8)) AS mh0,
               min(substr(md5('0:' || shingle), 9, 8)) AS mh1,
               min(substr(md5('0:' || shingle), 17, 8)) AS mh2,
               min(substr(md5('0:' || shingle), 25, 8)) AS mh3,
               min(substr(md5('1:' || shingle), 1, 8)) AS mh4,
               min(substr(md5('1:' || shingle), 9, 8)) AS mh5
             FROM sh GROUP BY doc_id),
         band AS (SELECT doc_id, 0 AS band_idx, mh0 || mh1 AS band_val FROM sig
             UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
             UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM band x JOIN band y
               ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                  AND x.doc_id < y.doc_id),
         inter AS (SELECT c.a, c.b, count(*) AS inter FROM cand c
             JOIN sh sa ON sa.doc_id = c.a
             JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
             GROUP BY c.a, c.b),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT i.a, i.b, i.inter, sa.n AS na, sb.n AS nb,
             CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
             FROM inter i
             JOIN sz sa ON sa.doc_id = i.a
             JOIN sz sb ON sb.doc_id = i.b
             WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= 0.8)"""

  /** Banding-curve oracle: the minhashCtes signature columns regrouped
    * into every valid (bands × rows) config; b=3 reuses the chain's
    * own `pairs` CTE.
    */
  private val bandingCurveOracle: String = {
    def bandsFor(b: Int): String = {
      val rows = 6 / b
      (0 until b).map { bi =>
        val cat = (0 until rows).map(r => s"mh${bi * rows + r}")
          .mkString(" || ")
        s"SELECT doc_id, $bi AS band_idx, $cat AS band_val FROM sig"
      }.mkString(" UNION ALL ")
    }
    def cfg(b: Int): String =
      s"""cand$b AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM (${bandsFor(b)}) x JOIN (${bandsFor(b)}) y
             ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                AND x.doc_id < y.doc_id),
         int$b AS (SELECT c.a, c.b, count(*) AS inter FROM cand$b c
             JOIN sh sa ON sa.doc_id = c.a
             JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
             GROUP BY 1, 2),
         vf$b AS (SELECT i.a, i.b FROM int$b i
             JOIN sz sa ON sa.doc_id = i.a
             JOIN sz sb ON sb.doc_id = i.b
             WHERE CAST(i.inter AS DOUBLE)
               / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= 0.8)"""
    s"""WITH ${minhashCtes(1000)},
         truth0 AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)
               AS inter
             FROM sh x JOIN sh y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
         tt AS (SELECT t.a, t.b FROM truth0 t
             JOIN sz sa ON sa.doc_id = t.a
             JOIN sz sb ON sb.doc_id = t.b
             WHERE CAST(t.inter AS DOUBLE)
               / CAST(sa.n + sb.n - t.inter AS DOUBLE) >= 0.8),
         ${cfg(1)},
         ${cfg(2)},
         ${cfg(6)},
         res AS (SELECT 1 AS bands,
               (SELECT count(*) FROM vf1) AS n_found
             UNION ALL SELECT 2, (SELECT count(*) FROM vf2)
             UNION ALL SELECT 3, (SELECT count(*) FROM pairs)
             UNION ALL SELECT 6, (SELECT count(*) FROM vf6))
         SELECT CAST(bands AS BIGINT) AS bands,
           CAST((SELECT count(*) FROM tt) AS BIGINT) AS n_true,
           CAST(n_found AS BIGINT) AS n_found,
           round(CASE WHEN (SELECT count(*) FROM tt) = 0 THEN 1.0
             ELSE CAST(n_found AS DOUBLE) /
               CAST((SELECT count(*) FROM tt) AS DOUBLE) END, 6)
             AS recall_r
         FROM res ORDER BY bands"""
  }

  private val simhashBitSums = (0 until 32)
    .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
    .mkString(",\n             ")

  private val simhashFp = (0 until 32)
    .map(b =>
      s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** One unrolled BPE training round: pm$i picks the argmax pair of
    * w${i-1} under the trainer's exact tie rule (cnt DESC, l, r);
    * sel$i reduces match positions to the greedy left-to-right
    * non-overlapping set (runs of consecutive matches keep even
    * offsets — the closed form of the trainer's fold); w$i rebuilds
    * each word's symbol list, dropping the position after a merge
    * start. pm/w are MATERIALIZED: w$i references w${i-1} three
    * times, and DuckDB's inliner would otherwise go 3^rounds (the
    * PageRank/BFS oracle pin). `LEFT JOIN pm ON TRUE` (not CROSS)
    * carries words through unchanged if a round finds no pair ≥
    * minCount — the trainer's early stop.
    */
  private def bpeRoundSql(i: Int, x: String = ""): String = {
    val p = i - 1
    s"""${x}pm$i AS MATERIALIZED (
  SELECT l, r, cnt FROM (
    SELECT syms[ii] AS l, syms[ii+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
    FROM (SELECT n, syms, unnest(range(1, len(syms))) AS ii FROM ${x}w$p)
    GROUP BY 1, 2 HAVING sum(n) >= 2)
  ORDER BY cnt DESC, l, r LIMIT 1),
${x}mt$i AS (
  SELECT word, ii FROM
    (SELECT word, syms, unnest(range(1, len(syms))) AS ii FROM ${x}w$p)
    CROSS JOIN ${x}pm$i
  WHERE syms[ii] = l AND syms[ii+1] = r),
${x}sel$i AS (
  SELECT word, ii AS st FROM (
    SELECT word, ii,
      ii - row_number() OVER (PARTITION BY word ORDER BY ii) AS grp
    FROM ${x}mt$i) g
  QUALIFY (ii - min(ii) OVER (PARTITION BY word, grp)) % 2 = 0),
${x}pos$i AS (SELECT word, n, unnest(range(1, len(syms)+1)) AS j,
    unnest(syms) AS sym FROM ${x}w$p),
${x}w$i AS MATERIALIZED (
  SELECT word, first(n) AS n, list(sym2 ORDER BY j) AS syms FROM (
    SELECT p.word, p.n, p.j,
      CASE WHEN ss.st IS NOT NULL THEN pm.l || pm.r ELSE p.sym END AS sym2
    FROM ${x}pos$i p LEFT JOIN ${x}pm$i pm ON TRUE
    LEFT JOIN ${x}sel$i ss ON ss.word = p.word AND ss.st = p.j
    LEFT JOIN ${x}sel$i sp ON sp.word = p.word AND sp.st = p.j - 1
    WHERE sp.st IS NULL)
  GROUP BY word)"""
  }

  /** w0 = per-word counts + char splits of the whitespace tokens of
    * `FROM fromClause` (the trainer's corpus scan; the fixed 31-word
    * synthetic vocab keeps every w$i tiny, so 12 unrolled rounds are
    * cheap).
    */
  private def bpeW0(fromClause: String, x: String = ""): String =
    s"""${x}w0 AS MATERIALIZED (
  SELECT word, n, string_split(word, '') AS syms FROM (
    SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS word FROM $fromClause)
    WHERE len(word) > 0 GROUP BY word))"""

  private def bpeMergesOracle(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(i => bpeRoundSql(i)).mkString(",\n")
    val finals = (1 to nMerges).map(i =>
      s"""SELECT CAST(${i - 1} AS BIGINT) AS rank, l AS "left",
            r AS "right", cnt AS "count" FROM pm$i""")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeW0("documents")},\n$rounds
SELECT * FROM ($finals) ORDER BY rank"""
  }

  /** Segment oracle: train `nMerges` rounds on doc_id < 200, then
    * split doc_id < 50 with the final vocab; word_pos indexes the RAW
    * token array (empties dropped AFTER positioning — posexplode
    * order), OOV words fall back to char splits.
    */
  private def bpeSegmentOracle(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(i => bpeRoundSql(i)).mkString(",\n")
    s"""WITH ${bpeW0("documents WHERE doc_id < 200")},
$rounds,
sv AS (SELECT doc_id, word_pos, word FROM (
    SELECT doc_id, unnest(range(0, len(tk))) AS word_pos,
      unnest(tk) AS word
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk
          FROM documents WHERE doc_id < 50))
  WHERE len(word) > 0),
sj AS (SELECT s.doc_id, s.word_pos, s.word,
    COALESCE(v.syms, string_split(s.word, '')) AS syms
  FROM sv s LEFT JOIN w$nMerges v ON v.word = s.word)
SELECT doc_id, CAST(word_pos AS BIGINT) AS word_pos, word,
  CAST(sub_pos AS BIGINT) AS sub_pos, subword FROM (
  SELECT doc_id, word_pos, word, unnest(range(0, len(syms))) AS sub_pos,
    unnest(syms) AS subword FROM sj)
ORDER BY doc_id, word_pos, sub_pos"""
  }

  /** Fertility oracle: the q_bpe_segment training chain, but folded
    * to per-language word/subword totals (len(syms) per word — no
    * subword unnest needed; OOV words char-split like the segmenter).
    */
  private def bpeFertilityOracle(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(i => bpeRoundSql(i)).mkString(",\n")
    s"""WITH ${bpeW0("documents WHERE doc_id < 200")},
$rounds,
sv AS (SELECT lang, word FROM (
    SELECT lang, unnest(string_split(trim(text), ' ')) AS word
    FROM documents WHERE doc_id < 50)
  WHERE len(word) > 0),
sj AS (SELECT s.lang,
    COALESCE(len(v.syms), len(string_split(s.word, ''))) AS n_sub
  FROM sv s LEFT JOIN w$nMerges v ON v.word = s.word)
SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
  round(CAST(sum(n_sub) AS DOUBLE) / count(*), 6) AS fertility_r
FROM sj GROUP BY lang ORDER BY lang"""
  }

  /** The gear-CDC walk as SQL, shared by both q_cdc_chunks oracles:
    * a recursive CTE carries (h, start) through every byte (gear(b)
    * = first 8 md5 hex chars of the byte's decimal string — same
    * derivation as GearChunks.gearTable), cut rows become chunks,
    * the unsealed tail joins back for its length, and `fps`
    * fingerprints each chunk off the hex slice. The next-byte lookup
    * is guarded INSIDE the lateral (it evaluates before the
    * recursion's WHERE — the guard-at-producing-projection class).
    */
  private[queries] val cdcWalkSql: String =
    """d AS (SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n FROM documents),
         walk AS (
           WITH RECURSIVE rec(doc_id, i, h, start, cut) AS (
             SELECT doc_id, 0,
               CAST(CAST(('0x' || substr(md5(CAST(
                 CAST(('0x' || substr(hx, 1, 2)) AS UBIGINT)
                 AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
                 % 4294967296,
               0,
               (1 >= 8 AND
                 (CAST(CAST(('0x' || substr(md5(CAST(
                   CAST(('0x' || substr(hx, 1, 2)) AS UBIGINT)
                   AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
                   % 4294967296) // 134217728 = 0)
               OR 1 >= 64
             FROM d WHERE n > 0
             UNION ALL
             SELECT r.doc_id, r.i + 1, h2.h2,
               CASE WHEN r.cut THEN r.i + 1 ELSE r.start END,
               ((r.i + 1 - CASE WHEN r.cut THEN r.i + 1
                   ELSE r.start END + 1) >= 8
                 AND h2.h2 // 134217728 = 0)
               OR (r.i + 1 - CASE WHEN r.cut THEN r.i + 1
                   ELSE r.start END + 1) >= 64
             FROM rec r
             JOIN d ON d.doc_id = r.doc_id,
             LATERAL (SELECT
               ((CASE WHEN r.cut THEN 0 ELSE r.h END) * 2 +
                 CAST(CAST(('0x' || substr(md5(CAST(
                   CASE WHEN r.i + 1 < d.n THEN
                     CAST(('0x' || substr(d.hx, (r.i + 1) * 2 + 1, 2))
                       AS UBIGINT)
                   ELSE 0 END
                   AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT))
                 % 4294967296 AS h2) h2
             WHERE r.i + 1 < d.n
           )
           SELECT * FROM rec
         ),
         chunks AS (
           SELECT doc_id, start AS off, i - start + 1 AS len
           FROM walk WHERE cut
           UNION ALL
           SELECT w.doc_id, w.start, d.n - w.start
           FROM walk w JOIN d ON d.doc_id = w.doc_id
           WHERE w.i = d.n - 1 AND NOT w.cut
         ),
         fps AS (
           SELECT c.doc_id AS doc_id, CAST(c.off AS INTEGER) AS off,
             CAST(c.len AS INTEGER) AS len,
             md5(substr(d.hx, c.off * 2 + 1, c.len * 2)) AS fp
           FROM chunks c JOIN d ON d.doc_id = c.doc_id
         )"""

  /** WordPiece w0: per-word counts + continuation-MARKED char splits
    * (first char bare, rest '##'-prefixed) via the parallel-unnest
    * zip idiom — the only structural difference from [[bpeW0]].
    */
  private def wpW0(fromClause: String, x: String = ""): String =
    s"""${x}w0 AS MATERIALIZED (
  SELECT word, n,
    list(CASE WHEN pos = 0 THEN c ELSE '##' || c END ORDER BY pos) AS syms
  FROM (SELECT word, n, unnest(range(0, len(cs))) AS pos, unnest(cs) AS c
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS n,
                string_split(word, '') AS cs FROM (
            SELECT unnest(string_split(trim(text), ' ')) AS word
            FROM $fromClause)
          WHERE len(word) > 0 GROUP BY word))
  GROUP BY word, n)"""

  /** One unrolled WordPiece round: identical skeleton to
    * [[bpeRoundSql]] (match → greedy non-overlap → rebuild), but the
    * argmax adds per-round unigram counts and orders by the
    * likelihood score (sc DESC, l, r) with the trainer's exact
    * association CAST(cnt)/(CAST(lc)·CAST(rc)), and the rebuild
    * strips the right symbol's continuation marker (WordPiece join
    * semantics).
    */
  private def wpRoundSql(i: Int, x: String = ""): String = {
    val p = i - 1
    s"""${x}uc$i AS MATERIALIZED (
  SELECT sym, CAST(sum(n) AS BIGINT) AS uc
  FROM (SELECT n, unnest(syms) AS sym FROM ${x}w$p) GROUP BY sym),
${x}pm$i AS MATERIALIZED (
  SELECT l, r, cnt,
    CAST(cnt AS DOUBLE) / (CAST(ul.uc AS DOUBLE) * CAST(ur.uc AS DOUBLE))
      AS sc
  FROM (
    SELECT syms[ii] AS l, syms[ii+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
    FROM (SELECT n, syms, unnest(range(1, len(syms))) AS ii FROM ${x}w$p)
    GROUP BY 1, 2 HAVING sum(n) >= 2) pp
  JOIN ${x}uc$i ul ON ul.sym = pp.l JOIN ${x}uc$i ur ON ur.sym = pp.r
  ORDER BY sc DESC, l, r LIMIT 1),
${x}mt$i AS (
  SELECT word, ii FROM
    (SELECT word, syms, unnest(range(1, len(syms))) AS ii FROM ${x}w$p)
    CROSS JOIN ${x}pm$i
  WHERE syms[ii] = l AND syms[ii+1] = r),
${x}sel$i AS (
  SELECT word, ii AS st FROM (
    SELECT word, ii,
      ii - row_number() OVER (PARTITION BY word ORDER BY ii) AS grp
    FROM ${x}mt$i) g
  QUALIFY (ii - min(ii) OVER (PARTITION BY word, grp)) % 2 = 0),
${x}pos$i AS (SELECT word, n, unnest(range(1, len(syms)+1)) AS j,
    unnest(syms) AS sym FROM ${x}w$p),
${x}w$i AS MATERIALIZED (
  SELECT word, first(n) AS n, list(sym2 ORDER BY j) AS syms FROM (
    SELECT p.word, p.n, p.j,
      CASE WHEN ss.st IS NOT NULL THEN
        pm.l || CASE WHEN pm.r LIKE '##%' THEN substr(pm.r, 3)
                ELSE pm.r END
      ELSE p.sym END AS sym2
    FROM ${x}pos$i p LEFT JOIN ${x}pm$i pm ON TRUE
    LEFT JOIN ${x}sel$i ss ON ss.word = p.word AND ss.st = p.j
    LEFT JOIN ${x}sel$i sp ON sp.word = p.word AND sp.st = p.j - 1
    WHERE sp.st IS NULL)
  GROUP BY word)"""
  }

  private def wordpieceMergesOracle(nMerges: Int): String = {
    val rounds = (1 to nMerges).map(i => wpRoundSql(i)).mkString(",\n")
    val finals = (1 to nMerges).map(i =>
      s"""SELECT CAST(${i - 1} AS BIGINT) AS rank, l AS "left",
            r AS "right", cnt AS "count", round(sc, 6) AS score_r
          FROM pm$i""")
      .mkString("\nUNION ALL\n")
    s"""WITH ${wpW0("documents")},\n$rounds
SELECT * FROM ($finals) ORDER BY rank"""
  }

  /** Run-time oracle for q_wordpiece_segment: greedy longest-match
    * under the FIXED trained inventory, as SQL. The inventory is
    * interpolated as (piece, body, iscont) literals; a recursive CTE
    * replicates [[graft.ops.WordPieceTrainer.greedy]] POSITION BY
    * POSITION — each step's lateral picks the longest matching body
    * under the same position-0/continuation rule, and a no-match
    * collapses the whole word to ['[UNK]'] exactly like the Scala
    * fallback. Registered via [[DynamicOracles]] because the
    * inventory only exists after the in-query training step runs.
    */
  /** Serving-words CTEs shared by the segmentation/compare oracles:
    * `sv` (doc_id, word_pos, word — empties dropped AFTER
    * positioning, the posexplode order) and `wd` (distinct words).
    */
  private val servingWordsSql: String =
    """sv AS (SELECT doc_id, word_pos, word FROM (
    SELECT doc_id, unnest(range(0, len(tk))) AS word_pos,
      unnest(tk) AS word
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk
          FROM documents WHERE doc_id < 50))
  WHERE len(word) > 0),
wd AS (SELECT DISTINCT word FROM sv)"""

  /** Greedy max-munch CTEs (`${x}rec` + `${x}fin`) replicating
    * [[graft.ops.WordPieceTrainer.greedy]] POSITION BY POSITION over
    * the distinct words of `wd`: each step's lateral picks the
    * longest matching body of `$invName(piece, body, iscont)` under
    * the position-0/continuation rule; a no-match collapses the
    * whole word to ['[UNK]'] exactly like the Scala fallback.
    */
  private def wpGreedyCtes(invName: String, x: String): String =
    s"""${x}rec(word, pos, pieces, failed) AS (
  SELECT word, 0, CAST([] AS VARCHAR[]), FALSE FROM wd
  UNION ALL
  SELECT r.word,
    CASE WHEN c.piece IS NULL THEN len(r.word)
         ELSE r.pos + len(c.body) END,
    CASE WHEN c.piece IS NULL THEN ['[UNK]']
         ELSE r.pieces || [c.piece] END,
    c.piece IS NULL
  FROM ${x}rec r
  LEFT JOIN LATERAL (
    SELECT piece, body FROM $invName
    WHERE iscont = (r.pos > 0)
      AND substr(r.word, r.pos + 1, len(body)) = body
    ORDER BY len(body) DESC, piece LIMIT 1) c ON TRUE
  WHERE r.pos < len(r.word) AND NOT r.failed),
${x}fin AS (SELECT word, pieces FROM ${x}rec WHERE pos >= len(word))"""

  private[queries] def wordpieceSegmentOracle(
      model: graft.ops.WordPieceTrainer.Model): String = {
    s"""WITH RECURSIVE
inv AS (SELECT piece, body, iscont FROM (VALUES ${wpInventoryVals(model)})
        v(piece, body, iscont)),
$servingWordsSql,
${wpGreedyCtes("inv", "")}
SELECT s.doc_id AS doc_id, CAST(s.word_pos AS BIGINT) AS word_pos,
  s.word, CAST(sub_pos AS BIGINT) AS sub_pos, piece FROM (
  SELECT s0.doc_id, s0.word_pos, s0.word,
    unnest(range(0, len(f.pieces))) AS sub_pos,
    unnest(f.pieces) AS piece
  FROM sv s0 JOIN fin f ON f.word = s0.word) s
ORDER BY s.doc_id, word_pos, sub_pos"""
  }

  /** Run-time oracle for q_unigram_lm_segment: segmentation under the
    * FIXED trained piece table, as SQL. The piece log-probs are
    * interpolated as string literals CAST to DOUBLE (Double.toString
    * is the shortest round-trip repr, so DuckDB reconstructs the
    * exact bits Spark's Viterbi reads), and a recursive CTE
    * replicates [[graft.ops.UnigramLmTrainer.viterbi]] POSITION BY
    * POSITION: per word, iteration i extends the DP state lists
    * (score/count/pieces per position) with the best candidate over
    * the last `mpl` starts, scored with the identical `score(j)+lp`
    * association and the identical (score DESC, fewer pieces, smaller
    * back-pointer) tie rule — so even bit-level float discards at
    * intermediate positions match the Scala DP (a path-enumeration
    * oracle would NOT: a prefix discarded by bits can still tie on
    * the total after rounding). Uncoverable words fall back to
    * per-character pieces, the segmenter's OOV rule. Registered via
    * [[DynamicOracles]] because the piece table only exists after the
    * in-query training step runs.
    */
  private[queries] def unigramSegmentOracle(
      model: graft.ops.UnigramLmTrainer.Model): String = {
    val vals = ugPieceVals(model)
    s"""WITH RECURSIVE
$servingWordsSql,
${unigramDpCtes(vals, "")}
SELECT doc_id, CAST(word_pos AS BIGINT) AS word_pos, s.word,
  CAST(sub_pos AS BIGINT) AS sub_pos, piece FROM (
  SELECT s0.doc_id, s0.word_pos, s0.word,
    unnest(range(0, len(g.ps))) AS sub_pos, unnest(g.ps) AS piece
  FROM sv s0 JOIN seg g ON g.word = s0.word) s
ORDER BY doc_id, word_pos, sub_pos"""
  }

  /** Unigram Viterbi CTEs (`${x}up/${x}mx/${x}dp/${x}fin/${x}seg`)
    * over the distinct words of `wd`, with `$vals` the interpolated
    * (piece, logProb-string) literals — extracted so the compare
    * oracle can run this chain beside the BPE/WordPiece ones. The
    * final `${x}seg(word, ps)` applies the char-split fallback for
    * words the piece table cannot cover.
    */
  private def unigramDpCtes(vals: String, x: String): String =
    s"""${x}up AS (SELECT v.piece, CAST(v.lps AS DOUBLE) AS lp
       FROM (VALUES $vals) v(piece, lps)),
${x}mx AS (SELECT max(len(piece)) AS mpl FROM ${x}up),
${x}dp AS (
  SELECT word, 0 AS i,
         [CAST(0.0 AS DOUBLE)] AS sc, [0] AS ct,
         [CAST([] AS VARCHAR[])] AS pth
  FROM wd
  UNION ALL
  SELECT dp.word, dp.i + 1,
    dp.sc || [cand.s], dp.ct || [cand.c], dp.pth || [cand.p]
  FROM ${x}dp dp JOIN ${x}mx mx ON TRUE
  LEFT JOIN LATERAL (
     SELECT dp.sc[jj::INTEGER + 1] + u.lp AS s,
            dp.ct[jj::INTEGER + 1] + 1 AS c,
            dp.pth[jj::INTEGER + 1] || [u.piece] AS p, jj
     -- constant range (no lateral table-function args in DuckDB 1.0),
     -- filtered to the live window; 256 bounds the corpus word length
     FROM (SELECT unnest(range(0, 256)) AS jj) j
     JOIN ${x}up u ON u.piece = substr(dp.word, jj::INTEGER + 1, dp.i + 1 - jj::INTEGER)
     WHERE jj >= greatest(0, dp.i + 1 - mx.mpl) AND jj <= dp.i
       AND dp.sc[jj::INTEGER + 1] IS NOT NULL
     ORDER BY s DESC, c ASC, jj ASC
     LIMIT 1) cand ON TRUE
  WHERE dp.i < len(dp.word)),
${x}fin AS (SELECT word, pth[len(word) + 1] AS pieces
        FROM ${x}dp WHERE i = len(word)),
${x}seg AS (SELECT word,
    CASE WHEN pieces IS NULL THEN string_split(word, '') ELSE pieces END AS ps
  FROM ${x}fin)"""

  /** Run-time oracle for q_tokenizer_compare: all three tokenizer
    * chains in ONE statement over the shared serving words — BPE
    * trains IN SQL (prefixed unrolled rounds `b*`), the WordPiece
    * inventory and the unigram piece table interpolate through the
    * dynamic channel (greedy `g*` and Viterbi `u*` chains; WordPiece
    * training itself is gated by q_wordpiece_merges — and the greedy
    * lateral MUST read a VALUES inventory: a correlated lateral
    * inside a recursive CTE silently matches nothing against a
    * derived CTE in DuckDB 1.0, observed when this oracle first
    * computed the inventory from the `p*` training chain in-SQL).
    * Fertility weights by serving OCCURRENCES (sv join), n_unk is
    * WordPiece's whole-word fallback count (structurally zero for
    * the other two).
    */
  private[queries] def tokenizerCompareOracle(
      wp: graft.ops.WordPieceTrainer.Model,
      ug: graft.ops.UnigramLmTrainer.Model): String = {
    val vals = ugPieceVals(ug)
    val invVals = wpInventoryVals(wp)
    val bRounds = (1 to 8).map(i => bpeRoundSql(i, "b")).mkString(",\n")
    s"""WITH RECURSIVE
$servingWordsSql,
${bpeW0("documents WHERE doc_id < 200", "b")},
$bRounds,
bseg AS (SELECT w.word,
    COALESCE(len(v.syms), len(string_split(w.word, ''))) AS n_sub
  FROM wd w LEFT JOIN bw8 v ON v.word = w.word),
pinv AS (SELECT piece, body, iscont FROM (VALUES $invVals)
         v(piece, body, iscont)),
${wpGreedyCtes("pinv", "g")},
pseg AS (SELECT word, len(pieces) AS n_sub,
    CASE WHEN pieces = ['[UNK]'] THEN 1 ELSE 0 END AS is_unk
  FROM gfin),
${unigramDpCtes(vals, "u")},
u2 AS (SELECT word, len(ps) AS n_sub FROM useg)
SELECT tokenizer, n_words, n_subwords, n_unk, fertility_r FROM (
  SELECT 'bpe' AS tokenizer, CAST(count(*) AS BIGINT) AS n_words,
    CAST(sum(b.n_sub) AS BIGINT) AS n_subwords,
    CAST(0 AS BIGINT) AS n_unk,
    round(CAST(sum(b.n_sub) AS DOUBLE) / count(*), 6) AS fertility_r
  FROM sv s JOIN bseg b ON b.word = s.word
  UNION ALL
  SELECT 'unigram', CAST(count(*) AS BIGINT),
    CAST(sum(u.n_sub) AS BIGINT), CAST(0 AS BIGINT),
    round(CAST(sum(u.n_sub) AS DOUBLE) / count(*), 6)
  FROM sv s JOIN u2 u ON u.word = s.word
  UNION ALL
  SELECT 'wordpiece', CAST(count(*) AS BIGINT),
    CAST(sum(p.n_sub) AS BIGINT), CAST(sum(p.is_unk) AS BIGINT),
    round(CAST(sum(p.n_sub) AS DOUBLE) / count(*), 6)
  FROM sv s JOIN pseg p ON p.word = s.word
) ORDER BY tokenizer"""
  }

  /** The bigram-profile score columns + tie-precedence argmax, shared
    * by the q_lang_ngram and q_langid_confusion oracles — the SQL twin
    * of [[langNgramScored]].
    */
  private val langScoreSql: String =
    """CAST(len(regexp_extract_all(text, 'th')) + len(regexp_extract_all(text, 'he'))
             + len(regexp_extract_all(text, 'in')) + len(regexp_extract_all(text, 'er'))
             AS INTEGER) AS score_en,
           CAST(len(regexp_extract_all(text, 'ch')) + len(regexp_extract_all(text, 'ei'))
             + len(regexp_extract_all(text, 'de')) + len(regexp_extract_all(text, 'er'))
             AS INTEGER) AS score_de,
           CAST(len(regexp_extract_all(text, 'de')) + len(regexp_extract_all(text, 'la'))
             + len(regexp_extract_all(text, 'os')) + len(regexp_extract_all(text, 'ar'))
             AS INTEGER) AS score_es,
           CAST(len(regexp_extract_all(text, 'le')) + len(regexp_extract_all(text, 'es'))
             + len(regexp_extract_all(text, 'on')) + len(regexp_extract_all(text, 'en'))
             AS INTEGER) AS score_fr"""

  private val langArgmaxSql: String =
    """CASE WHEN score_en >= score_de AND score_en >= score_es
                     AND score_en >= score_fr THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END"""

  /** Word-3-shingle CTEs over `src`'s (doc_id, text), mirroring
    * TextDedup's tokenizer and shingler: `d$x` tokens, `d2$x` the docs
    * with at least 3 tokens, `tok$x` positioned tokens, then `out` —
    * DISTINCT shingles (Jaccard sets) or every occurrence (cosine tf
    * multisets). `as` is the CTE binder (`AS` or `AS MATERIALIZED`).
    */
  private def shingleCtes(src: String, x: String, out: String,
      distinct: Boolean, as: String = "AS"): String =
    s"""d$x $as (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM $src),
         d2$x $as (SELECT doc_id, toks FROM d$x WHERE len(toks) >= 3),
         tok$x $as (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos FROM d2$x),
         $out $as (SELECT ${if (distinct) "DISTINCT " else ""}t1.doc_id,
             t1.tok || ' ' || t2.tok || ' ' || t3.tok AS shingle
             FROM tok$x t1
             JOIN tok$x t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
             JOIN tok$x t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2)"""

  /** [[shingleCtes]] counted into per-doc shingle tf rows `out`
    * (doc_id, shingle, tf) — the cosine vectors.
    */
  private def tfCtes(src: String, x: String, out: String,
      as: String = "AS"): String =
    s"""${shingleCtes(src, x, s"shm$x", distinct = false, as)},
         $out $as (SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf
             FROM shm$x GROUP BY 1, 2)"""

  /** Jaccard >= τ as the raw quotient of the integer counts — one
    * IEEE division, bit-identical on both engines.
    */
  private def jaccardAtLeast(inter: String, sa: String, sb: String,
      tau: Double): String =
    s"""CAST($inter AS DOUBLE) /
           CAST($sa + $sb - $inter AS DOUBLE) >= $tau"""

  /** cos >= τ as the all-integer num² >= τ²·(na2·nb2), association
    * mirrored verbatim from CosineAllPairs, with the double multiply
    * forced (bare 0.8 * 0.8 folds as DECIMAL = exactly 0.64 in
    * DuckDB, one ulp from Spark's IEEE product).
    */
  private def cosineAtLeast(num: String, na2: String, nb2: String,
      tau: Double): String =
    s"""CAST($num AS DOUBLE) * CAST($num AS DOUBLE) >=
           CAST($tau AS DOUBLE) * CAST($tau AS DOUBLE) *
             (CAST($na2 AS DOUBLE) * CAST($nb2 AS DOUBLE))"""

  /** Exact Jaccard >= τ pairs from the FULL posting join over distinct
    * shingles — no prefix machinery and no index, so a hash match
    * proves a prefix rule, an index or its lifecycle lossless.
    * `pairOn` restricts the pair join (x is the `a` side, y the `b`
    * side): `x.doc_id < y.doc_id` for all pairs, a slice condition for
    * the batch × corpus cross pairs.
    */
  private def jaccardPairsOracle(tau: Double, pairOn: String): String =
    s"""WITH ${shingleCtes("documents", "", "sh", distinct = true)},
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
             FROM sh GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(count(*) AS BIGINT) AS inter
             FROM sh x JOIN sh y
               ON x.shingle = y.shingle AND $pairOn
             GROUP BY 1, 2)
         SELECT i.a, i.b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
             round(CAST(i.inter AS DOUBLE) /
               CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS ja_r
         FROM inter i
         JOIN sz sa ON sa.doc_id = i.a
         JOIN sz sb ON sb.doc_id = i.b
         WHERE ${jaccardAtLeast("i.inter", "sa.sz", "sb.sz", tau)}
         ORDER BY a, b"""

  /** Exact cosine >= τ pairs over shingle-tf vectors from the FULL tf
    * posting join — the [[jaccardPairsOracle]] contract at cosine
    * semantics, with the same `pairOn`.
    */
  private def cosinePairsOracle(tau: Double, pairOn: String): String =
    s"""WITH ${tfCtes("documents", "", "tf")},
         sz AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS na2
             FROM tf GROUP BY 1),
         nm AS (SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(sum(x.tf * y.tf) AS BIGINT) AS num
             FROM tf x JOIN tf y
               ON x.shingle = y.shingle AND $pairOn
             GROUP BY 1, 2)
         SELECT n.a, n.b, n.num, sa.na2 AS na2, sb.na2 AS nb2,
             round(CAST(n.num AS DOUBLE) /
               (sqrt(CAST(sa.na2 AS DOUBLE)) *
                sqrt(CAST(sb.na2 AS DOUBLE))), 6) AS cos_r
         FROM nm n
         JOIN sz sa ON sa.doc_id = n.a
         JOIN sz sb ON sb.doc_id = n.b
         WHERE ${cosineAtLeast("n.num", "sa.na2", "sb.na2", tau)}
         ORDER BY a, b"""

  /** The family's batch × corpus slice as a pair condition. */
  private val crossPairs = "x.doc_id >= 250 AND y.doc_id < 250"

  /** A similarity's terms in the nightly oracle's stages 3–4:
    * `vectors(src, x, as)` writes `src`'s per-doc vector rows `v$x`
    * (doc_id, shingle[, tf]); `size` and `dot` are the per-doc and
    * per-pair aggregates; `atLeast(dot, size a, size b)` is the τ 0.8
    * test.
    */
  private final case class OracleSim(
      vectors: (String, String, String) => String, size: String,
      dot: String, atLeast: (String, String, String) => String)

  private val jaccardSim = OracleSim(
    (src, x, as) => shingleCtes(src, x, s"v$x", distinct = true, as),
    size = "count(*)", dot = "count(*)",
    atLeast = jaccardAtLeast(_, _, _, 0.8))

  private val cosineSim = OracleSim(
    (src, x, as) => tfCtes(src, x, s"v$x", as),
    size = "CAST(sum(tf * tf) AS BIGINT)",
    dot = "CAST(sum(x.tf * y.tf) AS BIGINT)",
    atLeast = cosineAtLeast(_, _, _, 0.8))

  /** One night of the nightly ingest decision, replayed from scratch as
    * CTEs over batch `b` and corpus `c` (both (doc_id, text)), every
    * name suffixed `n`: the quality gate `g$n`, the exact keep `exk$n`
    * (in-batch keep-min-id per fingerprint, minus corpus
    * fingerprints), the corpus-clean `ncx$n` (no `sim` pair >= τ with
    * a corpus doc, full posting join) and the accepted `acc$n` (minus
    * the larger id of every qualifying in-batch pair). Materialized:
    * DuckDB otherwise re-runs every shared stage per reference.
    */
  private def nightOracleCtes(n: String, b: String, c: String,
      sim: OracleSim): String = {
    val as = "AS MATERIALIZED"
    raw"""q$n $as (SELECT doc_id, text,
             len(string_split(trim(text), ' ')) AS n_tokens,
             len(list_filter(string_split(trim(text), ' '),
               x -> list_contains(['the','a','data','row','key'], x)))
               AS n_stop,
             length(text) AS len_text,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM $b),
         g$n $as (SELECT doc_id, text, fp FROM q$n
           WHERE len_text BETWEEN 20 AND 2000 AND n_tokens >= 5
             AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5),
         cfp$n $as (SELECT DISTINCT
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM $c),
         ex$n $as (SELECT doc_id, text, fp, row_number() OVER
             (PARTITION BY fp ORDER BY doc_id) AS rn FROM g$n),
         exk$n $as (SELECT doc_id, text FROM ex$n
           WHERE rn = 1 AND fp NOT IN (SELECT fp FROM cfp$n)),
         ${sim.vectors(s"exk$n", s"x$n", as)},
         ${sim.vectors(c, s"c$n", as)},
         szx$n $as (SELECT doc_id, ${sim.size} AS sz FROM vx$n GROUP BY 1),
         szc$n $as (SELECT doc_id, ${sim.size} AS sz FROM vc$n GROUP BY 1),
         dotx$n $as (SELECT x.doc_id AS a, y.doc_id AS b, ${sim.dot} AS dot
             FROM vx$n x JOIN vc$n y ON x.shingle = y.shingle
             GROUP BY 1, 2),
         crossdup$n $as (SELECT DISTINCT i.a AS doc_id FROM dotx$n i
             JOIN szx$n sa ON sa.doc_id = i.a
             JOIN szc$n sb ON sb.doc_id = i.b
             WHERE ${sim.atLeast("i.dot", "sa.sz", "sb.sz")}),
         ncx$n $as (SELECT doc_id FROM exk$n
           WHERE doc_id NOT IN (SELECT doc_id FROM crossdup$n)),
         vn$n $as (SELECT v.* FROM vx$n v JOIN ncx$n k ON v.doc_id = k.doc_id),
         szn$n $as (SELECT doc_id, ${sim.size} AS sz FROM vn$n GROUP BY 1),
         dotn$n $as (SELECT x.doc_id AS a, y.doc_id AS b, ${sim.dot} AS dot
             FROM vn$n x JOIN vn$n y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
         indup$n $as (SELECT DISTINCT i.b AS doc_id FROM dotn$n i
             JOIN szn$n sa ON sa.doc_id = i.a
             JOIN szn$n sb ON sb.doc_id = i.b
             WHERE ${sim.atLeast("i.dot", "sa.sz", "sb.sz")}),
         acc$n $as (SELECT doc_id FROM ncx$n
           WHERE doc_id NOT IN (SELECT doc_id FROM indup$n))"""
  }

  /** A batch doc's four stage flags from night `n`'s CTEs (batch `b`). */
  private def nightFlagsSql(n: String): String =
    s"""b.doc_id IN (SELECT doc_id FROM g$n) AS gate_pass,
           b.doc_id IN (SELECT doc_id FROM exk$n) AS exact_keep,
           b.doc_id IN (SELECT doc_id FROM ncx$n) AS corpus_clean,
           b.doc_id IN (SELECT doc_id FROM acc$n) AS accepted"""

  /** The single-night decision: corpus doc_id < 250, batch >= 250. */
  private def nightlyOracle(sim: OracleSim): String =
    s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
         c AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         ${nightOracleCtes("", "b", "c", sim)}
         SELECT b.doc_id, ${nightFlagsSql("")}
         FROM b ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesOracle(12),
    "q_bpe_segment" -> bpeSegmentOracle(8),
    "q_bpe_fertility" -> bpeFertilityOracle(8),
    "q_wordpiece_merges" -> wordpieceMergesOracle(8),
    "q_inverted_index" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         occ AS (SELECT tok, doc_id, count(*) AS occ FROM tk GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY tok ORDER BY doc_id) AS rn FROM occ)
         SELECT tok, count(*) AS df, CAST(sum(occ) AS BIGINT) AS cf,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             FILTER (WHERE rn <= 20) AS posting
         FROM r GROUP BY tok ORDER BY tok""",
    "q_pmi" ->
      """WITH dt AS (SELECT DISTINCT doc_id, tok FROM
             (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
              FROM documents)),
         ct AS (SELECT tok, count(*) AS c_t FROM dt GROUP BY 1),
         nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
         p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
           FROM dt a JOIN dt b
             ON a.doc_id = b.doc_id AND a.tok < b.tok
           GROUP BY 1, 2)
         SELECT p.tok_a, p.tok_b, p.c_ab,
           round(ln((CAST(p.c_ab AS DOUBLE) * CAST(nn.n_docs AS DOUBLE)) /
             (CAST(ca.c_t AS DOUBLE) * CAST(cb.c_t AS DOUBLE))), 6) AS pmi_r
         FROM p JOIN ct ca ON ca.tok = p.tok_a
           JOIN ct cb ON cb.tok = p.tok_b CROSS JOIN nn
         ORDER BY tok_a, tok_b""",
    "q_sparse_cosine" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         tk AS (SELECT doc_id AS doc,
             unnest(string_split(trim(text), ' ')) AS tok FROM d),
         tf AS (SELECT doc, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
         dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM d),
         wtd AS (SELECT tf.doc, tf.tok,
             tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfq.df + 1)) AS w
           FROM tf JOIN dfq USING (tok) CROSS JOIN n),
         nrm AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM wtd
           GROUP BY 1 HAVING sqrt(sum(w * w)) > 0),
         dt AS (SELECT x.doc AS a, y.doc AS b, sum(x.w * y.w) AS dot
           FROM wtd x JOIN wtd y ON x.tok = y.tok AND x.doc < y.doc
           GROUP BY 1, 2)
         SELECT dt.a, dt.b,
           round(dt.dot / (na.nrm * nb.nrm), 6) AS sim_r
         FROM dt JOIN nrm na ON na.doc = dt.a
           JOIN nrm nb ON nb.doc = dt.b
         WHERE round(dt.dot / (na.nrm * nb.nrm), 6) >= 0.9
         ORDER BY a, b""",
    "q_lang_ngram" ->
      s"""WITH s AS (SELECT doc_id, $langScoreSql
         FROM documents)
         SELECT doc_id, score_en, score_de, score_es, score_fr,
           $langArgmaxSql AS pred_lang
         FROM s ORDER BY doc_id""",
    "q_langid_confusion" ->
      s"""WITH s AS (SELECT doc_id, lang, $langScoreSql
         FROM documents),
         p AS (SELECT lang, $langArgmaxSql AS pred_lang FROM s),
         c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
           FROM p GROUP BY 1, 2),
         t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
           FROM c GROUP BY lang)
         SELECT c.lang, c.pred_lang, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE), 6)
             AS frac_r
         FROM c JOIN t ON c.lang = t.lang
         ORDER BY c.lang, pred_lang""",
    "q_token_bpe" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
             AS INTEGER) AS n_bpe_tokens,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_ws_tokens
         FROM documents ORDER BY doc_id""",
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents),
         d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 2),
         tok AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos FROM d2),
         bg AS (SELECT t1.doc_id, t1.tok || ' ' || t2.tok AS bg
             FROM tok t1 JOIN tok t2
               ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct,
             round(1.0 - CAST(count(DISTINCT bg) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS rep_ratio
         FROM bg GROUP BY doc_id ORDER BY doc_id""",
    "q_winnow_fp" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents
             WHERE length(lower(trim(text))) >= 5),
         g0 AS (SELECT doc_id, t,
             unnest(range(1, length(t) - 3)) AS pos FROM d),
         g AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             CAST(CAST(('0x' || substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 8))
               AS UBIGINT) AS BIGINT) AS h
             FROM g0),
         wm AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin FROM g)
         SELECT doc_id, count(DISTINCT wmin) AS n_prints,
             min(wmin) AS min_print, max(wmin) AS max_print
         FROM wm GROUP BY doc_id ORDER BY doc_id""",
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT t.doc_id, t.tok, t.tf,
             round(t.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)), 6) AS score_r
             FROM tf t JOIN dfq d ON t.tok = d.tok CROSS JOIN n),
         r AS (SELECT *, CAST(row_number() OVER
             (PARTITION BY doc_id ORDER BY score_r DESC, tok) AS BIGINT) AS rank
             FROM sc)
         SELECT doc_id, tok, tf, rank, score_r FROM r WHERE rank <= 3
         ORDER BY doc_id, rank""",
    "q_token_stats" ->
      """SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_words,
           CAST(length(text) AS INTEGER) AS len_text
         FROM documents ORDER BY doc_id""",
    "q_quality" ->
      """WITH q AS (SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(string_split(trim(text), ' '),
             x -> list_contains(['the','a','data','row','key'], x))) AS INTEGER) AS n_stop,
           CAST(length(text) AS INTEGER) AS len_text
         FROM documents)
         SELECT doc_id, n_tokens, n_stop, len_text,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           (len_text BETWEEN 20 AND 2000) AND n_tokens >= 5
             AND (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) <= 0.5 AS quality_ok
         FROM q ORDER BY doc_id""",
    "q_lang_id" ->
      """WITH q AS (SELECT doc_id,
           CAST(len(list_filter(string_split(trim(text), ' '),
             x -> list_contains(['the','a'], x))) AS DOUBLE)
             / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS en_ratio
         FROM documents)
         SELECT doc_id, en_ratio,
           CASE WHEN en_ratio >= 0.08 THEN 'en' ELSE 'unk' END AS pred_lang
         FROM q ORDER BY doc_id""",
    "q_fingerprint" ->
      """WITH f AS (SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents)
         SELECT doc_id, fp,
           CAST(CAST(('0x' || substr(fp, 1, 15)) AS UBIGINT) AS BIGINT) AS fp64
         FROM f ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fp""",
    "q_dedup_lines" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents),
         s0 AS (SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)))
               AS i FROM d),
         seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(
               toks[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)],
               ' ') AS seg
             FROM s0),
         r AS (SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg
               ORDER BY doc_id, seg_idx) AS rn FROM seg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
             CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
             string_agg(CASE WHEN rn = 1 THEN seg END, ' '
               ORDER BY seg_idx) AS clean_text
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_lines_incr" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents),
         s0 AS (SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)))
               AS i FROM d),
         seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(
               toks[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)],
               ' ') AS seg
             FROM s0),
         corp AS (SELECT DISTINCT seg FROM seg WHERE doc_id < 250),
         b AS (SELECT * FROM seg WHERE doc_id >= 250),
         r AS (SELECT b.doc_id, b.seg_idx, b.seg,
             row_number() OVER (PARTITION BY b.seg
               ORDER BY b.doc_id, b.seg_idx) AS rn,
             c.seg IS NOT NULL AS in_corpus
             FROM b LEFT JOIN corp c ON b.seg = c.seg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
             CAST(count(CASE WHEN rn = 1 AND NOT in_corpus THEN 1 END)
               AS BIGINT) AS n_kept,
             string_agg(CASE WHEN rn = 1 AND NOT in_corpus THEN seg END,
               ' ' ORDER BY seg_idx) AS clean_text
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    // gear CDC replicated position-by-position (cdcWalkSql); the
    // dup flag is the fp-keyed first-occurrence window.
    "q_cdc_chunks" ->
      s"""WITH $cdcWalkSql
         SELECT doc_id, off, len, fp,
           CASE WHEN row_number() OVER (PARTITION BY fp
             ORDER BY doc_id, off) > 1 THEN 1 ELSE 0 END AS is_dup
         FROM fps ORDER BY doc_id, off""",
    // same walk, batch chunks flagged against the standing corpus's
    // distinct fingerprints
    "q_cdc_chunks_incr" ->
      s"""WITH $cdcWalkSql,
         corp AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 250)
         SELECT f.doc_id AS doc_id, f.off, f.len, f.fp,
           CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS is_known
         FROM fps f LEFT JOIN corp c ON c.fp = f.fp
         WHERE f.doc_id >= 250
         ORDER BY f.doc_id, f.off""",
    // the same gap-and-island merge over spans covered by >=2-count
    // 40-grams; positions 1-based, end exclusive — all integers
    "q_dedup_substring" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents
             WHERE length(lower(trim(text))) >= 40),
         g0 AS (SELECT doc_id, t,
             unnest(range(1, length(t) - 38)) AS pos FROM d),
         g AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             substr(t, CAST(pos AS INTEGER), 40) AS gr FROM g0),
         dup AS (SELECT gr FROM g GROUP BY gr HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos AS strt, pos + 40 AS e
           FROM g JOIN dup USING (gr)),
         pm AS (SELECT doc_id, strt, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY strt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM hits),
         isl AS (SELECT doc_id, strt, e,
             sum(CASE WHEN pmax IS NULL OR strt > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY strt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
           FROM pm)
         SELECT doc_id, min(strt) AS cut_start, max(e) AS cut_end,
           max(e) - min(strt) AS n_cut
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, cut_start""",
    // per-source rollup of the same plan; LEFT join keeps cut-free
    // sources at ratio 0
    "q_dedup_substring_stats" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents
             WHERE length(lower(trim(text))) >= 40),
         g0 AS (SELECT doc_id, t,
             unnest(range(1, length(t) - 38)) AS pos FROM d),
         g AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
             substr(t, CAST(pos AS INTEGER), 40) AS gr FROM g0),
         dup AS (SELECT gr FROM g GROUP BY gr HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos AS strt, pos + 40 AS e
           FROM g JOIN dup USING (gr)),
         pm AS (SELECT doc_id, strt, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY strt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM hits),
         isl AS (SELECT doc_id, strt, e,
             sum(CASE WHEN pmax IS NULL OR strt > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY strt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
           FROM pm),
         iv AS (SELECT doc_id,
             CAST(sum(mx - mn) AS BIGINT) AS cut
           FROM (SELECT doc_id, island, min(strt) AS mn, max(e) AS mx
             FROM isl GROUP BY doc_id, island) GROUP BY doc_id),
         dl AS (SELECT doc_id, source,
             CAST(length(lower(trim(text))) AS BIGINT) AS len
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS n_chars,
           CAST(coalesce(sum(cut), 0) AS BIGINT) AS n_cut,
           CAST(count(cut) AS BIGINT) AS n_docs_cut,
           round(CAST(coalesce(sum(cut), 0) AS DOUBLE) /
             CAST(sum(len) AS DOUBLE), 6) AS cut_ratio_r
         FROM dl LEFT JOIN iv USING (doc_id)
         GROUP BY source ORDER BY source""",
    "q_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents WHERE doc_id < 1000),
         d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 2),
         tok AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos FROM d2),
         sh AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok AS shingle
             FROM tok t1 JOIN tok t2
               ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
             FROM sh x JOIN sh y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY 1, 2)
         SELECT i.a, i.b, i.inter, sa.n AS na, sb.n AS nb,
             CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
         FROM inter i
         JOIN sz sa ON sa.doc_id = i.a
         JOIN sz sb ON sb.doc_id = i.b
         WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= 0.5
         ORDER BY a, b""",
    // ground truth from the FULL posting join — the prefix filter
    // never appears here, so a hash match proves it lossless
    "q_prefix_jaccard" -> jaccardPairsOracle(0.8, "x.doc_id < y.doc_id"),
    // cross-side ground truth: batch (>= 250) x corpus (< 250)
    // posting join, no prefix machinery. The indexed production twin
    // and the append lifecycle hash against the SAME truth (the full
    // standing corpus is < 250 regardless of which half was built vs
    // appended): a match proves the frozen-corpus-rank prefix rule
    // lossless corpus-wide
    "q_prefix_jaccard_incr" -> jaccardPairsOracle(0.8, crossPairs),
    "q_prefix_jaccard_incr_idx" -> jaccardPairsOracle(0.8, crossPairs),
    "q_prefix_jaccard_incr_append" -> jaccardPairsOracle(0.8, crossPairs),
    // the composed nightly-ingest decision: gates, exact-vs-corpus,
    // near-dup-vs-corpus, in-batch near-dup — all-boolean flags, pair
    // thresholds compared as raw quotients on both engines
    "q_pipeline_nightly" -> nightlyOracle(jaccardSim),
    // the cosine-composed nightly: same gate/exact stages, stages
    // 3-4 replayed with FULL tf posting joins and the all-integer
    // cosine threshold
    "q_pipeline_nightly_cos" -> nightlyOracle(cosineSim),
    // the two-night lifecycle: replay night 1 from scratch, extend
    // the corpus with night 1's accepted docs, replay night 2 against
    // the extended corpus — flags for both nights
    "q_pipeline_nightly2" ->
      s"""WITH c AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         b1 AS MATERIALIZED (SELECT doc_id, text FROM documents
           WHERE doc_id >= 250 AND doc_id < 375),
         b2 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id >= 375),
         ${nightOracleCtes("1", "b1", "c", jaccardSim)},
         c2 AS MATERIALIZED (SELECT doc_id, text FROM c
           UNION ALL
           SELECT b.doc_id, b.text FROM b1 b
           JOIN acc1 a ON a.doc_id = b.doc_id),
         ${nightOracleCtes("2", "b2", "c2", jaccardSim)}
         SELECT doc_id, night, gate_pass, exact_keep, corpus_clean,
           accepted
         FROM (
           SELECT b.doc_id, 1 AS night, ${nightFlagsSql("1")}
           FROM b1 b
           UNION ALL
           SELECT b.doc_id, 2 AS night, ${nightFlagsSql("2")}
           FROM b2 b)
         ORDER BY doc_id""",
    // cosine AllPairs ground truth: FULL tf posting join, the same
    // all-integer threshold comparison, association mirrored verbatim
    "q_cosine_allpairs" -> cosinePairsOracle(0.8, "x.doc_id < y.doc_id"),
    // cross-side cosine ground truth: FULL tf posting join restricted
    // to batch (>= 250) x corpus (< 250), no prefix machinery. The
    // indexed and append-lifecycle twins hash against the SAME truth —
    // the frozen-maxw freeze-and-compensate path is lossless
    // corpus-wide iff these match
    "q_cosine_incr" -> cosinePairsOracle(0.8, crossPairs),
    "q_cosine_incr_idx" -> cosinePairsOracle(0.8, crossPairs),
    "q_cosine_incr_append" -> cosinePairsOracle(0.8, crossPairs),
    // capped twin at a non-tripping cap equals the exact join — full
    // tf posting ground truth at tau = 0.9, the forced double multiply
    "q_cosine_allpairs_capped" ->
      cosinePairsOracle(0.9, "x.doc_id < y.doc_id"),
    // the capped twin at a non-tripping cap equals the exact join —
    // same ground-truth oracle, tau = 0.9
    "q_prefix_jaccard_capped" ->
      jaccardPairsOracle(0.9, "x.doc_id < y.doc_id"),
    "q_dedup_minhash" ->
      s"""WITH ${minhashCtes()}
         SELECT a, b, inter, na, nb, jaccard FROM pairs
         ORDER BY a, b""",
    "q_containment" ->
      s"""WITH ${minhashCtes()},
         inter2 AS (SELECT x.doc_id AS a, y.doc_id AS b,
             count(*) AS inter
           FROM sh x JOIN sh y
             ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         ct AS (SELECT i.a, i.b, i.inter, sa.n AS na, sb.n AS nb,
             round(CAST(i.inter AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
               AS cont_a_r,
             round(CAST(i.inter AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
               AS cont_b_r
           FROM inter2 i
           JOIN sz sa ON sa.doc_id = i.a
           JOIN sz sb ON sb.doc_id = i.b)
         SELECT a, b, inter, na, nb, cont_a_r, cont_b_r FROM ct
         WHERE greatest(cont_a_r, cont_b_r) >= 0.9
         ORDER BY a, b""",
    "q_token_entropy" ->
      """WITH tk AS (SELECT source,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         ct AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot,
             count(*) AS n_distinct FROM ct GROUP BY 1),
         p AS (SELECT ct.source,
             (CAST(ct.c AS DOUBLE) / CAST(t.tot AS DOUBLE)) *
               ln(CAST(ct.c AS DOUBLE) / CAST(t.tot AS DOUBLE)) AS plogp,
             t.tot, t.n_distinct
           FROM ct JOIN tot t ON t.source = ct.source)
         SELECT source, max(tot) AS n_tokens,
           max(n_distinct) AS n_distinct,
           round(-sum(plogp), 6) AS entropy_r
         FROM p GROUP BY 1 ORDER BY source""",
    "q_minhash_recall" ->
      s"""WITH ${minhashCtes(1000)},
         truth0 AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
             FROM sh x JOIN sh y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
         tt AS (SELECT t.a, t.b FROM truth0 t
             JOIN sz sa ON sa.doc_id = t.a
             JOIN sz sb ON sb.doc_id = t.b
             WHERE CAST(t.inter AS DOUBLE)
               / CAST(sa.n + sb.n - t.inter AS DOUBLE) >= 0.8),
         c AS (SELECT CAST((SELECT count(*) FROM tt) AS BIGINT) AS n_true,
             CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_found)
         SELECT n_true, n_found,
           round(CASE WHEN n_true = 0 THEN 1.0
             ELSE CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) END, 6)
             AS recall_r
         FROM c""",
    "q_banding_curve" -> bandingCurveOracle,
    "q_dedup_precision" ->
      s"""WITH ${minhashCtes(1000)},
         c AS (SELECT
             CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
             CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_verified)
         SELECT n_cand, n_verified,
           round(CASE WHEN n_cand = 0 THEN 1.0
             ELSE CAST(n_verified AS DOUBLE) / CAST(n_cand AS DOUBLE)
             END, 6) AS precision_r
         FROM c""",
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
         edges AS (SELECT a, b FROM pairs
             UNION ALL SELECT b, a FROM pairs),
         reach(id, lbl) AS (
             SELECT doc_id, doc_id FROM ids
             UNION
             SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)
         SELECT id AS doc_id, min(lbl) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q_source_overlap" ->
      s"""WITH ${minhashCtes()},
         src AS (SELECT doc_id, source FROM documents
           WHERE doc_id < 2000),
         j AS (SELECT
             CASE WHEN sa.source <= sb.source THEN sa.source
               ELSE sb.source END AS s1,
             CASE WHEN sa.source <= sb.source THEN sb.source
               ELSE sa.source END AS s2
           FROM pairs p
           JOIN src sa ON sa.doc_id = p.a
           JOIN src sb ON sb.doc_id = p.b)
         SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_pairs
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical to q_dedup_cluster's closure: the incremental star-
    // edge merge must equal the full recompute, which is the claim
    "q_cluster_incremental" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
         edges AS (SELECT a, b FROM pairs
             UNION ALL SELECT b, a FROM pairs),
         reach(id, lbl) AS (
             SELECT doc_id, doc_id FROM ids
             UNION
             SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)
         SELECT id AS doc_id, min(lbl) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q_ppl_filter" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         nl AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-ln(CAST(v.cnt AS DOUBLE) / CAST(total AS DOUBLE))),
               6) AS nll
           FROM tk t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
           GROUP BY t.doc_id),
         r AS (SELECT nll AS nv, CAST(row_number() OVER (ORDER BY nll)
             AS BIGINT) AS rn FROM nl),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nl),
         p AS (SELECT 'lo' AS qname,
             CAST(floor(CAST(n - 1 AS DOUBLE) * 0.05) + 1 AS BIGINT)
               AS rlo,
             CAST(n - 1 AS DOUBLE) * 0.05 AS h
           FROM nn
           UNION ALL SELECT 'hi',
             CAST(floor(CAST(n - 1 AS DOUBLE) * 0.95) + 1 AS BIGINT),
             CAST(n - 1 AS DOUBLE) * 0.95
           FROM nn),
         ev AS (SELECT p.qname,
             a.nv + (p.h - floor(p.h)) * (coalesce(b.nv, a.nv) - a.nv)
               AS v
           FROM p JOIN r a ON a.rn = p.rlo
           LEFT JOIN r b ON b.rn = p.rlo + 1),
         th AS (SELECT
             max(CASE WHEN qname = 'lo' THEN v END) AS lo,
             max(CASE WHEN qname = 'hi' THEN v END) AS hi
           FROM ev)
         SELECT doc_id, n_tokens, nll FROM nl CROSS JOIN th
         WHERE nll >= lo AND nll <= hi ORDER BY doc_id""",
    "q_cluster_best" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
         edges AS (SELECT a, b FROM pairs
             UNION ALL SELECT b, a FROM pairs),
         reach(id, lbl) AS (
             SELECT doc_id, doc_id FROM ids
             UNION
             SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
         lbl AS (SELECT id, min(lbl) AS cluster_id
             FROM reach GROUP BY id),
         q AS (SELECT doc_id,
             COALESCE(CAST(len(string_split(trim(text), ' ')) AS BIGINT),
               0) AS n_tokens
           FROM documents WHERE doc_id < 2000),
         j AS (SELECT l.cluster_id, q.doc_id, q.n_tokens
           FROM lbl l JOIN q ON l.id = q.doc_id),
         r AS (SELECT cluster_id, doc_id, n_tokens,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY n_tokens DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members
           FROM j)
         SELECT cluster_id, doc_id AS kept_doc_id,
           n_tokens AS kept_n_tokens, n_members
         FROM r WHERE rn = 1 ORDER BY cluster_id""",
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashCtes(1000)},
         ids AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
         edges AS (SELECT a, b FROM pairs
             UNION ALL SELECT b, a FROM pairs),
         reach(id, lbl) AS (
             SELECT doc_id, doc_id FROM ids
             UNION
             SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
         lbl AS (SELECT id, min(lbl) AS cluster_id
             FROM reach GROUP BY id),
         szs AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
             AS cluster_size FROM lbl GROUP BY 1)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM szs GROUP BY 1 ORDER BY cluster_size""",
    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents
             WHERE doc_id < 1000),
         h AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS h
             FROM tok),
         bits AS (SELECT doc_id,
             $simhashBitSums
             FROM h GROUP BY doc_id),
         sim AS (SELECT doc_id, $simhashFp AS simhash FROM bits)
         SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS ham
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         ORDER BY a, b""",
    "q_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         h AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS h
             FROM tok),
         bits AS (SELECT doc_id,
             $simhashBitSums
             FROM h GROUP BY doc_id)
         SELECT doc_id, $simhashFp AS simhash FROM bits ORDER BY doc_id""",
    "q_top_ngrams" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM tk WHERE len(toks) >= 2),
         bg AS (SELECT t1.doc_id, t1.tok || ' ' || t2.tok AS shingle
           FROM t t1 JOIN t t2
             ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
         agg AS (SELECT shingle,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_total
           FROM bg GROUP BY 1)
         SELECT shingle, n_docs, n_total FROM agg
         ORDER BY n_docs DESC, n_total DESC, shingle LIMIT 20""",
    "q_repeated_spans" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         s0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
           FROM tk WHERE len(toks) >= 8),
         sp AS (SELECT doc_id, array_to_string(
             toks[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS span
           FROM s0)
         SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_total
         FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
         ORDER BY span""",
    "q_ngram_novelty" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         s0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
           FROM tk WHERE len(toks) >= 8),
         sp AS (SELECT DISTINCT doc_id, array_to_string(
             toks[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS span
           FROM s0),
         st AS (SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
           FROM sp GROUP BY span)
         SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN st.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           round(1.0 - CAST(sum(CASE WHEN st.nd >= 2 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty_r
         FROM sp JOIN st ON sp.span = st.span
         GROUP BY sp.doc_id ORDER BY doc_id""",
    "q_vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t
           GROUP BY tok),
         r AS (SELECT tok, n, CAST(row_number() OVER
             (ORDER BY n DESC, tok) AS BIGINT) AS rank FROM c),
         cu AS (SELECT tok, n, rank, CAST(sum(n) OVER (ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum FROM r),
         tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         SELECT rank, tok, n,
           round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cov_r
         FROM cu CROSS JOIN tt ORDER BY rank""",
    "q_unigram_logprob" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(CAST(v.cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6)
             AS nll
         FROM tk t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q_mlm_mask" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok,
             generate_subscripts(string_split(trim(text), ' '), 1) - 1
               AS pos
           FROM documents),
         vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY 1),
         rk AS (SELECT tok AS repl_tok, CAST(row_number() OVER
             (ORDER BY cnt DESC, tok) AS BIGINT) AS rn FROM vocab),
         vs AS (SELECT CAST(max(rn) AS BIGINT) AS v FROM rk),
         hh AS (SELECT doc_id, pos, tok,
             CAST(CAST(('0x' || substr(md5('mlm:' ||
               CAST(doc_id AS VARCHAR) || ':' ||
               CAST(pos AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               AS h
           FROM tk),
         sel AS (SELECT hh.doc_id, hh.pos, hh.tok,
             (h // 100) % 10 AS r, (h // 1000) % vs.v + 1 AS rv
           FROM hh CROSS JOIN vs WHERE h % 100 < 15),
         act AS (SELECT doc_id, pos, tok, rv,
             CASE WHEN r < 8 THEN 'mask'
               WHEN r = 8 THEN 'random' ELSE 'keep' END AS action
           FROM sel)
         SELECT a.doc_id, CAST(a.pos AS BIGINT) AS pos, a.tok AS orig,
           a.action,
           CASE WHEN a.action = 'mask' THEN '[MASK]'
             WHEN a.action = 'random' THEN r2.repl_tok
             ELSE a.tok END AS replacement
         FROM act a LEFT JOIN rk r2 ON r2.rn = a.rv
         ORDER BY a.doc_id, a.pos""",
    "q_phrase_search" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(trim(text), ' '))
             AS tok,
             generate_subscripts(string_split(trim(text), ' '), 1) AS pos
           FROM documents),
         a AS (SELECT doc_id, pos FROM tk WHERE tok = 'data'),
         b AS (SELECT doc_id, pos - 1 AS pos FROM tk
           WHERE tok = 'table')
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
         FROM a JOIN b ON a.doc_id = b.doc_id AND a.pos = b.pos
         GROUP BY 1 ORDER BY a.doc_id""",
    "q_ctfidf" ->
      """WITH tk AS (SELECT source,
             unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
         cls AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
         gl AS (SELECT tok, CAST(count(*) AS BIGINT) AS ft
           FROM tk GROUP BY 1),
         a AS (SELECT CAST(count(*) AS DOUBLE) /
             CAST(count(DISTINCT source) AS DOUBLE) AS bigA FROM tk),
         sc AS (SELECT c.source, c.tok,
             round(CAST(c.tf AS DOUBLE) *
               ln(1.0 + a.bigA / CAST(g.ft AS DOUBLE)), 6) AS score_r
           FROM cls c JOIN gl g ON g.tok = c.tok CROSS JOIN a),
         r AS (SELECT source, tok, score_r,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY score_r DESC, tok) AS BIGINT) AS rank
           FROM sc)
         SELECT source, rank, tok, score_r FROM r WHERE rank <= 3
         ORDER BY source, rank""",
    "q_heldout_nll" ->
      """WITH tk AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5('split:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               % 100 < 80 AS is_train,
             unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
         vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tk WHERE is_train GROUP BY 1),
         nv AS (SELECT CAST(sum(cnt) AS BIGINT) AS bign,
             CAST(count(*) AS BIGINT) AS bigv FROM vocab),
         sc AS (SELECT t.doc_id, v.cnt,
             CAST(coalesce(v.cnt, 0) + 1 AS DOUBLE) /
               CAST(nv.bign + nv.bigv AS DOUBLE) AS p
           FROM tk t LEFT JOIN vocab v ON v.tok = t.tok
           CROSS JOIN nv WHERE NOT t.is_train)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_oov,
           round(avg(-ln(p)), 6) AS nll_r
         FROM sc GROUP BY 1 ORDER BY doc_id""",
    "q_lm_interp" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         d2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
         t AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM d2),
         uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS ucnt
           FROM t GROUP BY 1),
         ut AS (SELECT CAST(sum(ucnt) AS BIGINT) AS total FROM uc),
         bg AS (SELECT t1.doc_id, t1.tok AS w1, t2.tok AS w2
           FROM t t1 JOIN t t2
             ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
           FROM bg GROUP BY 1, 2),
         pc AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS pcnt
           FROM bc GROUP BY 1)
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(0.75 * (CAST(c.cnt AS DOUBLE) /
               CAST(p.pcnt AS DOUBLE)) +
             0.25 * (CAST(u.ucnt AS DOUBLE) /
               CAST(ut.total AS DOUBLE)))), 6) AS nll_mix_r
         FROM bg b
         JOIN bc c ON b.w1 = c.w1 AND b.w2 = c.w2
         JOIN pc p ON b.w1 = p.w1
         JOIN uc u ON b.w2 = u.tok
         CROSS JOIN ut
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_kneser_ney" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM tk WHERE len(toks) >= 2),
         bg AS (SELECT t1.doc_id, t1.tok AS w1, t2.tok AS w2
           FROM t t1 JOIN t t2
             ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
           FROM bg GROUP BY 1, 2),
         pre AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS pcnt,
             CAST(count(*) AS BIGINT) AS n1p
           FROM bc GROUP BY 1),
         contl AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l
           FROM bc GROUP BY 1),
         bt AS (SELECT CAST(count(*) AS BIGINT) AS btot FROM bc)
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(
             greatest(CAST(c.cnt AS DOUBLE) - 0.75, 0.0) /
               CAST(p.pcnt AS DOUBLE) +
             (0.75 * CAST(p.n1p AS DOUBLE) /
               CAST(p.pcnt AS DOUBLE)) *
             (CAST(l.n1l AS DOUBLE) / CAST(bt.btot AS DOUBLE)))), 6)
             AS nll_kn_r
         FROM bg b
         JOIN bc c ON b.w1 = c.w1 AND b.w2 = c.w2
         JOIN pre p ON b.w1 = p.w1
         JOIN contl l ON b.w2 = l.w2
         CROSS JOIN bt
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_bigram_logprob" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM tk WHERE len(toks) >= 2),
         bg AS (SELECT t1.doc_id, t1.tok || ' ' || t2.tok AS shingle
           FROM t t1 JOIN t t2
             ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
         bc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS cnt
           FROM bg GROUP BY 1),
         pc AS (SELECT split_part(shingle, ' ', 1) AS w1,
             CAST(sum(cnt) AS BIGINT) AS pcnt
           FROM bc GROUP BY 1)
         SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(CAST(c.cnt AS DOUBLE) / CAST(p.pcnt AS DOUBLE))), 6)
             AS nll2
         FROM bg b
         JOIN bc c ON b.shingle = c.shingle
         JOIN pc p ON split_part(b.shingle, ' ', 1) = p.w1
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
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
           FROM tf JOIN dfq USING (tok) CROSS JOIN c)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           round(sum(term_score), 6) AS score_r
         FROM sc GROUP BY 1 ORDER BY doc_id""",
    // the full counter matrix and the min-over-rows estimate rebuilt
    // with the same md5 hash rows (zipped parallel unnests for the
    // (row, bucket) explode)
    "q_cms_counts" -> {
      def buckets(col: String): String = (0 until 3).map(i =>
        s"CAST(CAST(('0x' || substr(md5('cm$i:' || $col), 1, 8)) " +
          s"AS UBIGINT) AS BIGINT) % 8").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
             FROM documents),
         tk AS (SELECT tok FROM t WHERE tok <> ''),
         m AS (SELECT unnest(range(3)) AS row,
             unnest(${buckets("tok")}) AS bucket FROM tk),
         sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM m GROUP BY 1, 2),
         top AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_true
           FROM tk GROUP BY 1 ORDER BY n_true DESC, tok LIMIT 20),
         est AS (SELECT top.tok, top.n_true,
             unnest(range(3)) AS row,
             unnest(${buckets("top.tok")}) AS bucket FROM top)
         SELECT e.tok AS item, e.n_true,
           CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS n_est
         FROM est e LEFT JOIN sk USING (row, bucket)
         GROUP BY 1, 2 ORDER BY item"""
    },
    // same md5-hex bucket arithmetic as Corpus.hashBucket's oracles
    "q_hashing_tf" ->
      """WITH t AS (SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         f AS (SELECT doc_id,
             CAST(CAST(('0x' || substr(md5('htf:' || tok), 1, 8))
               AS UBIGINT) AS BIGINT) % 512 AS bucket
           FROM t WHERE tok <> '')
         SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
         FROM f GROUP BY 1, 2 ORDER BY doc_id, bucket""",
    // rank on (n DESC, tok) mirrors globalRowNumber's total order; the
    // rank-weighted sums are exact DECIMAL; ties permute within equal
    // values so Σ i·xᵢ is order-invariant under the window tiebreak
    "q_gini" ->
      """WITH r AS (SELECT source,
             CAST(n_chars AS DECIMAL(18,0)) AS x,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS DECIMAL(18,0)) AS rn
           FROM documents),
         m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(rn * x) AS sidx FROM r GROUP BY 1)
         SELECT source, n,
           round(2.0 * CAST(sidx AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
             AS gini_r
         FROM m WHERE sx > 0 ORDER BY source""",
    // every per-row log term is DECIMAL(28,14)-cast before SUM (the
    // logreg gradient treatment) — order-independent at any scale
    "q_heaps_fit" ->
      """WITH tk AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         s0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
           FROM tk WHERE len(toks) >= 4),
         sp AS (SELECT doc_id, array_to_string(
             toks[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)], ' ') AS span
           FROM s0),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sp
           FROM sp GROUP BY 1),
         fo AS (SELECT span, min(doc_id) AS fd FROM sp GROUP BY 1),
         nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS new_sp
           FROM fo GROUP BY 1),
         fr AS (SELECT pd.doc_id, pd.n_sp,
             COALESCE(nv.new_sp, 0) AS new_sp
           FROM pd LEFT JOIN nv USING (doc_id)),
         cm AS (SELECT doc_id,
             CAST(sum(n_sp) OVER w AS BIGINT) AS cum_n,
             CAST(sum(new_sp) OVER w AS BIGINT) AS cum_v
           FROM fr WINDOW w AS (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pt AS (SELECT
             CAST(ln(CAST(cum_n AS DOUBLE)) AS DECIMAL(28,14)) AS lx,
             CAST(ln(CAST(cum_v AS DOUBLE)) AS DECIMAL(28,14)) AS ly,
             CAST(ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_n AS DOUBLE))
               AS DECIMAL(28,14)) AS lxx,
             CAST(ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_v AS DOUBLE))
               AS DECIMAL(28,14)) AS lxy,
             CAST(ln(CAST(cum_v AS DOUBLE)) * ln(CAST(cum_v AS DOUBLE))
               AS DECIMAL(28,14)) AS lyy
           FROM cm),
         m AS (SELECT CAST(count(*) AS BIGINT) AS k,
             sum(lx) AS sx, sum(ly) AS sy, sum(lxx) AS sxx,
             sum(lxy) AS sxy, sum(lyy) AS syy FROM pt)
         SELECT k AS n_docs,
           round((k * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (k * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_r,
           round((CAST(sy AS DOUBLE) - ((k * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (k * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             * CAST(sx AS DOUBLE)) / k, 6) AS icept_r,
           round((k * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (k * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((k * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (k * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2_r
         FROM m""",
    // moment sums are vocabulary-bounded doubles (round-6 safe)
    "q_zipf_fit" ->
      """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
           FROM documents),
         tk AS (SELECT tok FROM t WHERE tok <> ''),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
           FROM tk GROUP BY 1),
         r AS (SELECT n, CAST(row_number() OVER
             (ORDER BY n DESC, tok) AS BIGINT) AS rn FROM c),
         p AS (SELECT ln(CAST(rn AS DOUBLE)) AS lx,
             ln(CAST(n AS DOUBLE)) AS ly FROM r),
         m AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(lx AS DECIMAL(28,14))) AS DOUBLE) AS sx,
             CAST(sum(CAST(ly AS DECIMAL(28,14))) AS DOUBLE) AS sy,
             CAST(sum(CAST(lx * lx AS DECIMAL(28,14))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(lx * ly AS DECIMAL(28,14))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(ly * ly AS DECIMAL(28,14))) AS DOUBLE) AS syy
           FROM p)
         SELECT k AS n_types,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope_r,
           round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
             / k, 6) AS icept_r,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
             / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2_r
         FROM m""")
}
