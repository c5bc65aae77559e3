package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, StressProxies, Tables}
import graft.ops.QueryCaches

/** Measured scaling curves for the scale-critical operator families —
  * the sweep that turns "the bucketed plan is ~linear in corpus size"
  * from an asserted property (pinned at ONE size by the bench stress
  * proxies q_dedup_minhash_16x / q_ann_lsh_16x / q_graph_hub) into a
  * fitted exponent over a 1×/2×/4×/8× input ladder.
  *
  * For each family the input is multiplied by m ∈ {1, 2, 4, 8} with
  * shifted ids (the proxy idiom — every copy is a distinct row, so
  * group/bucket cardinalities scale with m too), the full pipeline
  * runs to a noop sink, and the min of two passes is kept per rung
  * (the Bench timing discipline; three passes on the top two rungs —
  * see the comment at the timing loop). The log–log least-squares slope over
  * the ladder estimates the scaling exponent: slope ≈ 1 is linear,
  * slope ≈ 2 would be an all-pairs shape leaking through. The fit is
  * deliberately biased DOWN at the small rungs by fixed per-action
  * overhead (planning, codegen, job launch — a second or so at
  * local[32]); a super-linear family shows up anyway because the bias
  * shrinks exactly where the signal grows.
  *
  * Output: a markdown table appended to stdout and written to
  * `docs/SCALING.md` (overwrite — the doc is a generated artifact).
  * Run:  SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ScaleSweep"
  *
  * Not part of the per-round Bench (the driver's stdout budget and
  * runtime envelope stay untouched); re-run when a family's plan
  * changes.
  */
object ScaleSweep {

  /** Least-squares slope of y over x. Pure — spec-pinned in
    * ToolsSpec (the only math in the sweep; everything else is
    * operator calls).
    */
  def fitSlope(points: Seq[(Double, Double)]): Double = {
    require(points.size >= 2, "need at least two points to fit a slope")
    val n = points.size.toDouble
    val xBar = points.map(_._1).sum / n
    val yBar = points.map(_._2).sum / n
    val sxx = points.map { case (x, _) => (x - xBar) * (x - xBar) }.sum
    require(sxx > 0, "degenerate x values — all rungs identical")
    points.map { case (x, y) => (x - xBar) * (y - yBar) }.sum / sxx
  }

  /** Nearest ancestor of the CWD holding a build.sbt — the repo root
    * anchor for the generated artifact; falls back to the CWD itself
    * when no ancestor qualifies (e.g. an installed-jar run).
    */
  private def repoRoot(): java.nio.file.Path = {
    val d = java.nio.file.Paths.get("").toAbsolutePath
    var probe = d
    while (probe != null &&
        !java.nio.file.Files.exists(probe.resolve("build.sbt")))
      probe = probe.getParent
    if (probe != null) probe else d
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Tables.sfDir
    val spark = GraftSession.local()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- family bodies, each parameterized by the multiplier m.
    // The three stress families are the SHARED StressProxies bodies —
    // the very pipelines Bench pins at one size each round — so a
    // pipeline change moves the bench point and this curve together.

    def minhashBody(m: Int): Unit =
      noop(StressProxies.minhashFamily(spark, sfDir, m))

    // exact dedup: one wide shuffle on the content hash — the
    // linear-by-construction control row every other family is read
    // against (sweep-only; Bench gates it via q_dedup_exact instead).
    def exactBody(m: Int): Unit = {
      val d0 = Tables.table(spark, sfDir, "documents")
        .filter(col("doc_id") < 5000)
        .select(col("doc_id"), col("text"))
      val big = (0 until m).map(i =>
          d0.select((col("doc_id") * m + i).as("doc_id"), col("text")))
        .reduce(_ unionAll _)
      noop(big
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep")))
    }

    def lshPairsBody(m: Int): Unit =
      noop(StressProxies.lshPairsFamily(spark, sfDir, m))

    def graphBody(m: Int): Unit =
      noop(StressProxies.graphHubFamily(spark, m))

    // two-phase global exact quantiles over a synthetic double column
    // (sf-independent): the repartitionByRange + per-partition rank
    // shape that replaced the single-reducer percentile funnel.
    def quantilesBody(m: Int): Unit = {
      val vals = spark.range(0, 2000000L * m)
        .select((conv(substring(md5(col("id").cast("string")), 1, 8),
          16, 10).cast("double") / lit(4294967296.0)).as("v"))
      noop(graft.ops.ScaleOps.exactQuantiles(vals, col("v"),
        Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99))))
    }

    // nightly PPJoin twins on the SAME ladder: the corpus multiplies
    // with DISTINCT content per copy (every token prefixed per copy —
    // the realistic growth regime: a bigger corpus is mostly new
    // text), the batch stays FIXED (200 exact copies of corpus-copy-0
    // docs, so matches exist and the match set is flat in m). The
    // re-ranking variant re-shingles + re-ranks corpus ∪ batch every
    // night — its cost must track the corpus (~linear); the indexed
    // variant reads the prebuilt bucketed tables — scan-only on the
    // corpus side, no exchange, so its curve must sit well below with
    // a smaller slope. The index build runs INSIDE the first pass of
    // each rung and the min-of-passes discipline discards it (the
    // catalog memo skips it on later passes).
    def ppjCorpus(m: Int): DataFrame = {
      val d0 = Tables.table(spark, sfDir, "documents")
        .filter(col("doc_id") < 3000)
        .select(col("doc_id"), col("text"))
      (0 until m).map(i =>
          d0.select((col("doc_id") * m + i).as("doc_id"),
            regexp_replace(col("text"), "(^|\\s)", "$1x" + i + "_")
              .as("text")))
        .reduce(_ unionAll _)
    }
    def ppjBatch: DataFrame =
      Tables.table(spark, sfDir, "documents")
        .filter(col("doc_id") < 200)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "(^|\\s)", "$1x0_").as("text"))
    def ppjRerankBody(m: Int): Unit =
      noop(graft.ops.TextDedup.prefixJaccardAgainst(
        ppjCorpus(m), ppjBatch, "doc_id", "text",
        shingleN = 3, threshold = 0.8))
    def ppjIndexedBody(m: Int): Unit = {
      val tp = s"graft_ppj_sweep_$m"
      if (!spark.catalog.tableExists(s"${tp}_rank"))
        graft.ops.TextDedup.writePrefixIndex(ppjCorpus(m),
          "doc_id", "text", tp, buckets = 16, shingleN = 3,
          threshold = 0.8,
          pathPrefix = Some(Tables.scratchDir(spark, tp).toString))
      noop(graft.ops.TextDedup.prefixJaccardAgainstIndexed(
        spark, tp, ppjBatch, "doc_id", "text",
        shingleN = 3, threshold = 0.8))
    }

    // exact cosine AllPairs self-join on the same multiplied corpus
    // (distinct content per copy, so qualifying pairs stay within
    // copies and the family measures candidate-volume growth, not
    // result-set blowup) — its prefix postings are structurally
    // larger than Jaccard's, so the exponent is worth a measured row
    def cosineBody(m: Int): Unit =
      noop(graft.ops.CosineAllPairs.pairs(ppjCorpus(m),
        "doc_id", "text", shingleN = 3, threshold = 0.8))

    // the cosine nightly twins on the SAME ladder and batch as the
    // Jaccard pair: re-rank re-weights corpus ∪ batch per night
    // (~linear in the corpus); the standing-index reader must sit in
    // the ppjoin_nightly_indexed band — the freeze-and-compensate
    // machinery (raised-shingle detection + injection) rides on
    // batch-sized frames only, so it must not re-introduce a
    // corpus-tracking term
    def cosRerankBody(m: Int): Unit =
      noop(graft.ops.CosineAllPairs.pairsAgainst(
        ppjCorpus(m), ppjBatch, "doc_id", "text",
        shingleN = 3, threshold = 0.8))
    def cosIndexedBody(m: Int): Unit = {
      val tp = s"graft_cos_sweep_$m"
      if (!spark.catalog.tableExists(s"${tp}_rank"))
        graft.ops.CosineAllPairs.writeIndex(ppjCorpus(m),
          "doc_id", "text", tp, buckets = 16, shingleN = 3,
          threshold = 0.8,
          pathPrefix = Some(Tables.scratchDir(spark, tp).toString))
      noop(graft.ops.CosineAllPairs.pairsAgainstIndexed(
        spark, tp, ppjBatch, "doc_id", "text",
        shingleN = 3, threshold = 0.8))
    }

    val families: Seq[(String, Int => Unit)] = Seq(
      ("exact_dedup (control)", exactBody),
      ("minhash_lsh_dedup", minhashBody),
      ("lsh_cosine_pairs", lshPairsBody),
      ("cooccur_capped_pagerank", graphBody),
      ("global_exact_quantiles", quantilesBody),
      ("ppjoin_nightly_rerank", ppjRerankBody),
      ("ppjoin_nightly_indexed", ppjIndexedBody),
      ("cosine_allpairs", cosineBody),
      ("cosine_nightly_rerank", cosRerankBody),
      ("cosine_nightly_indexed", cosIndexedBody))

    val rungs = Seq(1, 2, 4, 8, 16)
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val loadStart = Bench.loadAvg()

    // start-load gate: the sweep's whole point is a clean exponent,
    // and a contended host inflates exactly the big rungs (r15's
    // global_exact_quantiles tail read 2.36 under load rising 2.2 →
    // 19.2) — refuse to overwrite the committed curve with noise.
    // SPARK_GRAFT_SWEEP_FORCE=1 overrides for a deliberate dirty run.
    val force = sys.env.get("SPARK_GRAFT_SWEEP_FORCE").contains("1")
    if (loadStart > Bench.maxStartLoad && !force) {
      println(s"[sweep] SKIPPED: 1-min loadavg ${f2(loadStart)} > " +
        s"${Bench.maxStartLoad} — " +
        "a contended host would publish noise as a scaling curve. " +
        "Re-run idle, or force past the gate with " +
        "SPARK_GRAFT_SWEEP_FORCE=1 (docs/SCALING.md left untouched).")
      spark.stop()
      return
    }

    // SPARK_GRAFT_SWEEP_SHARD_ONLY=1 runs only the sharded-index
    // pruning section (a smoke toggle for iterating on it without the
    // 20-minute family ladder); docs/SCALING.md is NOT written then —
    // the artifact always reflects a full sweep.
    val shardOnly =
      sys.env.get("SPARK_GRAFT_SWEEP_SHARD_ONLY").contains("1")
    val rows =
      if (shardOnly) Seq.empty
      else families.map { case (name, body) =>
      val famLoad = f2(Bench.loadAvg())
      // one untimed warm pass at m=1 (codegen/JIT; page cache for the
      // table-backed families), then min-of-2 per rung — min-of-3 on
      // the top two rungs: the tail ratio is computed from exactly
      // those, and they run minutes into the sweep's own saturation,
      // where a single contended pass skews the ratio past 2.0 (two
      // r16 runs read the quantiles tail at 1.75 and 2.02 from the
      // same plan)
      QueryCaches.scoped(spark)(body(1))
      val times = rungs.map { m =>
        val passes = if (m >= rungs(rungs.size - 2)) 3 else 2
        val t = (1 to passes).map { _ =>
          QueryCaches.scoped(spark)(timed(body(m)))
        }.min
        println(f"[sweep] $name%-28s m=$m%-2d ${t}%8.2f s")
        m -> t
      }
      val slope = fitSlope(times.map { case (m, t) =>
        (math.log(m.toDouble), math.log(t)) })
      (name, times, slope, famLoad)
    }

    // ---- storage-pruning measurement (VERDICT r17 #4): the SHARDED
    // index on the same corpus ladder, read by a NARROW nightly batch
    // (5 docs — the "tonight touches few shingles" regime the pruning
    // exists for). shardBy scales with the corpus (a production index
    // sizes its directory count to the corpus), so the batch's FIXED
    // shard footprint is a shrinking fraction: corpus `_pref` files
    // READ must stay ~flat while the table's file count grows.
    // Exactness is spec-pinned (TextDedupSpec); this measures the
    // bytes/files story. AQE off for the metric read (stages hide
    // subtrees — the CLAUDE.md rule).
    val narrowBatch = ppjBatch.filter(col("doc_id") < 1000005L)
    val shardRows = rungs.map { m =>
      val tp = s"graft_ppj_shardswp_$m"
      if (!spark.catalog.tableExists(s"${tp}_rank"))
        graft.ops.TextDedup.writePrefixIndex(ppjCorpus(m),
          "doc_id", "text", tp, buckets = 4, shingleN = 3,
          threshold = 0.8,
          pathPrefix = Some(Tables.scratchDir(spark, tp).toString),
          shardBy = 64 * m)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        var readPref = -1L
        var readSh = -1L
        def scanRead(
            plan: org.apache.spark.sql.execution.SparkPlan,
            table: String): Long = {
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.toString.contains(table) => f
          }
          if (scans.isEmpty) -1L
          else scans.map(_.metrics("numFiles").value).max
        }
        val t = (1 to 2).map { _ => QueryCaches.scoped(spark) {
          val out = graft.ops.TextDedup.prefixJaccardAgainstIndexed(
            spark, tp, narrowBatch, "doc_id", "text",
            shingleN = 3, threshold = 0.8)
          val t1 = timed(out.collect())
          val plan = out.queryExecution.executedPlan
          readPref = scanRead(plan, s"${tp}_pref")
          readSh = scanRead(plan, s"${tp}_sh")
          t1
        } }.min
        val totPref = spark.table(s"${tp}_pref").inputFiles.length.toLong
        val totSh = spark.table(s"${tp}_sh").inputFiles.length.toLong
        println(f"[sweep] sharded_idx m=$m%-2d ${t}%8.2f s " +
          s"pref read $readPref/$totPref sh read $readSh/$totSh")
        (m, t, readPref, totPref, readSh, totSh)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }

    val sb = new StringBuilder
    sb.append("# SCALING — measured scaling exponents (generated by ")
    sb.append("`graft.tools.ScaleSweep`)\n\n")
    sb.append(s"Input: `$sfDir`, ${spark.sparkContext.master}. Each rung multiplies the\n")
    sb.append("family's input by m with shifted ids (distinct rows —\n")
    sb.append("group/bucket counts scale too); min of two passes per rung\n")
    sb.append("(three on the top two rungs — the tail's inputs);\n")
    sb.append("exponent = log–log least-squares over m ∈ {1,2,4,8,16}.\n")
    sb.append("The sweep refuses to run (and to overwrite this file) when\n")
    sb.append("the start 1-min loadavg exceeds 4.0 — a contended host\n")
    sb.append("publishes noise, not a curve (SPARK_GRAFT_SWEEP_FORCE=1\n")
    sb.append("overrides). Per-family start load is stamped below; from\n")
    sb.append("the second family on it reflects the sweep's OWN local[N]\n")
    sb.append("saturation (1-min avg lags), so only the first row's value\n")
    sb.append("— and the header's start figure — reads as ambient load.\n\n")
    sb.append("Reading: exponent ≈ 1 is linear; an all-pairs leak would\n")
    sb.append("read ≈ 2. Fixed per-action overhead (planning + job launch,\n")
    sb.append("~1 s at local[32]) biases small rungs, pushing fitted\n")
    sb.append("exponents BELOW the asymptote — the tail ratio t(16×)/t(8×)\n")
    sb.append("(2.0 = linear over the last doubling) is the less-biased\n")
    sb.append("local estimate. An exponent at or above ~1.3, or a tail\n")
    sb.append("ratio near 4, deserves a plan audit; sub-linear fits mostly\n")
    sb.append("mean overhead still dominates at these sizes. Local bench\n")
    sb.append("variance is ±20% (CLAUDE.md); read the curve, not one cell.\n\n")
    sb.append("| family | t(1×) s | t(2×) s | t(4×) s | t(8×) s | t(16×) s | fitted exponent | tail t16/t8 | load |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    rows.foreach { case (name, times, slope, famLoad) =>
      val cells = times.map { case (_, t) => f2(t) }
      val tail = times.last._2 / times(times.size - 2)._2
      sb.append(s"| $name | ${cells.mkString(" | ")} | ${f2(slope)} | ")
      sb.append(s"${f2(tail)} | $famLoad |\n")
    }
    sb.append("\n## Sharded-index storage pruning ")
    sb.append("(`writePrefixIndex(shardBy = 64·m)`, 5-doc nightly batch)\n\n")
    sb.append("The indexed PPJoin reader on a hash-sharded layout\n")
    sb.append("(`_rank`/`_pref` on the shingle hash, `_sh` on the id\n")
    sb.append("hash): the corpus ladder grows 16× and the directory count\n")
    sb.append("grows with it (a production index sizes shardBy to the\n")
    sb.append("corpus), while the batch — and so its shard footprint —\n")
    sb.append("stays fixed. Corpus files READ must stay ~flat on every\n")
    sb.append("corpus-side scan as total files grow: storage-level pruning\n")
    sb.append("toward a sublinear nightly (exactness spec-pinned in\n")
    sb.append("TextDedupSpec; the `_sh` prune keys on the candidate ids\n")
    sb.append("derived from the batch-touched prefix postings).\n\n")
    sb.append("| m | _pref read/total | _sh read/total | t(s) |\n")
    sb.append("|---|---|---|---|\n")
    shardRows.foreach { case (m, t, rp, tp2, rs, ts2) =>
      sb.append(s"| $m | $rp/$tp2 (${f2(rp.toDouble / tp2.toDouble)}) ")
      sb.append(s"| $rs/$ts2 (${f2(rs.toDouble / ts2.toDouble)}) ")
      sb.append(s"| ${f2(t)} |\n")
    }
    sb.append(s"\nLoad (1-min avg): start ${f2(loadStart)}, " +
      s"end ${f2(Bench.loadAvg())}.\n")
    // anchor the artifact at the repo root (nearest ancestor holding
    // build.sbt), not the CWD — running from elsewhere used to write
    // docs/SCALING.md into whatever directory sbt happened to run in
    val out = repoRoot().resolve("docs").resolve("SCALING.md")
    java.nio.file.Files.createDirectories(out.getParent)
    if (!shardOnly) java.nio.file.Files.writeString(out, sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
