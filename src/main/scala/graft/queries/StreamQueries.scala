package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{EventStream, StreamDedup}

/** Declared queries for the Structured-Streaming surface: the events /
  * documents / embeddings tables flow through the REAL streaming
  * operators (watermarked windows, `dropDuplicatesWithinWatermark`,
  * bucket-keyed `flatMapGroupsWithState`) and the emitted rows are
  * checked against batch oracles — streaming and batch share
  * semantics, proven by the driver's hash compare, not just by spec.
  *
  * Harness: every gate query ingests through the FILE SOURCE —
  * `readStream.parquet` over a temp directory the real table files are
  * byte-copied into — so the graded path never materializes the input
  * on the driver (the round-5 MemoryStream harness collected whole
  * tables to feed batches). The file source reads every initial file
  * in ONE micro-batch, which preserves the single-batch watermark
  * semantics the oracles assume; watermark-advancing sentinels arrive
  * as later parquet FILES dropped into the directory, exactly like a
  * production ingest dir.
  */
object StreamQueries {

  /** Stateful-operator partition count is a real sizing knob, fixed at
    * the stream's first checkpoint: each micro-batch opens/commits one
    * state store PER partition PER stateful operator, so oversizing it
    * multiplies fixed store overhead, not parallelism. The gate/bench
    * streams carry tiny state: 32 partitions measured 2-3x slower
    * than 8 on pure store-commit overhead, and 4 measured faster
    * still (r11 family bench); a production deployment sizes this to
    * state volume instead (conf at first run).
    */
  // family default 4: an A/B at 2 was a wash (r13: 17.28 s vs 17.79 s
  // over the six sliced gates) — the floor is per-micro-batch
  // incremental planning, not state-store commit count
  private def withStatePartitions[A](s: SparkSession, n: Int = 4)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    finally st.close()
  }

  /** Byte-copy a table's parquet file (or every part file of a
    * directory-layout table) into `tmp` — the stream's ingest dir.
    */
  private def copyTableFiles(
      src: java.nio.file.Path, tmp: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files => NF}
    if (NF.isRegularFile(src)) {
      NF.copy(src, tmp.resolve(s"input_0.parquet")); ()
    } else {
      val st = NF.list(src)
      try st.iterator().asScala
        .filterNot(f => f.getFileName.toString.startsWith("_") ||
          f.getFileName.toString.startsWith("."))
        .foreach(f => NF.copy(f, tmp.resolve(f.getFileName.toString)))
      finally st.close()
    }
  }

  /** Shared file-source harness: stage `<dir>/<table>.parquet` into a
    * temp stream directory, run `pipeline` over
    * `readStream.schema(<table's schema>).parquet(dir)` (append mode,
    * memory sink), then drop each `sentinels` row in as its own
    * parquet file — one trigger per file, advancing the watermark the
    * same way late files do in a production ingest dir — and return
    * the sink table. Rows must match the table's raw parquet schema.
    */
  private def runFileStream(
      s: SparkSession,
      dir: String,
      table: String,
      sink: String,
      sentinels: Seq[Row] = Nil,
      stateParts: Int = 4)(
      pipeline: DataFrame => DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files => NF, Paths}
    val src = Paths.get(dir, s"$table.parquet")
    val schema = tableSchema(s, src.toString)
    val tmp = NF.createTempDirectory(s"graft_stream_$table")
    copyTableFiles(src, tmp)
    withStatePartitions(s, stateParts) {
      val q = pipeline(s.readStream.schema(schema).parquet(tmp.toString))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // all sentinels land in ONE drain AND one FILE: append-mode
        // emission is a function of the FINAL watermark only
        // (windows/join state flush when the max event time passes
        // them), so staging the rows together yields the identical
        // output while paying one data + no-data micro-batch pair
        // instead of one per sentinel — each extra pair is ~1 s of
        // per-partition state commits on a stream-stream join
        // (q_stream_sjoin_outer measured) — and ONE driver-side write
        // job instead of one per row (~0.2 s each, r11 family bench)
        if (sentinels.nonEmpty) {
          // cached per (dir, gate): sentinel rows are deterministic
          // functions of the corpus, so the write job runs once per JVM
          stageCachedSlice(dir, s"sent_$sink", tmp, "sentinel_all") {
            s.createDataFrame(
              sentinels.map(conformRow(_, schema)).asJava, schema)
          }
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    }
    s.table(sink)
  }

  /** Parquet footer schema, memoized per path: the testdata tables are
    * immutable within a run, and every file-source gate re-read the
    * same events footer just to declare its stream schema.
    * Same JVM-lifetime immutability assumption as [[Tables.maxEventNs]]:
    * regenerating the file at the same path in a live JVM (e.g. a
    * ts-type flip) would serve a stale schema — restart the process.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()
  private def tableSchema(
      s: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(path, p => s.read.parquet(p).schema)

  /** Event time synthesized from doc_id/vec_id, offset past epoch 0: a
    * row whose event time equals the stream's initial watermark would
    * be dropped as late.
    */
  private def syntheticTs(idCol: String) =
    timestamp_seconds(col(idCol) + lit(1000000000L)).as("ts")

  /** Sentinel rows are authored with epoch-ns Long event times; the
    * raw table's `ts` may physically be a µs timestamp (regenerated
    * testdata — see [[graft.Tables.withEventTime]]). Conform a Long
    * value to TimestampType wherever the target schema asks for it so
    * the same sentinel definitions feed either generation.
    */
  private def conformRow(
      row: Row, schema: org.apache.spark.sql.types.StructType): Row =
    Row.fromSeq(row.toSeq.zip(schema.fields).map {
      case (v: Long, f)
          if f.dataType == org.apache.spark.sql.types.TimestampType =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(v, 1000000000L), Math.floorMod(v, 1000000000L)))
      case (v, _) => v
    })

  private def eventRow(id: Long, tsNs: Long): Row =
    Row(id, tsNs, -1L, "sentinel", 0.0, "{}")

  /** JVM-lifetime cache of staged slice FILES, keyed by (sf dir, slice
    * key): every sliced/sentinel file's content is a pure function of
    * the immutable-per-JVM testdata (the [[tableSchema]] assumption),
    * yet each gate re-ran the same coalesce(1) write JOB for the same
    * bytes on every invocation — and Bench invokes each gate twice.
    * First request pays the one write job into a cache dir; later
    * requests (the second bench pass; the outer sjoin gate reusing the
    * inner gate's cut slices) are a local file copy, no Spark job.
    */
  private val sliceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.nio.file.Path]()
  private lazy val sliceCacheRoot = {
    val p = java.nio.file.Files.createTempDirectory("graft_slice_cache")
    // deleteOnExit silently no-ops on a non-empty directory — a
    // recursive shutdown hook actually reclaims the cached files
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(p) catch { case _: Exception => () }))
    p
  }

  /** Fingerprint of a slice's DEFINITION: the canonicalized analyzed
    * plan (filter literals, projections, source paths — exprIds
    * normalized away) plus any [[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]]
    * rows, because sentinel content lives in the relation's data, not
    * its plan string. Driver-only plan work — no job runs.
    */
  private def defFingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val localData = plan.collect {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.iterator.map(_.toString).mkString("|")
    }.mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(plan.canonicalized.toString.getBytes("UTF-8"))
    md.update(localData.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Stage slice `key` of `dir` (built by `df` on first use only) into
    * the WATCHED stream dir `tmp` as `name`.parquet. The copy lands
    * under a dot-prefixed temp name inside `tmp` first and is renamed
    * into place (same directory — atomic): the running file source
    * must never list a half-copied data file, and dot-prefixed paths
    * are invisible to Spark's file index.
    *
    * The cache key folds in [[defFingerprint]] so an edit that changes
    * a slice/sentinel definition without renaming its string key
    * cannot silently serve the old bytes for the rest of the JVM —
    * the changed definition simply misses and rebuilds. Building the
    * frame to fingerprint it is driver-side analysis only; the write
    * JOB still runs once per distinct definition.
    */
  private def stageCachedSlice(dir: String, key: String,
      tmp: java.nio.file.Path, name: String)(df: => DataFrame): Unit = {
    import java.nio.file.{Files => NF, StandardCopyOption => CP}
    val frame = df
    val fullKey = key + "|" + defFingerprint(frame)
    // a changed definition supersedes every older fingerprint of the
    // same (dir, key): evict them (and their temp files) so repeated
    // edit-rerun sessions don't strand one file per stale definition
    val it = sliceCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == dir && e.getKey._2 != fullKey &&
        e.getKey._2.startsWith(key + "|")) {
        NF.deleteIfExists(e.getValue)
        it.remove()
      }
    }
    def lookup(): java.nio.file.Path =
      sliceCache.computeIfAbsent((dir, fullKey), { _ =>
        val dst = NF.createTempFile(sliceCacheRoot, "slice_", ".parquet")
        val st = NF.createTempDirectory("graft_slice_build")
        try {
          import scala.jdk.CollectionConverters._
          frame.coalesce(1).write.mode("overwrite").parquet(st.toString)
          val ls = NF.list(st)
          val part = try ls.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
            finally ls.close()
          NF.move(part, dst, CP.REPLACE_EXISTING)
          dst
        } finally deleteRecursively(st)
      })
    val cached = lookup()
    val stage = NF.createTempFile(tmp, s".$name", ".tmp")
    // the stale-fingerprint eviction above is check-then-act over the
    // shared map: a CONCURRENT stager may delete the file this thread
    // just looked up (gates run sequentially today, but nothing here
    // should rely on that). Recover at the only affected point — the
    // copy — by dropping the dead entry and rebuilding once; a second
    // race would need two different live definitions of the same key
    // in one JVM, which cannot happen (definitions are code).
    try NF.copy(cached, stage, CP.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        sliceCache.remove((dir, fullKey), cached)
        NF.copy(lookup(), stage, CP.REPLACE_EXISTING)
    }
    NF.move(stage, tmp.resolve(s"$name.parquet"), CP.ATOMIC_MOVE)
  }

  /** The ONE two-micro-batch document-stream harness behind the
    * doc-sliced dedup gates (q_stream_dedup_sliced,
    * q_stream_cdc_chunks_sliced — a fix to the slicing discipline
    * lands here once): the corpus arrives as two doc_id-sliced files
    * drained as separate micro-batches, with slice 2 carrying a
    * VERBATIM re-delivery of slice 1's last document — suppressed
    * only by live batch-1 state, so the gate fails if state does not
    * survive the boundary. The probe targets slice A's last document
    * BY EXISTING ID (the arithmetic midpoint may fall in an id gap
    * under a sparse regeneration, silently emptying the probe); the
    * cut anchor is loud on an empty table (a null min/max was an
    * unexplained NPE); the watermark delay passed to `op` spans the
    * corpus's synthetic time range, so nothing evicts mid-gate and
    * exact DISTINCT oracles hold across any slicing. Anchors and
    * slice files are (dir-keyed) cached — gates sharing the harness
    * share the same bytes.
    *
    * @param op builds the stream: receives (doc_id, text, ts) rows
    *        and the corpus-spanning watermark delay string.
    */
  private def runSlicedDocStream(
      s: SparkSession, dir: String, gate: String, sink: String)(
      op: (DataFrame, String) => DataFrame): DataFrame = {
    import java.nio.file.{Files => NF}
    val docs = graft.ops.QueryCaches.persist(
      Tables.table(s, dir, "documents").select(col("doc_id"), col("text")))
    val (lo, hi, mid, probeId) = memoAnchor(dir, "dedup_cut") {
      val b = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        .head()
      require(!b.isNullAt(0),
        s"$gate: documents is empty — no cut anchor")
      val (lo0, hi0) = (b.getLong(0), b.getLong(1))
      val mid0 = lo0 + (hi0 - lo0) / 2
      val probe = docs.filter(col("doc_id") <= mid0)
        .agg(max("doc_id")).head().getLong(0)
      (lo0, hi0, mid0, probe)
    }
    val tmp = NF.createTempDirectory(s"graft_$sink")
    stageCachedSlice(dir, "dedup_sliceA", tmp, "slice_0") {
      docs.filter(col("doc_id") <= mid)
    }
    var dataBatches = 0
    val kept = withStatePartitions(s) {
      val q = op(
        s.readStream.schema("doc_id LONG, text STRING")
          .parquet(tmp.toString)
          .select(col("doc_id"), col("text"), syntheticTs("doc_id")),
        s"${hi - lo + 3600} seconds")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: slice_0 only
        stageCachedSlice(dir, "dedup_sliceB", tmp, "slice_1") {
          docs.filter(col("doc_id") > mid)
            // verbatim re-delivery
            .unionAll(docs.filter(col("doc_id") === probeId))
        }
        q.processAllAvailable() // batch 2: slice_1 + the re-delivery
        dataBatches = q.recentProgress.count(_.numInputRows > 0)
      } finally { q.stop(); deleteRecursively(tmp) }
      s.table(sink)
    }
    require(dataBatches >= 2,
      s"$gate: saw $dataBatches data micro-batches — the slicing " +
        "harness collapsed to one batch and the gate no longer tests " +
        "cross-batch state")
    kept
  }

  /** Per-(dir, key) memo for the sliced gates' cut-siting anchors
    * (bounds, sited midpoints, probe rows): pure functions of the
    * immutable testdata, each worth one or two driver actions per
    * gate invocation. Same JVM-lifetime assumption as [[tableSchema]].
    */
  private val anchorCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
  private def memoAnchor[T <: AnyRef](dir: String, key: String)(f: => T): T =
    anchorCache.computeIfAbsent((dir, key), _ => f).asInstanceOf[T]

  /** Earliest strict in-horizon (view, click) pair over the events
    * corpus — the cut-siting anchor shared by the sliced stream-stream
    * join gates (the micro-batch boundary is placed BETWEEN the pair's
    * two legs, so a match can only form from live cross-batch buffer
    * state). Memoized per (dir, horizon): the testdata is immutable
    * within a run, and the inner + outer gates — each benched twice —
    * would otherwise re-run the same self-join + min-struct aggregate
    * four times. None = no such pair; callers require() with their own
    * gate name.
    */
  private def firstInHorizonPair(
      s: SparkSession, dir: String, horizonNs: Long): Option[(Long, Long)] =
    pairCache.computeIfAbsent((dir, horizonNs), { _ =>
      val ev = Tables.events(s, dir)
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ns").as("v_ts"))
        .join(ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_ns").as("c_ts")), "user_id")
        .filter(col("c_ts") > col("v_ts") &&
          col("c_ts") - col("v_ts") <= horizonNs)
        .agg(min(struct(col("v_ts"), col("c_ts"))).as("m"))
        .head()
      if (r.isNullAt(0)) None
      else { val pr = r.getStruct(0); Some((pr.getLong(0), pr.getLong(1))) }
    })
  private val pairCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long), Option[(Long, Long)]]()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming exact dedup: documents stream through
    // dropDuplicatesWithinWatermark on the normalized fingerprint
    // (watermark-bounded state). Projecting only `fp` makes the
    // output deterministic regardless of arrival order — exactly the
    // distinct fingerprint set — so the batch oracle is SELECT
    // DISTINCT. Event time is synthesized from doc_id (the documents
    // table has no timestamp column).
    "q_stream_dedup" -> ((s, dir) =>
      runFileStream(s, dir, "documents", "q_stream_dedup_sink") { raw =>
        EventStream.dedupExact(
          raw.select(col("doc_id"), col("text"), syntheticTs("doc_id")),
          textCol = "text", tsCol = "ts")
      }.select(col("fp")).orderBy("fp")),

    // Streaming exact dedup under REAL batch slicing — the multi-batch
    // twin of q_stream_dedup (the q_stream_cdc_scd2_sliced pattern on
    // the OTHER stateful primitive, dropDuplicatesWithinWatermark):
    // fingerprint state must survive the batch boundary, both for the
    // corpus's natural cross-slice duplicate texts and for the
    // harness's verbatim re-delivery (suppressed only by live batch-1
    // state; a fresh store would re-emit its fp and break the
    // DISTINCT oracle by a row). Slicing mechanics, probe siting and
    // the corpus-spanning watermark live in runSlicedDocStream — ONE
    // harness for every doc-sliced dedup gate.
    "q_stream_dedup_sliced" -> ((s, dir) =>
      runSlicedDocStream(s, dir, "q_stream_dedup_sliced",
        "q_stream_dedup_sliced_sink") { (raw, delay) =>
        EventStream.dedupExact(raw, textCol = "text", tsCol = "ts",
          watermarkDelay = delay)
      }.select(col("fp")).orderBy("fp")),

    // Streaming segment-level dedup: arriving documents explode into
    // fixed 8-token spans and the stream keeps the first arrival of
    // every distinct span within the watermark — the live boilerplate
    // filter. Output = the distinct kept span-fingerprint set, which
    // equals the batch distinct span set (the oracle) regardless of
    // which arrival won.
    "q_stream_lines" -> ((s, dir) =>
      runFileStream(s, dir, "documents", "q_stream_lines_sink") { raw =>
        EventStream.dedupSegments(
          raw.select(col("doc_id"), col("text"), syntheticTs("doc_id")))
      }.select(col("seg_fp")).orderBy("seg_fp")),

    // Streaming CDC-chunk dedup: arriving documents explode into gear
    // content-defined chunks (the batch q_cdc_chunks definition,
    // tiny gate-scale widths per the fixed-vocab rule) and the stream
    // keeps the first arrival of every distinct chunk fingerprint
    // within the watermark — the live chunk-store admission filter,
    // completing the chunk family's batch / nightly / streaming
    // triad. Output = the distinct kept chunk-fp set, which equals
    // the batch distinct fp set (the oracle replays the gear walk as
    // a recursive CTE) regardless of which arrival won.
    "q_stream_cdc_chunks" -> ((s, dir) =>
      runFileStream(s, dir, "documents", "q_stream_cdc_chunks_sink") {
        raw =>
          EventStream.dedupCdcChunks(
            raw.select(col("doc_id"), col("text"), syntheticTs("doc_id")))
      }.select(col("fp")).orderBy("fp")),

    // Multi-batch twin of q_stream_cdc_chunks on the chunk-fp state:
    // natural cross-slice duplicate chunks AND the harness's verbatim
    // re-delivery (every one of its chunks re-emitted would break the
    // DISTINCT oracle) must be suppressed by live batch-1 state. Same
    // runSlicedDocStream harness — and the same slice-cache bytes —
    // as the exact-dedup twin, so the slicing discipline cannot
    // diverge between the gates.
    "q_stream_cdc_chunks_sliced" -> ((s, dir) =>
      runSlicedDocStream(s, dir, "q_stream_cdc_chunks_sliced",
        "q_stream_cdc_chunks_sliced_sink") { (raw, delay) =>
        EventStream.dedupCdcChunks(raw, watermarkDelay = delay)
      }.select(col("fp")).orderBy("fp")),

    // Streaming MinHash near-dup: documents stream through the
    // band-keyed stateful matcher (LSH bucket state, horizon-bounded).
    // The initial file load arrives as one micro-batch with distinct
    // synthetic event times, so the per-bucket processing order is
    // pinned (the operator sorts each bucket batch by ts, doc_id) and
    // the distinct emitted pair set equals the batch LSH pair set —
    // which the DuckDB oracle computes directly. doc_id < 500 keeps
    // the time spread inside the matcher's 10-minute horizon at any sf.
    "q_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      runFileStream(s, dir, "documents", "q_stream_neardup_sink") { raw =>
        StreamDedup.candidatePairs(
          raw.filter(col("doc_id") < 500)
            .select(col("doc_id"), syntheticTs("doc_id"), col("text"))
            .as[StreamDedup.Doc],
          shingleN = 3, numHashes = 6, bands = 3, threshold = 0.5).toDF()
      }.select(col("a"), col("b"),
          round(col("est_jaccard"), 6).as("est_r"))
        .distinct()
        .orderBy("a", "b")
    }),

    // Streaming tumbling-window counts: the watermark-bounded windowed
    // aggregation over the file source (ns→micros event time, the
    // production ingest conversion), flushed by sentinel FILES; counts
    // are exact integers so the compare has no float-order
    // sensitivity. Sentinel rows are dropped STRUCTURALLY, by time
    // horizon: real events all have ts <= maxNs, so any window
    // starting past maxNs's second can only hold sentinels (an event
    // literally TYPED 'sentinel' in the data would be kept, matching
    // the oracle, which counts every event type).
    "q_stream_counts" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, String, Long)]
          .toDF("window_start_s", "window_end_s", "event_type", "n")
      } else {
        val maxNs = maxNsOpt.get
        runFileStream(s, dir, "events", "q_stream_counts_sink",
          sentinels = Seq(
            eventRow(-1L, maxNs + 3600L * 1000000000L),
            eventRow(-2L, maxNs + 7200L * 1000000000L))) { raw =>
          EventStream.windowedCounts(
            Tables.withEventTime(raw),
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
        }
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(
            unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("event_type"), col("n"))
          .orderBy("window_start_s", "event_type")
      }
    }),

    // Windowed counts under REAL batch slicing — the fourth stateful
    // primitive gated cross-batch (after CDC, dedup and session
    // state): watermarked window-aggregation state. Time-ordered
    // slicing means no window that batch 2 will touch can have been
    // flushed by batch 1's watermark (any such window ends after the
    // cut, and the cut is ahead of the watermark by the full delay),
    // so the exact batch oracle holds — but the window CONTAINING the
    // cut accumulates events from both batches and only matches if
    // its partial count survived the boundary. The cut is sited
    // inside the earliest window with two distinct event times, so at
    // least one window always straddles.
    "q_stream_counts_sliced" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.{Files => NF}
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, String, Long)]
          .toDF("window_start_s", "window_end_s", "event_type", "n")
      } else {
        val maxNs = maxNsOpt.get
        val ev = graft.ops.QueryCaches.persist(Tables.events(s, dir)
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")))
        val mid: Long = memoAnchor[java.lang.Long](dir, "counts_cut") {
          val pairOpt = ev
            .select(expr("ts div 300000000000").as("w"), col("ts"))
            .groupBy("w").agg(min("ts").as("mn"), max("ts").as("mx"))
            .filter(col("mx") > col("mn"))
            .orderBy("w").limit(1).collect().headOption
          require(pairOpt.nonEmpty,
            "q_stream_counts_sliced: no window has two distinct event " +
              "times — the gate cannot test cross-batch window state")
          val pair = pairOpt.get
          Long.box(pair.getLong(1) +
            (pair.getLong(2) - pair.getLong(1)) / 2) // mn <= mid < mx
        }
        val sentinels = Seq(
          (-1L, maxNs + 3600L * 1000000000L, -1L, "sentinel", 0.0, "{}"),
          (-2L, maxNs + 7200L * 1000000000L, -2L, "sentinel", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        val tmp = NF.createTempDirectory("graft_stream_counts_sliced")
        stageCachedSlice(dir, "counts_sliceA", tmp, "slice_0") {
          ev.filter(col("ts") <= mid)
        }
        var dataBatches = 0
        val counts = withStatePartitions(s) {
          val q = EventStream.windowedCounts(
            Tables.withEventTime(
              s.readStream.schema(ev.schema).parquet(tmp.toString)),
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
            .writeStream.format("memory")
            .queryName("q_stream_counts_sliced_sink")
            .outputMode("append").start()
          try {
            q.processAllAvailable() // batch 1: cut window partial
            // slice 2 CARRIES the watermark sentinels: append-mode
            // emission depends only on the final watermark, and batch
            // 2 still processes under batch 1's watermark (watermark
            // updates lag one batch), so the output is identical to a
            // separate sentinel drain while paying one less
            // micro-batch pair (~0.7 s of state commits, r12 probe)
            stageCachedSlice(dir, "counts_sliceB_sent", tmp, "slice_1") {
              ev.filter(col("ts") > mid).unionAll(sentinels)
            }
            q.processAllAvailable() // batch 2: accumulate + flush
            dataBatches = q.recentProgress.count(_.numInputRows > 0)
          } finally { q.stop(); deleteRecursively(tmp) }
          s.table("q_stream_counts_sliced_sink")
        }
        require(dataBatches >= 2,
          s"q_stream_counts_sliced: saw $dataBatches data micro-batches " +
            "— the slicing harness collapsed and the gate no longer " +
            "tests cross-batch window state")
        counts
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(
            unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("event_type"), col("n"))
          .orderBy("window_start_s", "event_type")
      }
    }),

    // The same windowed counts ingested through the PUBLISHED library
    // entry point EventStream.fromEventsDir (schema declaration +
    // ns→event-time conversion bundled for callers) — the harness
    // builds the stream itself rather than going through runFileStream
    // so the gate covers the exact DataFrame fromEventsDir returns.
    "q_stream_file" -> ((s, dir) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, String, Long)]
          .toDF("window_start_s", "window_end_s", "event_type", "n")
      } else {
        val maxNs = maxNsOpt.get
        import java.nio.file.{Files => NF}
        val tmp = NF.createTempDirectory("graft_stream_file")
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        copyTableFiles(src, tmp)
        // a sentinel event as a parquet FILE dropped into the stream
        // dir — the file-source analogue of the sentinel batches
        val rawSchema = tableSchema(s, src.toString)
        def addSentinelFile(rows: Seq[Row]): Unit =
          stageCachedSlice(dir, "sent_q_stream_file", tmp, "sentinel_all") {
            s.createDataFrame(
              rows.map(conformRow(_, rawSchema)).asJava, rawSchema)
          }
        withStatePartitions(s) {
          val q = EventStream.windowedCounts(
            EventStream.fromEventsDir(s, tmp.toString),
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
            .writeStream.format("memory").queryName("q_stream_file_sink")
            .outputMode("append").start()
          try {
            q.processAllAvailable()
            // both sentinels in ONE drain and one file (the
            // runFileStream rule): a per-sentinel drain costs ~1 s of
            // state commits, a per-row file a write job each
            addSentinelFile(Seq(
              eventRow(-1L, maxNs + 3600L * 1000000000L),
              eventRow(-2L, maxNs + 7200L * 1000000000L)))
            q.processAllAvailable()
          } finally {
            q.stop()
            deleteRecursively(tmp)
          }
        }
        s.table("q_stream_file_sink")
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(
            unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("event_type"), col("n"))
          .orderBy("window_start_s", "event_type")
      }
    }),

    // Streaming silence detection: one (last-second, tiebreak) state
    // record per user closes gaps the moment the ending event arrives
    // (StreamGaps.detectGaps — NoTimeout by design: expiring state
    // would swallow the longest gaps). The two far-future sentinels
    // carry user ids −1/−2, excluded from the gate structurally by
    // sign; runFileStream stages all sentinels before ONE drain, so
    // they share a micro-batch here — the CROSS-batch emission path
    // (a gap whose endpoints arrive in different micro-batches) is
    // pinned by StreamGapsSpec's explicit two-drain MemoryStream
    // test, not by this gate.
    "q_stream_gaps" -> ((s, dir) => {
      // NO sentinels: detectGaps declares no watermark (NoTimeout
      // state, emits on arrival), so sentinel rows advanced nothing —
      // the gate paid a staged file + an extra data/no-data drain pair
      // (~0.2–1 s) for output-identical results (r13 review)
      val out = runFileStream(s, dir, "events", "q_stream_gaps_sink")(
        df => graft.streaming.StreamGaps.detectGaps(
          Tables.withEventTime(df), gapSeconds = 21600).toDF())
      out.filter(col("user_id") >= 0)
        .orderBy("user_id", "gap_start_s")
    }),

    // Windowed approximate distinct users: linear counting as
    // streaming state (≤ m buckets per window however many users
    // arrive — exact distinct would hold every id). The estimate is
    // the same deterministic md5-bucket formula the batch
    // q_linear_count gate hash-matches, so even the streamed ESTIMATE
    // is oracle-exact. Sentinel files close the real windows.
    "q_stream_distinct" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("window_start_s", "window_end_s", "n_buckets",
            "est_distinct")
      } else {
        val maxNs = maxNsOpt.get
        val out = runFileStream(s, dir, "events", "q_stream_distinct_sink",
          sentinels = Seq(
            eventRow(-1L, maxNs + 3600L * 1000000000L),
            eventRow(-2L, maxNs + 7200L * 1000000000L)))(
          raw => EventStream.windowedDistinctEst(
            Tables.withEventTime(raw),
            keyCol = "user_id", m = 256,
            watermarkDelay = "10 minutes", windowLen = "1 hour"))
        out
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("n_buckets"), col("est_distinct"))
          .orderBy("window_start_s")
      }
    }),

    // Windowed streaming top-k through the CUSTOM heap aggregate
    // (graft.expr.TopKByScore as streaming state): only k-element
    // buffers ever sit in the state store per window, however many
    // events arrive — the window-rank idiom would buffer the window's
    // full event set. Same (score DESC, id ASC) total order as the
    // batch q_topk_agg; windows emit on watermark close.
    "q_stream_topk" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Long, Double)]
          .toDF("window_start_s", "window_end_s", "rank", "event_id",
            "value")
      } else {
        val maxNs = maxNsOpt.get
        val out = runFileStream(s, dir, "events", "q_stream_topk_sink",
          sentinels = Seq(
            eventRow(-1L, maxNs + 3600L * 1000000000L),
            eventRow(-2L, maxNs + 7200L * 1000000000L)))(
          raw => Tables.withEventTime(raw)
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(graft.expr.TopKByScore
              .topK(col("value"), col("event_id"), 3).as("nb"))
            .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"), posexplode(col("nb"))))
        out
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("event_id"),
            col("col.score").as("value"))
          .orderBy("window_start_s", "rank")
      }
    }),

    // Composed streaming curation: q_curate's quality gates evaluated
    // statelessly on the stream, then streaming exact dedup
    // (dropDuplicatesWithinWatermark on the normalized fingerprint).
    // Projecting only `fp` makes the result the distinct fingerprint
    // set of quality-surviving docs regardless of arrival order, so
    // the batch oracle is the gate CTE reduced to DISTINCT fp. Proves
    // the curation family composes incrementally: gates drop rows
    // BEFORE any state, dedup state stays watermark-bounded.
    "q_stream_curate" -> ((s, dir) =>
      runFileStream(s, dir, "documents", "q_stream_curate_sink") { raw =>
        EventStream.dedupExact(
          raw.select(col("doc_id"), col("text"), syntheticTs("doc_id"))
            .filter(graft.ops.Corpus.qualityPass(col("text"))),
          textCol = "text", tsCol = "ts")
      }.select(col("fp")).orderBy("fp")),

    // Streaming embedding near-dup: vectors stream through the
    // bucket-keyed stateful matcher (StreamAnn — the vector twin of
    // q_stream_neardup's minhash matcher). Same seeded planes, same
    // rounded-cosine threshold as the batch LSH pair miner, so the
    // streamed distinct pair set hash-matches the batch oracle.
    "q_stream_ann" -> ((s, dir) => {
      import s.implicits._
      runFileStream(s, dir, "embeddings", "q_stream_ann_sink") { raw =>
        graft.streaming.StreamAnn.candidatePairs(
          raw.filter(col("vec_id") < 300) // inside the 10-min horizon
            .select(col("vec_id"), syntheticTs("vec_id"),
              graft.expr.VectorFunctions.toDoubleArray(col("embedding"))
                .as("embedding"))
            .as[graft.streaming.StreamAnn.Vec],
          k = 8, dim = 64, threshold = 0.2).toDF()
      }.select(col("a"), col("b"), round(col("cos"), 6).as("cos_r"))
        .distinct()
        .orderBy("a", "b")
    }),

    // Streaming trending terms: documents stream through the
    // watermarked tumbling-window token counter (state = one row per
    // (window, token), evicted past the watermark); far-future
    // sentinel FILES flush every real window. Top-3-per-window ranking
    // runs BATCH over the emitted (immutable, append-mode) windows —
    // the serving-layer split that keeps streaming state bounded.
    // Oracle = epoch-aligned 300 s buckets of the same synthetic event
    // times.
    "q_stream_trending" -> ((s, dir) => {
      import s.implicits._
      val maxIdRow = Tables.table(s, dir, "documents")
        .agg(max("doc_id")).head()
      if (maxIdRow.isNullAt(0)) {
        Seq.empty[(Long, String, Long, Long)]
          .toDF("window_start_s", "tok", "n", "rank")
      } else {
        val maxId = maxIdRow.getLong(0)
        val maxSec = 1000000000L + maxId
        // sentinel doc rows: event time derives from doc_id, so a
        // far-future id IS a far-future event; single token "z" keeps
        // the watermark node fed, and its windows start past maxSec
        val counts = runFileStream(s, dir, "documents",
          "q_stream_trending_sink",
          sentinels = Seq(
            Row(maxId + 3600L, "z", null, null, null),
            Row(maxId + 7200L, "z", null, null, null))) { raw =>
          graft.streaming.TrendingTerms.windowedTermCounts(
            raw.select(col("doc_id"), col("text"), syntheticTs("doc_id")),
            textCol = "text", tsCol = "ts",
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
        // drop the sentinel rows STRUCTURALLY, by time horizon: real
        // events all have ts <= maxSec, so any window starting past it
        // can only hold sentinels. Filtering by token text would also
        // drop legitimate occurrences of the sentinel token in real
        // documents and silently diverge from the oracle.
        }.filter(unix_timestamp(col("window_start")) <= lit(maxSec))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(col("n").desc, col("tok"))
        counts
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(unix_timestamp(col("window_start")).as("window_start_s"),
            col("tok"), col("n"), col("rank"))
          .orderBy("window_start_s", "rank")
      }
    }),

    // Streaming per-user rate limit: at most 5 events per user per
    // DAY admitted (the daily period actually binds on this data —
    // hourly maxima are under the cap), the rest dropped at the edge
    // (StreamQuota — one rolling (period, count) record per user,
    // NoTimeout). The whole table arrives as one micro-batch, so the
    // in-batch (ts_ns, event_id) sort makes the admitted set the
    // batch oracle's row_number ≤ 5 exactly.
    "q_stream_quota" -> ((s, dir) =>
      runFileStream(s, dir, "events", "q_stream_quota_sink") { raw =>
        graft.streaming.StreamQuota.perUserHourly(
          Tables.withEventTime(raw), k = 5,
          bucketNs = graft.streaming.StreamQuota.DayNs).toDF()
      }.select(col("user_id"), col("ts_ns"), col("event_id"))
        .orderBy("user_id", "ts_ns", "event_id")),

    // Streaming IVF probe — the ANN SERVING path as a stream: query
    // vectors arrive, pick their probe cells against the broadcast
    // 16-centroid coarse quantizer (bounded by construction), then
    // stream-static join the STANDING cell-assigned corpus on the
    // cell key and emit verified matches. Entirely STATELESS (two
    // joins, no aggregation, no watermark): at 10⁹ corpus vectors the
    // static side is the partition-pruned persisted index and the
    // per-query work is its probe cells only — never a corpus scan.
    "q_stream_ivf" -> ((s, dir) => {
      val vf = graft.expr.VectorFunctions
      val statics = VectorQueries.ivfFixedAssigned(s, dir)
        .filter(col("vec_id") < 450) // corpus; 450+ are the query stream
        .select(col("vec_id").as("cand_id"), col("v").as("cv2"),
          col("nrm").as("cn2"), col("cell"))
        .transform(graft.ops.QueryCaches.persist) // static join side
      val centB = Tables.table(s, dir, "embeddings")
        .filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"),
          vf.toDoubleArray(col("embedding")).as("cv"))
        .withColumn("cn", vf.l2Norm(col("cv")))
        .filter(col("cn") > 0)
      // loud anchors (the firstInHorizonPair precedent): an id-shifted
      // or sparse embeddings regeneration would otherwise empty the
      // quantizer and/or the query band on BOTH engines — a green
      // empty-vs-empty gate that tests nothing from then on
      require(!centB.isEmpty,
        "q_stream_ivf: no usable centroid in vec_id < 16 — the " +
          "quantizer band no longer exists in this corpus")
      require(!Tables.table(s, dir, "embeddings")
          .filter(col("vec_id") >= 450 && col("vec_id") < 500).isEmpty,
        "q_stream_ivf: the query band vec_id in [450, 500) is empty — " +
          "the gate would stream zero queries and prove nothing")
      runFileStream(s, dir, "embeddings", "q_stream_ivf_sink") { raw =>
        val q0 = raw
          .filter(col("vec_id") >= 450 && col("vec_id") < 500)
          .select(col("vec_id").as("q_id"),
            vf.toDoubleArray(col("embedding")).as("qv"))
          .withColumn("qn", vf.l2Norm(col("qv")))
          .filter(col("qn") > 0)
        // probe-cell pick: nested loop against the 16-row broadcast
        // quantizer is bounded by construction (nprobe = cells whose
        // centroid cosine clears the probe threshold)
        val probed = q0.join(broadcast(centB),
            vf.cosineSimilarityRounded(col("qv"), col("cv"),
              col("qn"), col("cn")) >= 0.0)
          .select(col("q_id"), col("qv"), col("qn"),
            col("c_id").as("cell"))
        probed.join(statics, "cell")
          .withColumn("cos_r", vf.cosineSimilarityRounded(col("qv"),
            col("cv2"), col("qn"), col("cn2")))
          .filter(col("cos_r") >= 0.2)
          .select(col("q_id"), col("cand_id"), col("cell"), col("cos_r"))
      }.orderBy("q_id", "cand_id")
    }),

    // Streaming CDC apply — the materialized-view-maintenance shape:
    // the event stream read as a keyed changelog (user = key, event
    // time = version, 'error' = delete, everything else = upsert)
    // through StreamCdc.applyChangelog (per-key forward-only version
    // state; stale/duplicate deliveries suppressed at the edge). The
    // maintained table is then ONE keyed argmax over the emitted
    // post-images — no history replay — and the oracle is the batch
    // last-writer-wins read of the same changelog.
    "q_stream_cdc" -> ((s, dir) =>
      runFileStream(s, dir, "events", "q_stream_cdc_sink") { raw =>
        graft.streaming.StreamCdc.applyChangelog(
          Tables.withEventTime(raw)
            .select(col("user_id").as("key"), col("ts_ns").as("ver"),
              col("event_id").as("sub"),
              when(col("event_type") === "error", lit("D"))
                .otherwise(lit("U")).as("op"),
              col("value"), col("event_type").as("payload"))).toDF()
      }.groupBy("key")
        // sub sits between ver and op so timestamp ties resolve by the
        // same (ver, sub) order the operator applies in
        .agg(max(struct(col("ver"), col("sub"), col("op"), col("value")))
          .as("m"))
        .filter(col("m.op") =!= "D")
        .select(col("key").as("user_id"), col("m.ver").as("last_ver"),
          round(col("m.value"), 6).as("last_value_r"))
        .orderBy("user_id")),

    // CDC → SCD2 composition — the lakehouse bronze→silver shape: the
    // STREAMED changelog (per-key forward-only (ver, sub) state, the
    // exactly-once edge) feeds the batch SCD2 history builder, so the
    // maintained dimension's validity intervals come from the stream's
    // applied post-images, hash-matched against the batch SCD2 oracle
    // over the same raw changelog. A stale-delivery probe rides the
    // second drain: a re-delivered change at the corpus's max (ver)
    // with a SMALLER sub and a poisoned payload — if suppression ever
    // regressed, the poison opens an interval the oracle lacks and the
    // gate goes red. Interval bounds stay BIGINT ns (no timestamp
    // rendering hazard); valid_to's null is pinned to -1 (stream rule).
    "q_stream_cdc_scd2" -> ((s, dir) => {
      import s.implicits._
      val last = memoAnchor(dir, "cdc_last") {
        val rows = Tables.events(s, dir)
          .orderBy(col("ts_ns").desc, col("event_id").desc)
          .select("ts_ns", "user_id").limit(1).collect()
        // loud on an empty table: bare head() was an unexplained
        // NoSuchElementException; the probe needs a max-(ver) change
        require(rows.nonEmpty,
          "q_stream_cdc_scd2: events is empty — no stale-delivery anchor")
        rows.head
      }
      // stateParts 8: the per-user CDC state is the family's largest
      // (every user keyed) and three r11 family-bench runs read it
      // 2.6-2.9 s at the family default of 4 vs 2.0-2.4 s historical
      // at 8 — the one gate where state work outweighs commit overhead
      val applied = runFileStream(s, dir, "events", "q_stream_cdc_scd2_sink",
        sentinels =
          Seq(Row(-1L, last.getLong(0), last.getLong(1), "poison", 0.0, "{}")),
        stateParts = 8) {
        raw =>
          graft.streaming.StreamCdc.applyChangelog(
            Tables.withEventTime(raw)
              .select(col("user_id").as("key"), col("ts_ns").as("ver"),
                col("event_id").as("sub"),
                when(col("event_type") === "error", lit("D"))
                  .otherwise(lit("U")).as("op"),
                col("value"), col("event_type").as("payload"))).toDF()
      }
      // single-initial-batch assumption made LOUD: the forward-only
      // operator matches the batch SCD2 oracle because the whole
      // corpus arrives in the first micro-batch (every key's changes
      // apply in (ver, sub) order in-batch). A harness change that
      // slices the initial load (maxFilesPerTrigger, a second drain
      // of real data) would silently DROP out-of-order events and
      // diverge the history while q_stream_cdc still passed — so the
      // applied count must equal the corpus's event count exactly
      // (the poisoned stale re-delivery contributes 0 when
      // suppression holds; +1 if it ever regresses — both sides of
      // the gate trip this check before the hash compare runs).
      val nApplied = applied.count()
      val nEvents = Tables.events(s, dir).count()
      require(nApplied == nEvents,
        s"q_stream_cdc_scd2: applied $nApplied changes but the corpus " +
          s"has $nEvents — batch slicing dropped events or the stale " +
          "re-delivery was applied; the SCD2 gate would be meaningless")
      graft.ops.Corpus.scd2History(
        applied.filter(col("op") === "U")
          .select(col("key"), col("ver"), col("sub"), col("payload")),
        "key", "payload", Seq("ver", "sub"))
        .select(col("key").as("user_id"), col("payload").as("etype"),
          col("ver").as("valid_from_ns"),
          coalesce(col("valid_to"), lit(-1L)).as("valid_to_ns"),
          col("is_current"))
        .orderBy("user_id", "valid_from_ns", "etype", "valid_to_ns")
    }),

    // CDC → SCD2 under REAL batch slicing — the multi-batch twin of
    // q_stream_cdc_scd2. The changelog arrives as TWO time-sliced
    // parquet files drained as separate micro-batches (slice 1 drains
    // fully before slice 2 enters the source dir), so the per-key
    // forward-only (ver, sub) state must SURVIVE the batch boundary
    // for the history to match the batch oracle. Slicing is by event
    // time (slice 1 = ts_ns <= midpoint), so cross-batch arrival is
    // version-ordered and the exact batch SCD2 oracle still holds;
    // what the single-batch gate cannot prove — state continuity and
    // CROSS-batch stale suppression — this one does: slice 2 carries
    // a verbatim re-delivery of slice 1's last applied change for one
    // key with a poisoned payload, suppressed only if batch 1's state
    // is still live when batch 2 applies (a fresh state would admit
    // it and open an interval the oracle lacks).
    "q_stream_cdc_scd2_sliced" -> ((s, dir) => {
      import java.nio.file.{Files => NF}
      import scala.jdk.CollectionConverters._
      // staging shape: ts as epoch-ns Long (withEventTime's LongType
      // leg) — slices re-written from the normalized read keep ONE
      // schema regardless of the raw table's physical ts type
      val ev = graft.ops.QueryCaches.persist(Tables.events(s, dir)
        .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")))
      // stale re-delivery probe: slice 1's last change, verbatim but
      // poisoned — its (ver, sub) equals that key's state after batch
      // 1, so the forward-only rule (strictly greater) must apply 0
      val (mid, lastId, lastTs, lastUser) = memoAnchor(dir, "cdc_cut") {
        val bounds = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head()
        val m = bounds.getLong(0) +
          (bounds.getLong(1) - bounds.getLong(0)) / 2
        val lastA = ev.filter(col("ts") <= m)
          .orderBy(col("ts").desc, col("event_id").desc).head()
        (m, lastA.getLong(0), lastA.getLong(1), lastA.getLong(2))
      }
      val tmp = NF.createTempDirectory("graft_stream_cdc_sliced")
      stageCachedSlice(dir, "cdc_sliceA", tmp, "slice_0") {
        ev.filter(col("ts") <= mid)
      }
      var dataBatches = 0
      // 8 like q_stream_cdc_scd2 — same every-user keyed state
      val applied = withStatePartitions(s, 8) {
        val q = graft.streaming.StreamCdc.applyChangelog(
          Tables.withEventTime(
            s.readStream.schema(ev.schema).parquet(tmp.toString))
            .select(col("user_id").as("key"), col("ts_ns").as("ver"),
              col("event_id").as("sub"),
              when(col("event_type") === "error", lit("D"))
                .otherwise(lit("U")).as("op"),
              col("value"), col("event_type").as("payload"))).toDF()
          .writeStream.format("memory")
          .queryName("q_stream_cdc_scd2_sliced_sink")
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: slice_0 only
          stageCachedSlice(dir, "cdc_sliceB", tmp, "slice_1") {
            val poison = s.createDataFrame(
              java.util.List.of(Row(lastId, lastTs, lastUser,
                "poison", 0.0, "{}")), ev.schema)
            ev.filter(col("ts") > mid).unionAll(poison)
          }
          q.processAllAvailable() // batch 2: slice_1 + the poison
          dataBatches = q.recentProgress.count(_.numInputRows > 0)
        } finally { q.stop(); deleteRecursively(tmp) }
        s.table("q_stream_cdc_scd2_sliced_sink")
      }
      require(dataBatches >= 2,
        s"q_stream_cdc_scd2_sliced: saw $dataBatches data micro-batches " +
          "— the slicing harness collapsed to one batch and the gate " +
          "no longer tests cross-batch state")
      val nApplied = applied.count()
      val nEvents: Long =
        memoAnchor[java.lang.Long](dir, "events_count")(Long.box(ev.count()))
      require(nApplied == nEvents,
        s"q_stream_cdc_scd2_sliced: applied $nApplied changes, corpus " +
          s"has $nEvents — batch slicing dropped events or the " +
          "cross-batch stale re-delivery was applied")
      graft.ops.Corpus.scd2History(
        applied.filter(col("op") === "U")
          .select(col("key"), col("ver"), col("sub"), col("payload")),
        "key", "payload", Seq("ver", "sub"))
        .select(col("key").as("user_id"), col("payload").as("etype"),
          col("ver").as("valid_from_ns"),
          coalesce(col("valid_to"), lit(-1L)).as("valid_to_ns"),
          col("is_current"))
        .orderBy("user_id", "valid_from_ns", "etype", "valid_to_ns")
    }),

    // Streaming corpus-drift monitor: tumbling-window token counts
    // (watermark-bounded state, the q_stream_trending ingest) emit to
    // the sink, then the PSI of each window's smoothed token
    // distribution against the full-corpus reference runs BATCH over
    // the emitted windows — the serving-layer split again: streaming
    // state stays (window × token)-bounded, the cross-window grid
    // math never enters a state store. Sum per window is |vocab|
    // bounded terms (the round(…,6) rule).
    "q_stream_drift" -> ((s, dir) => {
      import s.implicits._
      val maxIdRow = Tables.table(s, dir, "documents")
        .agg(max("doc_id")).head()
      if (maxIdRow.isNullAt(0)) {
        Seq.empty[(Long, Long, Double)]
          .toDF("window_start_s", "n_tokens", "psi_r")
      } else {
        val maxId = maxIdRow.getLong(0)
        val maxSec = 1000000000L + maxId
        val counts = runFileStream(s, dir, "documents",
          "q_stream_drift_sink",
          sentinels = Seq(
            Row(maxId + 3600L, "z", null, null, null),
            Row(maxId + 7200L, "z", null, null, null))) { raw =>
          graft.streaming.TrendingTerms.windowedTermCounts(
            raw.select(col("doc_id"), col("text"), syntheticTs("doc_id")),
            textCol = "text", tsCol = "ts",
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
        }.filter(unix_timestamp(col("window_start")) <= lit(maxSec))
          .select(unix_timestamp(col("window_start")).as("ws"),
            col("tok"), col("n"))
          .transform(graft.ops.QueryCaches.persist) // grid + join share it
        val ref = Tables.table(s, dir, "documents")
          // single parquet file = ONE task for the whole exploded
          // token frame (the CLAUDE.md repartition-before-explode rule)
          .repartition(graft.ops.ScaleOps.fanoutWidth(
            Tables.table(s, dir, "documents")))
          .select(explode(graft.ops.TextDedup.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c_ref"))
          .transform(graft.ops.QueryCaches.persist) // totals + grid share it
        ref.count() // eager: broadcast(refTot) races the lazy cache
        val refTot = ref.agg(sum(col("c_ref")).as("n_ref"),
          count(lit(1)).as("v"))
        val wsTot = counts.groupBy("ws").agg(sum(col("n")).as("n_w"))
        wsTot.crossJoin(ref)
          .join(counts, Seq("ws", "tok"), "left")
          .withColumn("c_w", coalesce(col("n"), lit(0L)))
          .crossJoin(broadcast(refTot))
          .withColumn("p", (col("c_w") + 1).cast("double") /
            (col("n_w") + col("v")).cast("double"))
          .withColumn("r", (col("c_ref") + 1).cast("double") /
            (col("n_ref") + col("v")).cast("double"))
          .groupBy("ws", "n_w")
          .agg(round(sum((col("p") - col("r")) * log(col("p") / col("r"))),
            6).as("psi_r"))
          .select(col("ws").as("window_start_s"),
            col("n_w").as("n_tokens"), col("psi_r"))
          .orderBy("window_start_s")
      }
    }),

    // Streaming sessionization: session_window + watermark over the
    // file source with second-truncated event times (the oracle's
    // gap-and-islands arithmetic is in whole seconds — micros-precision
    // gaps could flip a boundary decision the truncated oracle keeps).
    "q_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      // empty input: zero sessions, well-defined (the oracle returns
      // zero rows too)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("user_id", "start_s", "end_s", "n_events")
      } else {
        val maxNs = maxNsOpt.get
        runFileStream(s, dir, "events", "q_stream_sessions_sink",
          sentinels = Seq(
            eventRow(-1L, maxNs + 7200L * 1000000000L),
            eventRow(-2L, maxNs + 10800L * 1000000000L))) { raw =>
          EventStream.sessionWindows(
            Tables.withEventTime(raw).select(col("event_id"),
              timestamp_seconds(expr("ts_ns div 1000000000")).as("ts"),
              col("user_id"), col("event_type"), col("value")),
            gap = "30 minutes", watermarkDelay = Some("30 minutes"))
        }
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_timestamp(col("session_start")).as("start_s"),
            unix_timestamp(col("session_end")).as("end_s"),
            col("n_events"))
          .orderBy("user_id", "start_s")
      }
    }),

    // Sessionization under REAL batch slicing — the third stateful
    // primitive gated cross-batch (after CDC state and dedup state):
    // native session_window merge state. The corpus arrives as two
    // time-sliced micro-batches; a session whose events STRADDLE the
    // slice boundary only matches the batch gap-and-islands oracle if
    // batch 1's open session state is still live when batch 2's
    // continuation events merge into it — a dropped store would split
    // every straddling session into two rows. The gate asserts at
    // least one user actually straddles (events within the 30-min gap
    // on BOTH sides of the cut), so the property can never silently
    // degenerate; watermark sentinels arrive as a third batch to
    // flush the tail sessions.
    "q_stream_sessions_sliced" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.{Files => NF}
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("user_id", "start_s", "end_s", "n_events")
      } else {
        val maxNs = maxNsOpt.get
        val gapNs = 1800L * 1000000000L
        val ev = graft.ops.QueryCaches.persist(Tables.events(s, dir)
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")))
        // the cut is SITED, not blind: per-user sessions are sparse
        // enough that a midpoint cut can miss every in-flight session
        // (it did at sf0.01) — instead find the earliest intra-session
        // consecutive event pair (same user, gap <= 30 min, strictly
        // increasing ts) via a KEYED per-user lag window and cut
        // between its two events, guaranteeing >= 1 straddler
        val mid: Long = memoAnchor[java.lang.Long](dir, "sessions_cut") {
          val uw = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("ts")
          val pairRow = ev
            .select(col("user_id"), col("ts"),
              lag("ts", 1).over(uw).as("prev"))
            .filter(col("prev").isNotNull && col("ts") > col("prev") &&
              col("ts") - col("prev") <= gapNs)
            .agg(min(struct(col("prev"), col("ts"), col("user_id"))).as("m"))
            .head()
          require(!pairRow.isNullAt(0),
            "q_stream_sessions_sliced: the corpus has no multi-event " +
              "session at all — the gate cannot test cross-batch state")
          val pairSt = pairRow.getStruct(0)
          val (pv, nx) = (pairSt.getLong(0), pairSt.getLong(1))
          val m = pv + (nx - pv) / 2 // pv <= m < nx: the pair straddles
          val straddlers = ev
            .filter(col("ts") > m - gapNs && col("ts") <= m)
            .select("user_id").distinct()
            .join(ev.filter(col("ts") > m && col("ts") <= m + gapNs)
              .select("user_id").distinct(), "user_id")
            .count()
          require(straddlers >= 1,
            s"q_stream_sessions_sliced: no user's session straddles the " +
              s"sited cut at $m — the pair-finding logic regressed")
          Long.box(m)
        }
        val sentinels = Seq(
          (-1L, maxNs + 7200L * 1000000000L, -1L, "sentinel", 0.0, "{}"),
          (-2L, maxNs + 10800L * 1000000000L, -2L, "sentinel", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        val tmp = NF.createTempDirectory("graft_stream_sessions_sliced")
        stageCachedSlice(dir, "sessions_sliceA", tmp, "slice_0") {
          ev.filter(col("ts") <= mid)
        }
        var dataBatches = 0
        val sess = withStatePartitions(s) {
          val q = EventStream.sessionWindows(
            Tables.withEventTime(
              s.readStream.schema(ev.schema).parquet(tmp.toString))
              .select(col("event_id"),
                timestamp_seconds(expr("ts_ns div 1000000000")).as("ts"),
                col("user_id"), col("event_type"), col("value")),
            gap = "30 minutes", watermarkDelay = Some("30 minutes"))
            .writeStream.format("memory")
            .queryName("q_stream_sessions_sliced_sink")
            .outputMode("append").start()
          try {
            q.processAllAvailable() // batch 1: sessions open in state
            // sentinels ride slice 2 (the counts-gate rule): batch 2
            // merges the straddlers under batch 1's watermark, then
            // the trailing no-data batch flushes everything — same
            // output as a third sentinel drain, one less batch pair
            stageCachedSlice(dir, "sessions_sliceB_sent", tmp, "slice_1") {
              ev.filter(col("ts") > mid).unionAll(sentinels)
            }
            q.processAllAvailable() // batch 2: merge + flush
            dataBatches = q.recentProgress.count(_.numInputRows > 0)
          } finally { q.stop(); deleteRecursively(tmp) }
          s.table("q_stream_sessions_sliced_sink")
        }
        require(dataBatches >= 2,
          s"q_stream_sessions_sliced: saw $dataBatches data " +
            "micro-batches — the slicing harness collapsed and the gate " +
            "no longer tests cross-batch session state")
        sess.filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_timestamp(col("session_start")).as("start_s"),
            unix_timestamp(col("session_end")).as("end_s"),
            col("n_events"))
          .orderBy("user_id", "start_s")
      }
    }),

    // Stream-static enrichment: events join the nation DIMENSION
    // (genuinely bounded — 25 rows by modeling, so the broadcast hint
    // is valid; see EventStream.enrichedWindowedCounts) and the
    // windowed counts group by the dimension attribute instead of a
    // stream column. Sentinel rows (user_id = -1) advance the
    // watermark at the pre-join watermark node but can never match a
    // nation key, so the inner join drops them structurally — no
    // text/horizon filtering needed on the output at all.
    "q_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, String, Long)]
          .toDF("window_start_s", "window_end_s", "n_name", "n")
      } else {
        val maxNs = maxNsOpt.get
        val dim = Tables.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        runFileStream(s, dir, "events", "q_stream_enrich_sink",
          sentinels = Seq(
            eventRow(-1L, maxNs + 3600L * 1000000000L),
            eventRow(-2L, maxNs + 7200L * 1000000000L))) { raw =>
          EventStream.enrichedWindowedCounts(
            Tables.withEventTime(raw),
            dim,
            joinCond = col("user_id") % 25 === col("n_nationkey"),
            dimVal = col("n_name"),
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
        }
          .select(
            unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("dim").as("n_name"), col("n"))
          .orderBy("window_start_s", "n_name")
      }
    }),

    // Watermarked stream-stream interval join: view→click attribution
    // within a 6 h horizon, per user (EventStream.intervalJoin — both
    // join buffers are horizon+lateness-bounded via the time-interval
    // condition, the property that keeps a forever-running join's
    // state finite). Inner matches emit as soon as both rows arrive,
    // so no sentinels are needed; the whole initial load is one
    // micro-batch and every in-horizon pair emits from it. delta_us
    // is an exact integer microsecond difference — no float in the
    // compare.
    "q_stream_sjoin" -> ((s, dir) =>
      runFileStream(s, dir, "events", "q_stream_sjoin_sink") { raw =>
        EventStream.intervalJoin(
          Tables.withEventTime(raw),
          leftType = "view", rightType = "click",
          horizonSec = 21600L, watermarkDelay = "10 minutes")
      }.orderBy("l_id", "r_id")),

    // Stream-stream join under REAL batch slicing — the fifth stateful
    // primitive gated cross-batch: the JOIN BUFFERS. A view arriving
    // in batch 1 whose click arrives in batch 2 pairs only if the
    // left buffer held it across the boundary. Time-ordered slicing
    // makes this sound BY CONSTRUCTION: a batch-1 view is evicted
    // only once the watermark passes its ts + horizon, and any click
    // arriving in batch 2 is past the cut, which trails that eviction
    // point by the full horizon — so no cross-batch match can be
    // lost to eviction and the exact batch oracle holds. The cut is
    // sited between the earliest strict (view, click) pair inside
    // the horizon, guaranteeing >= 1 cross-batch pair; inner matches
    // emit on arrival, so two data batches and no sentinels.
    "q_stream_sjoin_sliced" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.{Files => NF}
      val horizonNs = 21600L * 1000000000L
      val ev = graft.ops.QueryCaches.persist(Tables.events(s, dir)
        .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")))
      val pairOpt = firstInHorizonPair(s, dir, horizonNs)
      require(pairOpt.isDefined,
        "q_stream_sjoin_sliced: no strict in-horizon (view, click) " +
          "pair exists — the gate cannot test cross-batch join state")
      val (vTs, cTs) = pairOpt.get
      val mid = vTs + (cTs - vTs) / 2
      val tmp = NF.createTempDirectory("graft_stream_sjoin_sliced")
      // slice keys shared with q_stream_sjoin_outer_sliced — both cut
      // at the same memoized pair midpoint, so the staged files are
      // byte-identical by construction
      stageCachedSlice(dir, "sjoin_sliceA", tmp, "slice_0") {
        ev.filter(col("ts") <= mid)
      }
      var dataBatches = 0
      val pairs = withStatePartitions(s) {
        val q = EventStream.intervalJoin(
          Tables.withEventTime(
            s.readStream.schema(ev.schema).parquet(tmp.toString)),
          leftType = "view", rightType = "click",
          horizonSec = 21600L, watermarkDelay = "10 minutes")
          .writeStream.format("memory")
          .queryName("q_stream_sjoin_sliced_sink")
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: views buffer in state
          stageCachedSlice(dir, "sjoin_sliceB", tmp, "slice_1") {
            ev.filter(col("ts") > mid)
          }
          q.processAllAvailable() // batch 2: cross-batch clicks pair
          dataBatches = q.recentProgress.count(_.numInputRows > 0)
        } finally { q.stop(); deleteRecursively(tmp) }
        s.table("q_stream_sjoin_sliced_sink")
      }
      require(dataBatches >= 2,
        s"q_stream_sjoin_sliced: saw $dataBatches data micro-batches — " +
          "the slicing harness collapsed and the gate no longer tests " +
          "cross-batch join state")
      pairs.orderBy("l_id", "r_id")
    }),

    // End-to-end FILE-TO-FILE streaming: the same windowed counts, but
    // landing in Structured Streaming's exactly-once PARQUET sink
    // (commit-log-tracked files + checkpoint) instead of the memory
    // sink — the deployment shape where a streaming job feeds the
    // batch lakehouse. The gate reads the sink back THROUGH the commit
    // log (a plain directory read would also see uncommitted files)
    // and must reproduce the same oracle as q_stream_counts.
    "q_stream_sink" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, String, Long)]
          .toDF("window_start_s", "window_end_s", "event_type", "n")
      } else {
        val maxNs = maxNsOpt.get
        import java.nio.file.{Files => NF, Paths}
        // fixed tmp layout, cleared up front (the q_ann_ivf_persisted
        // pattern): the checkpoint MUST be fresh per run or the
        // resumed query would treat the input as already processed,
        // and the returned DataFrame stays a LAZY read over the sink —
        // no driver materialization of the output anywhere
        val base = Tables.scratchDir(s, "graft_stream_sink")
        if (NF.exists(base)) deleteRecursively(base)
        val inDir = NF.createDirectories(base.resolve("in"))
        val outDir = base.resolve("out").toString
        val cpDir = base.resolve("cp").toString
        copyTableFiles(Paths.get(dir, "events.parquet"), inDir)
        withStatePartitions(s) {
          val q = EventStream.windowedCounts(
            EventStream.fromEventsDir(s, inDir.toString),
            watermarkDelay = "10 minutes", windowLen = "5 minutes")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", cpDir)
            .outputMode("append").start()
          try {
            q.processAllAvailable()
            val rawSchema =
              tableSchema(s, Paths.get(dir, "events.parquet").toString)
            // one drain, one file for both sentinels (the
            // runFileStream rule): append-mode output depends only on
            // the final watermark; each extra drain pays a data +
            // no-data micro-batch pair of state commits, each extra
            // file a driver write job
            import scala.jdk.CollectionConverters._
            stageCachedSlice(dir, "sent_q_stream_sink", inDir,
              "sentinel_all") {
              s.createDataFrame(
                Seq(1, 2).map(i => conformRow(
                  eventRow(-i.toLong, maxNs + i * 3600L * 1000000000L),
                  rawSchema)).asJava, rawSchema)
            }
            q.processAllAvailable()
          } finally q.stop()
        }
        // reading the sink directory goes through its _spark_metadata
        // commit log — only files of committed batches are visible
        s.read.parquet(outDir)
          .filter(unix_timestamp(col("window_start")) <=
            lit(maxNs / 1000000000L))
          .select(
            unix_timestamp(col("window_start")).as("window_start_s"),
            unix_timestamp(col("window_end")).as("window_end_s"),
            col("event_type"), col("n"))
          .orderBy("window_start_s", "event_type")
      }
    }),

    // LEFT-OUTER interval join: views with no click inside the
    // horizon emit null-matched once the watermark passes their
    // horizon — the funnel-loss report as a stream. The type filters
    // sit BEFORE the watermark nodes, so the watermark-advancing
    // sentinel FILES must carry the joined types ('view'/'click',
    // users -1/-2 — they can never match each other or real rows, and
    // their own null-emission horizon is never reached). Nulls are
    // coalesced to -1 so the compare never depends on engine null
    // ordering.
    "q_stream_sjoin_outer" -> ((s, dir) => {
      import s.implicits._
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("l_id", "r_id", "user_id", "delta_us")
      } else {
        val maxNs = maxNsOpt.get
        def sent(id: Long, user: Long, tpe: String, hours: Long): Row =
          Row(id, maxNs + hours * 3600L * 1000000000L, user, tpe, 0.0, "{}")
        // ONE sentinel pair: the +7 h watermark (7 h − 10 min delay)
        // already clears every real view's 6 h outer horizon; extra
        // pairs would only add stream-stream micro-batches (~1 s each
        // of join-state commits, measured)
        runFileStream(s, dir, "events", "q_stream_sjoin_outer_sink",
          sentinels = Seq(
            sent(-1L, -1L, "view", 7L), sent(-2L, -2L, "click", 7L))) { raw =>
          EventStream.intervalJoin(
            Tables.withEventTime(raw),
            leftType = "view", rightType = "click",
            horizonSec = 21600L, watermarkDelay = "10 minutes",
            joinType = "left_outer")
        }
          .filter(col("user_id") >= 0)
          .select(col("l_id"), coalesce(col("r_id"), lit(-1L)).as("r_id"),
            col("user_id"),
            coalesce(col("delta_us"), lit(-1L)).as("delta_us"))
          .orderBy("l_id", "r_id")
      }
    }),

    // LEFT-OUTER interval join under REAL batch slicing — cross-batch
    // OUTER bookkeeping: a batch-1 view must null-emit exactly once
    // and only after its horizon, even when later batches keep
    // arriving. Time-ordered slicing keeps the batch oracle exact for
    // the same reason eviction cannot lose a match: a view whose
    // null-emission horizon the batch-1 watermark has passed
    // (v_ts < maxA − delay − horizon) provably has no click past the
    // cut (such a click would sit inside the view's horizon yet after
    // maxA — a contradiction), so every premature-looking null row is
    // genuinely matchless and every cross-batch match still pairs.
    // The cut is sited between the earliest strict in-horizon pair;
    // watermark sentinels (type-carrying, the outer-gate rule) are
    // UNIONED INTO the second staged file, so they ride the second
    // data batch and flush the tail null-emissions — two data batches
    // total, no separate sentinel-only third batch. One file, one
    // atomic rename: staging them as a second file would race the
    // source's continuous poll (a poll between two renames lists
    // slice_1 alone and the sentinels become a third batch).
    "q_stream_sjoin_outer_sliced" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.{Files => NF}
      val maxNsOpt = Tables.maxEventNs(s, dir)
      if (maxNsOpt.isEmpty) {
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("l_id", "r_id", "user_id", "delta_us")
      } else {
        val maxNs = maxNsOpt.get
        val horizonNs = 21600L * 1000000000L
        val ev = graft.ops.QueryCaches.persist(Tables.events(s, dir)
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")))
        val pairOpt = firstInHorizonPair(s, dir, horizonNs)
        require(pairOpt.isDefined,
          "q_stream_sjoin_outer_sliced: no strict in-horizon " +
            "(view, click) pair — the gate cannot test cross-batch state")
        val (vTs, cTs) = pairOpt.get
        val mid = vTs + (cTs - vTs) / 2
        val sentinels = Seq(
          (-1L, maxNs + 7L * 3600L * 1000000000L, -1L, "view", 0.0, "{}"),
          (-2L, maxNs + 7L * 3600L * 1000000000L, -2L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        val tmp = NF.createTempDirectory("graft_stream_sjoin_outer_sliced")
        // same memoized cut as the inner gate → shared cached slices
        stageCachedSlice(dir, "sjoin_sliceA", tmp, "slice_0") {
          ev.filter(col("ts") <= mid)
        }
        var dataBatches = 0
        val pairs = withStatePartitions(s) {
          val q = EventStream.intervalJoin(
            Tables.withEventTime(
              s.readStream.schema(ev.schema).parquet(tmp.toString)),
            leftType = "view", rightType = "click",
            horizonSec = 21600L, watermarkDelay = "10 minutes",
            joinType = "left_outer")
            .writeStream.format("memory")
            .queryName("q_stream_sjoin_outer_sliced_sink")
            .outputMode("append").start()
          try {
            q.processAllAvailable() // batch 1: views buffer, some null-emit
            // the type-carrying sentinels are unioned into the staged
            // slice itself (its own cache key — the inner gate's bare
            // sliceB stays separately cached): ONE atomic rename, so
            // batch 2 deterministically pairs the cross-batch matches
            // AND carries the final watermark, and the trailing
            // no-data batch flushes the tail null-emissions (a join
            // drain is ~1 s of state commits, the family's most
            // expensive batch pair)
            stageCachedSlice(dir, "sjoin_outer_sliceB_sent", tmp,
              "slice_1") {
              ev.filter(col("ts") > mid).unionAll(sentinels)
            }
            q.processAllAvailable() // batch 2: pairs + nulls + flush
            dataBatches = q.recentProgress.count(_.numInputRows > 0)
          } finally { q.stop(); deleteRecursively(tmp) }
          s.table("q_stream_sjoin_outer_sliced_sink")
        }
        require(dataBatches >= 2,
          s"q_stream_sjoin_outer_sliced: saw $dataBatches data " +
            "micro-batches — the slicing harness collapsed and the gate " +
            "no longer tests cross-batch outer state")
        pairs.filter(col("user_id") >= 0)
          .select(col("l_id"), coalesce(col("r_id"), lit(-1L)).as("r_id"),
            col("user_id"),
            coalesce(col("delta_us"), lit(-1L)).as("delta_us"))
          .orderBy("l_id", "r_id")
      }
    }))

  // epoch-aligned 5-minute buckets (Spark's tumbling windows align to
  // the epoch); counts are exact integers so the compare has no
  // float-order sensitivity
  /** Shared by q_stream_dedup and its sliced twin (byte-identical
    * by design: slicing must not change the answer). */
  private val streamDedupOracle: String =
    """SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents ORDER BY fp"""

  /** Shared by q_stream_cdc_scd2 and its sliced twin (byte-identical
    * by design: slicing must not change the answer). */
  private val streamCdcScd2Oracle: String =
    """WITH u AS (SELECT user_id, epoch_ns(ts) AS ver, event_id AS sub,
             event_type AS payload
           FROM events WHERE event_type <> 'error'),
         s AS (SELECT user_id, ver, sub, payload,
             lag(payload) OVER (PARTITION BY user_id ORDER BY ver, sub)
               AS prev
           FROM u),
         ch AS (SELECT user_id, ver, sub, payload FROM s
           WHERE prev IS DISTINCT FROM payload),
         v AS (SELECT user_id, payload, ver,
             lead(ver) OVER (PARTITION BY user_id ORDER BY ver, sub)
               AS vt
           FROM ch)
         SELECT user_id, payload AS etype, ver AS valid_from_ns,
           coalesce(vt, -1) AS valid_to_ns, (vt IS NULL) AS is_current
         FROM v
         ORDER BY user_id, valid_from_ns, etype, valid_to_ns"""

  /** Shared by q_stream_sessions and its sliced twin (byte-identical
    * by design: slicing must not change the answer). */
  private val streamSessionsOracle: String =
    """WITH e AS (SELECT user_id,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT) AS ts_s
           FROM events),
         l AS (SELECT user_id, ts_s,
             lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS prev
           FROM e),
         f AS (SELECT user_id, ts_s,
             CASE WHEN prev IS NULL OR ts_s - prev > 1800 THEN 1 ELSE 0 END AS new_s
           FROM l),
         g AS (SELECT user_id, ts_s,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM f),
         sess AS (SELECT user_id, min(ts_s) AS start_s,
             max(ts_s) + 1800 AS end_s, count(*) AS n_events
           FROM g GROUP BY user_id, sid)
         SELECT user_id, CAST(start_s AS BIGINT) AS start_s,
           CAST(end_s AS BIGINT) AS end_s, n_events
         FROM sess ORDER BY user_id, start_s"""

  /** Shared by q_stream_sjoin and its sliced twin (byte-identical
    * by design: slicing must not change the answer). */
  private val streamSjoinOracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS t_us
           FROM events)
         SELECT v.event_id AS l_id, c.event_id AS r_id, v.user_id,
           c.t_us - v.t_us AS delta_us
         FROM e v JOIN e c ON v.user_id = c.user_id
           AND v.event_type = 'view' AND c.event_type = 'click'
           AND c.t_us >= v.t_us AND c.t_us <= v.t_us + 21600000000
         ORDER BY l_id, r_id"""

  /** Shared by q_stream_sjoin_outer and its sliced twin (byte-identical
    * by design: slicing must not change the answer). */
  private val streamSjoinOuterOracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS t_us
           FROM events),
         v AS (SELECT * FROM e WHERE event_type = 'view'),
         c AS (SELECT * FROM e WHERE event_type = 'click')
         SELECT v.event_id AS l_id,
           coalesce(c.event_id, -1) AS r_id, v.user_id,
           coalesce(c.t_us - v.t_us, -1) AS delta_us
         FROM v LEFT JOIN c ON v.user_id = c.user_id
           AND c.t_us >= v.t_us AND c.t_us <= v.t_us + 21600000000
         ORDER BY l_id, r_id"""

  private val streamCountsOracle =
    """WITH e AS (SELECT
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT) AS ts_s,
             event_type
           FROM events)
         SELECT (ts_s // 300) * 300 AS window_start_s,
           (ts_s // 300) * 300 + 300 AS window_end_s,
           event_type, count(*) AS n
         FROM e GROUP BY 1, 2, 3
         ORDER BY window_start_s, event_type"""

  val oracles: Map[String, String] = Map(
    // the batch LSH pair miner over the same literal planes — the
    // stream must reproduce exactly this pair set
    "q_stream_ann" ->
      s"""WITH ${VectorQueries.embeddingCtes("vec_id < 300",
          nCols = Seq(VectorQueries.lshBucket))}
         ${VectorQueries.lshPairSql(Seq(VectorQueries.pairCos))}
         ORDER BY a, b""",
    // same 300 s epoch buckets the tumbling window aligns to
    "q_stream_trending" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         t AS (SELECT (doc_id + 1000000000) // 300 * 300 AS ws,
             unnest(toks) AS tok FROM d),
         c AS (SELECT ws, tok, CAST(count(*) AS BIGINT) AS n
           FROM t GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER
             (PARTITION BY ws ORDER BY n DESC, tok) AS BIGINT) AS rank
           FROM c)
         SELECT CAST(ws AS BIGINT) AS window_start_s, tok, n, rank
         FROM r WHERE rank <= 3 ORDER BY window_start_s, rank""",
    // q_curate's gate CTE reduced to the distinct fingerprint set
    "q_stream_curate" ->
      """WITH q AS (SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(string_split(trim(text), ' '),
             x -> list_contains(['the','a','data','row','key'], x))) AS INTEGER) AS n_stop,
           CAST(length(text) AS INTEGER) AS len_text,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents)
         SELECT DISTINCT fp FROM q
         WHERE len_text BETWEEN 20 AND 2000 AND n_tokens >= 5
           AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5
         ORDER BY fp""",
    // same signature scheme as the batch minhash family: distinct
    // trigram shingles, per-seed min of md5("seed:shingle"), 3 bands
    // of 2 concatenated hashes; est = matching-signature fraction
    "q_stream_neardup" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents WHERE doc_id < 500),
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
         est AS (SELECT c.a, c.b, round((
               CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END +
               CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END +
               CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END +
               CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END +
               CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END +
               CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END) / 6.0, 6) AS est_r
             FROM cand c
             JOIN sig sa ON sa.doc_id = c.a
             JOIN sig sb ON sb.doc_id = c.b)
         SELECT a, b, est_r FROM est WHERE est_r >= 0.5 ORDER BY a, b""",
    "q_stream_dedup" ->
      streamDedupOracle,
    // multi-batch twin: corpus-spanning retention keeps the exact
    // DISTINCT oracle valid under any slicing; the cross-batch
    // re-delivery must be state-suppressed for the row counts to meet
    "q_stream_dedup_sliced" ->
      streamDedupOracle,
    // the batch gear walk (TextQueries.cdcWalkSql — shared, so the
    // stream and batch oracles cannot drift), distinct fps: the kept
    // set equals the batch chunk universe whatever arrival order won
    "q_stream_cdc_chunks" ->
      s"""WITH ${TextQueries.cdcWalkSql}
         SELECT DISTINCT fp FROM fps ORDER BY fp""",
    // multi-batch twin: corpus-spanning retention keeps the exact
    // DISTINCT oracle valid under any slicing; the cross-batch
    // re-delivery must be state-suppressed for the row counts to meet
    "q_stream_cdc_chunks_sliced" ->
      s"""WITH ${TextQueries.cdcWalkSql}
         SELECT DISTINCT fp FROM fps ORDER BY fp""",
    "q_stream_lines" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
             FROM documents),
         s0 AS (SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)))
               AS i FROM d),
         seg AS (SELECT array_to_string(
             toks[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)],
             ' ') AS seg FROM s0)
         SELECT DISTINCT md5(seg) AS seg_fp FROM seg ORDER BY seg_fp""",
    "q_stream_gaps" ->
      """WITH e AS (SELECT user_id,
             epoch_ns(ts) // 1000000000 AS s, event_id FROM events),
         l AS (SELECT user_id, s, lag(s) OVER (PARTITION BY user_id
             ORDER BY s, event_id) AS prev FROM e)
         SELECT user_id, prev AS gap_start_s, s AS gap_end_s,
           s - prev AS gap_sec
         FROM l WHERE prev IS NOT NULL AND s - prev > 21600
         ORDER BY user_id, gap_start_s""",
    "q_stream_distinct" ->
      """WITH e AS (SELECT (epoch_ns(ts) // 1000000000) AS s, user_id
           FROM events),
         w AS (SELECT (s // 3600) * 3600 AS ws, user_id FROM e),
         b AS (SELECT DISTINCT ws,
             CAST(CAST(('0x' || substr(md5('cm0:' ||
               CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               % 256 AS bucket
           FROM w),
         c AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_buckets
           FROM b GROUP BY 1)
         SELECT ws AS window_start_s, ws + 3600 AS window_end_s,
           n_buckets,
           CASE WHEN n_buckets < 256
             THEN round(-256.0 * ln(CAST(256 - n_buckets AS DOUBLE)
               / 256.0), 6)
             ELSE 256.0 END AS est_distinct
         FROM c ORDER BY window_start_s""",
    "q_stream_topk" ->
      """WITH e AS (SELECT
             ((epoch_ns(ts) // 1000000000) // 3600) * 3600 AS ws,
             event_id, value
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT ws, event_id, value, CAST(row_number() OVER
             (PARTITION BY ws ORDER BY value DESC, event_id) AS BIGINT)
             AS rank
           FROM e)
         SELECT ws AS window_start_s, ws + 3600 AS window_end_s,
           rank, event_id, value
         FROM r WHERE rank <= 3 ORDER BY window_start_s, rank""",
    // (user, day) rank ≤ 5 in the same (ts_ns, event_id) total order
    // the stream sorts by
    "q_stream_quota" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id
           FROM events),
         r AS (SELECT user_id, ts_ns, event_id, row_number() OVER
             (PARTITION BY user_id, ts_ns // 86400000000000
               ORDER BY ts_ns, event_id) AS rn
           FROM e)
         SELECT user_id, ts_ns, event_id FROM r WHERE rn <= 5
         ORDER BY user_id, ts_ns, event_id""",
    // batch twin of the stream-static IVF probe: same fixed coarse
    // quantizer chain as q_ann_ivf's oracle, probe cells ≥ 0.0,
    // verify ≥ 0.2
    "q_stream_ivf" ->
      s"""WITH ${VectorQueries.ivfCtes("vec_id < 2000")},
         ${VectorQueries.embeddingCtes("vec_id >= 450 AND vec_id < 500",
           e = "qe", n = "qn")},
         probe AS (SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qnn,
             c.c_id AS cell
           FROM qn q CROSS JOIN cent c
           WHERE ${VectorQueries.cosSql("q.v", "c.cv", "q.nrm", "c.cn")}
             >= 0.0),
         m AS (SELECT p.q_id, a.vec_id AS cand_id, p.cell,
             ${VectorQueries.cosSql("p.qv", "a.v", "p.qnn", "a.nrm")}
               AS cos_r
           FROM probe p JOIN assigned a ON a.cell = p.cell
           WHERE a.vec_id < 450)
         SELECT q_id, cand_id, cell, cos_r FROM m
         WHERE cos_r >= 0.2 ORDER BY q_id, cand_id""",
    // batch last-writer-wins over the same changelog mapping: the
    // per-user max-(version, event_id) row — event_id is the same
    // minor-version tiebreak the stream operator applies, so tied
    // commit timestamps rank identically on both engines — deleted
    // keys (last op 'error') absent
    "q_stream_cdc" ->
      """WITH c AS (SELECT user_id, epoch_ns(ts) AS ver, event_id AS sub,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
           FROM events),
         r AS (SELECT user_id, ver, op, value, row_number() OVER
             (PARTITION BY user_id ORDER BY ver DESC, sub DESC) AS rn
           FROM c)
         SELECT user_id, ver AS last_ver, round(value, 6) AS last_value_r
         FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""",
    // batch SCD2 over the same changelog's upserts: lag-compressed
    // event_type runs per user, intervals closed by the next change's
    // version, ordered by the stream's (ver, event_id) composite; the
    // stream side's poison probe must be absent (suppressed at the
    // CDC edge) for the hashes to meet
    "q_stream_cdc_scd2" ->
      streamCdcScd2Oracle,
    // multi-batch twin: time-ordered slicing keeps the batch SCD2
    // oracle exact, and the cross-batch poison re-delivery must be
    // suppressed for the hashes to meet — identical oracle text
    "q_stream_cdc_scd2_sliced" ->
      streamCdcScd2Oracle,
    // window token distributions vs the corpus reference, smoothed
    // PSI over the full vocab grid — same epoch buckets as trending
    "q_stream_drift" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
         t AS (SELECT (doc_id + 1000000000) // 300 * 300 AS ws,
             unnest(toks) AS tok FROM d),
         c AS (SELECT ws, tok, CAST(count(*) AS BIGINT) AS c_w
           FROM t GROUP BY 1, 2),
         ref AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_ref
           FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
         rt AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
             CAST(count(*) AS BIGINT) AS v FROM ref),
         wt AS (SELECT ws, CAST(sum(c_w) AS BIGINT) AS n_w
           FROM c GROUP BY ws),
         grid AS (SELECT wt.ws, wt.n_w, ref.tok, ref.c_ref
           FROM wt CROSS JOIN ref),
         j AS (SELECT g.ws, g.n_w, g.c_ref, COALESCE(c.c_w, 0) AS c_w
           FROM grid g LEFT JOIN c ON g.ws = c.ws AND g.tok = c.tok),
         p AS (SELECT ws, n_w,
             CAST(c_w + 1 AS DOUBLE) / CAST(n_w + rt.v AS DOUBLE) AS p,
             CAST(c_ref + 1 AS DOUBLE) / CAST(rt.n_ref + rt.v AS DOUBLE)
               AS r
           FROM j CROSS JOIN rt)
         SELECT ws AS window_start_s, n_w AS n_tokens,
           round(sum((p - r) * ln(p / r)), 6) AS psi_r
         FROM p GROUP BY 1, 2 ORDER BY window_start_s""",
    "q_stream_counts" -> streamCountsOracle,
    // multi-batch twin: time-ordered slicing + the cut-straddling
    // window's state continuity keep the identical batch oracle exact
    "q_stream_counts_sliced" -> streamCountsOracle,
    // identical aggregation, different ingestion entry point
    // (EventStream.fromEventsDir vs the shared harness) — one oracle
    // pins both to the same answer
    "q_stream_file" -> streamCountsOracle,
    // and the same aggregation again through the exactly-once parquet
    // SINK + commit-log read-back: file-to-file must not change a row
    "q_stream_sink" -> streamCountsOracle,
    // gap-and-islands sessions over second-truncated event times:
    // same-session ⟺ gap to previous event ≤ 1800 s; session end =
    // last event + gap (session_window semantics)
    "q_stream_sessions" ->
      streamSessionsOracle,
    // multi-batch twin: time-ordered slicing preserves the batch
    // gap-and-islands answer only if straddling sessions merge across
    // the boundary — identical oracle text
    "q_stream_sessions_sliced" ->
      streamSessionsOracle,
    // the stream-static enrichment over the same epoch-aligned 300 s
    // buckets: events ⋈ nation on user_id % 25 (sentinels never join
    // — the oracle has none to begin with)
    "q_stream_enrich" ->
      """WITH e AS (SELECT
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT) AS ts_s,
             user_id
           FROM events)
         SELECT (ts_s // 300) * 300 AS window_start_s,
           (ts_s // 300) * 300 + 300 AS window_end_s,
           n.n_name, count(*) AS n
         FROM e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         GROUP BY 1, 2, 3
         ORDER BY window_start_s, n_name""",
    // view→click pairs per user inside [l_ts, l_ts + 6 h], compared
    // on exact integer microseconds (the stream's ns→micros ingest
    // conversion mirrored with date_trunc)
    "q_stream_sjoin" ->
      streamSjoinOracle,
    // multi-batch twin: identical pair set — a cross-batch match lost
    // to a dropped join buffer would show as a missing row
    "q_stream_sjoin_sliced" ->
      streamSjoinOracle,
    // the same pairs plus null-matched views, nulls pinned to -1
    "q_stream_sjoin_outer" ->
      streamSjoinOuterOracle,
    // multi-batch twin: identical outer set — a lost join buffer would
    // drop cross-batch matches AND corrupt the null-emission set
    "q_stream_sjoin_outer_sliced" ->
      streamSjoinOuterOracle)
}
