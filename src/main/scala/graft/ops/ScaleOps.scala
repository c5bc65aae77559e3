package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shuffle-shaping utilities for the 100 TB regime. AQE's skew-join
  * splitting (on in [[graft.GraftSession]]) handles *detected* skew at
  * runtime; these are the explicit tools for when the skew is known
  * up front (a hot key in a fact↔fact join) or when a join should be
  * co-located by layout instead of shuffled at all.
  */
object ScaleOps {

  /** Width for the explicit repartitions that pin parallelism BEFORE a
    * fan-out stage (pre-explode spread of a few-file source, the
    * coalesce-before-fan-out self-join trap): the session's configured
    * shuffle parallelism, falling back to the cluster default — never
    * a hardcoded literal, which undersizes bigger executors and is
    * pure overhead on smaller ones.
    */
  def fanoutWidth(df: DataFrame): Int = {
    val s = df.sparkSession
    s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(s.sparkContext.defaultParallelism)
  }

  /** Opt the CURRENT query into bytes-based AQE partition sizing —
    * query-scoped (restored by the harness's per-query
    * [[QueryCaches.releaseAll]]), NOT session-wide.
    *
    * The cache-heavy index/pipeline queries (cosine/PPJoin standing
    * indexes, the nightly compositions) materialize many byte-small
    * persisted frames that dozens of downstream stages re-scan; at the
    * session's full shuffle width each scan pays (width × per-task
    * fixed cost) for kilobytes of data — measured 219 s of task CPU
    * across 78 stages on a 600 KB corpus (q_cosine_incr_idx, sf0.1).
    * `parallelismFirst=false` sizes post-shuffle partitions by
    * advisory bytes and `canChangeCachedPlanOutputPartitioning` lets
    * persisted plans coalesce too.
    *
    * Session-wide these flags are a measured hazard, which is why this
    * is per-query: byte-based sizing ignores CPU density, and a
    * byte-small frame feeding pair-mining / explode / self-join
    * compute serializes (r18 shipped them session-wide and ~12
    * untouched pair-mining and stat queries regressed 1.5–2.8× at
    * BOTH 8 and 32 cores; the r19 4-config bisect reproduced it clean:
    * full-revert 151.3 s vs flags-on 194.4 s on the 22-query set).
    * The floor bounds the residual hazard INSIDE the opted-in queries:
    * their own dense stages (candidate fan-outs) keep at least
    * max(2, defaultParallelism/4) slots when they shuffle at least
    * 1 MB per slot (`coalescePartitions.minPartitionSize`: Spark never
    * cuts a partition smaller; ScaleOpsSpec pins the floor). The
    * bisect's floor-8 config beat the unfloored flags on every
    * opted-in query (nightly_cos 16.5 vs 24.3 s, cosine_incr_append
    * 10.7 vs 13.5 s).
    */
  def byteSizedAqe(spark: org.apache.spark.sql.SparkSession): Unit = {
    val floor = math.max(2, spark.sparkContext.defaultParallelism / 4)
    QueryCaches.withQueryConf(spark,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" ->
        floor.toString)
  }

  /** Run INDEPENDENT Spark actions concurrently from driver threads —
    * the guide-§2.6 overlap: actions are only sequential because the
    * driver calls them sequentially, so a batch of writes/audits whose
    * inputs are already materialized can back-fill each other's
    * scheduling, commit and catalog tails. Spark's scheduler runs the
    * jobs FIFO; tasks from later actions fill executors freed by
    * earlier actions' stragglers. Callers must ensure the actions
    * share no uncached lazy subtree (each would re-run it — the
    * q_pca_power rule) and touch distinct tables/paths.
    *
    * The first failure is rethrown UNWRAPPED (audit `require`
    * messages must surface verbatim); remaining actions are left to
    * finish in the pool before the throw propagates, so no action is
    * ever half-cancelled mid-write.
    */
  def concurrently(actions: (() => Unit)*): Unit = {
    if (actions.lengthCompare(1) <= 0) { actions.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
    try {
      val futs = actions.map { a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = a()
        })
      }
      // await EVERY future before leaving, whatever each get() throws
      // (an InterruptedException escaping mid-loop would abandon
      // sibling writes still in flight); later failures ride along as
      // suppressed so none is silently dropped
      var firstFailure: Throwable = null
      var interrupted = false
      def record(t: Throwable): Unit =
        if (firstFailure == null) firstFailure = t
        else if (firstFailure ne t) firstFailure.addSuppressed(t)
      futs.foreach { f =>
        var done = false
        while (!done) {
          try { f.get(); done = true }
          catch {
            case e: java.util.concurrent.ExecutionException
                if e.getCause != null => record(e.getCause); done = true
            case e: InterruptedException =>
              // get() cleared the interrupt flag — keep waiting for
              // this write (re-loop), re-assert the flag only after
              // every future has been reaped
              record(e); interrupted = true
            case t: Throwable => record(t); done = true
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (firstFailure != null) throw firstFailure
    } finally {
      pool.shutdown()
      // every future was already awaited above; this only reaps the
      // worker threads and never blocks on work
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Salted equi-join for skewed keys.
    *
    * The big (skewed) side gets a deterministic salt derived from
    * `saltSource` (any column(s) roughly unique per row — an id,
    * `input_file_block_start`, …); the small side is replicated
    * `nSalts` ways. The join key becomes (key, salt), spreading each
    * hot key over `nSalts` reducers. Deterministic — no `rand()` — so
    * results are reproducible and retries are safe.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltSource: Column,
      nSalts: Int,
      joinType: String = "inner"): DataFrame = {
    require(nSalts > 0)
    // replication is only transparent when unmatched SMALL rows never
    // reach the output: a right/full outer would emit every unmatched
    // small row once PER SALT — silently duplicated results
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left-side join types, got '$joinType' " +
        "(the salted small side would duplicate unmatched right rows)")
    Seq(big -> "big", small -> "small").foreach { case (d, side) =>
      require(!d.columns.contains("__salt"),
        s"$side side already has a '__salt' column (it would be " +
          "overwritten by the salting bookkeeping)")
    }
    val bigS = big.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(nSalts.toLong)).cast("int"))
    val saltValues = array((0 until nSalts).map(lit): _*)
    val smallS = small.withColumn("__salt", explode(saltValues))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Join-key skew report — the pre-flight check before a big keyed
    * join, and the measured input to [[saltedJoin]]'s `nSalts`: per
    * key, the row count, its share of the table, and a hot flag for
    * keys whose share exceeds `hotShare`. The flag compares the
    * ROUNDED share so the decision is reproducible cross-engine (an
    * unrounded double at the threshold could flip on summation
    * order). One keyed count (map-side combined) plus the 1-row
    * broadcast total — the report costs one shuffle of |keys| rows
    * however big the table is.
    */
  def keySkewReport(
      df: DataFrame,
      keyCol: String,
      hotShare: Double = 0.01): DataFrame = {
    val per = df.groupBy(keyCol).agg(count(lit(1)).as("n_rows"))
    val tot = per.agg(sum("n_rows").as("n_total"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_r",
        round(col("n_rows").cast("double") / col("n_total").cast("double"), 6))
      .select(col(keyCol), col("n_rows"), col("share_r"),
        (col("share_r") > lit(hotShare)).as("hot"))
  }

  /** Write a table bucketed (and sorted) by its join key. Two tables
    * bucketed the same way join with zero exchange — the physical
    * answer to "this join shuffles 100 TB every night".
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      path: Option[String] = None,
      partitionCol: Option[String] = None): Unit = {
    // bucketBy requires the catalog (saveAsTable); `path` makes the
    // table EXTERNAL so callers can land the files in a per-run
    // scratch dir instead of accumulating under the shared warehouse.
    // `partitionCol` layers hive-style directory partitions UNDER the
    // bucketing: a reader filtering on it prunes whole directories
    // (storage-level pruning) while each directory keeps the bucketed
    // zero-exchange join layout. The write repartitions on the
    // partition column first — without it every task writes into
    // every directory it sees and the file count explodes to
    // tasks × dirs × buckets (one build-time shuffle buys the
    // dirs × buckets floor).
    val dfw = partitionCol.fold(df)(pc => df.repartition(col(pc)))
    val w0 = dfw.write.mode("overwrite")
    val w = partitionCol.fold(w0)(pc => w0.partitionBy(pc))
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w.saveAsTable(table))(p =>
      w.option("path", p).saveAsTable(table))
  }

  /** Append rows into an existing bucketed table written by
    * [[writeBucketed]] — the incremental half of the layout story
    * (nightly accepted rows join the standing table without a
    * rebuild). Spark validates the bucket spec against the catalog;
    * each append lands its own per-bucket files (bucketed scans read
    * multi-file buckets fine — the within-bucket sort is per-file,
    * which only costs the joiner a re-sort, never an exchange).
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      partitionCol: Option[String] = None): Unit = {
    // same dirs × buckets file floor as writeBucketed
    val dfw = partitionCol.fold(df)(pc => df.repartition(col(pc)))
    val w0 = dfw.write.mode("append")
    partitionCol.fold(w0)(pc => w0.partitionBy(pc))
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Z-order (Morton) value over numeric columns: each column is
    * bucketed into `2^bits` fixed-width ranks between its min and max
    * (passed in as literals — one tiny agg job collects them), and the
    * rank bits are interleaved into one long. Sorting by this value
    * gives every contiguous slice of rows a tight hyper-rectangle in
    * ALL dimensions at once, where a plain sort is tight only in the
    * leading column. Nulls rank 0 (co-located, still skippable).
    */
  def zorderValue(
      cols: Seq[Column],
      mins: Seq[Double],
      maxs: Seq[Double],
      bits: Int): Column = {
    val k = cols.length
    require(k >= 1 && bits >= 1 && k * bits <= 62,
      s"need 1 <= k ($k) and k*bits (${k * bits}) <= 62")
    val top = (1L << bits) - 1
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      val span = maxs(i) - mins(i)
      // nulls, NaNs AND infinities rank 0 (ANSI cast(NaN/Inf AS long)
      // would throw mid-write otherwise — with finite stats an Inf row
      // reaches the cast as Inf); all co-locate and stay skippable
      val d = nanvl(c.cast("double"), lit(null))
      val v = coalesce(
        when(abs(d) === lit(Double.PositiveInfinity), lit(null))
          .otherwise(d),
        lit(mins(i)))
      // span.isNaN: belt-and-braces for a caller passing un-sanitized
      // stats (NaN never satisfies <= 0 — the rank math would emit NaN
      // and the ANSI long cast would throw mid-write)
      if (span.isNaN || span <= 0) lit(0L) // constant column: rank 0
      else least(lit(top), greatest(lit(0L),
        floor((v - lit(mins(i))) / lit(span) * lit(top.toDouble))
          .cast("long")))
    }
    (0 until bits).flatMap { b =>
      ranks.zipWithIndex.map { case (r, i) =>
        shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * k + i)
      }
    }.reduce(_ + _)
  }

  /** Write `df` re-clustered on the Z-order of `zCols` into `nFiles`
    * range-partitioned, internally sorted parquet files — the
    * data-skipping layout for multi-column range predicates. Parquet
    * row-group min/max stats then prune on ANY of the ordered columns
    * (spec-pinned: the scan emits a fraction of the rows an unordered
    * layout emits for the same predicate), where a single-column sort
    * only skips on its leading column. The min/max prep is one
    * scan-agg job; the write is one range exchange.
    */
  def writeZordered(
      df: DataFrame,
      path: String,
      nFiles: Int,
      bits: Int,
      zCols: String*): Unit = {
    require(nFiles >= 1)
    // NaN- AND Infinity-exclude the stats: max() treats NaN as greater
    // than everything, so ONE NaN row would make span NaN; likewise a
    // single +/-Inf row makes span Inf and every finite row ranks 0 —
    // the whole dimension's z-contribution silently collapses (the
    // data-skipping layout degrades with no error). Non-finite rows
    // themselves rank 0 via zorderValue's per-row guard, same as nulls.
    def finiteOrNull(c: Column): Column = {
      val d = nanvl(c.cast("double"), lit(null))
      when(abs(d) === lit(Double.PositiveInfinity), lit(null)).otherwise(d)
    }
    val aggs = zCols.flatMap(c =>
      Seq(min(finiteOrNull(col(c))), max(finiteOrNull(col(c)))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val mins = zCols.indices.map(i =>
      if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i))
    val maxs = zCols.indices.map(i =>
      if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1))
    require(!df.columns.contains("__z"),
      "input already has a '__z' column (it would be overwritten)")
    df.withColumn("__z",
        zorderValue(zCols.map(col), mins, maxs, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write a table with a directory layout partitioned by `partCols` —
    * the partition-pruning half of the layout story ([[writeBucketed]]
    * is the join half). A reader filtering on a partition column scans
    * only the matching directories; at 100 TB this is the difference
    * between listing a tenant/day's files and scanning the lake
    * (`PartitionFilters` in the scan node, spec-pinned).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partCols: String*): Unit =
    df.write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Copy-on-write merge into a `partCol`-partitioned parquet layout:
    * apply an `updates` batch of revisions and rewrite ONLY the
    * partitions the batch touches — the nightly-corrections shape at
    * 100 TB, where rewriting the corpus for a 0.1 % correction batch
    * is the difference between minutes and a cluster-day. Untouched
    * partition directories are left physically untouched (spec-pinned
    * on file status).
    *
    * Mechanics: union the touched partitions with the batch, keep
    * winners per id by `versionCol` ([[Corpus.upsertLatest]] — one
    * keyed window over touched data only), write them to a staging
    * dir, then swap each touched partition directory into place. The
    * staging write makes the merge restartable (a crash before the
    * swap loses nothing), and the swap renames the live directory
    * ASIDE (`…__cow_old`) before renaming the fresh one in — at every
    * intermediate state the old data exists under a recoverable name,
    * and a failed swap rolls the aside back; the aside name is
    * dot-prefixed so partition discovery never surfaces the old rows
    * as a bogus extra partition mid-swap. Per-directory rename is
    * atomic on hdfs (object stores approximate it); cross-directory
    * the swap remains per-partition — the transactionality ceiling of
    * a plain parquet layout, stated rather than papered over. The driver
    * iterates only over TOUCHED partition values (the batch's
    * distinct `partCol` set — operationally small; a batch touching
    * every partition degenerates to a full rewrite, as it must).
    * Returns the touched partition values.
    *
    * CONTRACT: an id's partition value is immutable — the merge reads
    * only touched partitions, so an update that MOVES an id to a new
    * `partCol` value leaves the old copy stranded in its unread
    * partition (two live rows for one id). Detecting moves would need
    * an id-indexed scan of the FULL base per batch, which defeats the
    * op's purpose; partition-stable ids (date-of-creation, tenant,
    * source) are the standard contract for partition-local upserts.
    */
  def copyOnWriteMerge(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      updates: DataFrame,
      partCol: String,
      idCol: String,
      versionCol: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touchedRaw = updates.select(col(partCol).cast("string"))
      .distinct().collect().map(r => Option(r.getString(0))).toSeq
    // reject null partition values explicitly (Spark would write them
    // as __HIVE_DEFAULT_PARTITION__; here one would NPE the sort /
    // regex below with a far less useful stack)
    require(touchedRaw.forall(_.isDefined),
      s"updates batch has a null $partCol — null partition values are " +
        "unsupported by the directory-swap merge")
    val touched = touchedRaw.flatten.sorted
    if (touched.isEmpty) return touched
    // partition dir names are built as "col=value": restrict to values
    // that need no path escaping rather than silently mis-targeting a
    // directory (hive-style escaping for exotic values is out of scope)
    require(touched.forall(_.matches("[A-Za-z0-9_.-]+")),
      s"partition values need escaping, unsupported: $touched")
    // Path.suffix (not string concat — a trailing-slash basePath
    // would nest the staging dir INSIDE the table, breaking partition
    // discovery with two leaf depths) + the application id (the
    // Tables.scratchDir rule: a FIXED staging name raced concurrent
    // merges into the same table — one run's cleanup deleted the
    // other's staged output mid-swap)
    val staging = new Path(basePath).suffix(
      "__cow_staging_" + spark.sparkContext.applicationId)
    fs.delete(staging, true)
    // first merge into a not-yet-written table: treat a missing base
    // as empty (the updates batch IS the table) instead of throwing
    // on the read. The base dir is created AFTER the staging write
    // succeeds (just before the swap) — creating it here meant a
    // failed first staging write left an EMPTY base dir, and every
    // retry then read it as an existing table and died on
    // UNABLE_TO_INFER_SCHEMA: the documented "a crash before the swap
    // loses nothing" restartability was broken until manual cleanup.
    val baseExists = fs.exists(new Path(basePath))
    val merged =
      if (baseExists) {
        val base = spark.read.parquet(basePath)
        // compare against the partition column's OWN type (literal
        // side cast, constant-folded — partition pruning survives);
        // filtering with raw strings relies on implicit casts
        val partType = base.schema(partCol).dataType
        val hit = touched
          .map(v => col(partCol) === lit(v).cast(partType))
          .reduce(_ || _)
        Corpus.upsertLatest(
          base.filter(hit)
            .unionByName(updates.select(base.columns.map(col): _*)),
          idCol, versionCol)
      } else Corpus.upsertLatest(updates, idCol, versionCol)
    merged.write.mode("overwrite").partitionBy(partCol)
      .parquet(staging.toString)
    // create the base dir only now that staging data exists — the
    // swap renames below need the parent on HDFS (rename into a
    // missing parent returns false; the local FS masks it via its
    // copy fallback)
    if (!baseExists) fs.mkdirs(new Path(basePath))
    touched.foreach { v =>
      val dirName = s"$partCol=$v"
      val live = new Path(basePath, dirName)
      val fresh = new Path(staging, dirName)
      // rename ASIDE, not delete-first: a crash between a delete and
      // the swap rename would lose the live directory (staging still
      // has the data, but recovery is manual). With the aside rename
      // the old data survives under a recoverable name at every
      // intermediate state; only after the swap succeeds is it dropped.
      // dot-prefixed: partition DISCOVERY parses any bare "col=value"
      // directory as a partition, so an un-hidden aside would expose
      // the old rows a second time (bogus partition value) to every
      // reader during the swap window — and indefinitely after a crash
      // there. Leading-dot paths are invisible to Spark's file index
      // while staying recoverable on disk.
      val aside = new Path(basePath, "." + dirName + "__cow_old")
      fs.delete(aside, true) // leftover from a previously crashed swap
      // one-release migration: an aside left by the pre-dot-prefix
      // code is a bare "col=value__cow_old" dir that partition
      // discovery parses as a bogus partition value — sweep it, UNLESS
      // live is missing: then the old code crashed between its aside
      // rename and the swap, the bare aside holds the ONLY copy of the
      // partition, and deleting it would destroy the documented
      // manual-recovery copy. Park it under a hidden name nothing
      // sweeps instead (recovery stays manual, but stays possible).
      val bareAside = new Path(basePath, dirName + "__cow_old")
      if (fs.exists(bareAside)) {
        if (fs.exists(live)) fs.delete(bareAside, true)
        else {
          // probe a free park name: a previous park for the same
          // partition may still await manual resolution, and renaming
          // onto an existing dir is FS-dependent (HDFS refuses, local
          // nests the source inside) — never merge two recovery
          // generations under one name
          val park = Iterator.from(0)
            .map(i => new Path(basePath, "." + dirName +
              (if (i == 0) "__cow_recovered" else s"__cow_recovered_$i")))
            .find(p => !fs.exists(p)).get
          if (!fs.rename(bareAside, park))
            throw new java.io.IOException(
              s"recovery-park rename failed for $dirName — a previous " +
                "crash left the bare aside as the only copy; resolve " +
                s"$bareAside manually before upserting this partition")
        }
      }
      val hadLive = fs.exists(live)
      if (hadLive && !fs.rename(live, aside))
        throw new java.io.IOException(s"aside rename failed for $dirName")
      if (!fs.rename(fresh, live)) {
        if (hadLive) fs.rename(aside, live) // roll back
        throw new java.io.IOException(s"swap failed for $dirName")
      }
      fs.delete(aside, true)
    }
    fs.delete(staging, true)
    touched
  }

  /** Compact a directory of (many small) parquet files into
    * ~`targetFileBytes` outputs — the periodic maintenance op that
    * keeps a streaming/incremental sink scannable (a 100 TB table of
    * 1 MB files dies in file listing and scheduler overhead long
    * before I/O). Writes to `outPath` (never in place — swapping the
    * directory atomically is the caller's step). Returns the output
    * file count. Sizing uses the source files' actual on-disk bytes.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long): Int = {
    require(targetFileBytes > 0)
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // enforce the "never in place" contract: an overwrite-mode write to
    // the source dir (or a dir nested either way) would delete files
    // the read plan still needs. Compare fs-qualified forms so
    // `file:/tmp/x` vs `/tmp/x` and relative paths can't slip past.
    val qin = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
    val qout = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
      .toUri.getPath.stripSuffix("/")
    require(qin != qout,
      s"compact() must not write in place: inPath == outPath ($qin)")
    require(
      !qout.startsWith(qin + "/") && !qin.startsWith(qout + "/"),
      s"compact() paths must not nest: $qin vs $qout")
    val it = fs.listFiles(p, true)
    var totalBytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) totalBytes += f.getLen
    }
    val nFiles = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Repartition-by-key helper: pre-shape a dataset so several
    * downstream keyed operations (join + groupBy on the same key)
    * reuse one exchange.
    */
  def shapeByKey(df: DataFrame, partitions: Int, key: String*): DataFrame =
    df.repartition(partitions, key.map(col): _*)

  /** Rendezvous (highest-random-weight) shard assignment: each id
    * goes to the shard whose md5("shard:id") score is highest. The
    * property that matters operationally: adding a shard moves ONLY
    * the ids whose new shard wins (≈ 1/(n+1) of them) and moves them
    * ONLY to the new shard — no old-shard-to-old-shard churn, unlike
    * modulo assignment where nearly every id moves (spec-pinned).
    *
    * Pure per-row projection: the per-shard scores are a
    * `greatest(...)` over |shards| struct literals compared
    * lexicographically ((score, shard) — shard name breaks the
    * astronomically-unlikely 32-bit score tie deterministically), so
    * assignment is codegen'd with NO exchange, NO explode, NO join —
    * at 100 TB this runs at scan speed. md5-derived like
    * [[Corpus.hashBucket]]: stable across engines, retries, runs.
    */
  def rendezvousAssign(
      df: DataFrame,
      idCol: String,
      shards: Seq[String]): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign needs at least one shard")
    require(shards.distinct.size == shards.size,
      s"duplicate shard names: $shards")
    val scored = shards.map { s =>
      struct(
        conv(substring(md5(concat(lit(s), lit(":"),
          col(idCol).cast("string"))), 1, 8), 16, 10).cast("long").as("h"),
        lit(s).as("shard"))
    }
    val best =
      if (scored.size == 1) scored.head else greatest(scored: _*)
    df.withColumn("shard", best.getField("shard"))
  }

  /** Global row number WITHOUT a single-partition window — the
    * zipWithIndex shape in DataFrame terms.
    *
    * Range-partition by the order columns — partition id order IS
    * value order; one tiny counting job (exactly what
    * `RDD.zipWithIndex` runs internally) yields each partition's row
    * count, whose prefix sums become per-partition offsets; `rn` is
    * then offset + intra-partition `row_number` — a window keyed by
    * partition id, parallel across the cluster. The driver
    * materializes only `partitions` (count, offset) pairs, never
    * rows. Adds column `rn` (1-based, long) to `df`'s columns.
    *
    * The persist below is CORRECTNESS, not caching: `repartitionByRange`
    * samples its range boundaries per physical plan, so the counting
    * job and the main pass would each draw their own boundaries over
    * an unpersisted input and the offsets would describe the wrong
    * partitions (observed as off-by-a-few row numbers). Persisting the
    * shaped input pins one materialization that both passes read; the
    * cache books into the [[QueryCaches]] ledger (or the caller's
    * [[CacheHandle]] on the handle overload) so harnesses and library
    * callers can reclaim it deterministically. Order columns must be a
    * total order (unique key) for `rn` to be deterministic — same
    * contract as a global `row_number`.
    */
  def globalRowNumber(
      df: DataFrame,
      partitions: Int,
      orderCols: Column*): DataFrame =
    globalRowNumber(df, partitions, null: CacheHandle, orderCols: _*)

  /** [[globalRowNumber]] with an explicit cache lifecycle (see
    * [[CacheHandle]]); the no-handle overload books the
    * correctness-persist into the [[QueryCaches]] ledger.
    */
  def globalRowNumber(
      df: DataFrame,
      partitions: Int,
      handle: CacheHandle,
      orderCols: Column*): DataFrame = {
    require(!df.columns.contains("rn"),
      "input already has an 'rn' column (it would be overwritten by " +
        "the global rank output)")
    withPrefixOffsets(df, partitions, count(lit(1)), orderCols, handle) {
      (shaped, w) =>
        shaped
          .withColumn("rn", (row_number().over(w) + col("__off")).cast("long"))
    }
  }

  /** Global running (prefix) sum of `valueCol` in `orderCols` order,
    * WITHOUT a single-partition window — same two-phase shape as
    * [[globalRowNumber]]: per-partition totals become broadcast prefix
    * offsets, the intra-partition running sum is a window keyed by
    * partition id. Adds `outCol` (inclusive running total, long). The
    * driver sees only `partitions` totals, never rows. This is the
    * scalable form of "cumulative token budget" style packing.
    * Null values count as zero (both the per-partition totals and the
    * running window coalesce them), so the output column is never null.
    */
  def globalRunningSum(
      df: DataFrame,
      partitions: Int,
      valueCol: String,
      outCol: String,
      orderCols: Column*): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column (it would be overwritten " +
        "by the running-sum output)")
    withPrefixOffsets(df, partitions,
      coalesce(sum(col(valueCol)), lit(0L)).cast("long"), orderCols, null) {
      (shaped, w) =>
        // the frame always contains the current row and the summed
        // expression is null-coalesced, so this sum is never null
        shaped.withColumn(outCol,
          (sum(coalesce(col(valueCol), lit(0L))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long") + col("__off")))
    }
  }

  /** Exact interpolated quantiles (the `quantile_cont` / Spark
    * `percentile` h = q·(n−1) formula — identical doubles, so a gate
    * oracle written against the built-in stays green) WITHOUT the
    * single-task global percentile buffer: two-phase [[globalRowNumber]]
    * rank, then each quantile is two row lookups + one interpolation.
    * The built-in exact percentile funnels the whole column through
    * ONE reducer's sort buffer — measured 3× slower at sf0.1
    * (q_equi_depth_hist, 7.6→2.9 s) and unbounded at 100 TB.
    *
    * Returns ONE row: `n` (input count) plus a double column per
    * (name → q). Empty input → one all-null row, like the built-in.
    */
  def exactQuantiles(
      df: DataFrame,
      valueCol: Column,
      qs: Seq[(String, Double)],
      partitions: Int = -1,
      handle: CacheHandle = null): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    require(qs.forall { case (_, q) => q >= 0.0 && q <= 1.0 },
      s"quantiles must be in [0, 1]: $qs")
    // -1 → session width (never a hardcoded literal — fanoutWidth rule)
    val parts = if (partitions > 0) partitions else fanoutWidth(df)
    val ranked = CacheHandle.persistWith(handle,
      globalRowNumber(df.select(valueCol.cast("double").as("__qv")),
        parts, handle, col("__qv").asc))
    // ONE eager action doing triple duty. (a) Materialization: the
    // final plan reads this cache from several branches (the rank
    // lookups) that AQE materializes concurrently — against a lazy
    // persist each re-runs the corpus-wide sort (the q_pca_power
    // rule). (b) Named precondition: a NULL/NaN value would silently
    // shift every h = q·(n−1) position vs the built-in percentile /
    // quantile_cont (which SKIP them) — a cross-engine hash-gate
    // divergence. Checked HERE on the materialized column, never as
    // an input filter: a filter on the projected value pushes the
    // caller's expression below its own guards (q_theilsen's slope
    // division reached x1 == x2 pairs and raised DIVIDE_BY_ZERO —
    // the ANSI guard-at-producing-projection class). (c) The global
    // count: folding n into this same aggregate (rather than a
    // count-agg branch in the returned plan) saves one full cached-
    // frame pass per call AND one concurrent AQE branch — n is one
    // bounded scalar over the now-pinned materialization, so baking
    // it in as a literal cannot drift from what the lookups read.
    val firstPass = ranked.agg(
      count(lit(1)).as("n"),
      count(when(col("__qv").isNull || isnan(col("__qv")), 1)).as("bad"))
      .head
    val bad = firstPass.getLong(1)
    require(bad == 0,
      s"exactQuantiles input contains $bad NULL/NaN value(s) — " +
        "pre-filter them (the built-in percentile skips them; ranked, " +
        "they shift every quantile position)")
    val nRows = firstPass.getLong(0)
    // ONE count pass exploded into per-quantile positions (a union of
    // N single-row aggregates re-scanned the ranked cache N times)
    val qlit = array(qs.map { case (nm, q) =>
      struct(lit(nm).as("nm"), lit(q).as("q")) }: _*)
    val pos = df.sparkSession.range(1)
      .select(lit(nRows).as("n"), explode(qlit).as("__qq"))
      .select(col("__qq.nm").as("__qname"), col("n"),
        (floor((col("n") - 1).cast("double") * col("__qq.q")) + 1)
          .cast("long").as("__rlo"),
        ((col("n") - 1).cast("double") * col("__qq.q")).as("__h"))
    val looked = pos
      .join(ranked.select(col("rn").as("__rlo"), col("__qv").as("__vlo")),
        "__rlo")
      .join(ranked.select((col("rn") - 1).as("__rlo"),
        col("__qv").as("__vhi")), Seq("__rlo"), "left")
      .withColumn("__v", col("__vlo") + (col("__h") - floor(col("__h"))) *
        (coalesce(col("__vhi"), col("__vlo")) - col("__vlo")))
    looked.agg(max(col("n")).as("n"),
      qs.map { case (nm, _) =>
        max(when(col("__qname") === nm, col("__v"))).as(nm) }: _*)
  }

  /** Global EXCLUSIVE running max of `valueCol` (long) in `orderCols`
    * order, WITHOUT a single-partition window — the max twin of
    * [[globalRunningSum]]: per-partition maxes become broadcast
    * prefix maxes (prefix-combine is max, not sum, so it gets its own
    * body rather than [[withPrefixOffsets]]), the intra-partition
    * exclusive running max is a `rowsBetween(unboundedPreceding, -1)`
    * window keyed by partition id. Adds `outCol` = max over STRICTLY
    * earlier rows (`Long.MinValue` when there are none) — the shape
    * skyline/frontier scans need. Same persist-for-correctness
    * discipline as the other two-phase helpers.
    */
  def globalRunningMaxExclusive(
      df: DataFrame,
      partitions: Int,
      valueCol: String,
      outCol: String,
      orderCols: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val shaped = CacheHandle.persistWith(null,
      df.repartitionByRange(partitions, orderCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val totals = shaped.groupBy("__pid")
      .agg(max(col(valueCol)).cast("long").as("__tot"))
      .orderBy("__pid")
      .collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) Long.MinValue else r.getLong(1)))
    var acc = Long.MinValue
    val offsets = totals.map { case (pid, tot) =>
      val off = acc; acc = math.max(acc, tot); (pid, off)
    }
    val offDf = offsets.toSeq.toDF("__pid", "__offmax")
    val w = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    shaped.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol,
        greatest(
          coalesce(max(col(valueCol)).over(w).cast("long"),
            lit(Long.MinValue)),
          col("__offmax")))
      .drop("__pid", "__offmax")
  }

  /** Shared two-phase prefix machinery: range-partition by the order
    * columns (partition-id order IS value order), run one tiny job
    * aggregating `perPartition` per partition, turn the per-partition
    * totals into broadcast prefix offsets (`__off`), and hand the
    * caller the shaped frame plus the intra-partition window to
    * finish with.
    *
    * The persist is CORRECTNESS, not caching: `repartitionByRange`
    * samples its range boundaries per physical plan, so the offsets
    * job and the main pass would each draw their own boundaries over
    * an unpersisted input and the offsets would describe the wrong
    * partitions (observed as off-by-a-few results). Persisting pins
    * one materialization both passes read; the cache books into the
    * caller's [[CacheHandle]] or the [[QueryCaches]] ledger. Order
    * columns must be a total order (unique key) for determinism —
    * same contract as a global window.
    */
  private def withPrefixOffsets(
      df: DataFrame,
      partitions: Int,
      perPartition: Column,
      orderCols: Seq[Column],
      handle: CacheHandle)(
      finish: (DataFrame, org.apache.spark.sql.expressions.WindowSpec)
        => DataFrame): DataFrame = {
    // reserved bookkeeping names — silently overwriting a caller's
    // column would corrupt the two-phase rank with no error (the
    // writeZordered '__z' require pattern)
    Seq("__pid", "__off").foreach { r =>
      require(!df.columns.contains(r),
        s"input already has a '$r' column (it would be overwritten " +
          "by the two-phase offset bookkeeping)")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val shaped = CacheHandle.persistWith(handle,
      df.repartitionByRange(partitions, orderCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val totals = shaped.groupBy("__pid").agg(perPartition.as("__tot"))
      .orderBy("__pid")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    var acc = 0L
    val offsets = totals.map { case (pid, tot) =>
      val off = acc; acc += tot; (pid, off)
    }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(orderCols: _*)
    finish(shaped.join(broadcast(offDf), Seq("__pid")), w)
      .drop("__pid", "__off")
  }

  /** Deterministic Bloom-filter build over a key column — the
    * engine-portable runtime-filter half of [[bloomPrunedSemiJoin]].
    *
    * k md5-derived bit positions per key land in an mBits-bit array,
    * returned as mBits/64 long words (8 KiB at the default 2^16).
    * The only driver-side materialization is the distinct-position
    * set — bounded by the CONSTANT mBits however large the input, the
    * same bounded-collect class as IvfIndex's k centroids. md5 (not
    * xxhash/rand) keeps positions reproducible across engines, runs
    * and task retries, like every sampling op in [[graft.ops.Corpus]].
    */
  def bloomBuild(
      keys: DataFrame,
      keyCol: String,
      mBits: Int = 1 << 16,
      k: Int = 3): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    val pos = (0 until k).map(i => bloomPos(i, col(keyCol), mBits))
    // null keys contribute null positions (md5(null) is null) whose
    // word group would NPE the getInt below — and a null key can never
    // match the exact semi-join this filter fronts, so drop them here
    val words = keys.filter(col(keyCol).isNotNull)
      .select(explode(array(pos: _*)).as("pos")).distinct()
      .select(expr("CAST(pos div 64 AS INT) AS word"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT)) AS mask"))
      .groupBy("word").agg(expr("bit_or(mask) AS bits"))
      .collect()
    val arr = Array.ofDim[Long](mBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** One key's i-th bit position: md5("bf<i>:<key>") mod mBits. */
  private def bloomPos(i: Int, key: Column, mBits: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"bf$i:"), key.cast("string"))), 1, 8),
      16, 10).cast("long"), lit(mBits.toLong))

  /** Membership probe for a [[bloomBuild]] filter: AND over the k bit
    * tests. No false negatives by construction; false positives are
    * removed by the exact join in [[bloomPrunedSemiJoin]]. The word
    * array rides into the plan as an 8 KiB literal — shipped once per
    * task, never shuffled. The variable-distance shift goes through
    * `call_function("shiftright", …)` (the typed `shiftright` helper
    * only takes a literal distance).
    */
  def bloomMightContain(
      words: Array[Long], mBits: Int, k: Int, key: Column): Column = {
    val arr = typedlit(words.toSeq)
    (0 until k).map { i =>
      val p = bloomPos(i, key, mBits)
      val w = element_at(arr, shiftright(p, 6).cast("int") + lit(1))
      call_function("shiftright", w, pmod(p, lit(64L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Semi-join reduction via an explicit Bloom runtime filter — the
    * 100-TB pattern for "fact table ⋈ selective dim subset": build an
    * 8 KiB filter from the small side's keys, drop non-matching fact
    * rows AT THE SCAN (before any exchange), then run the exact
    * left-semi join on the survivors. The shuffle sees only rows that
    * might match instead of the whole fact table; the final join makes
    * the result EXACTLY the plain semi-join (Bloom false positives are
    * eliminated), which is what the oracle checks. Spark's AQE injects
    * similar filters implicitly for some plans; the explicit form is
    * deterministic, engine-portable, and applies where AQE cannot see
    * (streams, custom scans, pre-shuffle pruning of a bucketed write).
    */
  def bloomPrunedSemiJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      mBits: Int = 1 << 16,
      k: Int = 3): DataFrame = {
    val words = bloomBuild(small, smallKey, mBits, k)
    big.filter(bloomMightContain(words, mBits, k, col(bigKey)))
      .join(small.select(col(smallKey).as(bigKey)).distinct(),
        Seq(bigKey), "left_semi")
  }
}
