package graft.ops

import org.apache.spark.sql.DataFrame

/** Lifecycle handle for operators that persist intermediate frames
  * internally ([[TextDedup.minhashDedup]]'s shingle/band sets, the
  * [[ScaleOps]] prefix-offset shapes). Verify/Bench clear the whole
  * cache between queries, but a long-lived library caller running many
  * invocations in one session would otherwise accumulate executor
  * memory until eviction pressure hurts: pass a handle, consume the
  * result, then `release()`.
  *
  * {{{
  *   val h = new CacheHandle
  *   val pairs = TextDedup.minhashDedup(docs, "id", "text", handle = h)
  *   pairs.write.parquet(out)   // consume FIRST —
  *   h.release()                // release drops the backing caches
  * }}}
  *
  * Not thread-safe (one handle per pipeline invocation); releasing
  * twice is a no-op.
  */
final class CacheHandle {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and remember it for [[release]]. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    tracked += df.persist()
    df
  }

  /** Unpersist everything this handle's pipeline cached. Safe to call
    * once the results have been consumed (an action ran); lazy results
    * read after release simply recompute.
    */
  def release(): Unit = {
    tracked.foreach(_.unpersist())
    tracked.clear()
  }
}

object CacheHandle {
  /** Persist via `h`, or — when the caller passed no handle (`null`)
    * — via the session-wide [[QueryCaches]] ledger: the pipelines
    * persist for correctness / shared-subplan reuse either way; the
    * handle only changes who cleans up. Routing the no-handle case
    * through the ledger means a harness (Verify/Bench) or a long-lived
    * caller can reclaim every op-internal cache with one
    * [[QueryCaches.releaseAll]] instead of leaking them for the
    * session lifetime.
    */
  private[graft] def persistWith(h: CacheHandle, df: DataFrame): DataFrame =
    if (h == null) QueryCaches.persist(df) else h.persist(df)
}

/** Session-wide cache ledger for the DECLARED queries and for ops
  * invoked without an explicit [[CacheHandle]]. The declared queries
  * in [[graft.SparkEntry]] are plain `(session, dir) => DataFrame`
  * functions — they cannot release their own caches because release
  * must happen after the caller's action — so their internal persists
  * register here and the harness calls [[releaseAll]] once each
  * result is materialized (Verify after the parquet write, Bench
  * after the noop sink). Library callers composing ops directly
  * should prefer a per-pipeline [[CacheHandle]]; this ledger is the
  * backstop that makes "forgot the handle" a bounded cost instead of
  * a session-lifetime leak.
  */
object QueryCaches {
  // ledger handles' and checkpoint RDDs' releases, run by releaseAll
  private val releases =
    scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  // (session, key, value-before-the-query-set-it) — restored LIFO by
  // releaseAll, same lifecycle as the cache ledger
  private val confRestores = scala.collection.mutable.ArrayBuffer
    .empty[(org.apache.spark.sql.SparkSession, String, Option[String])]

  /** Register a release for the next [[releaseAll]]. */
  private[graft] def onRelease(release: => Unit): Unit = synchronized {
    releases += (() => release)
  }

  private def fresh(): CacheHandle = {
    val h = new CacheHandle
    onRelease(h.release())
    h
  }

  /** A ledger-tracked handle to pass into handle-accepting ops. */
  def handle(): CacheHandle = fresh()

  /** Persist `df` under the ledger (chainable via `.transform`). */
  def persist(df: DataFrame): DataFrame = fresh().persist(df)

  /** `df.localCheckpoint(eager)` with DETERMINISTIC cleanup: the
    * checkpoint's backing RDD is unpersisted by [[releaseAll]] like
    * any ledger cache. A checkpoint cuts lineage, so — unlike a
    * released persist — a plan over it CANNOT recompute after
    * release; callers are the declared queries, whose results the
    * harness fully materializes before its per-query releaseAll.
    */
  def localCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    // the checkpoint's blocks are otherwise released only when the RDD
    // is GC'd via ContextCleaner — nondeterministic across a 357-query
    // Verify/Bench JVM
    org.apache.spark.sql.graftshim.Bridge.checkpointRdd(out).foreach { r =>
      onRelease(r.unpersist(blocking = false))
    }
    out
  }

  /** Set session SQL confs for the DURATION of the current query.
    *
    * A declared query is a `(session, dir) => DataFrame` function:
    * its result executes AFTER the closure returns (the harness's
    * noop/parquet action), so a query that needs a conf during its
    * own execution cannot set-and-restore it inline — the restore
    * would run before the action. Registering here keeps the conf
    * live until the harness's per-query [[releaseAll]], which
    * restores the pre-query value (or unsets a key that had none) in
    * reverse registration order. Same leak contract as the cache
    * ledger: callers that never releaseAll keep the conf, bounded to
    * their own session.
    */
  def withQueryConf(
      spark: org.apache.spark.sql.SparkSession,
      kvs: (String, String)*): Unit = synchronized {
    kvs.foreach { case (k, v) =>
      confRestores += ((spark, k, spark.conf.getOption(k)))
      spark.conf.set(k, v)
    }
  }

  /** Unpersist every ledger-tracked cache and restore every
    * query-scoped conf. Call after the current query's result has
    * been materialized. A release that throws still leaves the confs
    * restored and the ledger empty; the exception propagates.
    */
  def releaseAll(): Unit = synchronized {
    try releases.foreach(_())
    finally {
      releases.clear()
      confRestores.reverseIterator.foreach { case (s, k, old) =>
        old.fold(s.conf.unset(k))(v => s.conf.set(k, v))
      }
      confRestores.clear()
    }
  }

  /** Run one query's work, then release what it left behind: the
    * ledger ([[releaseAll]]) and, as the backstop for anything
    * persisted outside it, the session's whole cache. The release
    * runs in a `finally`, so a throwing body still leaves the next
    * query a clean session; the body's exception propagates. Every
    * harness (Verify, Bench, the tools) runs its queries through
    * here.
    */
  def scoped[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    try body
    finally try releaseAll() finally spark.catalog.clearCache()
}
