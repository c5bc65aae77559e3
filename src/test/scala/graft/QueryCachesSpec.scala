package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CacheHandle, QueryCaches}

/** The session cache ledger: declared queries persist through it (or
  * through an explicit CacheHandle) and the harness reclaims
  * everything per query — a leak here is invisible locally but
  * accumulates executor memory in a long-lived session.
  */
class QueryCachesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("withQueryConf: set confs survive until releaseAll, then restore") {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val key2 = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    val before = spark.conf.get(key)
    assert(spark.conf.getOption(key2).isEmpty, "test precondition")
    QueryCaches.withQueryConf(spark,
      key -> (!before.toBoolean).toString, key2 -> "7")
    // live during the "query's execution" window (until releaseAll)
    assert(spark.conf.get(key) == (!before.toBoolean).toString)
    assert(spark.conf.get(key2) == "7")
    QueryCaches.releaseAll()
    // pre-query value restored; a key that had NO value is unset again
    assert(spark.conf.get(key) == before)
    assert(spark.conf.getOption(key2).isEmpty,
      "unset-before key must be unset after releaseAll, not left behind")
  }

  test("localCheckpoint: blocks are dropped deterministically by releaseAll") {
    import spark.implicits._
    val df = QueryCaches.localCheckpoint(
      (0L until 100L).toDF("id"), eager = true)
    assert(df.count() == 100L)
    val rddIds = spark.sparkContext.getPersistentRDDs.keySet
    QueryCaches.releaseAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((rddIds -- after).nonEmpty,
      "releaseAll dropped no checkpoint RDD blocks")
  }

  test("ledger-tracked persists are reclaimed by releaseAll") {
    import spark.implicits._
    val df = (0L until 100L).toDF("id")
      .transform(QueryCaches.persist)
    df.count() // materialize the cache
    assert(df.storageLevel != StorageLevel.NONE, "not persisted")
    QueryCaches.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE, "leaked after releaseAll")
  }

  test("handle-accepting ops with no handle register in the ledger") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "something else entirely here")).toDF("doc_id", "text")
    // no handle passed: the op's internal persists must land in the
    // session ledger rather than leak
    graft.ops.Corpus.unigramLogProb(docs, "doc_id", "text").collect()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    QueryCaches.releaseAll()
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(cachedBefore >= 2, s"expected internal caches, saw $cachedBefore")
    assert(cachedAfter < cachedBefore,
      s"releaseAll freed nothing ($cachedBefore -> $cachedAfter)")
  }

  test("an explicit CacheHandle keeps ownership away from the ledger") {
    import spark.implicits._
    val h = new CacheHandle
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val scored = graft.ops.Corpus.unigramLogProb(docs, "doc_id", "text", h)
    scored.collect()
    QueryCaches.releaseAll() // must NOT touch handle-owned caches
    h.release()              // the owner cleans up
  }

  test("a release that throws still restores the query-scoped confs") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    assert(spark.conf.getOption(key).isEmpty, "test precondition")
    QueryCaches.withQueryConf(spark, key -> "7")
    QueryCaches.onRelease(throw new IllegalStateException("release failed"))
    val e = intercept[IllegalStateException](QueryCaches.releaseAll())
    assert(e.getMessage == "release failed")
    assert(spark.conf.getOption(key).isEmpty,
      "a failed release left the query's conf set")
    QueryCaches.releaseAll() // the ledger is empty: nothing throws again
  }

  test("scoped: a throwing body still releases its caches and confs") {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    assert(spark.conf.getOption(key).isEmpty, "test precondition")
    var ledger: DataFrame = null
    var outside: DataFrame = null
    val e = intercept[IllegalStateException] {
      QueryCaches.scoped(spark) {
        ledger = (0L until 100L).toDF("id").transform(QueryCaches.persist)
        outside = (0L until 50L).toDF("id").persist()
        ledger.count(); outside.count()
        QueryCaches.withQueryConf(spark, key -> "7")
        throw new IllegalStateException("query failed")
      }
    }
    assert(e.getMessage == "query failed")
    assert(ledger.storageLevel == StorageLevel.NONE,
      "a failed query's ledger cache leaked")
    assert(outside.storageLevel == StorageLevel.NONE,
      "a failed query's cache outside the ledger leaked")
    assert(spark.conf.getOption(key).isEmpty,
      "a failed query's conf leaked")
  }

  test("Bench.runStep: a throwing query comes back failed, caches released") {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    assert(spark.conf.getOption(key).isEmpty, "test precondition")
    var ledger: DataFrame = null
    val (dt, ok) = Bench.runStep(spark, "unused", "q_throws", (s, _) => {
      ledger = (0L until 100L).toDF("id").transform(QueryCaches.persist)
      ledger.count()
      QueryCaches.withQueryConf(s, key -> "7")
      throw new IllegalStateException("query failed")
    })
    assert(!ok, "a throwing query was reported as a success")
    assert(dt >= 0.0)
    assert(ledger.storageLevel == StorageLevel.NONE,
      "a failed run step leaked its cache")
    assert(spark.conf.getOption(key).isEmpty,
      "a failed run step leaked its conf")
  }
}
