package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The standing-index family's declared compositions at gate scale,
  * each run inside [[graft.ops.QueryCaches.scoped]] as Verify runs it:
  * the three incremental PPJoin lifecycles (re-ranked, indexed, built
  * then appended) answer alike, and every nightly decision's stage
  * flags nest, with each near-dup stage rejecting at least one doc.
  */
class IndexFamilyQueriesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val aqeKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** The query's rows, and whether the byteSizedAqe opt-in was in
    * force while it ran.
    */
  private def run(name: String): (Seq[Row], Boolean) =
    graft.ops.QueryCaches.scoped(spark) {
      val rows = SparkEntry.queries(name)(spark, dir).collect().toSeq
      (rows, spark.conf.getOption(aqeKey).contains("false"))
    }

  test("the byteSizedAqe opt-in covers exactly the 13 family queries") {
    val optIn = graft.queries.TextQueries.byteSizedAqeQueries
    assert(optIn.size == 13)
    assert(optIn.subsetOf(graft.queries.TextQueries.queries.keySet),
      (optIn -- graft.queries.TextQueries.queries.keySet).toString)
    assert(!run("q_token_stats")._2, "opt-in applied outside the set")
    assert(!spark.conf.getOption(aqeKey).contains("false"),
      "the opt-in outlived its query")
  }

  test("incremental PPJoin: re-ranked, indexed and appended lifecycles return identical rows") {
    val (incr, optIn) = run("q_prefix_jaccard_incr")
    assert(optIn, "q_prefix_jaccard_incr ran without its byteSizedAqe opt-in")
    assert(incr.nonEmpty)
    assert(run("q_prefix_jaccard_incr_idx")._1 == incr)
    assert(run("q_prefix_jaccard_incr_append")._1 == incr)
  }

  /** Per night: every accepted doc is corpus-clean, every corpus-clean
    * doc an exact keep, every exact keep gate-passed; and the corpus
    * and in-batch near-dup stages each reject at least one doc.
    */
  private def assertNested(query: String, rows: Seq[Row]): Unit = {
    def n(f: Row => Boolean) = rows.count(f)
    val gate = (r: Row) => r.getAs[Boolean]("gate_pass")
    val exact = (r: Row) => r.getAs[Boolean]("exact_keep")
    val clean = (r: Row) => r.getAs[Boolean]("corpus_clean")
    val acc = (r: Row) => r.getAs[Boolean]("accepted")
    rows.foreach { r =>
      assert((!acc(r) || clean(r)) && (!clean(r) || exact(r)) &&
        (!exact(r) || gate(r)), s"$query: flags do not nest in $r")
    }
    assert(n(r => exact(r) && !clean(r)) >= 1,
      s"$query: the corpus near-dup stage rejected nothing")
    assert(n(r => clean(r) && !acc(r)) >= 1,
      s"$query: the in-batch near-dup stage rejected nothing")
  }

  test("q_pipeline_nightly2: each night's stage flags nest and both near-dup stages reject") {
    val rows = run("q_pipeline_nightly2")._1
    val nights = rows.groupBy(_.getAs[Int]("night"))
    assert(nights.keySet == Set(1, 2))
    nights.toSeq.sortBy(_._1).foreach { case (night, rs) =>
      assertNested(s"q_pipeline_nightly2 night $night", rs)
    }
  }

  test("q_pipeline_nightly_cos: stage flags nest and both near-dup stages reject") {
    assertNested("q_pipeline_nightly_cos", run("q_pipeline_nightly_cos")._1)
  }
}
