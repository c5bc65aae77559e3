package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, GraftSession, SparkEntry, Tables}

/** Micro-batch attribution for a declared stream query: run it like
  * Bench while a [[StreamingQueryListener]] collects every progress
  * event's `durationMs` breakdown, then print the per-phase totals —
  * the number that says whether the q_stream_* bench floor is state
  * commits (tunable: fewer state partitions, coarser batches) or
  * trigger/offset machinery (irreducible micro-batch cost, document
  * in SCALING.md and move on). VERDICT r18 item 7 asked for exactly
  * this attribution before any streaming optimization.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StreamProbe q_name
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_stream_sjoin_outer")
    val sfDir = Tables.sfDir
    val spark = GraftSession.local()
    Tables.warm(spark, sfDir)
    // one warm pass (codegen, page cache), then the measured pass —
    // the Bench discipline
    val phases = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        e.progress.durationMs.forEach { (k, v) =>
          phases.merge(k, v.longValue(), (a: Long, b: Long) => a + b); ()
        }
        // state-store commit time lives in the operator metrics, not
        // durationMs
        e.progress.stateOperators.foreach { so =>
          phases.merge("stateOp.commit",
            so.allUpdatesTimeMs + so.commitTimeMs,
            (a: Long, b: Long) => a + b); ()
        }
      }
    }
    def pass(label: String): Double = {
      phases.clear(); batches.set(0)
      val (dt, ok) = Bench.runStep(spark, sfDir, name, SparkEntry.queries(name))
      // progress events reach the listener through the bus's "streams"
      // queue: drain it before reading the map (and so before the next
      // pass clears it), or this pass prints without its last
      // micro-batches and they land in the next pass's totals
      org.apache.spark.sql.graftshim.Bridge
        .drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val total = phases.asScala.toSeq.sortBy(-_._2)
      println(f"== $name $label pass: $dt%.2f s, ${batches.get()} micro-batches ==" +
        (if (ok) "" else " FAILED"))
      total.foreach { case (k, ms) => println(f"  $k%-28s ${ms / 1000.0}%8.3f s") }
      dt
    }
    spark.streams.addListener(listener)
    pass("warm")
    val t = pass("measured")
    println(f"== $name measured total: $t%.2f s ==")
    spark.stop()
  }
}
