package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.{Bench, GraftSession, SparkEntry, Tables}

/** Stage-level perf triage for a named declared query: runs it like
  * Bench (same session, warm-up and [[Bench.runStep]]; min timing
  * discipline is the caller's job) while a listener records every
  * stage's wall time, task time, shuffle and spill volumes, then
  * prints the top stages. Use when a bench number
  * moves and the cause isn't visible in the plan — the stage table
  * shows WHERE the seconds went (scan, exchange, checkpoint, driver
  * gaps show up as wall-vs-task skew).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.PerfProbe q_name
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_pagerank")
    val sfDir = Tables.sfDir
    val spark = GraftSession.local()
    Tables.warm(spark, sfDir)
    final case class St(id: Int, nm: String, wallMs: Long, taskMs: Long,
        gcMs: Long,
        shufWriteMB: Double, shufReadMB: Double, spillMB: Double, tasks: Int)
    // the bus delivers events asynchronously and the buffer is
    // appended from the bus thread: synchronize the append, and drain
    // the bus before reading (see below) — otherwise the measured
    // pass's LAST stage (often the final exchange, the largest) can
    // still be queued when the report prints, and the missing wall
    // time is misread as driver/scheduling overhead
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    // stage id -> the spawning job's call site (the op-level line that
    // triggered the action) — the stage's own name is usually an AQE
    // thread-pool frame, useless for attribution
    val stageJob = scala.collection.mutable.HashMap.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")
        stages.synchronized {
          e.stageIds.foreach(id => stageJob(id) = site)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        stages.synchronized {
          val jb = stageJob.getOrElse(i.stageId, "")
          val nm0 = i.name.takeWhile(_ != '\n').take(60)
          val nm = if (jb.nonEmpty) s"$jb | $nm0" else nm0
          stages += St(i.stageId, nm, wall,
            m.executorRunTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            i.numTasks)
        }
      }
    }
    // one warm pass untimed (codegen/JIT), then the measured pass
    val fn = SparkEntry.queries(name)
    Bench.runStep(spark, sfDir, name, fn)
    spark.sparkContext.addSparkListener(listener)
    val (dt, ok) = Bench.runStep(spark, sfDir, name, fn)
    // drain BEFORE detaching/reading: stage-completed events are
    // delivered asynchronously on the bus thread
    org.apache.spark.sql.graftshim.Bridge
      .drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    // snapshot under the same lock the bus thread appends with (the
    // drain guarantees completeness; this guarantees visibility)
    val snap = stages.synchronized(stages.toVector)
    println(f"== $name measured pass: $dt%.2f s, ${snap.size} stages ==" +
      (if (ok) "" else " FAILED"))
    val wallSum = snap.map(_.wallMs).sum / 1e3
    println(f"stage wall sum: $wallSum%.2f s (gap to pass time = driver/scheduling)")
    println(f"task CPU sum: ${snap.map(_.taskMs).sum / 1e3}%.1f s, GC sum: ${snap.map(_.gcMs).sum / 1e3}%.1f s")
    snap.sortBy(-_.wallMs).take(25).foreach { s =>
      println(f"stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2fs task=${s.taskMs / 1e3}%7.2fs " +
        f"gc=${s.gcMs / 1e3}%6.2fs tasks=${s.tasks}%3d sw=${s.shufWriteMB}%8.1fMB " +
        f"sr=${s.shufReadMB}%8.1fMB spill=${s.spillMB}%6.1fMB  ${s.nm}")
    }
    spark.stop()
  }
}
