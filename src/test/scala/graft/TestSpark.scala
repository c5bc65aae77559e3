package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge

/** One shared local session for every Spark-touching suite (tests fork
  * into a single JVM; a per-suite session would pay ~10 s each).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Run one call; returns its result and the Spark jobs it ran. Jobs
    * are told apart by a job group, so work left running by other
    * suites in the shared session is not counted.
    */
  def jobsOf[A](call: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one counted call")
    try {
      val n = call
      Bridge.drainListenerBus(sc)
      (n, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
