package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the conversion helpers
  * `private[sql]`; the conventional pattern for extension libraries
  * that ship custom Catalyst expressions is a one-file shim inside an
  * `org.apache.spark.sql` subpackage (cf. spark-connectors in the
  * wild). Nothing else in this repo lives outside `graft`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The backing RDD of a (local)checkpointed Dataset — the object
    * whose block-manager storage a deterministic cleanup must
    * unpersist (`private[sql]` LogicalRDD field). None when the plan
    * is not an RDD leaf (not a checkpoint result).
    */
  def checkpointRdd(df: org.apache.spark.sql.Dataset[_])
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Spark's file-index rule for names it does not read as data
    * (`_`/`.`-prefixed, `._COPYING_`) — `private[spark]`.
    */
  def isHiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Block until the listener bus has delivered every queued event —
    * `private[spark]`, needed by tooling (PerfProbe, WindowAudit) that
    * reads listener-collected metrics right after an action: without
    * the drain the last stages of the measured pass may still be
    * queued. A backlogged bus must not turn an already-finished
    * measured pass into a crash, so the wait has a generous explicit
    * timeout and degrades to a partial-metrics warning.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(120000L)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          "[graft] WARN: listener bus not drained after 120 s — " +
            "listener-derived metrics may be partial")
    }

  /** Delete `dir` and everything under it when the JVM exits, by
    * Spark's own shutdown-delete hook (the one that removes its local
    * dirs) — `private[spark]`. Registering a path twice is a no-op.
    */
  def deleteAtExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Whether [[deleteAtExit]] registered `dir`. */
  def deletesAtExit(dir: java.io.File): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(dir)
}
