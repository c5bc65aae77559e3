package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry, Tables}

/** Writes `explain("formatted")` for named declared queries to
  * per-query files — the optimization-round evidence artifact
  * (plans/r<N>/<query>_<tag>.txt). Unlike [[ExplainDump]] (one
  * markdown for the headline set), this snapshots exactly the queries
  * an optimization touches, before and after.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <tag> <q1,q2,...>
  * (side-effecting queries run their builds — plans are of the final
  * returned frame, which is what the driver's oracle gate executes).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanSnap <outDir> <tag> <q1,q2,...>")
    val Array(outDir, tag, qlist) = args
    val sfDir = Tables.sfDir
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    qlist.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      val plan = graft.ops.QueryCaches.scoped(spark) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
      println(s"[plansnap] wrote ${name}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
