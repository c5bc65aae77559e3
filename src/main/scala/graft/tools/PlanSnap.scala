package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry, Tables}

/** Writes `explain("formatted")` for named declared queries to
  * per-query files — the optimization-round evidence artifact
  * (plans/r<N>/<query>_<tag>.txt). Unlike [[ExplainDump]] (one
  * markdown for the headline set), this snapshots exactly the queries
  * an optimization touches, before and after. Plans are written
  * [[normalize]]d, so two snapshots compare with plain `diff`.
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
      val plan = normalize(graft.ops.QueryCaches.scoped(spark) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }, spark.sparkContext.applicationId)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
      println(s"[plansnap] wrote ${name}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** `plan` with the run-specific tokens fixed: `#N` expression ids,
    * `plan_id=N`, the application id `appId` (also in its
    * scratch-table form, non-alphanumerics as `_`), whole-stage
    * codegen ids (`*(N)`, `[codegen id : N]`) and the AQE stage ids a
    * `ShuffleQueryStage` or `BroadcastQueryStage` prints as its
    * `Arguments: N` (they follow the order stages finish in). What is
    * left differs between two runs only where the plans do.
    */
  def normalize(plan: String, appId: String): String =
    plan
      .replace(appId, "<app-id>")
      .replace(appId.replaceAll("[^a-zA-Z0-9]", "_"), "<app-id>")
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\*\\(\\d+\\)", "*(N)")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : N]")
      .replaceAll(StageArgs, "$1Arguments: N")

  /** A shuffle or broadcast query stage's details block, up to its id. */
  private val StageArgs =
    "(?m)(^\\(\\d+\\) (?:Shuffle|Broadcast)QueryStage\n(?:(?!Arguments: ).+\n)*)Arguments: \\d+$"
}
