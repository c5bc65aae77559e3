package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every declared operator family:
  *  - [[graft.queries.RefQueries]]   — the reference engine's own
  *    operator surface (SURVEY.md §2/§7.3);
  *  - [[graft.queries.AnalyticsQueries]] — core relational engine ops
  *    (agg/join/window/top-k/rollup/as-of) the library supports;
  *  - [[graft.queries.TextQueries]]  — text analysis + dedup family;
  *  - [[graft.queries.VectorQueries]] — embedding similarity / ANN;
  *  - [[graft.queries.CorpusQueries]] — corpus curation: sampling,
  *    incremental dedup, quality→dedup keep set, shard packing;
  *  - [[graft.queries.MediaQueries]] — multimodal columns: batched
  *    codec feature extraction + metadata fast path.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by nation: broadcast-dim star join + decimal aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.table(spark, dir, "lineitem")
    val sup = Tables.table(spark, dir, "supplier")
    val nat = Tables.table(spark, dir, "nation")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") -
            col("l_discount").cast("decimal(12,2)")))
          .cast("decimal(18,4)")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RefQueries.queries ++
      graft.queries.AnalyticsQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.VectorQueries.queries ++
      graft.queries.CorpusQueries.queries ++
      graft.queries.MediaQueries.queries ++
      graft.queries.StreamQueries.queries

  /** Parse a comma-separated query selection (trimmed, empties
    * dropped) and check it against `known`. A name that matches
    * nothing must fail, not silently shrink the run: a typo'd
    * selection would otherwise print a clean-looking report over the
    * query that never ran. Left carries the message naming the
    * unknown names.
    */
  def select(spec: String,
      known: collection.Set[String]): Either[String, Set[String]] = {
    val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- known
    if (unknown.isEmpty) Right(names)
    else Left(s"unknown quer${if (unknown.size == 1) "y" else "ies"} in " +
      s"selection: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val static =
      graft.queries.RefQueries.oracles ++
        graft.queries.AnalyticsQueries.oracles ++
        graft.queries.TextQueries.oracles ++
        graft.queries.VectorQueries.oracles ++
        graft.queries.CorpusQueries.oracles ++
        graft.queries.MediaQueries.oracles ++
        graft.queries.StreamQueries.oracles
    val dynamic = graft.queries.DynamicOracles.entries
    // the dynamic map is appended LAST (last-wins): a same-named
    // static oracle would be silently shadowed in the post-loop
    // re-dump, and an undeclared registration would dodge the
    // CountsStamp contract — both must fail LOUDLY at dump time
    val shadow = graft.queries.DynamicOracles.declared
      .intersect(static.keySet)
    require(shadow.isEmpty,
      s"static oracle(s) shadowed by dynamic entries: " +
        s"${shadow.toSeq.sorted.mkString(", ")} — remove one side")
    val undeclared = dynamic.keySet -- graft.queries.DynamicOracles.declared
    require(undeclared.isEmpty,
      s"undeclared dynamic oracle registration(s): " +
        s"${undeclared.toSeq.sorted.mkString(", ")} — add to " +
        "DynamicOracles.declared")
    // run-time-authored entries (piece tables interpolated by the
    // query itself); empty until the owning queries have run, so
    // Verify re-dumps oracle_sql.json after its loop
    static ++ dynamic
  }
}
