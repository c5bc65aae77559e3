package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core relational-engine operators: aggregation, joins (broadcast
  * star, semi/anti, range, as-of), windows, sessionization, top-k,
  * rollup, pivot, set ops. The reference has none of these (SURVEY.md
  * §2.4-§2.8 ABSENT) — this is the engine surface a user actually
  * queries through, designed Spark-first:
  *
  *  - dimension joins take `broadcast()` hints (no shuffle of the fact
  *    table on a cluster);
  *  - money aggregates run in DECIMAL (exact, order-independent —
  *    float sums would hash-mismatch any oracle and drift at 100 TB);
  *  - windows partition by a real key (never a global window on the
  *    scale path; global `row_number` appears only in bounded queries).
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")

  /** Exact discounted revenue: price x (1 - discount) in DECIMAL. */
  private def discPrice: org.apache.spark.sql.Column =
    (dec(col("l_extendedprice")) *
      (lit(1).cast("decimal(12,2)") - dec(col("l_discount"))))
      .cast("decimal(18,4)")

  /** Hourly trend/seasonal/residual decomposition shared by
    * q_seasonal_decomp and q_anomaly_hours: trend = centered 5-hour
    * rolling mean, seasonal = hour-of-day mean of the detrended
    * series, residual = remainder. The corpus collapses FIRST to one
    * row per hour (keyed aggregate, map-side combine); every window
    * after that runs over the calendar-bounded hourly frame
    * (≤ 8.8k rows/year however big the corpus). The 5-row trend mean
    * sums ≤5 integer counts (exact in any order); the seasonal mean
    * sums identical doubles over the bounded per-hod day count.
    */
  private def seasonalHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(expr("ts_ns div 3600000000000").as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hr")).rowsBetween(-2, 2)
    val det = hourly
      .withColumn("trend", avg(col("cnt").cast("double")).over(w))
      .withColumn("hod", (col("hr") % 24).cast("int"))
      .withColumn("det", col("cnt").cast("double") - col("trend"))
      .transform(graft.ops.QueryCaches.persist) // seasonal mean + output share it
    // 24 rows by construction — broadcast is safe at any corpus size
    val seas = det.groupBy("hod")
      .agg((sum(col("det")) / count(lit(1))).as("seas"))
    // + 0.0 after the round: residuals (and in principle the seasonal
    // mean) sit AT zero, where cross-engine accumulation epsilons
    // round to -0.0 on one engine and 0.0 on the other (repr'd
    // differently by the driver's hash — sf0.1 hit exactly one such
    // row). IEEE -0.0 + 0.0 = +0.0 normalizes the sign identically
    // on both sides; trend is an exact positive integer mean and
    // needs no guard.
    det.join(broadcast(seas), Seq("hod"))
      .select(col("hr"), col("hod"), col("cnt"),
        round(col("trend"), 6).as("trend_r"),
        (round(col("seas"), 6) + lit(0.0)).as("seas_r"),
        (round(col("det") - col("seas"), 6) + lit(0.0)).as("resid_r"))
  }

  /** The record-linkage family's blocked candidate universe: parts
    * blocked on (brand, size) under the capBlocks contract, persisted
    * and eagerly counted for the self-join consumers (q_jaro_block,
    * q_er_clusters, and the FS scorer/trainer all read it — ONE copy
    * of the blocking key so the siblings cannot drift).
    */
  private def partBlockFrame(s: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.FuzzyJoin.capBlocks(
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_name"), col("p_type"), col("p_retailprice")),
      Seq("p_brand", "p_size"), GateScale.uncapped)
      .transform(graft.ops.QueryCaches.persist) // both pair sides
    p.count() // eager: self-join sides race a lazy cache
    p
  }

  /** All within-block candidate pairs with both sides' compare fields
    * — the one textual home of the (brand, size) USING-join and the
    * pa < pb orientation.
    */
  private def blockedPartPairs(p: DataFrame): DataFrame = {
    val a = p.select(col("p_partkey").as("pa"), col("p_brand"),
      col("p_size"), col("p_name").as("name_a"),
      col("p_type").as("type_a"), col("p_retailprice").as("price_a"))
    val b = p.select(col("p_partkey").as("pb"), col("p_brand"),
      col("p_size"), col("p_name").as("name_b"),
      col("p_type").as("type_b"), col("p_retailprice").as("price_b"))
    a.join(b, Seq("p_brand", "p_size")).filter(col("pa") < col("pb"))
  }

  /** The rounded Jaro-Winkler name similarity — the ONE copy of the
    * linkage family's 0.86 fence input (q_jaro_block thresholds it,
    * the FS bits binarize it, q_er_clusters mines edges from it).
    */
  private def nameSimR: Column =
    round(graft.expr.JaroWinklerFunctions
      .jaroWinkler(col("name_a"), col("name_b")), 6)

  /** Blocked candidate pairs with the three Fellegi–Sunter agreement
    * bits — shared by q_linkage_fs (fixed-weight scoring) and
    * q_linkage_em (EM parameter estimation) so the comparison
    * definitions cannot drift between the scorer and its trainer.
    * Columns: (pa, pb, agr_name, agr_type, agr_price).
    */
  private def fsAgreementBits(s: SparkSession, dir: String): DataFrame =
    blockedPartPairs(partBlockFrame(s, dir))
      .withColumn("agr_name", (nameSimR >= lit(0.86)).cast("int"))
      .withColumn("agr_type",
        (col("type_a") === col("type_b")).cast("int"))
      .withColumn("agr_price",
        (round(abs(col("price_a") - col("price_b")), 6) < lit(50.0))
          .cast("int"))
      .select("pa", "pb", "agr_name", "agr_type", "agr_price")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: scan-heavy aggregation with decimal math.
    // Sums run in exact DECIMAL internally; the final projection emits
    // BIGINT fixed-point (x100 / x10000) so the cross-engine hash never
    // depends on a decimal formatter's trailing-zero choices.
    "q_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("decimal(18,2)").as("sum_qty_d"),
          sum(dec(col("l_extendedprice"))).cast("decimal(18,2)")
            .as("sum_base_price_d"),
          sum(discPrice).cast("decimal(18,4)").as("sum_disc_price_d"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("sum_qty_d") * 100).cast("bigint").as("sum_qty_c"),
          (col("sum_base_price_d") * 100).cast("bigint").as("sum_base_price_c"),
          (col("sum_disc_price_d") * 10000).cast("bigint").as("sum_disc_price_c"),
          col("n"),
          // fixed-point micro-units: round(x,6) would depend on each
          // engine's shortest-repr formatting; an integer never does.
          // floor(x + 0.5), never round(x): half-mode differs between
          // engines (Spark HALF_UP vs engine-specific) when the
          // micro-unit value lands exactly on .5 (CLAUDE.md rule)
          floor(col("sum_qty_d").cast("double") / col("n") * lit(1e6) +
            lit(0.5)).cast("bigint").as("avg_qty_c"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Star join: fact ⋈ broadcast dims, revenue per region/nation.
    "q_join_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(discPrice).cast("decimal(18,4)").as("revenue_d"),
          count(lit(1)).as("n_items"))
        .select(col("r_name"), col("n_name"),
          (col("revenue_d") * 10000).cast("bigint").as("revenue_c"),
          col("n_items"))
        .orderBy("r_name", "n_name")),

    // Semi/anti join: customers with vs without orders.
    "q_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("rel"), col("n"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("no_orders").as("rel"), col("n"))
      semi.unionAll(anti).orderBy("rel")
    }),

    // Outer join with count-of-non-null semantics: every customer,
    // order count (0 when none — left outer preserves the row).
    "q_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"),
          (sum(dec(o("o_totalprice"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("total_spend_c"))
        .orderBy(c("c_custkey"))
    }),

    // Time-RANGE window frame: per user, the trailing-1-hour event
    // count and spend — the rolling-metric shape rows-frames can't
    // express (peers = same second are in/out by VALUE, so the frame
    // is deterministic under any peer order, unlike ROWS). One keyed
    // exchange on user_id; the frame is streamed within partition.
    "q_rolling_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000000000").as("ts_s"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("spend_1h_c",
          (sum(dec(col("value"))).over(w)
            .cast("decimal(18,2)") * 100).cast("bigint"))
        .select(col("event_id"), col("user_id"), col("ts_s"),
          col("n_1h"), col("spend_1h_c"))
        .orderBy("event_id")
    }),

    // Cohort retention: users cohorted by their first-activity week,
    // distinct active users per (cohort_week, week_offset) — the
    // classic growth triangle. Two keyed aggregates (first week per
    // user, then distinct users per cell); all integers, no floats.
    "q_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("ts_ns div 1000000000 div 86400 div 7").as("week"))
      val cohort = ev.groupBy("user_id")
        .agg(min(col("week")).as("cohort_week"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Running total per customer (keyed window — scales by partition).
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("running_spend_c",
          (sum(dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("decimal(18,2)") * 100).cast("bigint"))
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("running_spend_c"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Gap-based sessionization (30 min) over the event stream.
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      Tables.events(s, dir)
        .withColumn("prev", lag("ts_sec", 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_timestamp(col("ts_sec")) - unix_timestamp(col("prev")) > 1800,
            1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_sess").cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Top-k: TakeOrderedAndProject (no full sort on a cluster).
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    // Explicit grouping sets (mixed granularities that neither cube
    // nor rollup express): per (flag,status), per status alone, and
    // the grand total, with grouping indicators.
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("l_quantity"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_qty_c"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Hierarchical aggregate: rollup with explicit null ordering.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("l_quantity"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_qty_c"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // As-of join: each purchase matched to the user's latest prior (or
    // simultaneous) signup. Spark-first: one keyed window pass over a
    // tagged union instead of a per-row lookup — signups sort before
    // purchases at equal timestamps to match ASOF `<=` semantics.
    "q_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .withColumn("type_rank",
          when(col("event_type") === "signup", 0).otherwise(1))
      val w = Window.partitionBy("user_id")
        .orderBy("ts_sec", "type_rank", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("signup_ts",
          when(col("event_type") === "signup", col("ts_sec")))
        .withColumn("last_signup_ts", last("signup_ts", ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" &&
          col("last_signup_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("ts_sec").as("purchase_ts"), col("last_signup_ts"))
        .orderBy("event_id")
    }),

    // Same as-of semantics through the custom AsOfJoinExec operator
    // (graft.plans.AsOfJoin): co-partitioned O(n+m) merge instead of a
    // tagged-union window — the (c)-tier custom-operator build,
    // verified against the same DuckDB ASOF JOIN oracle.
    "q_asof_native" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_sec"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts_sec").as("signup_ts"))
      graft.plans.AsOfJoin.join(purchases, signups,
        purchases("user_id"), signups("s_user"),
        purchases("ts_sec"), signups("signup_ts"))
        .select(col("event_id"), col("user_id"),
          col("ts_sec").as("purchase_ts"),
          col("signup_ts").as("last_signup_ts"))
        .orderBy("event_id")
    }),

    // Distinct aggregation per segment.
    "q_distinct_agg" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(countDistinct("c_nationkey").as("n_nations"),
          count(lit(1)).as("n_cust"),
          (sum(dec(col("c_acctbal"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_bal_c"))
        .orderBy("c_mktsegment")),

    // Second columnar format, end-to-end: documents written as ORC
    // (Spark's native second columnar source), read back cold, with a
    // predicate that must reach the ORC scan as a pushed filter
    // (PlanSpec pins it) — format portability is an engine property,
    // not a parquet accident. Per-run scratch path (Tables.scratchDir
    // — concurrent runs must not share write dirs), overwritten on
    // re-entry within the run.
    "q_orc_roundtrip" -> ((s, dir) => {
      val path = Tables.scratchDir(s, "graft_orc_docs").toString
      Tables.table(s, dir, "documents")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }),

    // JSON-lines source/sink round trip: the documents slice lands as
    // newline-delimited JSON and is read back through Spark's
    // schema-inferring JSON source, then aggregated — the third
    // columnar-or-text format driven end-to-end beside parquet and
    // ORC (numbers come back as inferred longs; the aggregate is
    // integer-exact either way).
    "q_json_roundtrip" -> ((s, dir) => {
      val path = Tables.scratchDir(s, "graft_json_docs").toString
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").json(path)
      s.read.json(path)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }),

    // Gzip-CSV source/sink round trip — the reference's BULK format
    // (the D2 s3 destination ships gzip csv; SCALE.md: "bulk data
    // enters as CSV/parquet"): the documents slice lands as
    // compressed, quoted CSV and is read back through Spark's
    // distributed CSV source with an EXPLICIT schema (inference would
    // cost a second pass over the corpus at scale), then aggregated —
    // sum(length(text)) crosses the quoting/escaping layer, so a
    // mangled character anywhere in the corpus moves the hash. Gzip
    // is not splittable; at 100 TB each written part stays its own
    // task, which is why the write inherits the source's partitioning
    // (many parts) rather than coalescing.
    "q_csv_roundtrip" -> ((s, dir) => {
      val path = Tables.scratchDir(s, "graft_csv_docs").toString
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
        .write.mode("overwrite")
        .option("header", "true").option("compression", "gzip")
        .csv(path)
      // multiLine keeps embedded newlines inside quoted fields intact
      // on the read-back (the synthetic corpus has none today, but a
      // regeneration adding them must not mangle the hash); gzip parts
      // are one task each regardless, so splittability is unaffected.
      s.read
        .schema("doc_id LONG, lang STRING, source STRING, " +
          "n_chars LONG, text STRING")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy("source")
    }),

    // Incremental aggregate maintenance (the IVM pattern): the
    // standing per-priority revenue state merges with the delta
    // batch's partial aggregate — combine(state, partial(delta)) —
    // instead of rescanning history. DECIMAL sums make the merge
    // EXACTLY equal to the full recompute (the oracle is the full
    // recompute, so the gate proves the algebra, not just the
    // plumbing). At 100 TB this is the difference between touching
    // the delta and touching the corpus: both partials are map-side
    // combined keyed aggregates.
    "q_agg_incremental" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        dec(col("o_totalprice")).as("p"), col("o_orderkey"))
      def part(df: DataFrame) = df.groupBy("o_orderpriority")
        .agg(sum(col("p")).cast("decimal(18,2)").as("sum_price"),
          count(lit(1)).as("n_orders"))
      part(o.filter(col("o_orderkey") % 10 =!= 0))
        .unionByName(part(o.filter(col("o_orderkey") % 10 === 0)))
        .groupBy("o_orderpriority")
        // cents out (the decimal-output rule): the merge algebra stays
        // DECIMAL-exact; only the projection scales to BIGINT
        .agg((sum(col("sum_price")) * 100).cast("long").as("sum_price_c"),
          sum(col("n_orders")).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Schema evolution: two writer generations with DISJOINT column
    // sets land in one dataset directory; the mergeSchema read unifies
    // them (absent columns null-filled per file) — the lakehouse
    // append-with-new-columns property, driven end-to-end through
    // real parquet files and hash-checked against the reconstructed
    // union. Null groups coalesce to a sentinel (the null-ordering
    // rule).
    "q_schema_merge" -> ((s, dir) => {
      val base = Tables.scratchDir(s, "graft_schema_merge")
      val d = Tables.table(s, dir, "documents")
      d.filter(col("doc_id") < 300).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(base.resolve("p1").toString)
      d.filter(col("doc_id") >= 300 && col("doc_id") < 600)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(base.resolve("p2").toString)
      s.read.option("mergeSchema", "true")
        .parquet(base.resolve("p1").toString, base.resolve("p2").toString)
        .groupBy(coalesce(col("lang"), lit("-")).as("lang"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .orderBy("lang")
    }),

    // Approximate distinct with an ORACLE-CHECKABLE estimator
    // (Sketches.linearCount): the md5 bucket bitmap is deterministic,
    // so the estimate itself hash-matches — the checkable companion
    // to the engine-native (rows-only) q_approx_distinct. ≤ m rows
    // per group leave the shuffle however large the group.
    "q_linear_count" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"))
        .transform(graft.ops.QueryCaches.persist) // truth + sketch branches
      val truth = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_true"))
      graft.ops.Sketches.linearCount(
        ev, Seq("event_type"), col("user_id"), m = 256)
        .join(truth, "event_type")
        .select(col("event_type"), col("n_true"), col("n_buckets"),
          col("est_distinct"))
        .orderBy("event_type")
    }),

    // Range join: value-interval bucketing via broadcast nested loop.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val buckets = Seq(
        (0L, 0.0, 50.0), (1L, 50.0, 100.0),
        (2L, 100.0, 150.0), (3L, 150.0, 250.0))
        .toDF("bucket_id", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(buckets),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("value"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_value_c"))
        .orderBy("bucket_id")
    }),

    // Pivot: event counts per user × type (explicit value list — no
    // driver-side distinct scan to discover columns).
    "q_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .filter(col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
        .orderBy("user_id")
    }),

    // Cube: all grouping-set combinations with explicit null ordering.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("l_quantity"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_qty_c"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Correlated-subquery shape: customers above their nation's mean
    // balance. Spark-side it's the scalable form (pre-aggregated dim,
    // broadcast back); the oracle is the literal correlated subquery —
    // same semantics, engine-appropriate plans. The threshold is
    // derived from an exact DECIMAL sum so both engines compute the
    // identical double.
    "q_above_avg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val thr = c.groupBy("c_nationkey")
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("nation_avg"))
      c.join(broadcast(thr), Seq("c_nationkey"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          round(col("nation_avg"), 6).as("nation_avg_r"))
        .orderBy("c_custkey")
    }),

    // Funnel: view → click → purchase per user, each stage strictly
    // after the previous stage's first event (second granularity —
    // the deterministic cross-engine ordering). Three keyed
    // aggregations + two keyed joins; no window over the full stream.
    // The events scan and both intermediate stage frames feed two
    // branches each — persisted per the multi-branch rule (Verify/
    // Bench clear the cache between queries).
    "q_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_timestamp(col("ts_sec")).as("ts_s"))
        .transform(graft.ops.QueryCaches.persist)
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_s").as("tv")).transform(graft.ops.QueryCaches.persist)
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_s") > col("tv"))
        .groupBy("user_id").agg(min("ts_s").as("tc")).transform(graft.ops.QueryCaches.persist)
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_s") > col("tc"))
        .groupBy("user_id").agg(min("ts_s").as("tp"))
      // eager: the two crossJoin broadcast exchanges are separate
      // concurrent driver jobs that would each re-run the lazy e/v/c
      // caches (the q_pca_power race); c's count fills e and v too
      c.count()
      v.agg(count(lit(1)).as("n_view_users"))
        .crossJoin(c.agg(count(lit(1)).as("n_click_users")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_users")))
    }),

    // Ranking-window family: row_number / dense_rank / percent_rank /
    // ntile / cume_dist over one keyed window (one hash exchange; the
    // rank formulas are exact integer ratios, bit-identical across
    // engines).
    "q_rank_suite" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("drank", dense_rank().over(w).cast("long"))
        .withColumn("prank", round(percent_rank().over(w), 6))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .orderBy("o_orderpriority", "rn")
    }),

    // Unpivot (wide → long, the inverse reshape of q_pivot): four
    // measure columns melt into (measure, value) rows — a pure
    // per-row projection+generate, no shuffle before the oracle sort.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "measure",
          valueColumnName = "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // Histogram: fixed-width bucketing + per-bucket stats — one
    // hash-agg pass, the profiling query every pipeline starts with.
    "q_histogram" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(floor(col("l_quantity") / 10).cast("long").as("bucket"),
          col("l_quantity"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"))
        .orderBy("bucket")),

    // Event-sequence windows: per-user lag gap + lead lookahead — the
    // time-series building block (keyed window, one hash exchange).
    "q_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          col("event_type"))
        .withColumn("ts_s", unix_timestamp(col("ts_sec")))
        .withColumn("gap_s",
          (col("ts_s") - unix_timestamp(lag("ts_sec", 1).over(w)))
            .cast("long"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .select("user_id", "event_id", "ts_s", "gap_s", "next_type")
        .orderBy("user_id", "ts_s", "event_id")
    }),

    // Null semantics: nullif / coalesce / null-safe equality.
    "q_null_handling" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          nullif(col("event_type"), lit("error")).as("et_null"))
        .withColumn("et_coal", coalesce(col("et_null"), lit("none")))
        .withColumn("is_click_nullsafe", col("et_null") <=> "click")
        .orderBy("event_id")),

    // Percentiles: exact linear-interpolated quantiles per group.
    "q_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50_qty"),
          round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90_qty"),
          round(percentile(col("l_extendedprice"), lit(0.99)), 6)
            .as("p99_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Approximate percentiles — the scale path for q_quantiles. The
    // exact form's sort-based aggregation buffers every group value
    // (3 groups ⇒ parallelism 3 and an unbounded buffer: an
    // executor-OOM at 100×, kept only as the oracle-checked demo);
    // approx_percentile keeps a bounded sketch per group, map-side
    // combinable, so work stays partition-parallel at any scale.
    // Rows-only: the sketch is engine-specific; QuantilesSpec
    // tolerance-checks it against the exact form.
    "q_quantiles_approx" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_percentile(col("l_quantity").cast("double"), lit(0.5),
            lit(1000)).as("p50_qty"),
          approx_percentile(col("l_quantity").cast("double"), lit(0.9),
            lit(1000)).as("p90_qty"),
          approx_percentile(col("l_extendedprice").cast("double"), lit(0.99),
            lit(1000)).as("p99_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // JSON path extraction over the events props payload (§2.9: the
    // reference only en/decodes JSON at the API edge; here it's a
    // first-class columnar op).
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k"))
        .withColumn("k_bucket", col("k") % 10)
        .orderBy("event_id")),

    // HLL sketch distinct counts — engine-specific sketch, declared
    // rows-only (no oracle): DuckDB's approx differs by construction.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Skew-safe salted join (ScaleOps.saltedJoin): the event fact
    // joined to a tiny weight dim on the skew-prone event_type key —
    // the salt spreads each hot key over 8 reducers deterministically,
    // and the aggregate proves result equality with the plain join
    // (the oracle is the unsalted SQL).
    "q_salted_join" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(("click", "0.50"), ("view", "0.10"),
        ("purchase", "10.00"), ("signup", "2.00"), ("error", "0.00"))
        .toDF("event_type", "weight")
      graft.ops.ScaleOps.saltedJoin(
        Tables.events(s, dir), dim, "event_type",
        saltSource = col("event_id"), nSalts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("value")) * dec(col("weight")))
            .cast("decimal(18,4)") * 10000).cast("bigint").as("wsum_c"))
        .orderBy("event_type")
    }),

    // Join-key skew report (ScaleOps.keySkewReport): the pre-flight
    // measurement that decides whether q_salted_join's salting is
    // needed and sizes nSalts — per user_id the row count, table
    // share, and rounded-share hot flag. One |keys|-row shuffle.
    "q_key_skew" -> ((s, dir) =>
      graft.ops.ScaleOps.keySkewReport(
        Tables.events(s, dir), "user_id", hotShare = 0.008)
        .orderBy(col("n_rows").desc, col("user_id"))),

    // Z-order clustering key (ScaleOps.zorderValue): the multi-column
    // data-skipping sort key — fixed-width bucket ranks between each
    // column's global min/max, bit-interleaved into one long. The
    // layout WRITER (ScaleOps.writeZordered) is spec-pinned on actual
    // row-group skipping; this query puts the key derivation itself
    // (the part a mistake would silently corrupt) under the oracle.
    "q_zorder" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val row = p.agg(
        min(col("p_size").cast("double")), max(col("p_size").cast("double")),
        min(col("p_retailprice")), max(col("p_retailprice"))).head()
      val z = graft.ops.ScaleOps.zorderValue(
        Seq(col("p_size"), col("p_retailprice")),
        mins = Seq(row.getDouble(0), row.getDouble(2)),
        maxs = Seq(row.getDouble(1), row.getDouble(3)), bits = 8)
      p.select(col("p_partkey"), z.as("zval")).orderBy("p_partkey")
    }),

    // Bucketed co-located join — the recurring-join layout gate
    // (upgrades ScaleOps.writeBucketed from spec-level to
    // driver-gated, like r10 did for the CSV/JDBC sinks): both fact
    // slices land bucketed+sorted by the join key as EXTERNAL tables
    // in per-run scratch dirs, then join WITHOUT a shuffle on either
    // side (PlanSpec pins <= 1 exchange: only the tiny post-join
    // aggregate re-keys). At 100 TB this layout is the difference
    // between a nightly co-located merge and re-shuffling the corpus
    // every run. Bucketing is layout-only, so the oracle is the plain
    // join over the raw tables; money exits as BIGINT cents.
    "q_bucketed_join" -> ((s, dir) => {
      val (liT, oT) = (Tables.scratchTable(s, "graft_li_bk"),
        Tables.scratchTable(s, "graft_o_bk"))
      graft.ops.ScaleOps.writeBucketed(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice")),
        liT, "l_orderkey", 16,
        path = Some(Tables.scratchDir(s, liT).toString))
      graft.ops.ScaleOps.writeBucketed(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        oT, "o_orderkey", 16,
        path = Some(Tables.scratchDir(s, oT).toString))
      s.table(liT)
        .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          (sum(dec(col("l_extendedprice"))) * 100)
            .cast("long").as("sum_price_c"))
        .orderBy("o_orderpriority")
    }),

    // Set operations: nation keys of customers vs suppliers.
    "q_setops" -> ((s, dir) => {
      val cn = t(s, dir, "customer")
        .select(col("c_nationkey").as("k")).distinct()
      val sn = t(s, dir, "supplier")
        .select(col("s_nationkey").as("k")).distinct()
      cn.intersect(sn).select(lit("both").as("rel"), col("k"))
        .unionAll(cn.except(sn).select(lit("cust_only").as("rel"), col("k")))
        .unionAll(sn.except(cn).select(lit("supp_only").as("rel"), col("k")))
        .orderBy("rel", "k")
    }),

    // Pearson correlation from EXACT decimal sums: builtin corr() is
    // an order-dependent double aggregate (never cross-engine-stable);
    // aggregating the five moments in DECIMAL and applying the
    // formula once per group makes the result deterministic. One
    // map-side-partial shuffle of 6 numbers per group.
    "q_corr_exact" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("q"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      base.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sx"), sum(col("p")).as("sy"),
          sum(col("q") * col("q")).as("sxx"),
          sum(col("p") * col("p")).as("syy"),
          sum(col("q") * col("p")).as("sxy"))
        // zero/degenerate variance: corr is undefined, and the double
        // form of n·sxx − sx² can cancel to a tiny NEGATIVE (sqrt → NaN
        // on Spark, an error on other engines) — drop such groups, the
        // same convention as withNorm dropping zero-norm vectors
        .withColumn("varx",
          col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx")))
        .withColumn("vary",
          col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))
        .filter(col("varx") > 0 && col("vary") > 0)
        .select(col("l_returnflag"), col("n"),
          round((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (sqrt(col("varx")) * sqrt(col("vary"))), 6)
            .as("corr_r"))
        .orderBy("l_returnflag")
    }),

    // Robust outlier gate (Tukey 1.5·IQR fences on event values):
    // exact interpolated quartiles → 1-row broadcast bounds → per-row
    // flag. The exact percentile is the oracle-checked demo; at scale
    // swap approx_percentile in (the q_quantiles/q_quantiles_approx
    // pairing) — the fence math and broadcast shape stay identical.
    "q_outlier_filter" -> ((s, dir) => {
      val d = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("value"))
      // fences are ROUNDED before the compare (the repo's
      // round-before-threshold rule): the two engines' quantile
      // interpolation formulas can differ by 1 ulp, and a value landing
      // between the two raw fence doubles would flip row membership
      val bounds = d.agg(
        percentile(col("value"), lit(0.25)).as("q1"),
        percentile(col("value"), lit(0.75)).as("q3"))
        .select(
          round(col("q1") - (col("q3") - col("q1")) * 1.5, 6).as("lo_r"),
          round(col("q3") + (col("q3") - col("q1")) * 1.5, 6).as("hi_r"))
      d.crossJoin(broadcast(bounds))
        .filter(col("value") < col("lo_r") || col("value") > col("hi_r"))
        .select(col("event_id"), col("value"), col("lo_r"), col("hi_r"))
        .orderBy("event_id")
    }),

    // Link-analysis quality signal: PageRank over the supplier→customer
    // purchase graph (lineitem ⋈ orders edges). Directed — every
    // customer node is dangling, exercising the dangling-mass term.
    // 6 fixed rounds, each one |E| shuffle (see GraphOps.pageRank).
    "q_pagerank" -> ((s, dir) => {
      // the iteration runs on INT node ids (supplier k → 2k, customer
      // k → 2k+1 — a bijection over the two key spaces): 6 rounds of
      // join/shuffle/cache hash 8-byte longs instead of strings, and
      // the oracle's string labels are reconstructed only on the final
      // |V| rows. The distinct also runs on the int pair before any
      // string exists.
      val edges = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey")).distinct()
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
      graft.ops.GraphOps.pageRank(edges, iters = 6, damping = 0.85)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("s"), expr("node div 2")))
            .otherwise(concat(lit("c"), expr("node div 2"))).as("node"),
          round(col("rank"), 6).as("rank_r"))
        .orderBy("node")
    }),

    // BFS hop levels over the symmetrized purchase graph from the
    // NATION_9 supplier set — link-distance tiers (GraphOps.bfsLevels,
    // eager checkpoint per round; unreached nodes absent).
    "q_bfs_levels" -> ((s, dir) => {
      // same int-encoded iteration as q_pagerank (supplier k → 2k,
      // customer k → 2k+1); string labels only on the final rows
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey")).distinct()
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
      val edges = b.unionByName(
        b.select(col("dst").as("src"), col("src").as("dst")))
      val sources = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .select((col("s_suppkey") * 2).as("node"))
      graft.ops.GraphOps.bfsLevels(edges, sources, maxHops = 3)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("s"), expr("node div 2")))
            .otherwise(concat(lit("c"), expr("node div 2"))).as("node"),
          col("dist"))
        .orderBy("node")
    }),

    // Runtime-filter semi-join reduction: an 8 KiB deterministic Bloom
    // filter built from the selective dim subset prunes lineitem AT THE
    // SCAN; the exact semi-join removes the false positives, so the
    // result equals the plain semi-join the oracle runs.
    "q_bloom_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      graft.ops.ScaleOps.bloomPrunedSemiJoin(li, "l_suppkey", sup, "s_suppkey")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("l_quantity"))).cast("decimal(18,2)") * 100)
            .cast("bigint").as("sum_qty_c"))
        .orderBy("l_suppkey")
    }),

    // Measured Bloom false-positive rate — the calibration audit for
    // the q_bloom_prune runtime filter: build a deliberately small
    // filter (m=256 bits, k=3, the supplier key set), probe it with
    // keys absent BY CONSTRUCTION (customer keys offset past every
    // supplier), and report measured FPR beside the analytic
    // (1−e^{−kn/m})^k expectation — the number that says whether the
    // production mBits is sized right. Fully distributed: the 32-byte
    // word table is a groupBy bit_or aggregate (bounded by the
    // CONSTANT m → broadcast-valid), probes test bits via a keyed
    // join; no driver-side bit array. 8-bit words keep every shift
    // inside small positive ints (no sign-bit semantics to match
    // across engines).
    "q_bloom_fpr" -> ((s, dir) => {
      val mBits = 256L
      def posi(i: Int, key: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        pmod(conv(substring(md5(concat(lit(s"bf$i:"),
          key.cast("string"))), 1, 8), 16, 10).cast("long"), lit(mBits))
      def positions(df: DataFrame): DataFrame =
        df.withColumn("pos",
            explode(array((0 until 3).map(i => posi(i, col("k"))): _*)))
          .select(col("k"), expr("CAST(pos div 8 AS INT)").as("word"),
            call_function("shiftleft", lit(1),
              pmod(col("pos"), lit(8L)).cast("int")).as("mask"))
      val ins = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
        .transform(graft.ops.QueryCaches.persist) // build + count arms
      val words = positions(ins).select("word", "mask").distinct()
        .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
        .transform(graft.ops.QueryCaches.persist) // probe join + popcount
      // probe keys absent BY DERIVATION, not assumption: offset past
      // the observed max inserted key (a fixed 1e6 literal collides
      // with real keys once supplier cardinality reaches it and
      // silently biases the measured FPR upward). 1-row aggregate —
      // bounded by construction, the hintable class.
      val off = t(s, dir, "supplier")
        .agg((max(col("s_suppkey")) + 1L).as("off"))
      val pp = positions(t(s, dir, "customer").crossJoin(broadcast(off))
        .select((col("c_custkey") + col("off")).as("k")))
      val hits = pp.join(broadcast(words), Seq("word"), "left")
        .withColumn("hit",
          coalesce(col("bits"), lit(0)).bitwiseAND(col("mask")) =!= 0)
        .groupBy("k").agg(expr("bool_and(hit)").as("fp"))
      val probeAgg = hits.agg(count(lit(1)).as("n_probes"),
        sum(when(col("fp"), 1L).otherwise(0L)).as("n_fp"))
      val insAgg = ins.agg(count(lit(1)).as("n_inserted"))
      val nset = words.agg(sum(bit_count(col("bits"))).cast("long")
        .as("n_bits_set"))
      probeAgg.crossJoin(insAgg).crossJoin(nset)
        // 255/256 is exactly representable, so the log argument is the
        // same binary64 on both engines
        .withColumn("pbit", lit(1.0) - exp(lit(3.0) *
          col("n_inserted").cast("double") * log(lit(0.99609375))))
        .select(col("n_inserted"), col("n_bits_set"), col("n_probes"),
          col("n_fp"),
          round(col("n_fp").cast("double") /
            col("n_probes").cast("double"), 6).as("fpr_r"),
          round(col("pbit") * col("pbit") * col("pbit"), 6)
            .as("theory_r"))
    }),

    // Join-size / skew profiler — the pre-flight analysis that decides
    // whether a join needs salting BEFORE paying for it: exact join
    // output cardinality Σ_k c1(k)·c2(k) from the two sides' per-key
    // counts (their join carries one row per DISTINCT key, never the
    // data), the heaviest key's contribution, and its share. The
    // aggregate-argmax picks the hot key without a window sort.
    "q_join_size" -> ((s, dir) => {
      val lc = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("c1"))
      val oc = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("c2"))
      lc.join(oc, "k")
        .select(col("k"), (col("c1") * col("c2")).as("contrib"))
        .agg(count(lit(1)).cast("long").as("n_keys"),
          sum(col("contrib")).cast("long").as("join_rows"),
          min(struct((-col("contrib")).as("negc"), col("k").as("key")))
            .as("m"))
        .select(col("n_keys"), col("join_rows"),
          (-col("m.negc")).as("max_contrib"), col("m.key").as("top_key"),
          round((-col("m.negc")).cast("double") /
            col("join_rows").cast("double"), 6).as("skew_frac_r"))
    }),

    // Data-quality expectations report — the constraint audit shipped
    // with every table publish (Expectations): null/range/uniqueness/
    // referential checks, each ONE aggregate emitting a count row —
    // violating rows never reach the driver, so the report has the
    // same shape at any scale.
    "q_expectations" -> ((s, dir) => {
      val ex = graft.ops.Expectations
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      ex.report(Seq(
        ex.notNull(li, "lineitem_keys_not_null",
          Seq("l_orderkey", "l_linenumber")),
        ex.inRange(li, "l_quantity_in_1_50", "l_quantity",
          lit(1.0), lit(50.0)),
        ex.inRange(li, "l_discount_in_0_1", "l_discount",
          lit(0.0), lit(1.0)),
        ex.unique(o, "o_orderkey_unique", Seq("o_orderkey")),
        ex.unique(li, "lineitem_pk_unique",
          Seq("l_orderkey", "l_linenumber")),
        ex.foreignKey(li, "l_orderkey_fk_orders", Seq("l_orderkey"),
          o.select("o_orderkey"), Seq("o_orderkey")),
        ex.foreignKey(o, "o_custkey_fk_customer", Seq("o_custkey"),
          c.select("c_custkey"), Seq("c_custkey"))))
    }),

    // SCD Type-2 dimension history: order-priority changes per customer
    // become validity intervals. valid_to's null (current version) is
    // coalesced to a sentinel timestamp — Spark and DuckDB order and
    // hash nulls differently (the stream-join rule).
    "q_scd2" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"))
      graft.ops.Corpus.scd2History(o, "o_custkey", "o_orderpriority",
        Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate").as("valid_from"),
          coalesce(col("valid_to"),
            lit("2200-01-01 00:00:00").cast("timestamp")).as("valid_to"),
          col("is_current"))
        // valid_from is DAY-granular: a customer whose priority changes
        // twice on one day yields tied (custkey, valid_from) keys (15 real
        // groups at sf0.01). Consecutive change rows can't share a
        // priority, so it completes the total order; valid_to is appended
        // so the order stays total under ANY data shape.
        .orderBy("o_custkey", "valid_from", "o_orderpriority", "valid_to")
    }),

    // Regular-grid resample + forward fill: hourly per-user activity
    // with silent hours synthesized (n=0, is_gap) and the last seen
    // max value carried forward. max() is order-independent — the
    // filled doubles are bit-exact cross-engine, no rounding needed.
    "q_gap_fill" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") % 97 === 0)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
        .groupBy("user_id", "h")
        .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
      graft.ops.TimeSeries.gapFill(hourly, "user_id", "h", Seq("mx"),
        expr("interval 1 hour"))
        .select(col("user_id"), col("h"),
          coalesce(col("n"), lit(0L)).as("n"), col("mx"), col("is_gap"))
        .orderBy("user_id", "h")
    }),

    // Winsorization: per-group exact 5th/95th percentile fences
    // (ROUNDED before the compare — the round-before-threshold rule),
    // emitting only the clipped tails. The fence join is broadcast:
    // event_type's domain is app-bounded (5 values), not corpus-sized.
    "q_winsorize" -> ((s, dir) => {
      val d = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val fences = d.groupBy("event_type").agg(
        round(percentile(col("value"), lit(0.05)), 6).as("lo_r"),
        round(percentile(col("value"), lit(0.95)), 6).as("hi_r"))
      d.join(broadcast(fences), "event_type")
        .filter(col("value") < col("lo_r") || col("value") > col("hi_r"))
        .select(col("event_id"), col("event_type"), col("value"),
          greatest(least(col("value"), col("hi_r")), col("lo_r"))
            .as("clipped"))
        .orderBy("event_id")
    }),

    // Last-touch attribution: credit each converting user's final
    // non-purchase event before their first purchase. Row numbers are
    // a per-user total order on (ts_sec, event_id) — second precision
    // by the cross-engine timestamp rule, event_id breaking ties.
    "q_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_sec"))
        .withColumn("rn", row_number().over(w).cast("long"))
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("rn")).as("prn"))
      // per-user aggregate join: unbounded cardinality — NO broadcast
      // hint (the vocab rule); AQE picks the strategy from size
      e.join(firstPurchase, "user_id")
        .filter(col("rn") < col("prn") && col("event_type") =!= "purchase")
        .groupBy("user_id")
        .agg(max_by(col("event_type"), col("rn")).as("credited"))
        .groupBy(col("credited").as("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    // Equal-depth (quantile) histogram — the profiling complement of
    // q_histogram's fixed-width bins: quartile boundaries from exact
    // interpolated percentiles (rounded — the fence rule — so bin
    // assignment can't ulp-flip), then per-bin count/min/max/mass.
    // Skewed data gets four equally-populated bins instead of one
    // giant bucket; one percentile pass + one scan.
    "q_equi_depth_hist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(dec(col("l_extendedprice")).as("p"))
        .transform(graft.ops.QueryCaches.persist) // thresholds + scan
      // exact interpolated quartiles WITHOUT the single-task global
      // percentile buffer: two-phase global rank, then each quantile
      // is two row lookups + one interpolation (quantile_cont's own
      // h = q·(n−1) formula; the built-in exact percentile funnels
      // the whole column through one reducer — measured 3× slower
      // here and unbounded at 100 TB)
      val ranked = graft.ops.ScaleOps.globalRowNumber(
        li.select(col("p").cast("double").as("pv")), 32, col("pv").asc)
        .transform(graft.ops.QueryCaches.persist) // 3 position lookups
      val nRow = ranked.agg(count(lit(1)).as("n"))
      val pos = Seq(("q1", 0.25), ("q2", 0.5), ("q3", 0.75))
        .map { case (nm, q) =>
          nRow.select(lit(nm).as("qname"),
            (floor((col("n") - 1).cast("double") * lit(q)) + 1)
              .cast("long").as("rlo"),
            ((col("n") - 1).cast("double") * lit(q)).as("h"))
        }.reduce(_ unionByName _)
      val th0 = pos
        .join(ranked.select(col("rn").as("rlo"), col("pv").as("vlo")),
          "rlo")
        .join(ranked.select((col("rn") - 1).as("rlo"),
          col("pv").as("vhi")), Seq("rlo"), "left")
        .withColumn("v", col("vlo") + (col("h") - floor(col("h"))) *
          (coalesce(col("vhi"), col("vlo")) - col("vlo")))
      val th = th0.agg(
        round(max(when(col("qname") === "q1", col("v"))), 6).as("q1"),
        round(max(when(col("qname") === "q2", col("v"))), 6).as("q2"),
        round(max(when(col("qname") === "q3", col("v"))), 6).as("q3"))
      li.crossJoin(broadcast(th))
        .withColumn("bin",
          when(col("p").cast("double") <= col("q1"), 0L)
            .when(col("p").cast("double") <= col("q2"), 1L)
            .when(col("p").cast("double") <= col("q3"), 2L)
            .otherwise(3L))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("p")).cast("double").as("p_min"),
          max(col("p")).cast("double").as("p_max"),
          (sum(col("p")).cast("decimal(18,2)") * 100).cast("bigint")
            .as("mass_c"))
        .orderBy("bin")
    }),

    // Cohort cumulative value (the LTV curve): purchasers grouped by
    // first-purchase week, each cohort's per-user cumulative spend
    // tracked by age-in-weeks. Spend stays DECIMAL end to end
    // (per-row cast, exact sums, exact partitioned-window running
    // sum), so the curve is bit-stable; the cohort size denominator
    // is the age-0 distinct count.
    "q_cohort_value" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("ts_ns div 604800000000000").as("wk"),
          col("value").cast("decimal(18,6)").as("v"))
        .transform(graft.ops.QueryCaches.persist) // cohorts + spend
      val first = e.groupBy("user_id").agg(min("wk").as("cohort"))
      val ca = e.join(first, "user_id")
        .withColumn("age", col("wk") - col("cohort"))
        .groupBy("cohort", "age")
        .agg(countDistinct("user_id").as("n_users"),
          sum("v").as("wv"))
        .transform(graft.ops.QueryCaches.persist) // window + size join
      val size0 = ca.filter(col("age") === 0)
        .select(col("cohort"), col("n_users").as("cohort_size"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ca.withColumn("cum", sum("wv").over(w))
        .join(size0, "cohort")
        .select(col("cohort"), col("age"), col("n_users"),
          col("cohort_size"),
          round(col("cum").cast("double") /
            col("cohort_size").cast("double"), 6).as("cum_per_user_r"))
        .orderBy("cohort", "age")
    }),

    // A/B-test power analysis from OBSERVED moments — the "how long
    // must this experiment run" calculator: per event type, the
    // sample size per arm to detect a 5% lift at α=0.05, power 0.8
    // (z literals 1.96 / 0.84), using the same DECIMAL-exact
    // mean/variance machinery as q_welch_t. Everything after the
    // moments is one mirrored double formula; ceil on identical
    // doubles is identical.
    "q_power_sample" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          col("value").cast("decimal(28,14)").as("x"),
          (col("value") * col("value")).cast("decimal(28,14)").as("x2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("x2").as("sx2"))
        .withColumn("m", col("sx").cast("double") / col("n"))
        .withColumn("v", (col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") /
            col("n")) / (col("n") - 1))
        .withColumn("delta", lit(0.05) * col("m"))
        // degenerate arms guarded BEFORE the projection that casts:
        // a singleton type makes v = 0/0 and a zero-mean type makes
        // delta = 0 — either way ceil(NaN/Inf).cast(long) is an ANSI
        // crash on a row the analyst can't power anyway (the
        // q_adamic_adar guard-at-producing-projection rule; mirrored
        // in the oracle)
        .filter(col("n") > 1 && col("delta") =!= 0.0)
        .select(col("event_type"), col("n"),
          round(col("m"), 6).as("mean_r"),
          round(col("v"), 6).as("var_r"),
          round(col("delta"), 6).as("mde_r"),
          ceil(lit(2.0) * col("v") * lit(7.84) /
            (col("delta") * col("delta"))).cast("long")
            .as("n_per_arm"))
        .orderBy("event_type")
    }),

    // Day-of-week seasonality index — the calendar profile beside the
    // hourly decomposition: events per weekday vs the uniform
    // expectation (index 1.0 = flat). The weekday comes from integer
    // epoch-day arithmetic ((days + 4) mod 7 — engine-free, no
    // date-function dialect risk); shares and indices are exact
    // integer ratios.
    "q_dow_index" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(expr("(ts_ns div 86400000000000 + 4) % 7").as("dow"))
        .groupBy("dow").agg(count(lit(1)).as("n"))
        .transform(graft.ops.QueryCaches.persist) // total + per-dow
      d.count() // eager: broadcast(tot) races the lazy cache
      val tot = d.agg(sum("n").as("total"))
      d.crossJoin(broadcast(tot))
        .select(col("dow"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"),
            6).as("share_r"),
          round(lit(7.0) * col("n").cast("double") /
            col("total").cast("double"), 6).as("index_r"))
        .orderBy("dow")
    }),

    // New-vs-returning daily actives — the growth-accounting split:
    // each day's distinct users partitioned by whether this is their
    // FIRST active day. Two keyed aggregates ((day,user) distinct +
    // per-user min day) and one keyed join; all integer counts.
    "q_new_returning" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(expr("ts_ns div 86400000000000").as("day"),
          col("user_id"))
        .distinct()
        .transform(graft.ops.QueryCaches.persist) // first-day + daily
      val first = du.groupBy("user_id").agg(min("day").as("first_day"))
      du.join(first, "user_id")
        .groupBy("day")
        .agg(sum(when(col("day") === col("first_day"), 1L)
          .otherwise(0L)).as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
        .orderBy("day")
    }),

    // Position-based (U-shaped) multi-touch attribution — the
    // industry-standard upgrade of q_attribution's last-touch: each
    // user's first purchase distributes credit 40/40 to the first and
    // last preceding touch and splits 20 across the middles (1.0 /
    // 0.5-0.5 for one/two-touch paths). Per-touch credits are exact
    // CASE fractions rounded into DECIMAL before the per-type sum
    // (order-independent), so the report is bit-stable however the
    // touches shuffle. Two keyed windows + keyed aggregates — the
    // q_attribution cost shape.
    "q_multi_touch" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_sec"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .transform(graft.ops.QueryCaches.persist) // purchase + touches
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("rn")).as("prn"))
      val touches = e.join(firstPurchase, "user_id")
        .filter(col("rn") < col("prn") &&
          col("event_type") =!= "purchase")
      val k = touches.groupBy("user_id")
        .agg(count(lit(1)).as("k"), min("rn").as("rn_first"),
          max("rn").as("rn_last"))
      touches.join(k, "user_id")
        .withColumn("credit",
          when(col("k") === 1, lit(1.0))
            .when(col("k") === 2, lit(0.5))
            .when(col("rn") === col("rn_first") ||
              col("rn") === col("rn_last"), lit(0.4))
            .otherwise(lit(0.2) / (col("k") - 2).cast("double")))
        .withColumn("cd", round(col("credit"), 12)
          .cast("decimal(20,12)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("cd")).cast("double"), 6).as("credit_r"))
        .orderBy("event_type")
    }),

    // Trailing-20-row z-score anomaly flags per user. The rolling
    // moments accumulate in DECIMAL (sliding-frame double sums differ
    // between Spark's incremental add and DuckDB's segment tree; exact
    // decimals cannot) and convert to double once, in the identical
    // expression both engines run; |z| compares ROUNDED.
    "q_rolling_z" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id")).rowsBetween(-19, 0)
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          round(col("value"), 6).cast("decimal(18,6)").as("vr"))
      e.withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("vr")).over(w))
        .withColumn("sxx",
          sum((col("vr") * col("vr")).cast("decimal(38,12)")).over(w))
        .filter(col("n") >= 10)
        .withColumn("varnum",
          col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx")))
        .filter(col("varnum") > 0)
        .select(col("user_id"), col("event_id"),
          round((d(col("vr")) - d(col("sx")) / col("n")) /
            sqrt(col("varnum") / (col("n") * (col("n") - lit(1)))), 6)
            .as("z_r"))
        .filter(abs(col("z_r")) > lit(2.5))
        .orderBy("user_id", "event_id")
    }),

    // ANALYZE-style single-pass column statistics: ONE aggregate
    // produces every column's null count, exact NDV and min/max (the
    // multi-distinct aggregate runs as one scan via Spark's Expand —
    // 3× the rows through the shuffle, one pass over the table, vs
    // the oracle's per-column rescans), then stack() unpivots to a
    // row per column — the CBO-stats collection shape.
    "q_table_stats" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val li = t(s, dir, "lineitem")
      val aggs = count(lit(1)).as("n") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
          countDistinct(col(c)).as(s"ndv_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c")))
      val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', nulls_$c, ndv_$c, min_$c, max_$c").mkString(", ") +
        ") AS (col_name, n_nulls, ndv, min_v, max_v)"
      li.agg(aggs.head, aggs.tail: _*)
        .selectExpr("n", stackExpr)
        .select(col("col_name"), col("n"), col("n_nulls"), col("ndv"),
          col("min_v"), col("max_v"))
        .orderBy("col_name")
    }),

    // Fuzzy entity-resolution join: edit-distance ≤ 1 customer-name
    // pairs via the q-gram count filter + exact levenshtein verify
    // (uncapped postings to mirror the oracle).
    "q_fuzzy_join" -> ((s, dir) =>
      graft.ops.FuzzyJoin.editDistancePairs(
        t(s, dir, "customer").filter(col("c_custkey") < 400),
        "c_custkey", "c_name", maxDist = 1, q = 2,
        maxPosting = Int.MaxValue)
        .select(col("a"), col("b"), col("dist"))
        .orderBy("a", "b")),

    // Jaro-Winkler entity resolution under blocking: part-name pairs
    // scored inside (brand, size) blocks by the native
    // JaroWinkler expression (codegen'd kernel, DuckDB-bit-compatible
    // — see JaroWinklerKernel). Blocking bounds the self-join the way
    // record-linkage pipelines do at scale: candidates only within a
    // block, never corpus × corpus. NOTE the contract: the
    // (brand × size) key DOMAIN is fixed, so mean block size grows
    // linearly with the corpus and the within-block join is
    // quadratic at 100 TB — production callers must refine the
    // blocking key or set FuzzyJoin.capBlocks' maxBlockSize (the
    // GateScale.uncapped doctrine; the gates run uncapped to mirror
    // the exact oracle, affordable at gate-scale block sizes ≤7).
    // Threshold compares the ROUNDED similarity
    // (round-before-threshold rule).
    "q_jaro_block" -> ((s, dir) =>
      blockedPartPairs(partBlockFrame(s, dir))
        .withColumn("sim_r", nameSimR)
        .filter(col("sim_r") >= lit(0.86))
        .select("pa", "pb", "sim_r")
        .orderBy("pa", "pb")),

    // Entity resolution end-to-end: the q_jaro_block match pairs
    // (brand+size blocking, native Jaro-Winkler ≥ 0.86) closed into
    // duplicate-entity clusters by the SAME large-star/small-star
    // contraction that powers text dedup (TextDedup.clusters —
    // O(log²) rounds, checkpoint-cut, diameter-independent). Each
    // part resolves to its cluster's minimum key — the survivorship
    // id a master-data pipeline carries forward.
    "q_er_clusters" -> ((s, dir) => {
      // shared blocked universe (persisted: pairs ×2 + id universe)
      val p = partBlockFrame(s, dir)
      val pairs = blockedPartPairs(p)
        .filter(nameSimR >= lit(0.86))
        .select(col("pa").as("a"), col("pb").as("b"))
      graft.ops.TextDedup.clusters(p.select(col("p_partkey")), pairs)
        .orderBy("id")
    }),

    // Fellegi–Sunter probabilistic record linkage (JASA 1969; the
    // Splink-style scoring layer on top of the q_jaro_block blocked
    // candidates): each compared field contributes log2(m/u) on
    // agreement and log2((1−m)/(1−u)) on disagreement, and the summed
    // match weight classifies link / possible / nonlink. The weights
    // are MICRO-INTEGER literals (log2 ratios precomputed at 6dp,
    // ×1e6) so the score is an exact BIGINT sum — no float surface at
    // all beyond the established round(jw,6) ≥ 0.86 agreement fence
    // and the rounded price-delta band. Fields: name (JW band,
    // m=0.9/u=0.05 → ±4169925/−3247928), type equality
    // (m=0.8/u=0.02 → +5321928/−2292782), retail-price-within-50 band
    // (m=0.7/u=0.025 → +4807355/−1700440). Output keeps the
    // score ≥ 0 pairs (possible + link) — the review queue a linkage
    // pipeline actually materializes; nonlinks are the quadratic
    // bulk and stay unmaterialized. Same capBlocks contract as its
    // siblings: fixed block-key domain ⇒ capBlocks at production
    // scale (GateScale.uncapped mirrors the exact oracle here).
    "q_linkage_fs" -> ((s, dir) =>
      fsAgreementBits(s, dir)
        .withColumn("score_u",
          (when(col("agr_name") === 1, lit(4169925L))
            .otherwise(lit(-3247928L)) +
           when(col("agr_type") === 1, lit(5321928L))
            .otherwise(lit(-2292782L)) +
           when(col("agr_price") === 1, lit(4807355L))
            .otherwise(lit(-1700440L))).cast("long"))
        .filter(col("score_u") >= 0L)
        .withColumn("decision",
          when(col("score_u") >= 9000000L, lit("link"))
            .otherwise(lit("possible")))
        .select(col("pa"), col("pb"), col("agr_name"), col("agr_type"),
          col("agr_price"), col("score_u"), col("decision"))
        .orderBy("pa", "pb")),

    // EM estimation of the Fellegi–Sunter parameters from the SAME
    // unlabeled candidate pairs (Winkler 1988; the Splink training
    // step): the agreement-pattern distribution is a two-component
    // mixture and 4 EM rounds recover λ (match proportion) and the
    // per-field m/u the fixed-weight q_linkage_fs hardcodes — the
    // trainable-linkage companion to QualityModel's trainable filter.
    // Corpus-side work is ONE aggregate into ≤ 8 pattern counts
    // (bounded collect); the rounds are pure +,−,×,÷ on those counts
    // — every step a correctly-rounded IEEE op, so the oracle's
    // unrolled-CTE replay is bit-identical with NO transcendental
    // drift anywhere (see FuzzyJoin.linkageEm for the decimal-exact
    // sum treatment).
    "q_linkage_em" -> ((s, dir) => {
      val (lam, m, u) = graft.ops.FuzzyJoin.linkageEm(
        fsAgreementBits(s, dir)
          .select("agr_name", "agr_type", "agr_price"),
        Seq("agr_name", "agr_type", "agr_price"), iters = 4)
      import s.implicits._
      Seq(("lam", lam),
        ("m_name", m(0)), ("m_type", m(1)), ("m_price", m(2)),
        ("u_name", u(0)), ("u_type", u(1)), ("u_price", u(2)))
        .toDF("param", "v")
        .select(col("param"), round(col("v"), 6).as("value_r"))
        .orderBy("param")
    }),

    // Blocking-scheme evaluation — the measurement table the linkage
    // family was missing (the q_minhash_recall / q_dedup_precision
    // precedent), one row PER CANDIDATE BLOCKING KEY so the table
    // ranks schemes instead of indicting one: reduction ratio =
    // 1 − |candidate pairs|/|all pairs| and pairs completeness
    // against the shared truth (pairs sharing a name trigram with
    // JW ≥ 0.86 — the honest, equi-join-computable stand-in for the
    // all-pairs truth a cartesian would need; a JW ≥ 0.86 pair
    // sharing NO trigram is possible in principle and excluded by
    // definition, which also means the trigram scheme's completeness
    // is 1.0 by construction — still COMPUTED via the membership
    // join, not asserted). brand_size's candidate count comes from
    // COUNTS ONLY (Σ b(b−1)/2 per block — no pair frame
    // materialized); name_trigram's counts the distinct pair frame
    // the truth derivation materializes anyway. Bounded slice like
    // its measurement siblings; every join is a key equi-join, every
    // scalar a 1-row broadcast; both persisted frames eagerly counted
    // (concurrent broadcast subtrees re-run a LAZY cache).
    "q_blocking_quality" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_partkey") < 1000 && length(col("p_name")) >= 3)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_size"))
        .transform(graft.ops.QueryCaches.persist) // counts, grams, attrs
      p.count() // eager: four readers race a lazy cache
      val nRow = p.agg(count(lit(1)).as("n"))
      val candBS = p.groupBy("p_brand", "p_size")
        .agg(count(lit(1)).as("b"))
        .agg(sum(expr("(b * (b - 1)) div 2")).as("n_cand"))
      val grams = p.select(col("p_partkey").as("id"),
          col("p_name").as("nm"),
          explode(expr(
            "transform(sequence(1, length(p_name) - 2), " +
              "i -> substring(p_name, i, 3))")).as("gr"))
        .distinct()
      val candTri = grams.select(col("id").as("a"), col("nm").as("name_a"),
          col("gr"))
        .join(grams.select(col("id").as("b"), col("nm").as("name_b"),
          col("gr")), Seq("gr"))
        .filter(col("a") < col("b"))
        .select("a", "b", "name_a", "name_b").distinct()
        .transform(graft.ops.QueryCaches.persist) // count + truth filter
      candTri.count() // eager: two broadcast readers
      val candTriN = candTri.agg(count(lit(1)).as("n_cand"))
      val tm = candTri
        .filter(nameSimR >= lit(0.86))
        .select("a", "b")
        .transform(graft.ops.QueryCaches.persist) // truth + 2 found joins
      tm.count() // eager: three broadcast readers
      val truthN = tm.agg(count(lit(1)).as("n_true"))
      val attrs = p.select(col("p_partkey"), col("p_brand"), col("p_size"))
      val foundBS = tm
        .join(attrs.select(col("p_partkey").as("a"),
          col("p_brand").as("ba"), col("p_size").as("sa")), "a")
        .join(attrs.select(col("p_partkey").as("b"),
          col("p_brand").as("bb"), col("p_size").as("sb")), "b")
        .filter(col("ba") === col("bb") && col("sa") === col("sb"))
        .agg(count(lit(1)).as("n_found"))
      val foundTri = tm
        .join(candTri.select(col("a"), col("b")), Seq("a", "b"))
        .agg(count(lit(1)).as("n_found"))
      def row(scheme: String, cand: DataFrame, found: DataFrame) =
        nRow.crossJoin(broadcast(cand)).crossJoin(broadcast(truthN))
          .crossJoin(broadcast(found))
          .select(lit(scheme).as("scheme"),
            col("n").cast("long").as("n"),
            expr("(n * (n - 1)) div 2").cast("long").as("n_all"),
            col("n_cand").cast("long").as("n_cand"),
            round(lit(1.0) - col("n_cand").cast("double") /
              expr("(n * (n - 1)) div 2").cast("double"), 6)
              .as("reduction_r"),
            col("n_true").cast("long").as("n_true"),
            col("n_found").cast("long").as("n_found"),
            round(when(col("n_true") === 0L, lit(1.0))
              .otherwise(col("n_found").cast("double") /
                col("n_true").cast("double")), 6).as("completeness_r"))
      row("brand_size", candBS, foundBS)
        .unionAll(row("name_trigram", candTriN, foundTri))
        .orderBy("scheme")
    }),

    // Robust outliers by median absolute deviation (TimeSeries
    // .madOutliers): rows beyond 3×MAD of their event-type median.
    // Exact interpolating medians (the q_quantiles parity), rounded
    // deviation vs rounded fence.
    "q_mad_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.ops.TimeSeries.madOutliers(e, Seq("event_type"), "value",
        k = 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("val_r"), col("dev_r"),
          col("fence_r"))
        .orderBy("event_id")
    }),

    // Truncated EWMA baseline over per-user hourly activity
    // (TimeSeries.ewmaTruncated): a fixed 12-term weighted lag chain,
    // left-associated identically on both engines — bit-equal without
    // rounding slack (still rounded for the gate hash). The oracle's
    // weight literals are generated from the SAME ewmaWeights values.
    "q_ewma" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") % 97 === 0)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.ewmaTruncated(hourly, Seq("user_id"), "h",
        "n", alpha = 0.25, lags = 12)
        .select(col("user_id"), col("h"), col("n"), col("ewma_r"))
        .orderBy("user_id", "h")
    }),

    // Gaps-and-islands interval coalescing (TimeSeries
    // .mergeIntervals): 5-minute activity windows per user merged
    // into maximal busy spans. Spans are disjoint per user, so
    // (user_id, span_start) is a total order.
    "q_interval_merge" -> ((s, dir) => {
      val iv = Tables.events(s, dir).filter(col("user_id") % 59 === 0)
        .select(col("user_id"), col("ts_sec").as("ivl_start"),
          (col("ts_sec") + expr("interval 5 minutes")).as("ivl_end"))
      graft.ops.TimeSeries.mergeIntervals(iv, Seq("user_id"),
        "ivl_start", "ivl_end")
        .orderBy("user_id", "span_start")
    }),

    // Linear interpolation across gap-filled nulls (TimeSeries
    // .interpolateLinear composed over gapFill): the between-points
    // fill LOCF can't express. The lerp runs over exact integer epoch
    // seconds in the same association on both engines — bit-equal
    // before the gate round. Grid bounds are present rows, so no
    // edge nulls exist.
    "q_interp" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") % 97 === 0 && col("value").isNotNull)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
        .groupBy("user_id", "h").agg(max(col("value")).as("mx"))
      val grid = graft.ops.TimeSeries.gapFill(hourly, "user_id", "h",
        Nil, expr("interval 1 hour"))
      graft.ops.TimeSeries.interpolateLinear(grid, Seq("user_id"), "h",
        "mx")
        .select(col("user_id"), col("h"), col("is_gap"), col("interp_r"))
        .orderBy("user_id", "h")
    }),

    // Mann-Whitney U (Stats.mannWhitneyU): click vs view value
    // distributions. Ranks via the distributed globalRowNumber path
    // (never a single-partition window); tie handling by average
    // rank, exact in doubles (dyadic halves).
    "q_mannwhitney" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull &&
          col("event_type").isin("click", "view"))
      graft.ops.Stats.mannWhitneyU(e, "event_type", "value", "event_id")
        .orderBy("g")
    }),

    // Benford leading-digit screen (Stats.benfordDigits) over order
    // totals: digit from the floored integer part's string form
    // (floor-not-round — decimal casts differ in half mode at 10^k
    // boundaries), expected share ln(1+1/d)/ln(10).
    "q_benford" -> ((s, dir) =>
      graft.ops.Stats.benfordDigits(
        t(s, dir, "orders").select(col("o_totalprice")), "o_totalprice")
        .orderBy("digit")),

    // Rendezvous (HRW) shard assignment (ScaleOps.rendezvousAssign):
    // customers onto 8 shards as a pure codegen'd projection — no
    // exchange, no explode; the spec pins the minimal-movement
    // property on reshard. Gate checks the full assignment via
    // per-shard counts and key extremes.
    "q_rendezvous" -> ((s, dir) => {
      val shards = (0 until 8).map(i => s"shard_$i")
      graft.ops.ScaleOps.rendezvousAssign(
        t(s, dir, "customer").select(col("c_custkey")),
        "c_custkey", shards)
        .groupBy("shard")
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy("shard")
    }),

    // Per-group OLS trend lines from exact DECIMAL moments (the
    // q_corr_exact pattern): x = integer hour buckets (ts_ns div —
    // the CLAUDE.md integer-time rule), v = rounded-decimal values;
    // slope/intercept computed once in doubles both engines share.
    "q_trend_lines" -> ((s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("ts_ns div 3600000000000").cast("decimal(18,0)").as("x"),
          round(col("value"), 6).cast("decimal(18,6)").as("v"))
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("v")).as("sv"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("x") * col("v")).cast("decimal(38,6)")).as("sxv"))
        .withColumn("varnum",
          col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx")))
        .filter(col("varnum") > 0)
        .withColumn("slope",
          (col("n") * d(col("sxv")) - d(col("sx")) * d(col("sv"))) /
            col("varnum"))
        .select(col("event_type"), col("n"),
          round(col("slope"), 6).as("slope_r"),
          round((d(col("sv")) - col("slope") * d(col("sx"))) / col("n"), 6)
            .as("icept_r"))
        .orderBy("event_type")
    }),

    // First-order Markov transitions between event types: per-user
    // lag over the (ts_sec, event_id) total order, then transition
    // counts and P(to|from) — the behavioral-sequence model. One
    // keyed window exchange + two tiny aggregates.
    "q_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_sec"),
          col("event_id"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
      tr.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("p_r"))
        .orderBy("from_type", "to_type")
    }),

    // Market-basket pairs: parts co-purchased within an order, counted
    // across orders (support >= 2 to drop the singleton tail). The
    // per-order distinct part set is persisted once — self-joins
    // re-execute their upstream otherwise. The uncapped self-join on
    // l_orderkey is safe ONLY because TPC-H order size is bounded
    // (≤ 7 lineitems — Σ deg² ≤ 49·|orders|); an unbounded basket key
    // must go through GraphOps.coOccurrenceEdges' maxKeyDegree cap.
    "q_basket_pairs" -> ((s, dir) => {
      val base = graft.ops.QueryCaches.persist(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
          .distinct())
      base.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(base.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .orderBy("pa", "pb")
    }),

    // Triangle enumeration on the supplier co-purchase graph (edge ⟺
    // ≥ 190 shared customers — the uniform synthetic purchases make
    // the fold dense, so the edge test is a high co-purchase bar): ordered-edge (a<b<c) three-way join —
    // each triangle found exactly once, no orientation duplicates.
    // The fold from the bipartite purchase graph is the expensive
    // step and is persisted before the triple join reuses it 3×.
    // GraphOps.coOccurrenceEdges carries the per-customer degree cap
    // (a hot buyer makes the fold quadratic); the gates pass
    // GateScale.uncapped — rationale and the production cap contract
    // live on that constant.
    "q_triangles" -> ((s, dir) => {
      val sc = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      val edges = graft.ops.QueryCaches.persist(
        graft.ops.GraphOps.coOccurrenceEdges(sc, "s", "c",
          minShared = 190L, maxKeyDegree = GateScale.uncapped)
          .select(col("ia").as("sa"), col("ib").as("sb")))
      edges.select(col("sa").as("a"), col("sb").as("b"))
        .join(edges.select(col("sa").as("b"), col("sb").as("c")), "b")
        .join(edges.select(col("sa").as("a"), col("sb").as("c")),
          Seq("a", "c"))
        .select(col("a"), col("b"), col("c"))
        .orderBy("a", "b", "c")
    }),

    // Degree distribution of the supplier–customer bipartite graph in
    // log2 bins (bin = bit length of the distinct-neighbor degree) —
    // the first diagnostic a graph pipeline prints (is this
    // power-law? where do the hubs start?). Bit length is the same
    // highest-bit-first CASE chain on both engines (the engine-
    // portable bit-math rule, no floor(log2)); output is bounded by
    // 2 roles × 64 bins however big the graph. One distinct + two
    // keyed counts + one bounded aggregate.
    "q_degree_dist" -> ((s, dir) => {
      val sc = graft.ops.QueryCaches.persist(
        t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"))
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
          .distinct())
      val bitLen = {
        val d = col("d")
        (61 to 0 by -1).foldLeft(when(d >= lit(1L << 62), lit(63)))(
          (acc, k) => acc.when(d >= lit(1L << k), lit(k + 1)))
          .otherwise(lit(0)).cast("long")
      }
      val sd = sc.groupBy("s").agg(count(lit(1)).as("d"))
        .select(lit("supplier").as("role"), col("d"))
      val cd = sc.groupBy("c").agg(count(lit(1)).as("d"))
        .select(lit("customer").as("role"), col("d"))
      sd.unionAll(cd)
        .withColumn("bin", bitLen)
        .groupBy("role", "bin")
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
        .orderBy("role", "bin")
    }),

    // Neighbor-overlap (Jaccard) similarity between suppliers on the
    // same bipartite graph: |N(a)∩N(b)| / |N(a)∪N(b)| over the
    // co-occurrence pairs sharing ≥190 customers — structural-
    // equivalence mining ("which suppliers serve the same market?").
    // The pair join is GraphOps.coOccurrenceEdges (hot-key cap knob
    // available; exact here), degrees join back from the SAME
    // persisted distinct relation, and the ratio is an exact integer
    // division.
    // Degree assortativity of the supplier co-occurrence graph —
    // Pearson r of endpoint degrees over every (directed) edge: do
    // hubs link hubs (r>0, resilient core) or leaves (r<0, hub-and-
    // spoke)? The last number in the graph-stats panel (coefficient,
    // triangles, degree distribution). Exact integer moments over the
    // symmetrized edge list; one mirrored double formula.
    "q_assortativity" -> ((s, dir) => {
      val sc = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      val edges = graft.ops.QueryCaches.persist(
        graft.ops.GraphOps.coOccurrenceEdges(sc, "s", "c",
          minShared = 190L, maxKeyDegree = GateScale.uncapped)
          .select(col("ia").as("sa"), col("ib").as("sb")))
      val deg = edges.select(col("sa").as("v"))
        .unionAll(edges.select(col("sb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val dir2 = edges.select(col("sa").as("u"), col("sb").as("w"))
        .unionAll(edges.select(col("sb").as("u"), col("sa").as("w")))
      dir2
        .join(deg.select(col("v").as("u"), col("deg").as("x")), "u")
        .join(deg.select(col("v").as("w"), col("deg").as("y")), "w")
        .agg(count(lit(1)).as("m"),
          sum("x").cast("double").as("sx"),
          sum("y").cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        .select(col("m"),
          round((col("m").cast("double") * col("sxy") -
            col("sx") * col("sy")) /
            sqrt((col("m").cast("double") * col("sxx") -
              col("sx") * col("sx")) *
              (col("m").cast("double") * col("syy") -
                col("sy") * col("sy"))), 6).as("r_r"))
    }),

    // Kendall's τ-b rank correlation of the hourly arrival series vs
    // time — the nonparametric monotone-trend test beside Theil–Sen's
    // slope: concordant/discordant/tied counts over the SAME
    // calendar-bounded pair join, all exact integers until the final
    // τ (hours are distinct, so the x-tie term vanishes; y ties enter
    // the denominator exactly).
    "q_kendall_tau" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // pair sides + ties
      hourly.count() // eager: broadcast(ties) races the lazy cache
      val p = hourly.select(col("hr").as("h1"), col("cnt").as("c1"))
        .join(hourly.select(col("hr").as("h2"), col("cnt").as("c2")),
          col("h1") < col("h2"))
        .agg(count(lit(1)).as("n0"),
          sum(when(col("c2") > col("c1"), 1L).otherwise(0L)).as("c"),
          sum(when(col("c2") < col("c1"), 1L).otherwise(0L)).as("d"))
      val ties = hourly.groupBy("cnt").agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
      p.crossJoin(broadcast(ties))
        .select(col("n0"), col("c"), col("d"), col("n2"),
          // each factor cast to double BEFORE the product: n0 is
          // H(H−1)/2, so n0·(n0−n2) ~ H⁴/4 overflows BIGINT (ANSI
          // error, both engines) once the calendar spans ~9 years;
          // the oracle mirrors the double-first association
          round((col("c") - col("d")).cast("double") /
            sqrt(col("n0").cast("double") *
              (col("n0") - col("n2")).cast("double")),
            6).as("tau_r"))
    }),

    // Wald–Wolfowitz runs test on the hourly series (above/below the
    // median): too FEW runs means trending/clustered arrivals, too
    // many means oscillation — the randomness sanity check before
    // trusting i.i.d.-flavored statistics. The orderd adjacency comes
    // from the two-phase globalRowNumber (no single-partition
    // window); runs, n1, n2 are exact integers and the normal
    // approximation's z is one mirrored double expression.
    "q_runs_test" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // median + sequence
      val med = hourly.agg(percentile(col("cnt"), lit(0.5)).as("med"))
      val signed = hourly.crossJoin(broadcast(med))
        .filter(col("cnt").cast("double") =!= col("med"))
        .withColumn("s",
          when(col("cnt").cast("double") > col("med"), 1L)
            .otherwise(0L))
      val rn = graft.ops.ScaleOps.globalRowNumber(signed, 8,
        col("hr").asc)
        .select(col("rn"), col("s"))
        .transform(graft.ops.QueryCaches.persist) // both adjacency sides
      val changes = rn.select(col("rn"), col("s"))
        .join(rn.select((col("rn") - 1).as("rn"), col("s").as("s2")),
          "rn")
        .agg(sum(when(col("s") =!= col("s2"), 1L).otherwise(0L))
          .as("nchg"))
      val counts = rn.agg(sum(col("s")).as("n1"),
        sum(lit(1L) - col("s")).as("n2"))
      counts.crossJoin(changes)
        .withColumn("runs", col("nchg") + 1)
        .withColumn("nn", (col("n1") + col("n2")).cast("double"))
        .withColumn("p2", lit(2.0) * col("n1").cast("double") *
          col("n2").cast("double"))
        .withColumn("mu", col("p2") / col("nn") + lit(1.0))
        .withColumn("s2", (col("p2") * (col("p2") - col("nn"))) /
          (col("nn") * col("nn") * (col("nn") - lit(1.0))))
        .select(col("n1"), col("n2"), col("runs"),
          round((col("runs").cast("double") - col("mu")) /
            sqrt(col("s2")), 6).as("z_r"))
    }),

    // Robust (median/IQR) scaling audit per event type — the
    // outlier-immune standardization (the mean/std path is
    // q_embed_standardize): exact interpolated percentiles give the
    // center and scale, and the audit reports the scaled extremes and
    // the out-of-fence count per type. Scaled per-row values compare
    // on ROUNDED numbers (fence rule); IQR=0 groups are reported with
    // the -1 sentinel instead of dividing.
    "q_robust_scale" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("value"))
        .transform(graft.ops.QueryCaches.persist) // percentiles + scan
      val q = e.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"),
          (percentile(col("value"), lit(0.75)) -
            percentile(col("value"), lit(0.25))).as("iqr"))
      e.join(q, "event_type")
        .withColumn("z_r", when(col("iqr") > 0,
          round((col("value") - col("med")) / col("iqr"), 6))
          .otherwise(lit(-1.0)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 6).as("med_r"),
          round(max(col("iqr")), 6).as("iqr_r"),
          round(min(col("z_r")), 6).as("zmin_r"),
          round(max(col("z_r")), 6).as("zmax_r"),
          sum(when(abs(col("z_r")) > 2.0, 1L).otherwise(0L))
            .as("n_outside"))
        .orderBy("event_type")
    }),

    // Order-invariant table checksum — the replication/migration
    // primitive: did two jobs produce the SAME table, without sorting
    // either copy? Per-row md5 over the integer-exact key+measure
    // tuple → 32-bit value → plain SUM (magnitudes bounded far below
    // Long overflow at any tested SF; a production form sums mod a
    // prime). Any row difference, duplication, or loss moves the sum;
    // row order never does. One scan, one aggregate, no exchange
    // before the final combine.
    "q_table_checksum" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(conv(substring(md5(concat_ws("|",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"),
          col("l_partkey").cast("string"),
          col("l_suppkey").cast("string"),
          (dec(col("l_quantity")) * 100).cast("long").cast("string"),
          (dec(col("l_extendedprice")) * 100).cast("long")
            .cast("string"))), 1, 8), 16, 10).cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
    }),

    // Time-weighted average (TWAP) per user: each observation holds
    // until the next one arrives, so its weight is the inter-event
    // gap — the right average for irregularly-sampled series, where
    // the plain mean over-counts bursts. The value·dt products cast
    // to DECIMAL before summing (order-independent), the total span
    // is an exact integer sum; one keyed window + one keyed
    // aggregate.
    "q_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("value"))
        .withColumn("dt", lead("ts_ns", 1).over(w) - col("ts_ns"))
        .filter(col("dt").isNotNull)
        .withColumn("wv", (col("value") * col("dt").cast("double"))
          .cast("decimal(28,8)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"), sum("dt").as("span_ns"),
          sum("wv").as("swv"))
        .select(col("user_id"), col("n_intervals"), col("span_ns"),
          round(col("swv").cast("double") /
            col("span_ns").cast("double"), 6).as("twap_r"))
        .orderBy("user_id")
    }),

    // Lag/rolling feature generation — the feature-engineering pass a
    // training pipeline runs over event history: previous values,
    // inter-event gap, and a 3-row rolling mean per user, all from
    // ONE keyed window (single user_id exchange; the frame order is
    // the accumulation order on both engines, so even the float
    // rolling mean is deterministic).
    "q_lag_features" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val w3 = w.rowsBetween(-2, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("value"))
        .withColumn("lag1_r", round(lag("value", 1).over(w), 6))
        .withColumn("lag2_r", round(lag("value", 2).over(w), 6))
        .withColumn("rmean3_r", round(avg("value").over(w3), 6))
        .withColumn("dt_ns", col("ts_ns") - lag("ts_ns", 1).over(w))
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          round(col("value"), 6).as("value_r"), col("lag1_r"),
          col("lag2_r"), col("rmean3_r"), col("dt_ns"))
        .orderBy("user_id", "ts_ns", "event_id")
    }),

    // One-hot categorical encoding via pivot with a LITERAL value
    // list (an unlisted category can appear in new data without
    // changing the schema — the trained-model contract): per user,
    // presence flags per event type. One keyed exchange; the pivot
    // width is the literal list, not data-dependent.
    "q_one_hot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p) { (df, ty) =>
        df.withColumn(s"oh_$ty",
          when(coalesce(col(ty), lit(0L)) > 0, 1L).otherwise(0L))
      }
        .select(col("user_id") +: types.map(ty => col(s"oh_$ty")): _*)
        .orderBy("user_id")
    }),

    // Leave-one-out target encoding — the categorical feature trick
    // that leaks without the leave-one-out correction: each row's
    // category encoding is (Σy − y_row)/(n − 1) over ITS OWN
    // category. The numerator stays exact DECIMAL (one subtraction
    // from the category aggregate), the per-category audit moments
    // sum decimal-cast encodings (order-independent); singleton
    // categories are excluded (undefined denominator).
    "q_target_encoding" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("cat"),
          dec(col("l_extendedprice")).as("y"))
        .transform(graft.ops.QueryCaches.persist) // agg + encode arms
      val g = li.groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      li.join(g, "cat")
        .filter(col("n") > 1)
        .withColumn("enc", (col("sy") - col("y")).cast("double") /
          (col("n") - 1).cast("double"))
        .groupBy("cat")
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("enc")), 6).as("min_enc_r"),
          round(max(col("enc")), 6).as("max_enc_r"),
          round(sum(col("enc").cast("decimal(28,10)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_enc_r"))
        .orderBy("cat")
    }),

    // Per-group OLS (price ~ quantity by return flag) — the grouped
    // twin of q_trend_lines: slope, intercept and R² per segment from
    // ONE aggregate of DECIMAL-exact moments (n, Σx, Σy, Σxx, Σyy,
    // Σxy); the closed forms are a fixed double expression mirrored
    // verbatim. No per-group iteration, no ML library — regression at
    // 100 TB is five exact sums.
    "q_grouped_ols" -> ((s, dir) => {
      val nD = col("n").cast("double")
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), dec(col("l_quantity")).as("x"),
          dec(col("l_extendedprice")).as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("x").cast("double").as("sx"),
          sum("y").cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        .withColumn("dxx", nD * col("sxx") - col("sx") * col("sx"))
        .withColumn("dyy", nD * col("syy") - col("sy") * col("sy"))
        .withColumn("dxy", nD * col("sxy") - col("sx") * col("sy"))
        .filter(col("dxx") > 0 && col("dyy") > 0) // degenerate groups out
        .select(col("l_returnflag"), col("n"),
          round(col("dxy") / col("dxx"), 6).as("slope_r"),
          round((col("sy") - (col("dxy") / col("dxx")) * col("sx")) /
            nD, 6).as("icept_r"),
          round((col("dxy") * col("dxy")) / (col("dxx") * col("dyy")),
            6).as("r2_r"))
        .orderBy("l_returnflag")
    }),

    // Bivariate Mahalanobis outliers over (quantity, price): the
    // covariance-aware distance that catches rows each univariate
    // fence calls normal (cheap quantity at luxury price). The 2×2
    // covariance inverts ANALYTICALLY, so the whole test is: exact
    // DECIMAL moments (one aggregate), five broadcast scalars, one
    // per-row quadratic form — no matrix library, no second pass.
    // Top-20 via distributed TakeOrdered on the rounded distance.
    "q_mahalanobis" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_quantity")).as("x"),
          dec(col("l_extendedprice")).as("y"))
        .transform(graft.ops.QueryCaches.persist) // moments + scoring
      val m = li.agg(count(lit(1)).as("n"),
        sum("x").cast("double").as("sx"),
        sum("y").cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      li.crossJoin(broadcast(m))
        .withColumn("mx", col("sx") / col("n"))
        .withColumn("my", col("sy") / col("n"))
        .withColumn("vx",
          (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
        .withColumn("vy",
          (col("syy") - col("sy") * col("sy") / col("n")) / col("n"))
        .withColumn("cxy",
          (col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
        .withColumn("det",
          col("vx") * col("vy") - col("cxy") * col("cxy"))
        .filter(col("det") > 0) // degenerate covariance: no outliers
        .withColumn("dx", col("x").cast("double") - col("mx"))
        .withColumn("dy", col("y").cast("double") - col("my"))
        .withColumn("d2_r", round(
          (col("vy") * col("dx") * col("dx") -
            lit(2.0) * col("cxy") * col("dx") * col("dy") +
            col("vx") * col("dy") * col("dy")) / col("det"), 6))
        .orderBy(col("d2_r").desc, col("l_orderkey"),
          col("l_linenumber")).limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("x").cast("double").as("qty"),
          col("y").cast("double").as("price"), col("d2_r"))
    }),

    // The Expectations suite pointed at the documents corpus — the
    // text-side twin of q_expectations (relational): id uniqueness,
    // non-null text/lang/source, the n_chars column agreeing with the
    // text it describes, ISO-ish language codes, and a length range.
    // Counts-only, same 100 TB shape.
    "q_doc_expectations" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .transform(graft.ops.QueryCaches.persist) // five check scans
      graft.ops.Expectations.report(Seq(
        graft.ops.Expectations.unique(d, "doc_id_unique", Seq("doc_id")),
        graft.ops.Expectations.notNull(d, "doc_fields_not_null",
          Seq("text", "lang", "source")),
        graft.ops.Expectations.satisfies(d, "n_chars_matches_len",
          col("n_chars") === length(col("text")).cast("long")),
        graft.ops.Expectations.satisfies(d, "lang_iso2",
          col("lang").rlike("^[a-z]{2}$")),
        graft.ops.Expectations.inRange(d, "n_chars_range", "n_chars",
          lit(1L), lit(100000L))))
    }),

    // Seasonal-naive forecast backtest: forecast(hour) = actual(hour
    // − 168) (the weekly-naive baseline every real forecast must
    // beat), evaluated as MAE + MAPE over every hour that has both.
    // MAE is an exact integer sum; MAPE's per-hour ratios are rounded
    // into DECIMAL(20,12) BEFORE summing (order-independent — the
    // gradient-sum treatment), so neither metric depends on
    // aggregation order. One keyed self-join on the bounded hourly
    // frame.
    "q_forecast_eval" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // actual + lag arms
      hourly
        .join(hourly.select((col("hr") + 168).as("hr"),
          col("cnt").as("fc")), "hr")
        .withColumn("ae", abs(col("cnt") - col("fc")))
        .withColumn("rt", (col("ae").cast("double") /
          col("cnt").cast("double")).cast("decimal(20,12)"))
        .agg(count(lit(1)).as("n_hours"), sum("ae").as("sae"),
          sum("rt").as("srt"))
        .select(col("n_hours"), col("sae"),
          round(col("sae").cast("double") /
            col("n_hours").cast("double"), 6).as("mae_r"),
          round(col("srt").cast("double") /
            col("n_hours").cast("double"), 6).as("mape_r"))
    }),

    // Welch's unequal-variance t-test: click vs purchase event
    // values — the A/B-test statistic beside the rank-based
    // q_mannwhitney and the k-group q_anova. Moments are exact:
    // every value (and its square) rounds into DECIMAL(28,14) before
    // the sum, so means/variances come from order-independent
    // aggregates; t and the Welch–Satterthwaite df are then a fixed
    // double expression mirrored verbatim in the oracle.
    "q_welch_t" -> ((s, dir) => {
      val m = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          col("value").cast("decimal(28,14)").as("x"),
          (col("value") * col("value")).cast("decimal(28,14)").as("x2"))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("x2").as("sx2"))
        // a singleton arm makes va/vb divide by (n−1) = 0 → NaN
        // outputs whose repr the two engines need not share; a test
        // needs n ≥ 2 per arm anyway (oracle mirrors the HAVING)
        .filter(col("n") > 1)
        .transform(graft.ops.QueryCaches.persist) // both sample arms
      val a = m.filter(col("event_type") === "click")
        .select(col("n").as("na"), col("sx").cast("double").as("sxa"),
          col("sx2").cast("double").as("sx2a"))
      val b = m.filter(col("event_type") === "purchase")
        .select(col("n").as("nb"), col("sx").cast("double").as("sxb"),
          col("sx2").cast("double").as("sx2b"))
      a.crossJoin(b)
        .withColumn("ma", col("sxa") / col("na"))
        .withColumn("mb", col("sxb") / col("nb"))
        .withColumn("va", (col("sx2a") - col("sxa") * col("sxa") /
          col("na")) / (col("na") - 1))
        .withColumn("vb", (col("sx2b") - col("sxb") * col("sxb") /
          col("nb")) / (col("nb") - 1))
        .withColumn("sa", col("va") / col("na"))
        .withColumn("sb", col("vb") / col("nb"))
        .select(col("na"), col("nb"),
          round(col("ma"), 6).as("mean_a_r"),
          round(col("mb"), 6).as("mean_b_r"),
          round((col("ma") - col("mb")) /
            sqrt(col("sa") + col("sb")), 6).as("t_r"),
          round(((col("sa") + col("sb")) * (col("sa") + col("sb"))) /
            ((col("sa") * col("sa")) / (col("na") - 1) +
             (col("sb") * col("sb")) / (col("nb") - 1)), 6).as("df_r"))
    }),

    // Global clustering coefficient of the supplier co-occurrence
    // graph: 3·triangles / open-triads — the one-number "how cliquey"
    // summary on top of q_triangles' listing. Triads come from the
    // degree aggregate (deg·(deg−1) div 2, exact integers); the
    // coefficient is one integer ratio. Same bounded projected-edge
    // set as q_triangles (shared minShared threshold).
    "q_clustering_coef" -> ((s, dir) => {
      val sc = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      val edges = graft.ops.QueryCaches.persist(
        graft.ops.GraphOps.coOccurrenceEdges(sc, "s", "c",
          minShared = 190L, maxKeyDegree = GateScale.uncapped)
          .select(col("ia").as("sa"), col("ib").as("sb")))
      val tri = edges.select(col("sa").as("a"), col("sb").as("b"))
        .join(edges.select(col("sa").as("b"), col("sb").as("c")), "b")
        .join(edges.select(col("sa").as("a"), col("sb").as("c")),
          Seq("a", "c"))
        .agg(count(lit(1)).as("n_tri"))
      val deg = edges.select(col("sa").as("v"))
        .unionAll(edges.select(col("sb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val dd = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_triads"))
      val ne = edges.agg(count(lit(1)).as("n_edges"))
      dd.crossJoin(ne).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_tri"),
          col("n_triads"),
          when(col("n_triads") > 0,
            round(lit(3.0) * col("n_tri").cast("double") /
              col("n_triads").cast("double"), 6)).otherwise(lit(-1.0))
            .as("coef_r"))
    }),

    // Ordered set aggregation — the reporting shape SQL users reach
    // for constantly (string_agg / array_agg ... ORDER BY): per
    // source, the alphabetised distinct language list. Spark's
    // collect_set is order-nondeterministic BY DESIGN; sort_array
    // makes the result a function of the set alone, which is the only
    // form that can cross engines.
    "q_agg_list" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(countDistinct("lang").cast("long").as("n_langs"),
          array_join(sort_array(collect_set(col("lang"))), ",")
            .as("langs"))
        .orderBy("source")
    }),

    // Rolling 7-day distinct actives + DAU/WAU stickiness — the
    // product-analytics staple whose naive form (a range join per
    // day) devolves to a nested loop. Here each (day, user) row
    // explodes onto the ≤7 trailing window anchors it can serve —
    // pure equi-join shapes end to end, distinct fan-out bounded by
    // the literal 7 — and the calendar-bounded day grid (broadcast-
    // valid by construction) drops anchors past the observed range.
    "q_rolling_dau" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(expr("ts_ns div 86400000000000").as("day"),
          col("user_id"))
        .distinct()
        .transform(graft.ops.QueryCaches.persist) // grid + both arms
      val grid = du.select(col("day").as("d")).distinct()
      val w7 = du
        .withColumn("d", explode(array((0 to 6).map(k =>
          col("day") + lit(k.toLong)): _*)))
        .join(broadcast(grid), "d")
        .groupBy("d").agg(countDistinct("user_id").as("dau7"))
      val d1 = du.groupBy(col("day").as("d"))
        .agg(countDistinct("user_id").as("dau1"))
      w7.join(d1, "d")
        .select(col("d"), col("dau1"), col("dau7"),
          round(col("dau1").cast("double") / col("dau7").cast("double"),
            6).as("stickiness_r"))
        .orderBy("d")
    }),

    // Adamic–Adar link prediction over the supplier–customer
    // bipartite graph: candidate supplier pairs scored by
    // Σ 1/ln(deg(z)) over their common customers z (rarely-shared
    // customers say more than hubs — the weighting that beats raw
    // common-neighbor counts). Runs the PRODUCTION cap contract the
    // q_jaccard_capped way: the weighted fold routes through
    // GraphOps.coOccurrenceEdgesWeightedAudited(maxKeyDegree) — hot
    // customers are dropped via the audited anti-join before the
    // quadratic pair fan-out — with a cap that provably exceeds every
    // gate-corpus customer degree (max 102 at sf0.1), so nothing is
    // dropped and the result hash-matches the same uncapped oracle.
    // The emptiness require turns a corpus regeneration violating
    // that precondition into a named failure, not a silent hash red.
    // Cross-engine exactness: every term is cast to DECIMAL(20,12)
    // BEFORE the sum (order-independent); the fold computes the term
    // once per CUSTOMER on the degree aggregate (never per pair row)
    // and only for deg >= 2 — see the keyWeight contract. Top-20 via
    // distributed TakeOrdered on the rounded score.
    "q_adamic_adar" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sp"), col("o_custkey").as("c"))
        .distinct()
        .transform(graft.ops.QueryCaches.persist) // pair sides + degrees
      e.count() // eager: self-join sides + degree branch race a lazy cache
      val cap = 500
      val (edges, over) = graft.ops.GraphOps.coOccurrenceEdgesWeightedAudited(
        e, "sp", "c", minShared = 1L, maxKeyDegree = cap,
        keyWeight = d => (lit(1.0) / log(d.cast("double")))
          .cast("decimal(20,12)"),
        preDeduplicated = true) // e IS distinct(sp,c), persisted, counted
      require(over.isEmpty,
        s"q_adamic_adar precondition: a customer exceeds cap=$cap — the " +
          "capped plan would no longer match the uncapped oracle")
      edges.select(col("ia"), col("ib"), col("shared"),
          round(col("wsum").cast("double"), 6).as("aa_r"))
        .orderBy(col("aa_r").desc, col("ia"), col("ib")).limit(20)
    }),

    // Resource-allocation link prediction (Zhou/Lü/Zhang 2009): the
    // Adamic–Adar sibling with weight 1/deg(z) instead of 1/ln(deg) —
    // hubs are penalized linearly, the stronger discount. Same capped
    // weighted fold, second weight function through the shared
    // machinery (pins wsum semantics beyond the ln case).
    "q_resource_alloc" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sp"), col("o_custkey").as("c"))
        .distinct()
        .transform(graft.ops.QueryCaches.persist)
      e.count() // eager: self-join sides + degree branch race a lazy cache
      val cap = 500
      val (edges, over) = graft.ops.GraphOps.coOccurrenceEdgesWeightedAudited(
        e, "sp", "c", minShared = 1L, maxKeyDegree = cap,
        keyWeight = d => (lit(1.0) / d.cast("double"))
          .cast("decimal(20,12)"),
        preDeduplicated = true)
      require(over.isEmpty,
        s"q_resource_alloc precondition: a customer exceeds cap=$cap — " +
          "the capped plan would no longer match the uncapped oracle")
      edges.select(col("ia"), col("ib"), col("shared"),
          round(col("wsum").cast("double"), 6).as("ra_r"))
        .orderBy(col("ra_r").desc, col("ia"), col("ib")).limit(20)
    }),

    "q_jaccard_neighbors" -> ((s, dir) => {
      val sc = graft.ops.QueryCaches.persist(
        t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"))
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
          .distinct())
      sc.count() // eager: self-join sides + degree branch race a lazy cache
      val edges = graft.ops.GraphOps.coOccurrenceEdges(sc, "s", "c",
        minShared = 190L, maxKeyDegree = GateScale.uncapped)
      val deg = sc.groupBy("s").agg(count(lit(1)).as("deg"))
      edges
        .join(deg.select(col("s").as("ia"), col("deg").as("na")), "ia")
        .join(deg.select(col("s").as("ib"), col("deg").as("nb")), "ib")
        .select(col("ia"), col("ib"), col("shared"), col("na"), col("nb"),
          round(col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")), 6).as("jacc_r"))
        .orderBy("ia", "ib")
    }),

    // Production-shaped twin of q_jaccard_neighbors: the SAME fold,
    // run through the 100 TB cap contract (GateScale.uncapped's
    // scaladoc and docs/SCALE.md "Joins" say production callers MUST
    // set maxKeyDegree — this gate runs that capped plan, exchange
    // machinery included). cap=500 sits in the documented
    // hundreds-to-thousands production band and provably exceeds
    // every key degree in the gate corpora (max 102 at sf0.1), so
    // capBuckets drops nothing and the result hash-matches the same
    // uncapped DuckDB oracle. The explicit emptiness require turns a
    // corpus regeneration that violates that precondition into a
    // named failure instead of a silent hash red.
    "q_jaccard_capped" -> ((s, dir) => {
      val sc = graft.ops.QueryCaches.persist(
        t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"))
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
          .distinct())
      sc.count() // eager: self-join sides + degree branch race a lazy cache
      val cap = 500
      // ONE shared degree aggregate serves both the precondition and
      // the cap's anti-join (r12 verdict: the separate overCapBuckets
      // pass + capBuckets' internal twin were two extra corpus passes);
      // the require materializes the persisted over/base caches, so
      // the fold below reads them instead of recomputing.
      val (edges, over) = graft.ops.GraphOps.coOccurrenceEdgesAudited(
        sc, "s", "c", minShared = 190L, maxKeyDegree = cap,
        preDeduplicated = true) // sc IS distinct(s,c), persisted, counted
      require(over.isEmpty,
        s"q_jaccard_capped precondition: a key exceeds cap=$cap — the " +
          "capped plan would no longer match the uncapped oracle")
      val deg = sc.groupBy("s").agg(count(lit(1)).as("deg"))
      edges
        .join(deg.select(col("s").as("ia"), col("deg").as("na")), "ia")
        .join(deg.select(col("s").as("ib"), col("deg").as("nb")), "ib")
        .select(col("ia"), col("ib"), col("shared"), col("na"), col("nb"),
          round(col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")), 6).as("jacc_r"))
        .orderBy("ia", "ib")
    }),

    // HyperLogLog distinct users per event type — the standard
    // cardinality sketch with a fully deterministic register pipeline,
    // estimate hash-matched like q_linear_count's.
    "q_hll_distinct" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val hll = graft.ops.Sketches.hllDistinct(
        e, Seq("event_type"), col("user_id"))
      val truth = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_true"))
      truth.join(hll, "event_type")
        .select(col("event_type"), col("n_true"), col("v"), col("est_r"))
        .orderBy("event_type")
    }),

    // Relational division — "customers whose orders span EVERY
    // priority level": the classic ÷ operator (FORALL over a dynamic
    // divisor set), expressed as two countDistinct aggregates and a
    // 1-row broadcast compare instead of the textbook double-NOT-
    // EXISTS (which plans two correlated anti-joins). One exchange
    // on the fact key; the divisor cardinality is a single broadcast
    // row however many priority levels exist.
    "q_rel_division" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val need = o.agg(countDistinct(col("o_orderpriority")).as("need"))
      o.groupBy("o_custkey")
        .agg(countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(need))
        .filter(col("n_priorities") === col("need"))
        .select(col("o_custkey"), col("n_orders"), col("n_priorities"))
        .orderBy("o_custkey")
    }),

    // KMV (k-minimum-values) distinct-count sketch per event type,
    // beside the exact truth (the q_hll_distinct pairing): keep the
    // k=64 smallest md5-derived 32-bit hash values of the user set —
    // the native TopKByScore aggregate (bounded k-element heap, only
    // k-row buffers cross the wire) on the NEGATED hash — and
    // estimate (k−1)·2³²/v₍ₖ₎. The pre-distinct keeps duplicate
    // events from occupying sketch slots with oracle-exact semantics;
    // a production buffer dedups on insert and drops that exchange.
    "q_kmv_distinct" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .transform(graft.ops.QueryCaches.persist) // sketch + truth arms
      val h = e.select(col("event_type"),
          conv(substring(md5(concat(lit("kmv:"),
            col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("v"))
        .distinct()
      val kmv = h.groupBy("event_type")
        .agg(graft.expr.TopKByScore.topK(
          -col("v").cast("double"), col("v"), 64).as("tk"))
        .select(col("event_type"),
          size(col("tk")).cast("long").as("n_kept"),
          element_at(col("tk"), size(col("tk"))).getField("id")
            .as("kth_v"))
      val truth = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_true"))
      truth.join(kmv, "event_type")
        .select(col("event_type"), col("n_true"), col("n_kept"),
          col("kth_v"),
          round(when(col("n_kept") < 64, col("n_kept").cast("double"))
            .otherwise(lit(63.0) * lit(4294967296L) / col("kth_v")), 6)
            .as("est_r"))
        .orderBy("event_type")
    }),

    // HITS hubs (Kleinberg) on the supplier→customer bipartite
    // graph, two full mutual-reinforcement rounds in EXACT integer
    // arithmetic: h₀ ≡ 1, aₖ = Aᵀhₖ₋₁, hₖ = A·aₖ — per-round L2
    // normalization (what a float deployment does) only rescales, so
    // the integer ranking is the HITS ranking and the gate stays
    // hash-exact. Each half-round is one keyed join + keyed aggregate
    // (|E| shuffle), the PageRank cost shape without the dangling
    // machinery; magnitudes stay far under Long at the tested SFs.
    "q_hits" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
        .transform(graft.ops.QueryCaches.persist) // 4 propagation passes
      val a1 = e.groupBy("c").agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, "c").groupBy("s").agg(sum("a1").as("h1"))
      val a2 = e.join(h1, "s").groupBy("c").agg(sum("h1").as("a2"))
      e.join(a2, "c").groupBy("s").agg(sum("a2").as("h2"))
        .orderBy(col("h2").desc, col("s")).limit(20)
        .select(col("s").as("supp"), col("h2").as("hub2"))
    }),

    // AMS (Alon–Matthias–Szegedy) F₂ sketch per event type, beside
    // the exact second moment it estimates (the self-join-size
    // estimator: F₂ = Σᵤ cᵤ², what q_join_size computes exactly).
    // Eight ±1-hash estimators ride ONE keyed aggregate — the
    // per-user counts explode 8× map-side, signs are md5-derived so
    // both engines draw identical streams — and the mean of the
    // squared sums divides by 2³ (exact in binary). The sketch state
    // is 8 longs per group however many users exist; the exact arm
    // is the oracle anchor, dropped in production.
    "q_ams_f2" -> ((s, dir) => {
      val cnts = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cu"))
        .transform(graft.ops.QueryCaches.persist) // truth + sketch arms
      val truth = cnts.groupBy("event_type")
        .agg(sum(col("cu") * col("cu")).as("f2_true"))
      val est = cnts
        .withColumn("j", explode(lit((0 until 8).toArray)))
        .withColumn("sgn",
          when(conv(substring(md5(concat(col("j").cast("string"),
            lit(":"), col("user_id").cast("string"))), 1, 1), 16, 10)
            .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)))
        .groupBy("event_type", "j")
        .agg(sum(col("sgn") * col("cu")).as("x"))
        .groupBy("event_type")
        .agg((sum(col("x") * col("x")).cast("double") / lit(8.0))
          .as("est"))
      truth.join(est, "event_type")
        .select(col("event_type"), col("f2_true"), col("est"),
          round(abs(col("est") - col("f2_true").cast("double")) /
            col("f2_true").cast("double"), 6).as("rel_err_r"))
        .orderBy("event_type")
    }),

    // Point-in-time dimension lookup: the SCD2 history of q_scd2
    // composed with the NATIVE as-of join — each order resolves the
    // version in effect at its date (ver_started = when the current
    // priority run began), the bitemporal-lookup shape.
    "q_scd_asof" -> ((s, dir) => {
      // order dates are DAY-granular, so same-day ties are real: the
      // as-of time must be the same (date, orderkey) composite the
      // SCD2 window ordered by, or a same-day later change wins
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderpriority"), col("o_orderdate"))
        .withColumn("tkey", unix_timestamp(col("o_orderdate")) *
          lit(1000000L) + col("o_orderkey"))
      val hist = graft.ops.QueryCaches.persist(
        graft.ops.Corpus.scd2History(o, "o_custkey", "o_orderpriority",
          Seq("o_orderdate", "o_orderkey"))
          .select(col("o_custkey").as("h_cust"),
            col("o_orderdate").as("ver_started"),
            col("tkey").as("ver_key")))
      graft.plans.AsOfJoin.join(o, hist,
        o("o_custkey"), hist("h_cust"),
        o("tkey"), hist("ver_key"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("ver_started"))
        .orderBy("o_orderkey")
    }),

    // Population stability index: value-distribution drift between the
    // first half-month (baseline) and the rest, over baseline-decile
    // buckets. Bucket = Σ(value >= fence_i) over the 9 ROUNDED decile
    // fences (round-before-threshold); shares are Laplace-smoothed
    // ((c+1)/(n+10)) so empty buckets stay defined deterministically;
    // the (q−p)·ln(q/p) contribution is mirrored verbatim.
    "q_psi" -> ((s, dir) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("value"), (col("ts") < cut).as("is_base"))
        .transform(graft.ops.QueryCaches.persist)
      // two-phase exact deciles: the baseline is a fixed FRACTION of
      // the corpus, so the built-in percentile's single-reducer buffer
      // is unbounded at 100 TB (CLAUDE.md's global-percentile rule);
      // exactQuantiles reproduces the identical h = q·(n−1) doubles,
      // so the quantile_cont oracle is untouched
      val fences = graft.ops.ScaleOps.exactQuantiles(
        e.filter(col("is_base")), col("value"),
        (1 to 9).map(i => (s"f$i", i / 10.0)))
        .select((1 to 9).map(i => round(col(s"f$i"), 6).as(s"f$i")): _*)
      val bucket = (1 to 9).map(i =>
        when(col("value") >= col(s"f$i"), 1).otherwise(0))
        .reduce(_ + _)
      val counts = e.crossJoin(broadcast(fences))
        .select(bucket.cast("long").as("bucket"), col("is_base"))
        .groupBy("bucket")
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("c_base"),
          sum(when(!col("is_base"), 1L).otherwise(0L)).as("c_cur"))
      val tot = counts.agg(sum(col("c_base")).as("n_base"),
        sum(col("c_cur")).as("n_cur"))
      val p = (col("c_base") + lit(1)).cast("double") /
        (col("n_base") + lit(10)).cast("double")
      val q = (col("c_cur") + lit(1)).cast("double") /
        (col("n_cur") + lit(10)).cast("double")
      counts.crossJoin(broadcast(tot))
        .select(col("bucket"), col("c_base"), col("c_cur"),
          round((q - p) * log(q / p), 6).as("psi_contrib_r"))
        .orderBy("bucket")
    }),

    // Two-sample Kolmogorov–Smirnov: D = max |F_A(x) − F_B(x)| over
    // the pooled sample values — the classic distribution-shift test
    // beside q_psi (binned) and q_mannwhitney (rank). ECDFs come from
    // exact integer running counts over the per-value aggregate via
    // the two-phase ScaleOps.globalRunningSum (no single-partition
    // window); the ECDF ratios are exact-integer divisions, so the
    // doubles — and their max — are engine-identical before rounding.
    "q_ks_test" -> ((s, dir) => {
      val pv = t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "N"))
        .select(col("l_extendedprice").as("val"), col("l_returnflag").as("grp"))
        .groupBy("val")
        .agg(sum(when(col("grp") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp") === "N", 1L).otherwise(0L)).as("n_b"))
        .transform(graft.ops.QueryCaches.persist) // totals + running sums share it
      val cum = graft.ops.ScaleOps.globalRunningSum(
        graft.ops.ScaleOps.globalRunningSum(pv, 8, "n_a", "cum_a", col("val")),
        8, "n_b", "cum_b", col("val"))
      val tot = pv.agg(sum(col("n_a")).as("na"), sum(col("n_b")).as("nb"))
      cum.crossJoin(broadcast(tot))
        .select(col("na"), col("nb"),
          abs(col("cum_a").cast("double") / col("na") -
            col("cum_b").cast("double") / col("nb")).as("d"))
        .groupBy("na", "nb").agg(max(col("d")).as("dmax"))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          round(col("dmax"), 6).as("d_stat"),
          round(col("dmax") * sqrt(col("na").cast("double") * col("nb") /
            (col("na") + col("nb"))), 6).as("ks_scaled"))
    }),

    // Classical seasonal decomposition of the hourly event-arrival
    // series: trend = centered 5-hour rolling mean, seasonal =
    // hour-of-day mean of the detrended series, residual = remainder.
    // Scale shape: the corpus collapses FIRST to one row per hour
    // (keyed aggregate, map-side combine); every window after that
    // runs over the calendar-bounded hourly frame (≤ 8.8k rows/year
    // however big the corpus), so the unpartitioned window is bounded
    // by construction. The 5-row trend mean is a sum of ≤5 integer
    // counts (exact in any order); the seasonal mean sums identical
    // doubles over the bounded per-hod day count (round-6 safe).
    "q_seasonal_decomp" -> ((s, dir) =>
      seasonalHourly(s, dir).orderBy("hr")),

    // Time-series anomaly detection on the decomposition residuals:
    // hours whose residual sits beyond median ± 4·MAD — the robust
    // fence (one outlier day cannot widen it the way a stddev fence
    // widens). Residuals are the round-6 values of q_seasonal_decomp,
    // medians are exact interpolated percentiles over those identical
    // doubles, and the fence compares after rounding (the fence
    // rule). All windows stay calendar-bounded.
    "q_anomaly_hours" -> ((s, dir) => {
      val d = seasonalHourly(s, dir)
        .transform(graft.ops.QueryCaches.persist) // median + deviation passes
      d.count() // eager: the chained broadcasts race the lazy caches
      val med = d.agg(expr("percentile(resid_r, 0.5)").as("med"))
      val dm = d.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("resid_r") - col("med")))
        .transform(graft.ops.QueryCaches.persist) // MAD + flag passes
      dm.count()
      val mad = dm.agg(expr("percentile(adev, 0.5)").as("mad"))
      dm.crossJoin(broadcast(mad))
        .withColumn("fence_r", round(lit(4.0) * col("mad"), 6))
        .filter(col("adev") > col("fence_r"))
        .select(col("hr"), col("hod"), col("cnt"), col("resid_r"),
          round(col("med"), 6).as("med_r"), col("fence_r"))
        .orderBy("hr")
    }),

    // One-way ANOVA across document sources on length: between/within
    // sum-of-squares and the F statistic, from exact per-group DECIMAL
    // moments (n, Σx, Σx²). The only doubles are the k per-group
    // Σg²/ng terms — summed over the app-bounded source domain (the
    // bounded-terms rule), then one fixed-association formula. One
    // keyed aggregate + one 20-row global aggregate; nothing scales
    // with the corpus but the first exchange.
    "q_anova" -> ((s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val de = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")
      val g = t(s, dir, "documents")
        .select(col("source"), de(col("n_chars")).as("x"))
        .groupBy("source")
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
          sum(col("x") * col("x")).as("sqg"))
      g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("s"), sum(col("sqg")).as("sq"),
        sum(d(col("sg")) * d(col("sg")) / d(col("ng"))).as("a"))
        .withColumn("ssb", col("a") - d(col("s")) * d(col("s")) / col("n"))
        .withColumn("ssw", d(col("sq")) - col("a"))
        .select(col("k").as("k_groups"), col("n"),
          round(col("ssb"), 6).as("ssb_r"),
          round(col("ssw"), 6).as("ssw_r"),
          round((col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("n") - col("k"))), 6).as("f_r"))
    }),

    // CUSUM changepoint over the hourly arrival series — "when did
    // the level shift?" — in EXACT integer math: with cum_t the
    // running count, t the hour's rank and `total`/`nh` the global
    // sums, the centered CUSUM scaled by nh is
    // d_t = nh·cum_t − t·total (DECIMAL products, no division, no
    // float drift anywhere); the changepoint is the max |d_t| row,
    // tie-broken by earliest hour. The corpus collapses FIRST to the
    // calendar-bounded hourly frame; the rank/running windows run
    // over that bounded frame only.
    "q_changepoint" -> ((s, dir) => {
      val de = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // totals + cusum share it
      val tot = hourly.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("nh"))
      val w = Window.orderBy(col("hr"))
      hourly
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .withColumn("d",
          de(col("nh")) * de(col("cum")) - de(col("t")) * de(col("total")))
        // |d| ≤ nh·total ≈ hours × events — far inside BIGINT at any
        // realistic scale; emitted as BIGINT (the fixed-point-output
        // convention, no cross-engine decimal-width concerns)
        .select(col("hr"), col("t"), col("cum"),
          abs(col("d")).cast("bigint").as("abs_d"))
        .orderBy(col("abs_d").desc, col("hr")).limit(1)
    }),

    // Fano-factor burstiness per event type: variance/mean of the
    // hourly count series (1 ≈ Poisson arrivals, ≫1 bursty). Moments
    // are exact DECIMAL sums per type; the sample-variance and ratio
    // doubles are one fixed-association formula per type. Two keyed
    // aggregates, both map-side combined.
    "q_burstiness" -> ((s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val de = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")
      Tables.events(s, dir)
        .select(col("event_type"), expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("nh"), sum(de(col("cnt"))).as("s"),
          sum(de(col("cnt")) * de(col("cnt"))).as("sq"))
        .filter(col("nh") > 1 && col("s") > 0)
        .withColumn("mean", d(col("s")) / col("nh"))
        .withColumn("vars",
          (col("nh") * d(col("sq")) - d(col("s")) * d(col("s"))) /
            (col("nh") * (col("nh") - lit(1L))))
        .select(col("event_type"), col("nh"),
          round(col("mean"), 6).as("mean_r"),
          round(col("vars") / col("mean"), 6).as("fano_r"))
        .orderBy("event_type")
    }),

    // Autocorrelation function of the hourly arrival series at lags
    // 1..12 (TimeSeries.laggedCorr): the seasonality fingerprint a
    // monitoring pipeline reads before fitting any seasonal model.
    // The corpus collapses FIRST to the calendar-bounded hourly
    // frame; pairs come from one equi-join on the shifted bucket key
    // (a missing hour drops its pairs on both engines); moments are
    // exact DECIMAL sums with one double formula per lag. The hourly
    // frame feeds both join sides — persisted (self-join rule).
    "q_acf" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("v"))
        .transform(graft.ops.QueryCaches.persist)
      graft.ops.TimeSeries.laggedCorr(hourly, hourly, 1 to 12)
        .orderBy("lag_h")
    }),

    // Cross-correlation of the click and purchase hourly series at
    // lags −6..6 — the lead/lag discovery companion of q_acf
    // (positive-lag peaks mean clicks LEAD purchases). Each arm is
    // its own filtered keyed aggregate (filter pushed to the scan);
    // the pairing join and exact-moment machinery are shared with
    // q_acf via TimeSeries.laggedCorr.
    "q_cross_corr" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def arm(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("v"))
      graft.ops.TimeSeries.laggedCorr(arm("click"), arm("purchase"),
        -6 to 6).orderBy("lag_h")
    }),

    // Truncated Holt linear smoothing (TimeSeries.holtTruncated):
    // level+trend double smoothing as a fixed 8-term weighted lag
    // chain whose weights come from unrolling the two-state recursion
    // once in Scala — the same literals are printed into the oracle
    // (holtOracle), so the chain is bit-equal cross-engine before the
    // gate round. Rows without a full 8-hour history emit null and
    // are filtered (truncated Holt over fewer points is a different
    // estimator).
    "q_holt" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .filter(col("user_id") % 97 === 0)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.holtTruncated(hourly, Seq("user_id"), "h",
        "n", alpha = 0.25, beta = 0.5, lags = 8)
        .filter(col("holt_r").isNotNull)
        .select(col("user_id"), col("h"), col("n"), col("holt_r"))
        .orderBy("user_id", "h")
    }),

    // Deterministic Poisson(1) bootstrap: each row enters replica b
    // with weight w drawn by inverting the Poisson CDF at the md5 hash
    // fraction of (row key, b) — the hash-sampling idiom (retry-stable,
    // engine-portable) applied to resampling. Replica means are exact
    // DECIMAL sums over integer weights (order-independent), and the
    // CI is the exact interpolated percentile over the 32 ROUNDED
    // replica means (bounded by the replica-count literal — identical
    // inputs, identical interpolation on both engines). Scale shape:
    // the explode is map-side (32× rows, no extra shuffle) into one
    // keyed aggregate; replica count never grows with the corpus.
    "q_bootstrap_ci" -> ((s, dir) => {
      // one digest per (row, group-of-4 replicas): an md5 carries four
      // independent 32-bit draws, so the hash is computed 8×, not
      // 32×, per row. The Poisson CDF inversion compares the 8-char
      // hex slice LEXICOGRAPHICALLY against precomputed hex
      // thresholds (equal-length lowercase hex order IS numeric
      // order; threshold = ceil(cdf · 2³²) in hex, exactly equivalent
      // to the u = h/2³² double compare) — no per-row base conversion
      // or division on the 32×-inflated path.
      val u = expr("substring(dg, slot * 8 + 1, 8)")
      val w = when(u < "5e2d58d9", 0L).when(u < "bc5ab1b2", 1L)
        .when(u < "eb715e1e", 2L).when(u < "fb239798", 3L)
        .otherwise(4L)
      val reps = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice")).as("x"))
        // spread BEFORE the 32× explode: the source's few file
        // partitions otherwise bottleneck the whole resample stage
        // (measured 3 tasks / 9.6 s → 32 tasks at sf0.1)
        .transform(d => d.repartition(graft.ops.ScaleOps.fanoutWidth(d)))
        .withColumn("g", explode(sequence(lit(0), lit(7))))
        .withColumn("dg", md5(concat(lit("bs:"),
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"), lit(":"),
          col("g").cast("string"))))
        .withColumn("slot", explode(sequence(lit(0), lit(3))))
        .withColumn("b", col("g") * 4 + col("slot"))
        .withColumn("w", w)
        .groupBy("b")
        .agg(sum(col("w")).as("n_eff"),
          sum((col("w") * col("x")).cast("decimal(28,2)")).as("xsum"))
        .select(col("b"),
          round(col("xsum").cast("double") / col("n_eff"), 6).as("mean_r"))
      reps.agg(count(lit(1)).as("n_reps"),
        round(expr("percentile(mean_r, 0.05)"), 6).as("mean_lo_r"),
        round(expr("percentile(mean_r, 0.5)"), 6).as("mean_mid_r"),
        round(expr("percentile(mean_r, 0.95)"), 6).as("mean_hi_r"))
    }),

    // Fixed-round k-core peeling over the supplier–customer bipartite
    // graph (GraphOps.kcorePeel): three peels at k=4 strip the
    // low-degree tendrils, leaving the dense trading core — the
    // density filter that finds hub/ring structure where PageRank
    // finds importance. Int-encoded like q_pagerank/q_bfs_levels,
    // string labels only on the surviving rows; the oracle unrolls
    // the peels into MATERIALIZED CTEs (the same inliner hazard).
    "q_kcore" -> ((s, dir) => {
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey")).distinct()
        .select((col("l_suppkey") * 2).as("a"),
          (col("o_custkey") * 2 + 1).as("b"))
      graft.ops.GraphOps.kcorePeel(b, k = 4, rounds = 3)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("s"), expr("node div 2")))
            .otherwise(concat(lit("c"), expr("node div 2"))).as("node"),
          col("deg"))
        .orderBy("node")
    }),

    // The same engine through its SQL front door: spark.sql over a
    // registered view, sharing ONE SQL text with the DuckDB oracle
    // verbatim (casts included) — the pricing-summary shape every SQL
    // user runs first, proving the textual surface needs no
    // translation layer.
    "q_sql_q1" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlQ1)
    }),

    // TPC-H Q3 shape (shipping-priority top-10) through the same SQL
    // front door: three-table star join with filters on BOTH fact and
    // dimension sides. The segment filter prunes customer before the
    // join (PushedFilters at the scan), AQE broadcasts the filtered
    // dimension; revenue is DECIMAL-exact so the DESC top-10 cut is
    // deterministic (o_orderkey completes the total order).
    "q_sql_q3" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlQ3)
    }),

    // TPC-H Q18 shape (large-volume customers): the HAVING-subquery
    // pattern through the SQL front door — the IN subquery plans as a
    // semi-join against the re-aggregated fact, the outer three-table
    // join re-groups only surviving orders. DECIMAL quantities keep
    // the HAVING cut and the top-100 sort deterministic.
    "q_sql_q18" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ18)
    }),

    // TPC-H Q7 shape (bilateral shipping volume): the disjunctive
    // nation-pair predicate exercises OR-of-conjunctions join
    // filtering through the SQL front door; nation joins broadcast
    // twice (aliased), the year extraction groups on a bounded
    // domain.
    "q_sql_q7" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ7)
    }),

    // Window functions through the SQL front door: per-customer
    // running spend + order sequence, ONE SQL text on both engines —
    // proving the shared-text contract extends past joins/aggregates
    // to the windowed surface (exact-decimal frames keep the running
    // sum deterministic).
    "q_sql_window" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlWindow)
    }),

    // TPC-H Q10 shape (returned-item top customers): filter on the
    // fact's flag + a quarter of order dates, four-way join, top-20
    // by exact-decimal revenue — the "who should we call" report
    // through the SQL front door.
    "q_sql_q10" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ10)
    }),

    // TPC-H Q5 shape (regional local-supplier volume): six-table join
    // where supplier and customer must share a nation — the
    // co-location predicate rides the join, region prunes nation, and
    // the two tiny dimension chains broadcast. One shuffle pair on
    // the fact keys; grouped on the 25-row nation domain.
    "q_sql_q5" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation",
        "region").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ5)
    }),

    // TPC-H Q6 shape (forecast-revenue-change): the pure selective
    // scan through the SQL front door — no join at all, so the whole
    // query is the scan's pushed filters plus one partial+final
    // aggregate. At 100 TB this shape IS the scan-pruning test: date
    // range, discount band, and quantity cap all reach parquet.
    "q_sql_q6" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlQ6)
    }),

    // TPC-H Q16 shape (supplier-part-type counts): distinct
    // aggregation after a fact join plus a NOT IN null-aware
    // anti-join — two planner paths the front door didn't cover.
    // count(DISTINCT) expands to a two-phase aggregate (partial
    // distinct by group+suppkey, then final count) — no single-node
    // funnel.
    "q_sql_q16" -> ((s, dir) => {
      Seq("part", "lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ16)
    }),

    // TPC-H Q4 shape (order-priority checking): correlated EXISTS
    // with an inequality on the OUTER column — decorrelates to a
    // left-semi join whose condition mixes the key equality with
    // l_shipdate > o_orderdate; the bounded priority domain keeps the
    // final group-by tiny.
    "q_sql_q4" -> ((s, dir) => {
      Seq("orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ4)
    }),

    // TPC-H Q13 shape (order-count distribution): LEFT OUTER with an
    // ON-clause filter (zero-order customers survive) under two
    // stacked aggregations — the dimension side is preserved, so the
    // join cannot be reduced to inner, and the second aggregate runs
    // over |customers| rows, not |orders|.
    "q_sql_q13" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ13)
    }),

    // TPC-H Q15 shape (top supplier): the grouped revenue CTE feeds
    // both the join and a scalar max subquery; cents keep the
    // max-equality cut exact. The CTE is cheap enough that Spark's
    // CTE inlining (two executions) beats materializing it.
    "q_sql_q15" -> ((s, dir) => {
      Seq("supplier", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ15)
    }),

    // TPC-H Q22 shape (dormant high-balance accounts): two scalar
    // subqueries (count + sum — the cross-multiplied exact form of
    // the average threshold) and a NOT EXISTS anti join against the
    // fact table, grouped on the bounded nation domain.
    "q_sql_q22" -> ((s, dir) => {
      Seq("supplier", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ22)
    }),

    // TPC-H Q11 shape (important stock): grouped values filtered
    // against a FRACTION of their own global sum — the
    // HAVING-vs-scalar-aggregate path, exact decimal at the boundary.
    "q_sql_q11" -> ((s, dir) => {
      Seq("lineitem", "supplier", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ11)
    }),

    // TPC-H Q14 shape (promo revenue share): conditional aggregation
    // over the fact-dimension join; one month of ship dates pushes to
    // the scan.
    "q_sql_q14" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ14)
    }),

    // TPC-H Q17 shape (small-quantity orders): a correlated SCALAR
    // aggregate subquery — the planner decorrelates the per-part
    // average into an aggregate join rather than re-scanning lineitem
    // per row.
    "q_sql_q17" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ17)
    }),

    // TPC-H Q19 shape (three-way disjunctive predicate): OR-of-ANDs
    // spanning both join sides — filter placement around the join is
    // the exercised path.
    "q_sql_q19" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ19)
    }),

    // TPC-H Q21 shape (waiting suppliers): EXISTS + NOT EXISTS, both
    // correlated on the fact key and an outer THIRD-table column —
    // the deepest decorrelation the front door exercises.
    "q_sql_q21" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ21)
    }),

    // TPC-H Q2 shape (minimum-cost supplier): the correlated SCALAR
    // MIN over a 4-way dimension join — the subquery re-joins the
    // derived part-supplier offers to nation/region and must
    // decorrelate into a per-part min aggregate joined back on the
    // equality correlation, not a per-row re-execution. The offers
    // CTE stands in for partsupp (this schema has none): min exact-
    // DECIMAL lineitem price per (part, supplier) pair.
    "q_sql_q2" -> ((s, dir) => {
      Seq("part", "supplier", "lineitem", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ2)
    }),

    // TPC-H Q8 shape (market share): one supplier-nation's share of
    // regional import volume per year — a seven-table join feeding a
    // conditional aggregate, with the share as the single mirrored
    // double division over exact-decimal sums.
    "q_sql_q8" -> ((s, dir) => {
      Seq("part", "supplier", "lineitem", "orders", "customer",
        "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ8)
    }),

    // TPC-H Q9 shape (product-type profit rollup): profit =
    // revenue − cost (p_retailprice × quantity stands in for the
    // absent ps_supplycost) per nation per year, parts filtered by a
    // LIKE pattern — the signed-decimal aggregate over a five-table
    // join, grouped on the bounded nation × year domain.
    "q_sql_q9" -> ((s, dir) => {
      Seq("part", "supplier", "lineitem", "orders", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ9)
    }),

    // TPC-H Q12 shape (late-shipment priority counts): l_linestatus
    // stands in for the absent l_shipmode, "late" = shipped > 30 days
    // after ordering (the DATE + int idiom from Q21) — the CASE-
    // pivoted count pair over the fact join, one year of ship dates
    // pushed to the scan.
    "q_sql_q12" -> ((s, dir) => {
      Seq("orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ12)
    }),

    // TPC-H Q20 shape (qualified suppliers): a NESTED semi-join
    // chain — suppliers IN (shippers of parts IN (pattern-matched
    // parts) with a HAVING over the exact-decimal year volume) —
    // two IN-subquery levels the planner must stack as semi joins.
    "q_sql_q20" -> ((s, dir) => {
      Seq("supplier", "nation", "lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ20)
    }),

    // Pareto frontier (2-D skyline): the (cheapest-price, largest-
    // quantity) non-dominated set — the classic multi-criteria
    // shortlist query. Sort-based, never pairwise: rows collapse to
    // one max-quantity row per price (keyed aggregate), and a row is
    // on the frontier iff its quantity strictly beats the EXCLUSIVE
    // running max over all cheaper prices — computed by the two-phase
    // ScaleOps.globalRunningMaxExclusive, so no single-partition
    // window and no O(n²) dominance join at any corpus size.
    // Quantity compares as exact integer hundredths.
    "q_skyline" -> ((s, dir) => {
      val pv = t(s, dir, "lineitem")
        .select(col("l_extendedprice").as("price"),
          // DECIMAL staging before the ×100 long cast: a raw double
          // 17.35*100 = 1734.999… truncates to 1734 in Spark's ANSI
          // cast but rounds to 1735 in DuckDB's CAST(DOUBLE AS
          // BIGINT) — exact at scale 2, both engines agree (the
          // repo-wide *_c cents idiom; oracle mirrors the staging)
          (dec(col("l_quantity")) * 100).cast("long").as("qty_c"))
        .groupBy("price").agg(max(col("qty_c")).as("q"))
      graft.ops.ScaleOps.globalRunningMaxExclusive(pv, 8,
        "q", "pm", col("price"))
        .filter(col("q") > col("pm"))
        .select(col("price"), col("q").as("qty_c"))
        .orderBy("price")
    }),

    // SAX symbolization (Lin et al.): the hourly arrival series
    // z-normalized, PAA-compressed 4:1, and discretized against the
    // fixed Gaussian quartile breakpoints (±0.6745) into a 4-letter
    // alphabet — the symbolic form that makes motif/anomaly search a
    // STRING problem (q_repeated_spans machinery applies to time
    // series). Exactness: PAA means and both moments are integer
    // sums until one division each (window sums Sw, ΣSw, ΣSw²), the
    // breakpoint compare reads the ROUNDED z (fence rule), and
    // incomplete tail/gap windows are dropped by exact row count.
    "q_sax_symbols" -> ((s, dir) => {
      val win = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .withColumn("w", expr("hr div 4"))
        .groupBy("w").agg(sum("cnt").as("sw"), count(lit(1)).as("nh"))
        .filter(col("nh") === 4)
        .transform(graft.ops.QueryCaches.persist) // moments + symbols
      val m = win.agg(count(lit(1)).as("m"), sum("sw").as("ssum"),
        sum(col("sw") * col("sw")).as("ssq"))
      val mean = col("ssum").cast("double") /
        (lit(4.0) * col("m").cast("double"))
      val varp = (col("ssq").cast("double") / lit(16.0)) /
        col("m").cast("double") - col("mean") * col("mean")
      win.crossJoin(broadcast(m))
        .withColumn("mean", mean)
        .withColumn("varp", varp)
        .withColumn("z_r", when(col("varp") > 0,
          round((col("sw").cast("double") / lit(4.0) - col("mean")) /
            sqrt(col("varp")), 6)).otherwise(lit(0.0)))
        .select(col("w"), round(col("sw").cast("double") / lit(4.0), 6)
            .as("paa_r"), col("z_r"),
          when(col("z_r") < -0.6745, lit("a"))
            .when(col("z_r") < 0.0, lit("b"))
            .when(col("z_r") < 0.6745, lit("c"))
            .otherwise(lit("d")).as("sym"))
        .orderBy("w")
    }),

    // Theil–Sen robust trend: median of all pairwise slopes of the
    // hourly event-count series (breakdown point 29% — one bad day
    // cannot drag the estimate the way it drags the OLS q_trend_lines
    // slope). The corpus collapses FIRST to the calendar-bounded
    // hourly frame, so the O(H²) pair join is bounded by construction
    // (≤ 8.8k rows/year however big the corpus); slopes are
    // exact-integer ratios → identical doubles, and the medians are
    // exact interpolated percentiles over identical inputs.
    "q_theilsen" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("ts_ns div 3600000000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
        .transform(graft.ops.QueryCaches.persist) // both pair sides + intercept pass
      val a = hourly.select(col("hr").as("x1"), col("cnt").as("y1"))
      val b = hourly.select(col("hr").as("x2"), col("cnt").as("y2"))
      // both medians via the two-phase exactQuantiles (identical
      // h = q·(n−1) doubles as the built-in, oracle untouched): the
      // pair frame is H(H−1)/2 — calendar-bounded but QUADRATIC in
      // the span, so one reducer's percentile buffer holds ~1e9
      // doubles at a 5-year calendar (the global-percentile rule)
      // eager localCheckpoint, not persist+count: m (1 row) is read by
      // the intercept pass AND the output crossJoin — a persisted m
      // EMBEDS the whole slope-quantile tree in both consumers' plans
      // (the doubly-nested cache blew the q_theilsen plan string to
      // 1.4 MB in docs/PLANS.md); the checkpoint truncates lineage to
      // a leaf while still materializing once
      val m = graft.ops.ScaleOps.exactQuantiles(
        a.join(b, col("x1") < col("x2"))
          .select(((col("y2") - col("y1")).cast("double") /
            (col("x2") - col("x1")).cast("double")).as("slope")),
        col("slope"), Seq(("ms", 0.5)))
        .select(col("n").as("n_pairs"), col("ms"))
        .localCheckpoint()
      val ic = graft.ops.ScaleOps.exactQuantiles(
        hourly.crossJoin(broadcast(m.select(col("ms"))))
          .select((col("cnt").cast("double") -
            col("ms") * col("hr").cast("double")).as("icv")),
        col("icv"), Seq(("mi", 0.5)))
        .select(col("mi"))
      m.crossJoin(ic)
        .select(col("n_pairs"), round(col("ms"), 6).as("slope_r"),
          round(col("mi"), 6).as("icept_r"))
    }))

  /** EWMA oracle: the same fixed left-associated weighted lag chain
    * as [[graft.ops.TimeSeries.ewmaTruncated]], with weight literals
    * printed from the SAME [[graft.ops.TimeSeries.ewmaWeights]]
    * doubles (α = 0.25 → 0.75 is dyadic, so every power is an exact
    * double whose toString round-trips) — identical IEEE operations
    * in identical order, bit-equal before the gate round.
    */
  /** ONE SQL text for q_sql_q1, executed verbatim by spark.sql AND by
    * the DuckDB oracle — the casts make every aggregate DECIMAL-exact
    * on both engines, so sharing the string is also sharing the
    * algebra.
    */
  private val sqlQ1: String =
    """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS sum_qty_c,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
           AS BIGINT) AS sum_base_c,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000
           AS BIGINT) AS sum_disc_c4,
         CAST(count(*) AS BIGINT) AS n
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** ONE SQL text for q_sql_q3 — TPC-H Q3 adapted to this star schema
    * (o_orderpriority stands in for o_shippriority; the date pivots
    * sit inside the generated 1995–2001 order-date range).
    */
  private val sqlQ3: String =
    """SELECT o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000
           AS BIGINT) AS revenue_c4,
         o_orderdate, o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
       GROUP BY o_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue_c4 DESC, o_orderkey
       LIMIT 10"""

  /** ONE SQL text for q_sql_window — windowed running spend, shared
    * verbatim (decimal frame sums are order-deterministic).
    */
  private val sqlWindow: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
           AS BIGINT) AS running_spend_c,
         CAST(row_number() OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS BIGINT) AS order_seq
       FROM orders
       ORDER BY o_custkey, order_seq"""

  /** ONE SQL text for q_sql_q10 — TPC-H Q10 adapted (one 1997 quarter
    * of returned items).
    */
  private val sqlQ10: String =
    """SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000
           AS BIGINT) AS revenue_c4,
         CAST(count(*) AS BIGINT) AS n_items
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue_c4 DESC, c_custkey
       LIMIT 20"""

  /** ONE SQL text for q_sql_q7 — TPC-H Q7 adapted to this schema's
    * nation naming and timestamp-typed ship dates.
    */
  private val sqlQ7: String =
    """SELECT supp_nation, cust_nation, l_year,
         CAST(sum(volume) * 10000 AS BIGINT) AS revenue_c4,
         CAST(count(*) AS BIGINT) AS n_items
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2))) AS volume
         FROM supplier
         JOIN lineitem ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             AND TIMESTAMP '1997-12-31 00:00:00') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  /** ONE SQL text for q_sql_q18 — TPC-H Q18 adapted (threshold 250
    * sits at the top ~1.5% of per-order quantity sums on this data).
    */
  private val sqlQ18: String =
    """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS sum_qty_c
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (
         SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
       GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 100"""

  /** ONE SQL text for q_sql_q5 — TPC-H Q5 adapted: local-supplier
    * revenue (customer and supplier in the SAME nation) for one
    * region-year.
    */
  private val sqlQ5: String =
    """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000
           AS BIGINT) AS revenue_c4,
         CAST(count(*) AS BIGINT) AS n_items
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE c_nationkey = s_nationkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n_name
       ORDER BY revenue_c4 DESC, n_name"""

  /** ONE SQL text for q_sql_q6 — TPC-H Q6 shape: the selective
    * single-table scan (one ship year × a discount band × a quantity
    * cap). All three predicates must reach the parquet scan as
    * PushedFilters; the aggregate is a map-side-partial global sum.
    */
  private val sqlQ6: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT)
           AS revenue_c4,
         CAST(count(*) AS BIGINT) AS n_items
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24"""

  /** ONE SQL text for q_sql_q16 — TPC-H Q16 shape adapted to this
    * schema (no partsupp table: lineitem stands in as the
    * part↔supplier relationship, acctbal for the complaint filter).
    * Exercises distinct aggregation after a join plus a NOT IN
    * null-aware anti-join the current front door doesn't cover.
    */
  private val sqlQ16: String =
    """SELECT p_brand, p_type, p_size,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       FROM part
       JOIN lineitem ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#45'
         AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
         AND l_suppkey NOT IN (
           SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** ONE SQL text for q_sql_q4 — TPC-H Q4 shape adapted (no
    * commit/receipt dates: "late" = a discounted line shipped after
    * the order date). The correlated EXISTS carries BOTH an equality
    * key and a correlated inequality on the outer column — planning
    * must decorrelate to a left-semi join with a mixed condition.
    */
  private val sqlQ4: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
         AND EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate > o.o_orderdate
             AND l.l_discount >= 0.05)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  /** ONE SQL text for q_sql_q13 — TPC-H Q13 shape (customer order-count
    * distribution): LEFT OUTER join with a filter INSIDE the ON clause
    * (zero-order customers must survive it) feeding two stacked
    * aggregations — the outer-join-then-histogram planner path.
    */
  private val sqlQ13: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM (SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS c_count
         FROM customer LEFT JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         GROUP BY c_custkey) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC"""

  /** ONE SQL text for q_sql_q15 — TPC-H Q15 shape (top supplier by
    * quarterly revenue): a grouped revenue CTE read twice — once
    * joined, once under a scalar max subquery the filter compares
    * against. Revenue is BIGINT cents so the max-equality cut is
    * exact.
    */
  private val sqlQ15: String =
    """WITH rev AS (SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) -
                CAST(l_discount AS DECIMAL(12,2)))) * 10000
             AS BIGINT) AS total_c4
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_c4
       FROM supplier JOIN rev ON s_suppkey = supplier_no
       WHERE total_c4 = (SELECT max(total_c4) FROM rev)
       ORDER BY s_suppkey"""

  /** ONE SQL text for q_sql_q22 — TPC-H Q22 shape adapted (supplier
    * stands in for the phone-prefixed customer; nation key for the
    * country code; "dormant" = no large recent shipment, the
    * discriminating window this data actually has). The
    * half-average-balance threshold is compared by
    * CROSS-MULTIPLICATION (bal × 2n > total) so the cut is
    * decimal-exact on both engines — no avg() rounding at the
    * boundary — and the NOT EXISTS plans as an anti join against the
    * filtered fact table.
    */
  private val sqlQ22: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS numsupp,
         CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS totacctbal_c
       FROM supplier s
       WHERE CAST(s_acctbal AS DECIMAL(12,2)) * 2 *
           (SELECT count(*) FROM supplier WHERE s_acctbal > 0.0)
           > (SELECT sum(CAST(s_acctbal AS DECIMAL(12,2)))
              FROM supplier WHERE s_acctbal > 0.0)
         AND NOT EXISTS (
           SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
             AND l.l_quantity >= 49
             AND l.l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
       GROUP BY s_nationkey
       ORDER BY s_nationkey"""

  /** ONE SQL text for q_sql_q11 — TPC-H Q11 shape adapted (lineitem
    * value per part stands in for partsupp stock value): parts whose
    * one-nation value exceeds a FRACTION of the global sum. The
    * threshold is DECIMAL × DECIMAL (0.001 parses as DECIMAL(4,3) on
    * both engines) — exact at the boundary, the HAVING-against-
    * scalar-aggregate planner path.
    */
  private val sqlQ11: String =
    """WITH pv AS (SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
             AS DECIMAL(28,2)) AS value
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_3'
         GROUP BY l_partkey)
       SELECT l_partkey, CAST(value * 100 AS BIGINT) AS value_c
       FROM pv
       WHERE value > (SELECT sum(value) * 0.001 FROM pv)
       ORDER BY value_c DESC, l_partkey"""

  /** ONE SQL text for q_sql_q14 — TPC-H Q14 shape (promo revenue
    * share for one month): conditional aggregation over the join; the
    * share ratio is the one double division, mirrored textually.
    */
  private val sqlQ14: String =
    """SELECT
         CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) -
                CAST(l_discount AS DECIMAL(12,2)))
             ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT)
           AS promo_c4,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)
           AS total_c4,
         round(CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) -
                CAST(l_discount AS DECIMAL(12,2)))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 6)
           AS promo_share_r
       FROM lineitem
       JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'"""

  /** ONE SQL text for q_sql_q17 — TPC-H Q17 shape (small-quantity
    * revenue for one brand/size): a CORRELATED scalar aggregate
    * subquery (0.2 × the part's average quantity) the planner must
    * decorrelate into a per-part aggregate join. Quantities are
    * integer-valued doubles, so the average is an exact sum / exact
    * count — the threshold cannot wobble at the boundary.
    */
  private val sqlQ17: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_small,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
           AS BIGINT) AS sum_price_c
       FROM lineitem l
       JOIN part p ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#23' AND p_size = 5
         AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""

  /** ONE SQL text for q_sql_q19 — TPC-H Q19 shape (discounted revenue
    * over a DISJUNCTION of brand/size/quantity conjunctions): the
    * OR-of-ANDs predicate straddles both join sides, exercising
    * filter placement around the join.
    */
  private val sqlQ19: String =
    """SELECT
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)
           AS revenue_c4,
         CAST(count(*) AS BIGINT) AS n_items
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)"""

  /** ONE SQL text for q_sql_q21 — TPC-H Q21 shape adapted (no
    * commit/receipt dates: "late" = shipped more than 90 days after
    * the order date, via the engine-portable `DATE + int` idiom):
    * suppliers who were the ONLY late shipper on a multi-supplier
    * finished order — an EXISTS and a NOT EXISTS both correlated on
    * the fact key AND an outer column from a third table.
    */
  private val sqlQ21: String =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM supplier
       JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       JOIN orders ON o_orderkey = l1.l_orderkey
       WHERE o_orderstatus = 'F'
         AND CAST(l1.l_shipdate AS DATE) >
           CAST(o_orderdate AS DATE) + 90
         AND EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND CAST(l3.l_shipdate AS DATE) >
                 CAST(o_orderdate AS DATE) + 90)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 20"""

  /** ONE SQL text for q_sql_q2 — TPC-H Q2 shape adapted: `offers`
    * (min exact-DECIMAL lineitem price per part–supplier pair) stands
    * in for partsupp, and the correlated scalar subquery re-derives
    * the regional minimum per part. Ties on the min keep ALL winning
    * suppliers (as in TPC-H); (p_partkey, s_name) is the total order.
    */
  private val sqlQ2: String =
    """WITH offers AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           min(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_cost
         FROM lineitem GROUP BY l_partkey, l_suppkey)
       SELECT s_name, n_name, p_partkey, p_brand,
         CAST(ps_cost * 100 AS BIGINT) AS cost_c,
         CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
           AS acctbal_c
       FROM part
       JOIN offers ON p_partkey = ps_partkey
       JOIN supplier ON s_suppkey = ps_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 25
         AND ps_cost = (SELECT min(o2.ps_cost)
             FROM offers o2
             JOIN supplier s2 ON s2.s_suppkey = o2.ps_suppkey
             JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
             WHERE o2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
       ORDER BY acctbal_c DESC, n_name, s_name, p_partkey"""

  /** ONE SQL text for q_sql_q8 — TPC-H Q8 shape (market share):
    * NATION_6's share of AMERICA-region ECONOMY-part import volume
    * per order year. Numerator and denominator are exact-decimal
    * conditional sums; the share is the one mirrored double division.
    */
  private val sqlQ8: String =
    """WITH vol AS (
         SELECT year(o_orderdate) AS o_year,
           CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2))) AS volume,
           n2.n_name AS supp_nation
         FROM lineitem
         JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
       SELECT CAST(o_year AS BIGINT) AS o_year,
         CAST(sum(CASE WHEN supp_nation = 'NATION_6' THEN volume
             ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT)
           AS nation_c4,
         CAST(sum(volume) * 10000 AS BIGINT) AS total_c4,
         round(CAST(sum(CASE WHEN supp_nation = 'NATION_6' THEN volume
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
           CAST(sum(volume) AS DOUBLE), 6) AS mkt_share_r
       FROM vol
       GROUP BY o_year
       ORDER BY o_year"""

  /** ONE SQL text for q_sql_q9 — TPC-H Q9 shape (profit rollup):
    * revenue − cost per supplier nation per order year for one part
    * family; p_retailprice × l_quantity stands in for the absent
    * ps_supplycost × quantity. Both terms are scale-4 decimals
    * (quantity is integral), so the signed sum × 10000 is integral.
    */
  private val sqlQ9: String =
    """SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2))) -
             CAST(p_retailprice AS DECIMAL(12,2)) *
             CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS BIGINT)
           AS profit_c4
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN orders ON o_orderkey = l_orderkey
       JOIN nation ON s_nationkey = n_nationkey
       WHERE p_name LIKE '%bolt%'
       GROUP BY n_name, year(o_orderdate)
       ORDER BY nation, o_year"""

  /** ONE SQL text for q_sql_q12 — TPC-H Q12 shape (late-shipment
    * priority counts): l_linestatus stands in for l_shipmode, late =
    * shipped more than 30 days after ordering (`DATE + int`, the Q21
    * idiom), one year of ship dates pushed to the scan; the CASE
    * pivot counts urgent-vs-rest order priorities per class.
    */
  private val sqlQ12: String =
    """SELECT l_linestatus AS ship_class,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
               OR o_orderpriority = '2-HIGH'
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
               AND o_orderpriority <> '2-HIGH'
             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY l_linestatus
       ORDER BY l_linestatus"""

  /** ONE SQL text for q_sql_q20 — TPC-H Q20 shape (qualified
    * suppliers): suppliers IN (shippers of parts IN (the red part
    * family) whose one-year shipped volume clears an exact-decimal
    * HAVING) — the two-level nested semi-join chain, restricted to
    * one region's nations.
    */
  private val sqlQ20: String =
    """SELECT s_name,
         CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
           AS acctbal_c
       FROM supplier
       JOIN nation ON s_nationkey = n_nationkey
       WHERE n_regionkey = 3
         AND s_suppkey IN (
           SELECT l_suppkey FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part
               WHERE p_name LIKE 'red%')
             AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           GROUP BY l_suppkey
           HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) >
             CAST(50 AS DECIMAL(12,2)))
       ORDER BY s_name"""

  /** Unrolled k-core oracle: the same fixed peels as
    * [[graft.ops.GraphOps.kcorePeel]], every round MATERIALIZED (each
    * references its predecessor three times — DuckDB's inliner has
    * the same re-expansion hazard the Spark side cuts with eager
    * localCheckpoints).
    */
  /** Unrolled-EM oracle chain for q_linkage_em: the pattern-count CTE
    * plus one (E-step, decimal-exact sums, M-step) CTE triple per
    * round, written with the EXACT arithmetic FuzzyJoin.linkageEm
    * runs — same ((f1·f2)·f3) product association, same num/den
    * shape, same DECIMAL(28,14) per-term casts — so the parameter
    * trajectories are bit-identical (EM is +,−,×,÷ only; every op is
    * correctly rounded IEEE on identical inputs).
    */
  private def linkageEmChainSql(iters: Int): String = {
    val head =
      """WITH pr AS (SELECT
           CASE WHEN round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             >= 0.86 THEN 1 ELSE 0 END AS g1,
           CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS g2,
           CASE WHEN round(abs(a.p_retailprice - b.p_retailprice), 6)
             < 50.0 THEN 1 ELSE 0 END AS g3
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              AND a.p_partkey < b.p_partkey),
         g AS MATERIALIZED (SELECT g1, g2, g3,
             CAST(count(*) AS BIGINT) AS n
           FROM pr GROUP BY 1, 2, 3),
         p0 AS (SELECT CAST(0.1 AS DOUBLE) AS lam,
           CAST(0.85 AS DOUBLE) AS m1, CAST(0.85 AS DOUBLE) AS m2,
           CAST(0.85 AS DOUBLE) AS m3,
           CAST(0.15 AS DOUBLE) AS u1, CAST(0.15 AS DOUBLE) AS u2,
           CAST(0.15 AS DOUBLE) AS u3)"""
    def prod(p: String) =
      s"""((CASE WHEN g.g1 = 1 THEN p.${p}1 ELSE 1.0 - p.${p}1 END)
           * (CASE WHEN g.g2 = 1 THEN p.${p}2 ELSE 1.0 - p.${p}2 END))
           * (CASE WHEN g.g3 = 1 THEN p.${p}3 ELSE 1.0 - p.${p}3 END)"""
    val rounds = (1 to iters).map { k =>
      val pm = prod("m"); val pu = prod("u")
      s"""e$k AS (SELECT g.g1, g.g2, g.g3, g.n,
             (p.lam * ($pm))
               / ((p.lam * ($pm)) + ((1.0 - p.lam) * ($pu))) AS w
           FROM g CROSS JOIN p${k - 1} p),
         s$k AS MATERIALIZED (SELECT
             CAST(sum(CAST(w * n AS DECIMAL(28,14))) AS DOUBLE) AS a,
             CAST(sum(CAST((1.0 - w) * n AS DECIMAL(28,14))) AS DOUBLE) AS b,
             CAST(sum(CAST(w * n * g1 AS DECIMAL(28,14))) AS DOUBLE) AS a1,
             CAST(sum(CAST(w * n * g2 AS DECIMAL(28,14))) AS DOUBLE) AS a2,
             CAST(sum(CAST(w * n * g3 AS DECIMAL(28,14))) AS DOUBLE) AS a3,
             CAST(sum(CAST((1.0 - w) * n * g1 AS DECIMAL(28,14)))
               AS DOUBLE) AS b1,
             CAST(sum(CAST((1.0 - w) * n * g2 AS DECIMAL(28,14)))
               AS DOUBLE) AS b2,
             CAST(sum(CAST((1.0 - w) * n * g3 AS DECIMAL(28,14)))
               AS DOUBLE) AS b3
           FROM e$k),
         p$k AS MATERIALIZED (SELECT a / (a + b) AS lam,
             a1 / a AS m1, a2 / a AS m2, a3 / a AS m3,
             b1 / b AS u1, b2 / b AS u2, b3 / b AS u3
           FROM s$k)"""
    }.mkString(",\n         ")
    s"$head,\n         $rounds"
  }

  private def kcoreOracle(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { r =>
      s"""d$r AS (SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM e${r - 1}
             UNION ALL SELECT b AS node FROM e${r - 1}) GROUP BY 1),
         k$r AS (SELECT node FROM d$r WHERE deg >= $k),
         e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           JOIN k$r ka ON ka.node = e.a
           JOIN k$r kb ON kb.node = e.b)"""
    }.mkString(",\n         ")
    s"""WITH e0 AS MATERIALIZED (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS a,
             'c' || CAST(o_custkey AS VARCHAR) AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         $peels
         SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS node FROM e$rounds
           UNION ALL SELECT b AS node FROM e$rounds)
         GROUP BY node ORDER BY node"""
  }

  /** Shared seasonal-decomposition CTE chain (see [[seasonalHourly]]);
    * `dc` is the decomposed hourly frame both consumers read.
    */
  private val seasonalCtes: String =
    """h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         tr AS (SELECT hr, cnt, avg(CAST(cnt AS DOUBLE)) OVER
             (ORDER BY hr ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
             AS trend
           FROM hc),
         dt AS (SELECT hr, CAST(hr % 24 AS INTEGER) AS hod, cnt, trend,
             CAST(cnt AS DOUBLE) - trend AS det FROM tr),
         se AS (SELECT hod, sum(det) / count(*) AS seas
           FROM dt GROUP BY 1),
         dc AS (SELECT dt.hr, dt.hod, dt.cnt,
             round(dt.trend, 6) AS trend_r,
             round(se.seas, 6) + 0.0 AS seas_r,
             round(dt.det - se.seas, 6) + 0.0 AS resid_r
           FROM dt JOIN se USING (hod))"""

  /** Lagged-Pearson oracle shared by q_acf / q_cross_corr: the same
    * pair join on the shifted bucket key and the same exact
    * DECIMAL(18,0) moment sums → one double formula per lag as
    * [[graft.ops.TimeSeries.laggedCorr]] (q_corr_exact's association,
    * sqrt never pow). `xcte`/`ycte` are SQL producing (hr, cnt).
    */
  private def laggedCorrOracle(
      xcte: String, ycte: String, lo: Int, hi: Int): String =
    s"""WITH xs AS ($xcte),
       ys AS ($ycte),
       l AS (SELECT CAST(range AS BIGINT) AS lag_h
         FROM range($lo, ${hi + 1})),
       p AS (SELECT l.lag_h,
           CAST(a.cnt AS DECIMAL(18,0)) AS x,
           CAST(b.cnt AS DECIMAL(18,0)) AS y
         FROM xs a CROSS JOIN l JOIN ys b ON b.hr = a.hr + l.lag_h),
       m AS (SELECT lag_h, CAST(count(*) AS BIGINT) AS n_pairs,
           sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
           sum(y*y) AS syy, sum(x*y) AS sxy
         FROM p GROUP BY 1),
       v AS (SELECT lag_h, n_pairs, sx, sy, sxy,
           n_pairs * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
           n_pairs * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
         FROM m)
       SELECT lag_h, n_pairs,
         round((n_pairs * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(varx) * sqrt(vary)), 6) AS corr_r
       FROM v WHERE varx > 0 AND vary > 0
       ORDER BY lag_h"""

  /** Truncated-Holt oracle: the same fixed left-associated weighted
    * lag chain as [[graft.ops.TimeSeries.holtTruncated]], with weight
    * literals printed from the SAME holtWeights doubles
    * (Double.toString round-trips, so both engines parse the
    * identical IEEE value) — bit-equal before the gate round. Rows
    * without a full-depth history are null on both engines and
    * filtered on both engines.
    */
  private def holtOracle(alpha: Double, beta: Double, lags: Int): String = {
    val ws = graft.ops.TimeSeries.holtWeights(alpha, beta, lags)
    val chain = ws.zipWithIndex.map { case (wt, i) =>
      val d = lags - 1 - i
      if (d == 0) s"$wt * v" else s"$wt * lag(v, $d) OVER w"
    }.mkString(" + ")
    s"""WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(count(*) AS BIGINT) AS n
         FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2),
       hv AS (SELECT user_id, h, n, CAST(n AS DOUBLE) AS v FROM hourly),
       f AS (SELECT user_id, h, n, round(($chain), 6) AS holt_r
         FROM hv WINDOW w AS (PARTITION BY user_id ORDER BY h))
       SELECT user_id, h, n, holt_r FROM f WHERE holt_r IS NOT NULL
       ORDER BY user_id, h"""
  }

  private def ewmaOracle(alpha: Double, lags: Int): String = {
    val ws = graft.ops.TimeSeries.ewmaWeights(alpha, lags)
    val num = ws.zipWithIndex.map {
      case (wt, 0) => s"$wt * v"
      case (wt, i) => s"$wt * coalesce(lag(v, $i) OVER w, 0.0)"
    }.mkString(" + ")
    val den = ws.zipWithIndex.map {
      case (wt, 0) => s"$wt"
      case (wt, i) =>
        s"$wt * (CASE WHEN lag(v, $i) OVER w IS NOT NULL THEN 1.0 ELSE 0.0 END)"
    }.mkString(" + ")
    s"""WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(count(*) AS BIGINT) AS n
         FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2),
       hv AS (SELECT user_id, h, n, CAST(n AS DOUBLE) AS v FROM hourly)
       SELECT user_id, h, n, round(($num) / ($den), 6) AS ewma_r
       FROM hv
       WINDOW w AS (PARTITION BY user_id ORDER BY h)
       ORDER BY user_id, h"""
  }

  /** PageRank oracle: DuckDB 1.0 disallows aggregation inside a
    * recursive CTE member, so the FIXED iteration count is unrolled
    * into chained CTEs r0..r{iters} — each a plain join+aggregate,
    * the exact update rule of [[graft.ops.GraphOps.pageRank]],
    * including its hub-safe integer-scaled contribution and dangling
    * sums (floor(x·10¹⁴ + 0.5) per term, summed as BIGINT —
    * order-independent on both engines, the engine-portable
    * floor-idiom twin of the gradient-sum DECIMAL treatment). The
    * (1−d) literal is emitted via Double.toString so the SQL double
    * is BIT-identical to Spark's `lit(1.0 - damping)` (1.0−0.85 is
    * 0.15000000000000002, not 0.15). Every round CTE is MATERIALIZED:
    * each references its predecessor TWICE (contribution + dangling),
    * and DuckDB's default inlining would re-expand the chain 2^iters
    * times — the exact exponential-plan hazard the Spark side cuts
    * with eager localCheckpoints, which at sf0.1 filled the disk with
    * spill before this pin.
    */
  private def pagerankOracle(iters: Int, damping: Double): String = {
    val d1 = s"CAST(${1.0 - damping} AS DOUBLE)"
    val d = s"CAST($damping AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT p.node,
           $d1 / p.n + $d *
             (COALESCE(c.contrib, CAST(0 AS DOUBLE)) + dg.dm / p.n) AS pr,
           p.n
         FROM r${i - 1} p
         LEFT JOIN (SELECT e.dst AS node,
                      CAST(sum(CAST(floor(r.pr / g.outdeg * 1e14 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1e14 AS contrib
                    FROM e JOIN r${i - 1} r ON r.node = e.src
                         JOIN deg g ON g.src = e.src
                    GROUP BY e.dst) c ON c.node = p.node
         CROSS JOIN (SELECT COALESCE(
                       CAST(sum(CAST(floor(r.pr * 1e14 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e14,
                       CAST(0 AS DOUBLE)) AS dm
                     FROM r${i - 1} r LEFT JOIN deg g ON g.src = r.node
                     WHERE g.src IS NULL) dg)"""
    }.mkString(",\n         ")
    s"""WITH e AS MATERIALIZED (
             SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'c' || CAST(o_custkey AS VARCHAR) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         deg AS MATERIALIZED (
           SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         nn AS (SELECT count(*) AS n FROM nodes),
         r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr, n
                FROM nodes CROSS JOIN nn),
         $rounds
         SELECT node, round(pr, 6) AS rank_r FROM r$iters ORDER BY node"""
  }

  /** Highest-bit-first bit-length CASE chain over BIGINT `v` — the
    * engine-portable integer log2 (the HLL-oracle idiom, full 63-bit
    * range); both engines evaluate the identical literal compares.
    */
  private def bitLenCases(v: String): String =
    (62 to 0 by -1)
      .map(k => s"WHEN $v >= ${1L << k} THEN ${k + 1}")
      .mkString("CASE ", "\n               ", " ELSE 0 END")

  /** HLL oracle: the identical register pipeline in SQL — bit length
    * of the 26-bit remainder as the same highest-bit-first CASE chain
    * the Scala side folds, so rank math is pure integers on both
    * engines.
    */
  private def hllOracle: String = {
    val blCases = (0 to 25)
      .map(i => s"WHEN w >= ${1L << (25 - i)} THEN ${26 - i}")
      .mkString("\n               ")
    s"""WITH e AS (SELECT event_type, user_id,
             CAST(CAST(('0x' || substr(md5('hll:' ||
               CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               AS h
           FROM events),
         b AS (SELECT event_type, h % 64 AS reg, h // 64 AS w FROM e),
         r AS (SELECT event_type, reg,
             27 - (CASE
               $blCases
               ELSE 0 END) AS rank
           FROM b),
         mj AS (SELECT event_type, reg, max(rank) AS mj
           FROM r GROUP BY 1, 2),
         agg AS (SELECT event_type,
             CAST(count(*) AS BIGINT) AS present,
             sum(power(2.0, CAST(-mj AS DOUBLE))) AS zp
           FROM mj GROUP BY 1),
         est AS (SELECT event_type, 64 - present AS v,
             (0.709 * 4096.0) /
               (CAST(64 - present AS DOUBLE) + zp) AS e_raw
           FROM agg),
         t AS (SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
           FROM e GROUP BY 1)
         SELECT t.event_type, t.n_true, est.v,
           CASE WHEN est.e_raw <= 160.0 AND est.v > 0
             THEN round(64.0 * ln(64.0 / CAST(est.v AS DOUBLE)), 6)
             ELSE round(est.e_raw, 6) END AS est_r
         FROM t JOIN est USING (event_type) ORDER BY event_type"""
  }

  /** BFS oracle: rounds unrolled into MATERIALIZED CTEs (the same
    * inliner-doubling pin as the PageRank oracle).
    */
  private def bfsOracle(maxHops: Int): String = {
    val rounds = (1 to maxHops).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d${i - 1}
             UNION ALL
             SELECT e.dst, p.dist + 1 FROM e
               JOIN d${i - 1} p ON p.node = e.src)
           GROUP BY node)"""
    }.mkString(",\n         ")
    s"""WITH b AS MATERIALIZED (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'c' || CAST(o_custkey AS VARCHAR) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (
           SELECT src, dst FROM b UNION SELECT dst, src FROM b),
         d0 AS MATERIALIZED (
           SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node,
             CAST(0 AS BIGINT) AS dist
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_9'),
         $rounds
         SELECT node, dist FROM d$maxHops ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> pagerankOracle(6, 0.85),
    "q_bfs_levels" -> bfsOracle(3),
    "q_kcore" -> kcoreOracle(4, 3),
    "q_sql_q1" -> sqlQ1,
    "q_sql_q3" -> sqlQ3,
    "q_sql_q5" -> sqlQ5,
    "q_sql_q18" -> sqlQ18,
    "q_sql_q7" -> sqlQ7,
    "q_sql_q10" -> sqlQ10,
    "q_sql_window" -> sqlWindow,
    "q_sql_q6" -> sqlQ6,
    "q_sql_q16" -> sqlQ16,
    "q_sql_q4" -> sqlQ4,
    "q_sql_q13" -> sqlQ13,
    "q_sql_q15" -> sqlQ15,
    "q_sql_q22" -> sqlQ22,
    "q_sql_q11" -> sqlQ11,
    "q_sql_q14" -> sqlQ14,
    "q_sql_q17" -> sqlQ17,
    "q_sql_q19" -> sqlQ19,
    "q_sql_q21" -> sqlQ21,
    "q_sql_q2" -> sqlQ2,
    "q_sql_q8" -> sqlQ8,
    "q_sql_q9" -> sqlQ9,
    "q_sql_q12" -> sqlQ12,
    "q_sql_q20" -> sqlQ20,
    "q_hll_distinct" -> hllOracle,
    "q_scd_asof" ->
      """WITH s AS (SELECT o_orderkey, o_custkey, o_orderpriority,
             o_orderdate,
             CASE WHEN lag(o_orderpriority) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
               IS DISTINCT FROM o_orderpriority
               THEN o_orderdate END AS chg
           FROM orders)
         SELECT o_orderkey, o_custkey, o_orderpriority,
           last_value(chg IGNORE NULLS) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS ver_started
         FROM s ORDER BY o_orderkey""",
    "q_bloom_prune" ->
      """SELECT l_suppkey, count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
             * 100 AS BIGINT) AS sum_qty_c
         FROM lineitem
         WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_9')
         GROUP BY l_suppkey ORDER BY l_suppkey""",
    "q_bloom_fpr" ->
      """WITH ins AS (SELECT s_suppkey AS k FROM supplier),
         ip AS (SELECT DISTINCT
             CAST(CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR)
               || ':' || CAST(k AS VARCHAR)), 1, 8)) AS UBIGINT)
               AS BIGINT) % 256 AS pos
           FROM ins CROSS JOIN (SELECT unnest(range(3)) AS i) i),
         words AS (SELECT pos // 8 AS word,
             bit_or(CAST(1 AS INTEGER) << CAST(pos % 8 AS INTEGER))
               AS bits
           FROM ip GROUP BY 1),
         pr AS (SELECT c_custkey +
             (SELECT max(s_suppkey) + 1 FROM supplier) AS k
           FROM customer),
         pp AS (SELECT k,
             CAST(CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR)
               || ':' || CAST(k AS VARCHAR)), 1, 8)) AS UBIGINT)
               AS BIGINT) % 256 AS pos
           FROM pr CROSS JOIN (SELECT unnest(range(3)) AS i) i),
         hit AS (SELECT pp.k,
             bool_and((coalesce(w.bits, 0) &
               (CAST(1 AS INTEGER) << CAST(pp.pos % 8 AS INTEGER)))
               <> 0) AS fp
           FROM pp LEFT JOIN words w ON w.word = pp.pos // 8
           GROUP BY pp.k),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN fp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fp FROM hit),
         ia AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM ins),
         bs AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT)
             AS n_bits_set FROM words),
         th AS (SELECT n_inserted, 1.0 - exp(3.0 *
             CAST(n_inserted AS DOUBLE) * ln(0.99609375)) AS pbit
           FROM ia)
         SELECT th.n_inserted, bs.n_bits_set, st.n_probes, st.n_fp,
           round(CAST(st.n_fp AS DOUBLE) / CAST(st.n_probes AS DOUBLE),
             6) AS fpr_r,
           round(th.pbit * th.pbit * th.pbit, 6) AS theory_r
         FROM st CROSS JOIN bs CROSS JOIN th""",
    "q_join_size" ->
      """WITH lc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c1
           FROM lineitem GROUP BY 1),
         oc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c2
           FROM orders GROUP BY 1),
         j AS (SELECT lc.k, lc.c1 * oc.c2 AS contrib
           FROM lc JOIN oc ON lc.k = oc.k),
         mx AS (SELECT k AS top_key, contrib AS max_contrib FROM
             (SELECT k, contrib, row_number() OVER
               (ORDER BY contrib DESC, k) AS rn FROM j) WHERE rn = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(j.contrib) AS BIGINT) AS join_rows,
           CAST(max(mx.max_contrib) AS BIGINT) AS max_contrib,
           CAST(max(mx.top_key) AS BIGINT) AS top_key,
           round(CAST(max(mx.max_contrib) AS DOUBLE) /
             CAST(sum(j.contrib) AS DOUBLE), 6) AS skew_frac_r
         FROM j CROSS JOIN mx""",
    "q_expectations" ->
      """WITH checks AS (
           SELECT 'lineitem_keys_not_null' AS "check",
             CAST(sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
           FROM lineitem
         UNION ALL
           SELECT 'l_quantity_in_1_50',
             CAST(sum(CASE WHEN l_quantity IS NOT NULL
               AND NOT (l_quantity BETWEEN 1.0 AND 50.0)
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
         UNION ALL
           SELECT 'l_discount_in_0_1',
             CAST(sum(CASE WHEN l_discount IS NOT NULL
               AND NOT (l_discount BETWEEN 0.0 AND 1.0)
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
         UNION ALL
           SELECT 'o_orderkey_unique',
             CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
           FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
         UNION ALL
           SELECT 'lineitem_pk_unique',
             CAST(COALESCE(sum(c - 1), 0) AS BIGINT)
           FROM (SELECT count(*) AS c FROM lineitem
             GROUP BY l_orderkey, l_linenumber)
         UNION ALL
           SELECT 'l_orderkey_fk_orders', CAST(count(*) AS BIGINT)
           FROM lineitem l
           WHERE l_orderkey IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         UNION ALL
           SELECT 'o_custkey_fk_customer', CAST(count(*) AS BIGINT)
           FROM orders o
           WHERE o_custkey IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         SELECT "check", n_violations, n_violations = 0 AS pass
         FROM checks ORDER BY "check"""",
    "q_scd2" ->
      """WITH s AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         c AS (SELECT * FROM s
           WHERE prev IS DISTINCT FROM o_orderpriority),
         v AS (SELECT o_custkey, o_orderpriority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS valid_to
           FROM c)
         SELECT o_custkey, o_orderpriority, valid_from,
           COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           (valid_to IS NULL) AS is_current
         FROM v
         ORDER BY o_custkey, valid_from, o_orderpriority,
           COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00')""",
    "q_table_stats" ->
      """SELECT 'l_orderkey' AS col_name, count(*) AS n,
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
           min(l_orderkey) AS min_v, max(l_orderkey) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_partkey', count(*),
           CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT l_partkey) AS BIGINT),
           min(l_partkey), max(l_partkey)
         FROM lineitem
         UNION ALL
         SELECT 'l_suppkey', count(*),
           CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT l_suppkey) AS BIGINT),
           min(l_suppkey), max(l_suppkey)
         FROM lineitem
         ORDER BY col_name""",
    "q_psi" ->
      """WITH e AS (SELECT value,
             (ts < TIMESTAMP '2024-01-16 00:00:00') AS is_base
           FROM events WHERE value IS NOT NULL),
         f AS (SELECT
             round(quantile_cont(value, 0.1), 6) AS f1,
             round(quantile_cont(value, 0.2), 6) AS f2,
             round(quantile_cont(value, 0.3), 6) AS f3,
             round(quantile_cont(value, 0.4), 6) AS f4,
             round(quantile_cont(value, 0.5), 6) AS f5,
             round(quantile_cont(value, 0.6), 6) AS f6,
             round(quantile_cont(value, 0.7), 6) AS f7,
             round(quantile_cont(value, 0.8), 6) AS f8,
             round(quantile_cont(value, 0.9), 6) AS f9
           FROM e WHERE is_base),
         b AS (SELECT
             CAST((CASE WHEN value >= f1 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f2 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f3 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f4 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f5 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f6 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f7 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f8 THEN 1 ELSE 0 END) +
               (CASE WHEN value >= f9 THEN 1 ELSE 0 END) AS BIGINT)
               AS bucket,
             is_base
           FROM e CROSS JOIN f),
         c AS (SELECT bucket,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
               AS c_base,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
               AS c_cur
           FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(c_base) AS BIGINT) AS n_base,
             CAST(sum(c_cur) AS BIGINT) AS n_cur FROM c)
         SELECT bucket, c_base, c_cur,
           round((CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 10 AS DOUBLE)
             - CAST(c_base + 1 AS DOUBLE) / CAST(n_base + 10 AS DOUBLE))
             * ln((CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 10 AS DOUBLE))
             / (CAST(c_base + 1 AS DOUBLE) / CAST(n_base + 10 AS DOUBLE))),
             6) AS psi_contrib_r
         FROM c CROSS JOIN t ORDER BY bucket""",
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS from_type
           FROM events),
         tr AS (SELECT from_type, event_type AS to_type, count(*) AS n
           FROM e WHERE from_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
           FROM tr GROUP BY 1)
         SELECT tr.from_type, tr.to_type, tr.n,
           round(CAST(tr.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p_r
         FROM tr JOIN tot t ON t.from_type = tr.from_type
         ORDER BY tr.from_type, tr.to_type""",
    "q_triangles" ->
      """WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT x.s AS sa, y.s AS sb
           FROM sc x JOIN sc y ON x.c = y.c AND x.s < y.s
           GROUP BY 1, 2 HAVING count(*) >= 190)
         SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
         FROM e e1
         JOIN e e2 ON e2.sa = e1.sb
         JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb
         ORDER BY a, b, c""",
    "q_basket_pairs" ->
      """WITH base AS (SELECT DISTINCT l_orderkey, l_partkey
           FROM lineitem)
         SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*) AS n
         FROM base x JOIN base y
           ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY pa, pb""",
    "q_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS name
           FROM customer WHERE c_custkey < 400),
         g AS (SELECT DISTINCT id, gram FROM
           (SELECT id, substr(name,
              CAST(unnest(range(1, length(name))) AS INTEGER), 2) AS gram
            FROM c)),
         gl AS (SELECT id, count(*) AS ng FROM g GROUP BY 1),
         cand AS (SELECT x.id AS a, y.id AS b, count(*) AS shared
           FROM g x JOIN g y ON x.gram = y.gram AND x.id < y.id
           GROUP BY 1, 2),
         f AS (SELECT c.a, c.b FROM cand c
           JOIN gl la ON la.id = c.a JOIN gl lb ON lb.id = c.b
           WHERE c.shared >= greatest(la.ng, lb.ng) - 2)
         SELECT f.a, f.b,
           CAST(levenshtein(ca.name, cb.name) AS INTEGER) AS dist
         FROM f JOIN c ca ON ca.id = f.a JOIN c cb ON cb.id = f.b
         WHERE levenshtein(ca.name, cb.name) <= 1
         ORDER BY a, b""",
    "q_jaro_block" ->
      """SELECT a.p_partkey AS pa, b.p_partkey AS pb,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim_r
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              AND a.p_partkey < b.p_partkey
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
           >= 0.86
         ORDER BY pa, pb""",
    // micro-integer weights are the same literals as the Spark side;
    // the only float surfaces are the two rounded agreement fences
    "q_linkage_fs" ->
      """WITH pr AS (SELECT a.p_partkey AS pa, b.p_partkey AS pb,
           CASE WHEN round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             >= 0.86 THEN 1 ELSE 0 END AS agr_name,
           CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS agr_type,
           CASE WHEN round(abs(a.p_retailprice - b.p_retailprice), 6)
             < 50.0 THEN 1 ELSE 0 END AS agr_price
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              AND a.p_partkey < b.p_partkey),
         sc AS (SELECT pa, pb,
           CAST(agr_name AS INTEGER) AS agr_name,
           CAST(agr_type AS INTEGER) AS agr_type,
           CAST(agr_price AS INTEGER) AS agr_price,
           CAST(CASE WHEN agr_name = 1 THEN 4169925 ELSE -3247928 END
             + CASE WHEN agr_type = 1 THEN 5321928 ELSE -2292782 END
             + CASE WHEN agr_price = 1 THEN 4807355 ELSE -1700440 END
             AS BIGINT) AS score_u
         FROM pr)
         SELECT pa, pb, agr_name, agr_type, agr_price, score_u,
           CASE WHEN score_u >= 9000000 THEN 'link'
             ELSE 'possible' END AS decision
         FROM sc WHERE score_u >= 0
         ORDER BY pa, pb""",
    "q_blocking_quality" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_size
           FROM part WHERE p_partkey < 1000 AND length(p_name) >= 3),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         cand AS (SELECT CAST(sum((b * (b - 1)) // 2) AS BIGINT)
             AS n_cand
           FROM (SELECT CAST(count(*) AS BIGINT) AS b FROM p
             GROUP BY p_brand, p_size)),
         g0 AS (SELECT p_partkey AS id, p_name AS nm,
             unnest(range(1, length(p_name) - 1)) AS pos FROM p),
         g AS (SELECT DISTINCT id, nm, substr(nm, pos, 3) AS gr
           FROM g0),
         ctri AS (SELECT DISTINCT x.id AS a, y.id AS b,
             x.nm AS na, y.nm AS nb
           FROM g x JOIN g y ON x.gr = y.gr AND x.id < y.id),
         cn2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM ctri),
         tm AS (SELECT a, b FROM ctri
           WHERE round(jaro_winkler_similarity(na, nb), 6) >= 0.86),
         tn AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tm),
         fn AS (SELECT CAST(count(*) AS BIGINT) AS n_found
           FROM tm
           JOIN p pa ON pa.p_partkey = tm.a
           JOIN p pb ON pb.p_partkey = tm.b
           WHERE pa.p_brand = pb.p_brand AND pa.p_size = pb.p_size),
         fn2 AS (SELECT CAST(count(*) AS BIGINT) AS n_found
           FROM tm JOIN ctri c ON c.a = tm.a AND c.b = tm.b)
         SELECT * FROM (
           SELECT 'brand_size' AS scheme, nn.n,
             CAST((nn.n * (nn.n - 1)) // 2 AS BIGINT) AS n_all,
             cand.n_cand,
             round(1.0 - CAST(cand.n_cand AS DOUBLE) /
               CAST((nn.n * (nn.n - 1)) // 2 AS DOUBLE), 6)
               AS reduction_r,
             tn.n_true, fn.n_found,
             round(CASE WHEN tn.n_true = 0 THEN 1.0
               ELSE CAST(fn.n_found AS DOUBLE) /
                 CAST(tn.n_true AS DOUBLE)
               END, 6) AS completeness_r
           FROM nn CROSS JOIN cand CROSS JOIN tn CROSS JOIN fn
           UNION ALL
           SELECT 'name_trigram' AS scheme, nn.n,
             CAST((nn.n * (nn.n - 1)) // 2 AS BIGINT) AS n_all,
             cn2.n_cand,
             round(1.0 - CAST(cn2.n_cand AS DOUBLE) /
               CAST((nn.n * (nn.n - 1)) // 2 AS DOUBLE), 6)
               AS reduction_r,
             tn.n_true, fn2.n_found,
             round(CASE WHEN tn.n_true = 0 THEN 1.0
               ELSE CAST(fn2.n_found AS DOUBLE) /
                 CAST(tn.n_true AS DOUBLE)
               END, 6) AS completeness_r
           FROM nn CROSS JOIN cn2 CROSS JOIN tn CROSS JOIN fn2)
         ORDER BY scheme""",
    "q_linkage_em" ->
      s"""${linkageEmChainSql(4)}
         SELECT * FROM (
           SELECT 'lam' AS param, round(lam, 6) AS value_r FROM p4
           UNION ALL SELECT 'm_name', round(m1, 6) FROM p4
           UNION ALL SELECT 'm_type', round(m2, 6) FROM p4
           UNION ALL SELECT 'm_price', round(m3, 6) FROM p4
           UNION ALL SELECT 'u_name', round(u1, 6) FROM p4
           UNION ALL SELECT 'u_type', round(u2, 6) FROM p4
           UNION ALL SELECT 'u_price', round(u3, 6) FROM p4)
         ORDER BY param""",
    "q_er_clusters" ->
      """WITH RECURSIVE pr AS (
           SELECT a.p_partkey AS a, b.p_partkey AS b
           FROM part a JOIN part b
             ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                AND a.p_partkey < b.p_partkey
           WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             >= 0.86),
         edges AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
         reach(id, lbl) AS (
             SELECT p_partkey, p_partkey FROM part
             UNION
             SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)
         SELECT id, min(lbl) AS cluster_id
         FROM reach GROUP BY id ORDER BY id""",
    "q_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events
           WHERE value IS NOT NULL),
         med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM e GROUP BY 1),
         d AS (SELECT e.event_id, e.event_type, e.value,
             abs(e.value - m.med) AS adev
           FROM e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
           FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, round(d.value, 6) AS val_r,
           round(d.adev, 6) AS dev_r, round(3.0 * m.mad, 6) AS fence_r
         FROM d JOIN mad m USING (event_type)
         WHERE round(d.adev, 6) > round(3.0 * m.mad, 6)
         ORDER BY event_id""",
    "q_ewma" -> ewmaOracle(0.25, 12),
    "q_interval_merge" ->
      """WITH iv AS (SELECT user_id, date_trunc('second', ts) AS s,
             date_trunc('second', ts) + INTERVAL 5 MINUTE AS e
           FROM events WHERE user_id % 59 = 0),
         m AS (SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM iv),
         f AS (SELECT user_id, s, e,
             CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
           FROM m),
         i AS (SELECT user_id, s, e,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM f)
         SELECT user_id, min(s) AS span_start, max(e) AS span_end,
           CAST(count(*) AS BIGINT) AS n_merged
         FROM i GROUP BY user_id, isl
         ORDER BY user_id, span_start""",
    "q_interp" ->
      """WITH a AS (SELECT user_id, date_trunc('hour', ts) AS h,
             max(value) AS mx
           FROM events WHERE user_id % 97 = 0 AND value IS NOT NULL
           GROUP BY 1, 2),
         b AS (SELECT user_id, min(h) AS lo, max(h) AS hi
           FROM a GROUP BY 1),
         grid AS (SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM b),
         j AS (SELECT g.user_id, g.h, a.mx,
             (a.user_id IS NULL) AS is_gap
           FROM grid g LEFT JOIN a
             ON a.user_id = g.user_id AND a.h = g.h),
         k AS (SELECT user_id, h, mx, is_gap,
             CAST(epoch_ns(h) // 1000000000 AS DOUBLE) AS t,
             last_value(mx IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pv,
             last_value(CASE WHEN mx IS NOT NULL
                 THEN CAST(epoch_ns(h) // 1000000000 AS DOUBLE) END
               IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pt,
             first_value(mx IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nv,
             first_value(CASE WHEN mx IS NOT NULL
                 THEN CAST(epoch_ns(h) // 1000000000 AS DOUBLE) END
               IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nt
           FROM j)
         SELECT user_id, h, is_gap,
           round(CASE WHEN mx IS NOT NULL THEN mx
             ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END, 6)
             AS interp_r
         FROM k ORDER BY user_id, h""",
    "q_mannwhitney" ->
      """WITH s AS (SELECT event_type AS g, value AS v FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
         r AS (SELECT g, v,
             rank() OVER (ORDER BY v) AS minrn,
             count(*) OVER (PARTITION BY v) AS cnt
           FROM s),
         a AS (SELECT g,
             CAST(minrn AS DOUBLE) + CAST(cnt - 1 AS DOUBLE) / 2.0
               AS avg_rank
           FROM r)
         SELECT g, CAST(count(*) AS BIGINT) AS n,
           round(sum(avg_rank), 6) AS rank_sum_r,
           round(sum(avg_rank) - CAST(count(*) AS DOUBLE) *
             CAST(count(*) + 1 AS DOUBLE) / 2.0, 6) AS u_r
         FROM a GROUP BY g ORDER BY g""",
    "q_benford" ->
      """WITH src AS (SELECT o_totalprice AS v FROM orders
           WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
         o AS (SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             count(*) AS n
           FROM src GROUP BY 1),
         spine AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM o),
         j AS (SELECT s.digit,
             CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
             ln(1.0 + 1.0 / CAST(s.digit AS DOUBLE)) / ln(10.0) AS p_exp
           FROM spine s LEFT JOIN o ON o.digit = s.digit)
         SELECT j.digit, j.n,
           round(CAST(j.n AS DOUBLE) / CAST(t.n_tot AS DOUBLE), 6)
             AS p_obs_r,
           round(j.p_exp, 6) AS p_exp_r,
           round((CAST(j.n AS DOUBLE) - j.p_exp * CAST(t.n_tot AS DOUBLE)) *
             (CAST(j.n AS DOUBLE) - j.p_exp * CAST(t.n_tot AS DOUBLE)) /
             (j.p_exp * CAST(t.n_tot AS DOUBLE)), 6) AS chi_r
         FROM j CROSS JOIN tot t ORDER BY digit""",
    "q_rendezvous" ->
      """WITH ids AS (SELECT c_custkey FROM customer),
         sh AS (SELECT 'shard_' || CAST(unnest(range(0, 8)) AS VARCHAR)
             AS shard),
         scored AS (SELECT i.c_custkey, s.shard,
             CAST(CAST(('0x' || substr(md5(s.shard || ':' ||
               CAST(i.c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
               AS BIGINT) AS h
           FROM ids i CROSS JOIN sh s),
         best AS (SELECT c_custkey, shard,
             row_number() OVER (PARTITION BY c_custkey
               ORDER BY h DESC, shard DESC) AS rn
           FROM scored)
         SELECT shard, CAST(count(*) AS BIGINT) AS n,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
         FROM best WHERE rn = 1
         GROUP BY shard ORDER BY shard""",
    "q_trend_lines" ->
      """WITH e AS (SELECT event_type,
             CAST(epoch_ns(ts) // 3600000000000 AS DECIMAL(18,0)) AS x,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(v) AS sv,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * v AS DECIMAL(38,6))) AS sxv
           FROM e GROUP BY 1),
         vv AS (SELECT *, n * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varnum
           FROM m),
         sl AS (SELECT *, (n * CAST(sxv AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sv AS DOUBLE)) / varnum AS slope
           FROM vv WHERE varnum > 0)
         SELECT event_type, n, round(slope, 6) AS slope_r,
           round((CAST(sv AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n, 6)
             AS icept_r
         FROM sl ORDER BY event_type""",
    "q_winsorize" ->
      """WITH d AS (SELECT event_id, event_type, value FROM events
           WHERE value IS NOT NULL),
         f AS (SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo_r,
             round(quantile_cont(value, 0.95), 6) AS hi_r
           FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value,
           greatest(least(d.value, f.hi_r), f.lo_r) AS clipped
         FROM d JOIN f USING (event_type)
         WHERE d.value < f.lo_r OR d.value > f.hi_r
         ORDER BY d.event_id""",
    "q_equi_depth_hist" ->
      """WITH li AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS p
           FROM lineitem),
         th AS (SELECT round(quantile_cont(CAST(p AS DOUBLE), 0.25), 6)
               AS q1,
             round(quantile_cont(CAST(p AS DOUBLE), 0.5), 6) AS q2,
             round(quantile_cont(CAST(p AS DOUBLE), 0.75), 6) AS q3
           FROM li),
         b AS (SELECT p, CASE
             WHEN CAST(p AS DOUBLE) <= q1 THEN 0
             WHEN CAST(p AS DOUBLE) <= q2 THEN 1
             WHEN CAST(p AS DOUBLE) <= q3 THEN 2
             ELSE 3 END AS bin
           FROM li CROSS JOIN th)
         SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(p) AS DOUBLE) AS p_min,
           CAST(max(p) AS DOUBLE) AS p_max,
           CAST(CAST(sum(p) AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS mass_c
         FROM b GROUP BY 1 ORDER BY bin""",
    "q_cohort_value" ->
      """WITH e AS (SELECT user_id,
             epoch_ns(ts) // 604800000000000 AS wk,
             CAST(value AS DECIMAL(18,6)) AS v
           FROM events WHERE event_type = 'purchase'),
         f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1),
         ca AS (SELECT f.cohort, e.wk - f.cohort AS age,
             CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
             sum(e.v) AS wv
           FROM e JOIN f ON f.user_id = e.user_id GROUP BY 1, 2),
         s0 AS (SELECT cohort, n_users AS cohort_size FROM ca
           WHERE age = 0),
         c AS (SELECT cohort, age, n_users,
             sum(wv) OVER (PARTITION BY cohort ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
           FROM ca)
         SELECT c.cohort, c.age, c.n_users, s0.cohort_size,
           round(CAST(c.cum AS DOUBLE) /
             CAST(s0.cohort_size AS DOUBLE), 6) AS cum_per_user_r
         FROM c JOIN s0 ON s0.cohort = c.cohort
         ORDER BY c.cohort, c.age""",
    "q_power_sample" ->
      """WITH e AS (SELECT event_type,
             CAST(value AS DECIMAL(28,14)) AS x,
             CAST(value * value AS DECIMAL(28,14)) AS x2
           FROM events),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(x2) AS sx2 FROM e GROUP BY 1),
         s AS (SELECT event_type, n,
             CAST(sx AS DOUBLE) / n AS m,
             (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) *
               CAST(sx AS DOUBLE) / n) / (n - 1) AS v
           FROM m),
         d AS (SELECT event_type, n, m, v, 0.05 * m AS delta FROM s)
         SELECT event_type, n, round(m, 6) AS mean_r,
           round(v, 6) AS var_r, round(delta, 6) AS mde_r,
           CAST(ceil(2.0 * v * 7.84 / (delta * delta)) AS BIGINT)
             AS n_per_arm
         FROM d WHERE n > 1 AND delta <> 0.0 ORDER BY event_type""",
    "q_dow_index" ->
      """WITH d AS (SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7
             AS dow FROM events),
         g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n
           FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
         SELECT dow, n,
           round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS share_r,
           round(7.0 * CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS index_r
         FROM g CROSS JOIN t ORDER BY dow""",
    "q_new_returning" ->
      """WITH du AS (SELECT DISTINCT
             epoch_ns(ts) // 86400000000000 AS day, user_id
           FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM du
           GROUP BY 1)
         SELECT du.day,
           CAST(sum(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN du.day > f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning
         FROM du JOIN f ON f.user_id = du.user_id
         GROUP BY 1 ORDER BY du.day""",
    "q_multi_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS rn
           FROM events),
         fp AS (SELECT user_id, min(rn) AS prn FROM e
           WHERE event_type = 'purchase' GROUP BY 1),
         t AS (SELECT e.user_id, e.event_type, e.rn
           FROM e JOIN fp ON fp.user_id = e.user_id
           WHERE e.rn < fp.prn AND e.event_type <> 'purchase'),
         k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k,
             min(rn) AS rn_first, max(rn) AS rn_last
           FROM t GROUP BY 1),
         c AS (SELECT t.event_type,
             CAST(round(CASE WHEN k.k = 1 THEN 1.0
               WHEN k.k = 2 THEN 0.5
               WHEN t.rn = k.rn_first OR t.rn = k.rn_last THEN 0.4
               ELSE 0.2 / CAST(k.k - 2 AS DOUBLE) END, 12)
               AS DECIMAL(20,12)) AS cd
           FROM t JOIN k ON k.user_id = t.user_id)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(cd) AS DOUBLE), 6) AS credit_r
         FROM c GROUP BY 1 ORDER BY event_type""",
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS rn
           FROM events),
         fp AS (SELECT user_id, min(rn) AS prn FROM e
           WHERE event_type = 'purchase' GROUP BY 1),
         c AS (SELECT e.user_id,
             arg_max(e.event_type, e.rn) AS credited
           FROM e JOIN fp ON fp.user_id = e.user_id
           WHERE e.rn < fp.prn AND e.event_type <> 'purchase'
           GROUP BY 1)
         SELECT credited AS event_type, count(*) AS n_users
         FROM c GROUP BY 1 ORDER BY event_type""",
    "q_rolling_z" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS vr,
             date_trunc('second', ts) AS tss
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, event_id, vr,
             count(*) OVER w AS n,
             sum(vr) OVER w AS sx,
             sum(CAST(vr * vr AS DECIMAL(38,12))) OVER w AS sxx
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY tss, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         v AS (SELECT user_id, event_id, vr, n, sx,
             n * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varnum
           FROM s WHERE n >= 10),
         z AS (SELECT user_id, event_id,
             round((CAST(vr AS DOUBLE) - CAST(sx AS DOUBLE) / n) /
               sqrt(varnum / (n * (n - 1))), 6) AS z_r
           FROM v WHERE varnum > 0)
         SELECT user_id, event_id, z_r FROM z WHERE abs(z_r) > 2.5
         ORDER BY user_id, event_id""",
    "q_gap_fill" ->
      """WITH a AS (SELECT user_id, date_trunc('hour', ts) AS h,
             count(*) AS n, max(value) AS mx
           FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2),
         b AS (SELECT user_id, min(h) AS lo, max(h) AS hi
           FROM a GROUP BY 1),
         grid AS (SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM b),
         j AS (SELECT g.user_id, g.h, a.n, a.mx,
             (a.user_id IS NULL) AS is_gap
           FROM grid g LEFT JOIN a
             ON a.user_id = g.user_id AND a.h = g.h)
         SELECT user_id, h, COALESCE(n, CAST(0 AS BIGINT)) AS n,
           last_value(mx IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS mx,
           is_gap
         FROM j ORDER BY user_id, h""",
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_qty_c,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_base_price_c,
           CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
             AS DECIMAL(18,4))) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS sum_disc_price_c,
           count(*) AS n,
           CAST(floor(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS DOUBLE) / count(*) * 1e6 + 0.5) AS BIGINT) AS avg_qty_c
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_join_revenue" ->
      """SELECT r_name, n_name,
           CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
             AS DECIMAL(18,4))) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS revenue_c,
           count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""",
    "q_semi_anti" ->
      """SELECT 'with_orders' AS rel, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT 'no_orders' AS rel, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY rel""",
    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS total_spend_c
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_rolling_range" ->
      """WITH e AS (SELECT event_id, user_id, value,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT) AS ts_s
           FROM events)
         SELECT event_id, user_id, ts_s,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w
             AS DECIMAL(18,2)) * 100 AS BIGINT) AS spend_1h_c
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q_retention" ->
      """WITH e AS (SELECT user_id,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT)
               // 86400 // 7 AS week
           FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
         SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         FROM e JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DECIMAL(18,2)) * 100 AS BIGINT) AS running_spend_c
         FROM orders WHERE o_custkey <= 200
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS BIGINT) AS ts_s
           FROM events),
         v AS (SELECT user_id, min(ts_s) AS tv FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts_s) AS tc FROM e
           JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts_s > v.tv
           GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts_s) AS tp FROM e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts_s > c.tc
           GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM v) AS n_view_users,
                (SELECT count(*) FROM c) AS n_click_users,
                (SELECT count(*) FROM p) AS n_purchase_users""",
    "q_rank_suite" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           round(percent_rank() OVER w, 6) AS prank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(cume_dist() OVER w, 6) AS cdist
         FROM orders WHERE o_orderkey <= 2000
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderpriority, rn""",
    "q_unpivot" ->
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey <= 200)
         SELECT l_orderkey, l_linenumber, measure, value FROM (
           SELECT l_orderkey, l_linenumber,
             'l_quantity' AS measure, l_quantity AS value FROM src
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_extendedprice', l_extendedprice FROM src
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_discount', l_discount FROM src
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_tax', l_tax FROM src)
         ORDER BY l_orderkey, l_linenumber, measure""",
    "q_histogram" ->
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bucket,
           count(*) AS n,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
         FROM lineitem GROUP BY 1 ORDER BY bucket""",
    "q_lag_lead" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec FROM events),
         l AS (SELECT user_id, event_id,
             CAST(epoch(ts_sec) AS BIGINT) AS ts_s,
             CAST(epoch(ts_sec) AS BIGINT)
               - CAST(epoch(lag(ts_sec) OVER w) AS BIGINT) AS gap_s,
             lead(event_type) OVER w AS next_type
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
         SELECT user_id, event_id, ts_s, gap_s, next_type
         FROM l ORDER BY user_id, ts_s, event_id""",
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec FROM events),
         l AS (SELECT user_id, ts_sec,
             lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev
             FROM e)
         SELECT user_id,
           CAST(sum(CASE WHEN prev IS NULL
             OR CAST(epoch(ts_sec) AS BIGINT) - CAST(epoch(prev) AS BIGINT) > 1800
             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM l GROUP BY user_id ORDER BY user_id""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_qty_c,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_qty_c
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec FROM events),
         p AS (SELECT * FROM e WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts_sec FROM e WHERE event_type = 'signup')
         SELECT p.event_id, p.user_id, p.ts_sec AS purchase_ts,
                s.ts_sec AS last_signup_ts
         FROM p ASOF JOIN s
           ON p.user_id = s.user_id AND s.ts_sec <= p.ts_sec
         ORDER BY p.event_id""",
    "q_asof_native" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec FROM events),
         p AS (SELECT * FROM e WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts_sec FROM e WHERE event_type = 'signup')
         SELECT p.event_id, p.user_id, p.ts_sec AS purchase_ts,
                s.ts_sec AS last_signup_ts
         FROM p ASOF JOIN s
           ON p.user_id = s.user_id AND s.ts_sec <= p.ts_sec
         ORDER BY p.event_id""",
    "q_distinct_agg" ->
      """SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_cust,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_bal_c
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // the oracle reads the ORIGINAL parquet table: the ORC round trip
    // must be lossless for the compare to hash-match
    "q_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    // the JSON round trip must not change any aggregate: same oracle
    // shape as the ORC twin, computed from the source of truth
    "q_json_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    // the gzip-CSV round trip reads the source of truth too; the
    // text-length sum crosses the quoting layer on the Spark side
    "q_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    // the full recompute IS the oracle: the incremental merge must
    // equal it exactly (DECIMAL algebra)
    "q_agg_incremental" ->
      """SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
             AS BIGINT) AS sum_price_c,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_schema_merge" ->
      """WITH m AS (
           SELECT doc_id, lang, NULL AS n_chars
           FROM documents WHERE doc_id < 300
           UNION ALL
           SELECT doc_id, NULL, n_chars
           FROM documents WHERE doc_id >= 300 AND doc_id < 600)
         SELECT COALESCE(lang, '-') AS lang, count(*) AS n,
           CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS sum_chars
         FROM m GROUP BY 1 ORDER BY lang""",
    // deterministic md5 bucket bitmap → the linear-counting estimate
    // itself is comparable (ln of an exact integer ratio)
    "q_linear_count" ->
      """WITH e AS (SELECT event_type, user_id FROM events),
         b AS (SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5('cm0:' || CAST(user_id AS VARCHAR)), 1, 8))
               AS UBIGINT) AS BIGINT) % 256 AS bucket
           FROM e),
         c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets
           FROM b GROUP BY 1),
         t AS (SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
           FROM e GROUP BY 1)
         SELECT t.event_type, t.n_true, c.n_buckets,
           CASE WHEN c.n_buckets < 256
             THEN round(-256.0 * ln(CAST(256 - c.n_buckets AS DOUBLE) / 256.0), 6)
             ELSE 256.0 END AS est_distinct
         FROM t JOIN c USING (event_type) ORDER BY event_type""",
    "q_range_join" ->
      """SELECT CAST(b.bucket_id AS BIGINT) AS bucket_id, count(*) AS n,
           CAST(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_value_c
         FROM events e
         JOIN (VALUES (0, 0.0, 50.0), (1, 50.0, 100.0),
                      (2, 100.0, 150.0), (3, 150.0, 250.0)) AS b(bucket_id, lo, hi)
           ON e.value >= b.lo AND e.value < b.hi
         GROUP BY b.bucket_id ORDER BY bucket_id""",
    "q_pivot" ->
      """SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events WHERE user_id < 50
         GROUP BY user_id ORDER BY user_id""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
             AS BIGINT) AS sum_qty_c
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_above_avg" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
           round((SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                         / count(*)
                  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey), 6)
             AS nation_avg_r
         FROM customer c
         WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2)))
                                   AS DOUBLE) / count(*)
                            FROM customer c2
                            WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "q_null_handling" ->
      """SELECT event_id,
           nullif(event_type, 'error') AS et_null,
           coalesce(nullif(event_type, 'error'), 'none') AS et_coal,
           nullif(event_type, 'error') IS NOT DISTINCT FROM 'click'
             AS is_click_nullsafe
         FROM events ORDER BY event_id""",
    "q_quantiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_json_extract" ->
      """SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
         FROM events ORDER BY event_id""",
    // q_approx_distinct / q_quantiles_approx: intentionally no oracle
    // (sketches are engine-specific; rows-only checks — the exact
    // forms q_distinct_agg / q_quantiles are the oracle-checked twins).
    "q_salted_join" ->
      """SELECT e.event_type, count(*) AS n,
           CAST(CAST(sum(CAST(e.value AS DECIMAL(12,2)) *
             CAST(w.weight AS DECIMAL(12,2))) AS DECIMAL(18,4)) * 10000
             AS BIGINT) AS wsum_c
         FROM events e
         JOIN (VALUES ('click', '0.50'), ('view', '0.10'),
                      ('purchase', '10.00'), ('signup', '2.00'),
                      ('error', '0.00')) AS w(event_type, weight)
           ON e.event_type = w.event_type
         GROUP BY e.event_type ORDER BY e.event_type""",
    // hot flag compares the ROUNDED share on both engines, so the
    // threshold decision cannot flip on double summation order
    "q_key_skew" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
           FROM events GROUP BY user_id),
         tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM per)
         SELECT user_id, n_rows,
           round(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
             AS share_r,
           round(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6) > 0.008
             AS hot
         FROM per CROSS JOIN tot
         ORDER BY n_rows DESC, user_id""",
    "q_zorder" -> {
      // identical rank + interleave arithmetic as ScaleOps.zorderValue
      // (same IEEE double ops, bit position = 2*b + column index)
      val terms = (0 until 8).flatMap(b => Seq(
        s"(((r1 >> $b) & 1) << ${2 * b})",
        s"(((r2 >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH mm AS (SELECT
             min(CAST(p_size AS DOUBLE)) AS mn1,
             max(CAST(p_size AS DOUBLE)) AS mx1,
             min(p_retailprice) AS mn2, max(p_retailprice) AS mx2
           FROM part),
         r AS (SELECT p_partkey,
             least(255, greatest(0, CAST(floor(
               (CAST(p_size AS DOUBLE) - mn1) / (mx1 - mn1) * 255.0)
               AS BIGINT))) AS r1,
             least(255, greatest(0, CAST(floor(
               (p_retailprice - mn2) / (mx2 - mn2) * 255.0)
               AS BIGINT))) AS r2
           FROM part CROSS JOIN mm)
         SELECT p_partkey, $terms AS zval
         FROM r ORDER BY p_partkey"""
    },
    // bucketing is layout-only: the oracle is the plain key join over
    // the raw tables (DECIMAL sum -> exact integral cents)
    "q_bucketed_join" ->
      """SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
             AS BIGINT) AS sum_price_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q_setops" ->
      """SELECT 'both' AS rel, k FROM
           (SELECT DISTINCT c_nationkey AS k FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT 'cust_only' AS rel, k FROM
           (SELECT DISTINCT c_nationkey AS k FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT 'supp_only' AS rel, k FROM
           (SELECT DISTINCT s_nationkey AS k FROM supplier
            EXCEPT SELECT DISTINCT c_nationkey FROM customer)
         ORDER BY rel, k""",
    "q_corr_exact" ->
      """WITH t AS (SELECT l_returnflag,
           CAST(l_quantity AS DECIMAL(18,2)) AS q,
           CAST(l_extendedprice AS DECIMAL(18,2)) AS p
         FROM lineitem),
         a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             sum(q) AS sx, sum(p) AS sy, sum(q*q) AS sxx,
             sum(p*p) AS syy, sum(q*p) AS sxy
           FROM t GROUP BY 1),
         v AS (SELECT l_returnflag, n, sxy, sx, sy,
             n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
             n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
           FROM a)
         SELECT l_returnflag, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(varx) * sqrt(vary)), 6) AS corr_r
         FROM v WHERE varx > 0 AND vary > 0
         ORDER BY l_returnflag""",
    "q_outlier_filter" ->
      """WITH d AS (SELECT event_id, value FROM events
           WHERE value IS NOT NULL),
         q AS (SELECT quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3 FROM d),
         b AS (SELECT round(q1 - (q3 - q1) * 1.5, 6) AS lo_r,
             round(q3 + (q3 - q1) * 1.5, 6) AS hi_r FROM q)
         SELECT event_id, value, lo_r, hi_r
         FROM d CROSS JOIN b WHERE value < lo_r OR value > hi_r
         ORDER BY event_id""",
    // ECDF ratios are exact-integer divisions (identical doubles both
    // engines), so max and the scaled stat compare exactly at round-6
    "q_ks_test" ->
      """WITH s AS (SELECT l_extendedprice AS val, l_returnflag AS grp
           FROM lineitem WHERE l_returnflag IN ('A', 'N')),
         pv AS (SELECT val,
             CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN grp = 'N' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
           FROM s GROUP BY 1),
         cum AS (SELECT val,
             CAST(sum(n_a) OVER (ORDER BY val) AS BIGINT) AS cum_a,
             CAST(sum(n_b) OVER (ORDER BY val) AS BIGINT) AS cum_b
           FROM pv),
         tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS na,
             CAST(sum(n_b) AS BIGINT) AS nb FROM pv),
         d AS (SELECT t.na, t.nb,
             max(abs(CAST(cum_a AS DOUBLE) / t.na
               - CAST(cum_b AS DOUBLE) / t.nb)) AS dmax
           FROM cum CROSS JOIN tot t GROUP BY t.na, t.nb)
         SELECT na AS n_a, nb AS n_b, round(dmax, 6) AS d_stat,
           round(dmax * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)), 6)
             AS ks_scaled
         FROM d""",
    "q_rel_division" ->
      """WITH need AS (SELECT CAST(count(DISTINCT o_orderpriority)
             AS BIGINT) AS need FROM orders),
         g AS (SELECT o_custkey,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT)
               AS n_priorities,
             CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1)
         SELECT o_custkey, n_orders, n_priorities
         FROM g CROSS JOIN need WHERE n_priorities = need
         ORDER BY o_custkey""",
    "q_hits" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s,
             o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         a1 AS (SELECT c, CAST(count(*) AS BIGINT) AS a1
           FROM e GROUP BY 1),
         h1 AS (SELECT s, CAST(sum(a1) AS BIGINT) AS h1
           FROM e JOIN a1 USING (c) GROUP BY 1),
         a2 AS (SELECT c, CAST(sum(h1) AS BIGINT) AS a2
           FROM e JOIN h1 USING (s) GROUP BY 1),
         h2 AS (SELECT s, CAST(sum(a2) AS BIGINT) AS h2
           FROM e JOIN a2 USING (c) GROUP BY 1)
         SELECT s AS supp, h2 AS hub2 FROM h2
         ORDER BY h2 DESC, s LIMIT 20""",
    "q_ams_f2" ->
      """WITH cu AS (SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS cu
           FROM events GROUP BY 1, 2),
         tr AS (SELECT event_type, CAST(sum(cu * cu) AS BIGINT)
             AS f2_true FROM cu GROUP BY 1),
         ex AS (SELECT event_type, user_id, cu,
             unnest(range(8)) AS j FROM cu),
         sg AS (SELECT event_type, j, cu,
             CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR)
               || ':' || CAST(user_id AS VARCHAR)), 1, 1)) AS UBIGINT)
               % 2 = 0 THEN 1 ELSE -1 END AS sgn
           FROM ex),
         xs AS (SELECT event_type, j, CAST(sum(sgn * cu) AS BIGINT)
             AS x FROM sg GROUP BY 1, 2),
         es AS (SELECT event_type, CAST(sum(x * x) AS DOUBLE) / 8
             AS est FROM xs GROUP BY 1)
         SELECT t.event_type, t.f2_true, e.est,
           round(abs(e.est - CAST(t.f2_true AS DOUBLE)) /
             CAST(t.f2_true AS DOUBLE), 6) AS rel_err_r
         FROM tr t JOIN es e ON e.event_type = t.event_type
         ORDER BY t.event_type""",
    "q_kmv_distinct" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         h AS (SELECT DISTINCT event_type,
             CAST(CAST(('0x' || substr(md5('kmv:' ||
               CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               AS v
           FROM u),
         r AS (SELECT event_type, v, row_number() OVER
             (PARTITION BY event_type ORDER BY v) AS rn FROM h),
         k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
             max(v) AS kth_v
           FROM r WHERE rn <= 64 GROUP BY 1),
         t AS (SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
           FROM events GROUP BY 1)
         SELECT k.event_type, t.n_true, k.n_kept, k.kth_v,
           round(CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
             ELSE CAST(63 AS DOUBLE) * 4294967296 / k.kth_v END, 6)
             AS est_r
         FROM k JOIN t ON t.event_type = k.event_type
         ORDER BY k.event_type""",
    "q_degree_dist" ->
      s"""WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         sd AS (SELECT 'supplier' AS role, CAST(count(*) AS BIGINT) AS d
           FROM sc GROUP BY s),
         cd AS (SELECT 'customer' AS role, CAST(count(*) AS BIGINT) AS d
           FROM sc GROUP BY c),
         u AS (SELECT role, d FROM sd UNION ALL SELECT role, d FROM cd),
         b AS (SELECT role, CAST(${bitLenCases("d")} AS BIGINT) AS bin, d
           FROM u)
         SELECT role, bin, CAST(count(*) AS BIGINT) AS n_nodes,
           min(d) AS min_deg, max(d) AS max_deg
         FROM b GROUP BY 1, 2 ORDER BY role, bin""",
    "q_assortativity" ->
      """WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT x.s AS sa, y.s AS sb
           FROM sc x JOIN sc y ON x.c = y.c AND x.s < y.s
           GROUP BY 1, 2 HAVING count(*) >= 190),
         dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
             (SELECT sa AS v FROM e UNION ALL SELECT sb AS v FROM e)
           GROUP BY 1),
         d2 AS (SELECT sa AS u, sb AS w FROM e
           UNION ALL SELECT sb AS u, sa AS w FROM e),
         j AS (SELECT du.deg AS x, dw.deg AS y
           FROM d2
           JOIN dg du ON du.v = d2.u
           JOIN dg dw ON dw.v = d2.w),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
           FROM j)
         SELECT m,
           round((CAST(m AS DOUBLE) * sxy - sx * sy) /
             sqrt((CAST(m AS DOUBLE) * sxx - sx * sx) *
               (CAST(m AS DOUBLE) * syy - sy * sy)), 6) AS r_r
         FROM m""",
    "q_kendall_tau" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
             CAST(sum(CASE WHEN b.cnt < a.cnt THEN 1 ELSE 0 END)
               AS BIGINT) AS d
           FROM hc a JOIN hc b ON a.hr < b.hr),
         t AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
           FROM (SELECT cnt, CAST(count(*) AS BIGINT) AS t
             FROM hc GROUP BY 1))
         SELECT p.n0, p.c, p.d, t.n2,
           round(CAST(p.c - p.d AS DOUBLE) /
             sqrt(CAST(p.n0 AS DOUBLE) * CAST(p.n0 - t.n2 AS DOUBLE)),
             6) AS tau_r
         FROM p CROSS JOIN t""",
    "q_runs_test" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         md AS (SELECT quantile_cont(cnt, 0.5) AS med FROM hc),
         sg AS (SELECT hr, CASE WHEN CAST(cnt AS DOUBLE) > med
             THEN 1 ELSE 0 END AS s
           FROM hc CROSS JOIN md WHERE CAST(cnt AS DOUBLE) <> med),
         r AS (SELECT s, CAST(row_number() OVER (ORDER BY hr)
             AS BIGINT) AS rn FROM sg),
         ch AS (SELECT CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END)
             AS BIGINT) AS nchg
           FROM r a JOIN r b ON b.rn = a.rn - 1),
         ct AS (SELECT CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2 FROM sg),
         f AS (SELECT n1, n2, nchg + 1 AS runs,
             CAST(n1 + n2 AS DOUBLE) AS nn,
             2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS p2
           FROM ct CROSS JOIN ch)
         SELECT n1, n2, CAST(runs AS BIGINT) AS runs,
           round((CAST(runs AS DOUBLE) - (p2 / nn + 1.0)) /
             sqrt((p2 * (p2 - nn)) / (nn * nn * (nn - 1.0))), 6)
             AS z_r
         FROM f""",
    "q_robust_scale" ->
      """WITH q AS (SELECT event_type,
             quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.75) - quantile_cont(value, 0.25)
               AS iqr
           FROM events GROUP BY 1),
         z AS (SELECT e.event_type, q.med, q.iqr,
             CASE WHEN q.iqr > 0
               THEN round((e.value - q.med) / q.iqr, 6)
               ELSE -1.0 END AS z_r
           FROM events e JOIN q ON q.event_type = e.event_type)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(max(med), 6) AS med_r, round(max(iqr), 6) AS iqr_r,
           round(min(z_r), 6) AS zmin_r, round(max(z_r), 6) AS zmax_r,
           CAST(sum(CASE WHEN abs(z_r) > 2.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outside
         FROM z GROUP BY 1 ORDER BY event_type""",
    "q_table_checksum" ->
      """WITH h AS (SELECT CAST(CAST(('0x' || substr(md5(
             CAST(l_orderkey AS VARCHAR) || '|' ||
             CAST(l_linenumber AS VARCHAR) || '|' ||
             CAST(l_partkey AS VARCHAR) || '|' ||
             CAST(l_suppkey AS VARCHAR) || '|' ||
             CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
               AS BIGINT) AS VARCHAR) || '|' ||
             CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
               AS BIGINT) AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
             AS h
           FROM lineitem)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS checksum FROM h""",
    "q_twap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
             value FROM events),
         d AS (SELECT user_id, value,
             lead(ts_ns, 1) OVER (PARTITION BY user_id
               ORDER BY ts_ns, event_id) - ts_ns AS dt
           FROM e),
         v AS (SELECT user_id, dt,
             CAST(value * CAST(dt AS DOUBLE) AS DECIMAL(28,8)) AS wv
           FROM d WHERE dt IS NOT NULL)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt) AS BIGINT) AS span_ns,
           round(CAST(sum(wv) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6)
             AS twap_r
         FROM v GROUP BY 1 ORDER BY user_id""",
    "q_lag_features" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
             value FROM events)
         SELECT user_id, ts_ns, event_id, round(value, 6) AS value_r,
           round(lag(value, 1) OVER w, 6) AS lag1_r,
           round(lag(value, 2) OVER w, 6) AS lag2_r,
           round(avg(value) OVER (PARTITION BY user_id
             ORDER BY ts_ns, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rmean3_r,
           ts_ns - lag(ts_ns, 1) OVER w AS dt_ns
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
         ORDER BY user_id, ts_ns, event_id""",
    "q_one_hot" ->
      """SELECT user_id,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'click'
             THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS oh_click,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'error'
             THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS oh_error,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
             THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS oh_purchase,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'signup'
             THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS oh_signup,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'view'
             THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS oh_view
         FROM events GROUP BY 1 ORDER BY user_id""",
    "q_target_encoding" ->
      """WITH li AS (SELECT l_returnflag AS cat,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS y FROM lineitem),
         g AS (SELECT cat, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy
           FROM li GROUP BY 1),
         e AS (SELECT li.cat,
             CAST(g.sy - li.y AS DOUBLE) / CAST(g.n - 1 AS DOUBLE)
               AS enc
           FROM li JOIN g ON g.cat = li.cat WHERE g.n > 1)
         SELECT cat, CAST(count(*) AS BIGINT) AS n_rows,
           round(min(enc), 6) AS min_enc_r,
           round(max(enc), 6) AS max_enc_r,
           round(CAST(sum(CAST(enc AS DECIMAL(28,10))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 6) AS mean_enc_r
         FROM e GROUP BY 1 ORDER BY cat""",
    "q_grouped_ols" ->
      """WITH li AS (SELECT l_returnflag,
           CAST(l_quantity AS DECIMAL(12,2)) AS x,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS y
         FROM lineitem),
         m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
           FROM li GROUP BY 1),
         d AS (SELECT l_returnflag, n,
             CAST(n AS DOUBLE) * sxx - sx * sx AS dxx,
             CAST(n AS DOUBLE) * syy - sy * sy AS dyy,
             CAST(n AS DOUBLE) * sxy - sx * sy AS dxy,
             sx, sy
           FROM m)
         SELECT l_returnflag, n,
           round(dxy / dxx, 6) AS slope_r,
           round((sy - (dxy / dxx) * sx) / CAST(n AS DOUBLE), 6)
             AS icept_r,
           round((dxy * dxy) / (dxx * dyy), 6) AS r2_r
         FROM d WHERE dxx > 0 AND dyy > 0 ORDER BY l_returnflag""",
    "q_mahalanobis" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DECIMAL(12,2)) AS x,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS y
         FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
           FROM li),
         s AS (SELECT sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / n AS vx,
             (syy - sy * sy / n) / n AS vy,
             (sxy - sx * sy / n) / n AS cxy
           FROM m),
         s2 AS (SELECT *, vx * vy - cxy * cxy AS det FROM s),
         d AS (SELECT li.l_orderkey, li.l_linenumber,
             CAST(li.x AS DOUBLE) AS qty, CAST(li.y AS DOUBLE) AS price,
             CAST(li.x AS DOUBLE) - s2.mx AS dx,
             CAST(li.y AS DOUBLE) - s2.my AS dy,
             s2.vx, s2.vy, s2.cxy, s2.det
           FROM li CROSS JOIN s2 WHERE s2.det > 0),
         r AS (SELECT l_orderkey, l_linenumber, qty, price,
             round((vy * dx * dx - 2.0 * cxy * dx * dy +
               vx * dy * dy) / det, 6) AS d2_r
           FROM d)
         SELECT l_orderkey, l_linenumber, qty, price, d2_r
         FROM r ORDER BY d2_r DESC, l_orderkey, l_linenumber LIMIT 20""",
    "q_doc_expectations" ->
      """WITH u AS (SELECT 'doc_id_unique' AS "check",
           CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_violations
         FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY 1)),
         nn AS (SELECT 'doc_fields_not_null',
           CAST(coalesce(sum(CASE WHEN text IS NULL OR lang IS NULL
             OR source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         FROM documents),
         nc AS (SELECT 'n_chars_matches_len',
           CAST(coalesce(sum(CASE WHEN coalesce(
             n_chars = CAST(length(text) AS BIGINT), false)
             THEN 0 ELSE 1 END), 0) AS BIGINT)
         FROM documents),
         li AS (SELECT 'lang_iso2',
           CAST(coalesce(sum(CASE WHEN coalesce(
             regexp_matches(lang, '^[a-z]{2}$'), false)
             THEN 0 ELSE 1 END), 0) AS BIGINT)
         FROM documents),
         rg AS (SELECT 'n_chars_range',
           CAST(coalesce(sum(CASE WHEN n_chars IS NOT NULL
             AND NOT (n_chars BETWEEN 1 AND 100000)
             THEN 1 ELSE 0 END), 0) AS BIGINT)
         FROM documents)
         SELECT "check", n_violations, n_violations = 0 AS pass FROM (
           SELECT * FROM u UNION ALL SELECT * FROM nn
           UNION ALL SELECT * FROM nc UNION ALL SELECT * FROM li
           UNION ALL SELECT * FROM rg)
         ORDER BY "check"""",
    "q_forecast_eval" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         j AS (SELECT a.hr, a.cnt, f.cnt AS fc
           FROM hc a JOIN hc f ON a.hr = f.hr + 168),
         m AS (SELECT abs(cnt - fc) AS ae,
             CAST(CAST(abs(cnt - fc) AS DOUBLE) / CAST(cnt AS DOUBLE)
               AS DECIMAL(20,12)) AS rt
           FROM j)
         SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(ae) AS BIGINT) AS sae,
           round(CAST(sum(ae) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS mae_r,
           round(CAST(sum(rt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS mape_r
         FROM m""",
    "q_welch_t" ->
      """WITH e AS (SELECT event_type,
             CAST(value AS DECIMAL(28,14)) AS x,
             CAST(value * value AS DECIMAL(28,14)) AS x2
           FROM events WHERE event_type IN ('click', 'purchase')),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(x2) AS sx2 FROM e GROUP BY 1
           HAVING count(*) > 1),
         a AS (SELECT n AS na, CAST(sx AS DOUBLE) AS sxa,
             CAST(sx2 AS DOUBLE) AS sx2a FROM m
           WHERE event_type = 'click'),
         b AS (SELECT n AS nb, CAST(sx AS DOUBLE) AS sxb,
             CAST(sx2 AS DOUBLE) AS sx2b FROM m
           WHERE event_type = 'purchase'),
         c AS (SELECT na, nb, sxa / na AS ma, sxb / nb AS mb,
             (sx2a - sxa * sxa / na) / (na - 1) AS va,
             (sx2b - sxb * sxb / nb) / (nb - 1) AS vb
           FROM a CROSS JOIN b),
         d AS (SELECT na, nb, ma, mb, va / na AS sa, vb / nb AS sb
           FROM c)
         SELECT na, nb, round(ma, 6) AS mean_a_r,
           round(mb, 6) AS mean_b_r,
           round((ma - mb) / sqrt(sa + sb), 6) AS t_r,
           round(((sa + sb) * (sa + sb)) /
             ((sa * sa) / (na - 1) + (sb * sb) / (nb - 1)), 6) AS df_r
         FROM d""",
    "q_clustering_coef" ->
      """WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT x.s AS sa, y.s AS sb
           FROM sc x JOIN sc y ON x.c = y.c AND x.s < y.s
           GROUP BY 1, 2 HAVING count(*) >= 190),
         tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri
           FROM e e1
           JOIN e e2 ON e2.sa = e1.sb
           JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
         dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
             (SELECT sa AS v FROM e UNION ALL SELECT sb AS v FROM e)
           GROUP BY 1),
         dd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_triads
           FROM dg),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         SELECT n_nodes, n_edges, n_tri, n_triads,
           CASE WHEN n_triads > 0 THEN round(3.0 *
             CAST(n_tri AS DOUBLE) / CAST(n_triads AS DOUBLE), 6)
             ELSE -1.0 END AS coef_r
         FROM dd CROSS JOIN ne CROSS JOIN tri""",
    "q_agg_list" ->
      """WITH dl AS (SELECT DISTINCT source, lang FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
           string_agg(lang, ',' ORDER BY lang) AS langs
         FROM dl GROUP BY 1 ORDER BY source""",
    "q_rolling_dau" ->
      """WITH du AS (SELECT DISTINCT
             epoch_ns(ts) // 86400000000000 AS day, user_id
           FROM events),
         grid AS (SELECT DISTINCT day AS d FROM du),
         ex AS (SELECT du.user_id, du.day + k.k AS d
           FROM du CROSS JOIN (SELECT unnest(range(7)) AS k) k),
         w AS (SELECT e.d, CAST(count(DISTINCT e.user_id) AS BIGINT)
             AS dau7
           FROM ex e JOIN grid g ON g.d = e.d GROUP BY 1),
         d1 AS (SELECT day AS d, CAST(count(DISTINCT user_id) AS BIGINT)
             AS dau1 FROM du GROUP BY 1)
         SELECT w.d, d1.dau1, w.dau7,
           round(CAST(d1.dau1 AS DOUBLE) / CAST(w.dau7 AS DOUBLE), 6)
             AS stickiness_r
         FROM w JOIN d1 ON d1.d = w.d ORDER BY w.d""",
    "q_adamic_adar" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS sp, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         dg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg
           FROM e GROUP BY 1),
         p AS (SELECT a.sp AS ia, b.sp AS ib, a.c
           FROM e a JOIN e b ON a.c = b.c AND a.sp < b.sp),
         tm AS (SELECT p.ia, p.ib,
             CAST(1.0 / ln(CAST(dg.deg AS DOUBLE)) AS DECIMAL(20,12))
               AS term
           FROM p JOIN dg ON dg.c = p.c),
         g AS (SELECT ia, ib, CAST(count(*) AS BIGINT) AS shared,
             sum(term) AS aa FROM tm GROUP BY 1, 2)
         SELECT ia, ib, shared, round(CAST(aa AS DOUBLE), 6) AS aa_r
         FROM g ORDER BY aa_r DESC, ia, ib LIMIT 20""",
    // same shape with the linear hub discount 1/deg; the cap drops
    // nothing at gate scale so the uncapped SQL is exact
    "q_resource_alloc" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS sp, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         dg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg
           FROM e GROUP BY 1),
         p AS (SELECT a.sp AS ia, b.sp AS ib, a.c
           FROM e a JOIN e b ON a.c = b.c AND a.sp < b.sp),
         tm AS (SELECT p.ia, p.ib,
             CAST(CAST(1.0 AS DOUBLE) / dg.deg AS DECIMAL(20,12))
               AS term
           FROM p JOIN dg ON dg.c = p.c),
         g AS (SELECT ia, ib, CAST(count(*) AS BIGINT) AS shared,
             sum(term) AS ra FROM tm GROUP BY 1, 2)
         SELECT ia, ib, shared, round(CAST(ra AS DOUBLE), 6) AS ra_r
         FROM g ORDER BY ra_r DESC, ia, ib LIMIT 20""",
    "q_jaccard_neighbors" ->
      """WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT a.s AS ia, b.s AS ib, CAST(count(*) AS BIGINT)
             AS shared
           FROM sc a JOIN sc b ON a.c = b.c AND a.s < b.s
           GROUP BY 1, 2 HAVING count(*) >= 190),
         dg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
           FROM sc GROUP BY 1)
         SELECT e.ia, e.ib, e.shared, da.deg AS na, db.deg AS nb,
           round(CAST(e.shared AS DOUBLE)
             / (da.deg + db.deg - e.shared), 6) AS jacc_r
         FROM e JOIN dg da ON da.s = e.ia JOIN dg db ON db.s = e.ib
         ORDER BY e.ia, e.ib""",
    // identical oracle by design: cap=500 exceeds every gate-corpus
    // key degree, so the capped Spark plan computes the exact answer
    "q_jaccard_capped" ->
      """WITH sc AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT a.s AS ia, b.s AS ib, CAST(count(*) AS BIGINT)
             AS shared
           FROM sc a JOIN sc b ON a.c = b.c AND a.s < b.s
           GROUP BY 1, 2 HAVING count(*) >= 190),
         dg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
           FROM sc GROUP BY 1)
         SELECT e.ia, e.ib, e.shared, da.deg AS na, db.deg AS nb,
           round(CAST(e.shared AS DOUBLE)
             / (da.deg + db.deg - e.shared), 6) AS jacc_r
         FROM e JOIN dg da ON da.s = e.ia JOIN dg db ON db.s = e.ib
         ORDER BY e.ia, e.ib""",
    "q_anova" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
             sum(CAST(n_chars AS DECIMAL(18,0))) AS sg,
             sum(CAST(n_chars AS DECIMAL(18,0))
               * CAST(n_chars AS DECIMAL(18,0))) AS sqg
           FROM documents GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             sum(sg) AS s, sum(sqg) AS sq,
             sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
               / CAST(ng AS DOUBLE)) AS a
           FROM g),
         v AS (SELECT k, n,
             a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
             CAST(sq AS DOUBLE) - a AS ssw
           FROM m)
         SELECT k AS k_groups, n, round(ssb, 6) AS ssb_r,
           round(ssw, 6) AS ssw_r,
           round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_r
         FROM v""",
    "q_changepoint" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr,
             CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
         tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nh FROM h),
         c AS (SELECT hr,
             CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS t,
             CAST(sum(cnt) OVER (ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM h),
         d AS (SELECT hr, t, cum,
             CAST(abs(CAST(nh AS DECIMAL(18,0)) * CAST(cum AS DECIMAL(18,0))
               - CAST(t AS DECIMAL(18,0)) * CAST(total AS DECIMAL(18,0)))
               AS BIGINT) AS abs_d
           FROM c CROSS JOIN tt)
         SELECT hr, t, cum, abs_d FROM d
         ORDER BY abs_d DESC, hr LIMIT 1""",
    "q_burstiness" ->
      """WITH h AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
             sum(CAST(cnt AS DECIMAL(18,0))) AS s,
             sum(CAST(cnt AS DECIMAL(18,0))
               * CAST(cnt AS DECIMAL(18,0))) AS sq
           FROM h GROUP BY 1),
         v AS (SELECT event_type, nh,
             CAST(s AS DOUBLE) / nh AS mean,
             (nh * CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (nh * (nh - 1)) AS vars
           FROM m WHERE nh > 1 AND s > 0)
         SELECT event_type, nh, round(mean, 6) AS mean_r,
           round(vars / mean, 6) AS fano_r
         FROM v ORDER BY event_type""",
    "q_acf" -> {
      val hourly = """SELECT epoch_ns(ts) // 3600000000000 AS hr,
           CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1"""
      laggedCorrOracle(hourly, hourly, 1, 12)
    },
    "q_cross_corr" -> {
      def arm(tpe: String) =
        s"""SELECT epoch_ns(ts) // 3600000000000 AS hr,
           CAST(count(*) AS BIGINT) AS cnt FROM events
           WHERE event_type = '$tpe' GROUP BY 1"""
      laggedCorrOracle(arm("click"), arm("purchase"), -6, 6)
    },
    // the 5-row trend mean sums ≤5 integer counts (exact in any
    // order); hod means sum identical doubles over a bounded day count
    "q_seasonal_decomp" ->
      s"""WITH $seasonalCtes
         SELECT hr, hod, cnt, trend_r, seas_r, resid_r FROM dc
         ORDER BY hr""",
    // robust fence on the decomposition residuals: medians are exact
    // interpolated percentiles over the identical round-6 residuals,
    // and the fence compares after rounding (the fence rule)
    "q_anomaly_hours" ->
      s"""WITH $seasonalCtes,
         md AS (SELECT quantile_cont(resid_r, 0.5) AS med FROM dc),
         dm AS (SELECT dc.*, md.med, abs(resid_r - md.med) AS adev
           FROM dc CROSS JOIN md),
         fm AS (SELECT round(4.0 * quantile_cont(adev, 0.5), 6)
             AS fence_r FROM dm)
         SELECT hr, hod, cnt, resid_r, round(med, 6) AS med_r,
           fm.fence_r
         FROM dm CROSS JOIN fm WHERE adev > fence_r ORDER BY hr""",
    "q_holt" -> holtOracle(0.25, 0.5, 8),
    // Poisson(1) CDF inverted at the md5 hash fraction — the CASE
    // thresholds are shared digit-for-digit with the Spark side, and
    // replica means are DECIMAL-exact before the one double division
    "q_bootstrap_ci" ->
      """WITH r AS (SELECT l_orderkey, l_linenumber, l_extendedprice AS x, g
           FROM lineitem CROSS JOIN (SELECT unnest(range(8)) AS g)),
         dg AS (SELECT *, md5('bs:'
               || CAST(l_orderkey AS VARCHAR) || ':'
               || CAST(l_linenumber AS VARCHAR) || ':'
               || CAST(g AS VARCHAR)) AS dgs
           FROM r),
         w AS (SELECT g * 4 + slot AS b, x,
             CASE
               WHEN u < '5e2d58d9' THEN 0
               WHEN u < 'bc5ab1b2' THEN 1
               WHEN u < 'eb715e1e' THEN 2
               WHEN u < 'fb239798' THEN 3
               ELSE 4 END AS w
           FROM (SELECT *, substr(dgs, slot * 8 + 1, 8) AS u
             FROM dg CROSS JOIN (SELECT unnest(range(4)) AS slot))),
         reps AS (SELECT b,
             round(CAST(sum(CAST(w * x AS DECIMAL(28,2))) AS DOUBLE)
               / sum(w), 6) AS mean_r
           FROM w GROUP BY b)
         SELECT CAST(count(*) AS BIGINT) AS n_reps,
           round(quantile_cont(mean_r, 0.05), 6) AS mean_lo_r,
           round(quantile_cont(mean_r, 0.5), 6) AS mean_mid_r,
           round(quantile_cont(mean_r, 0.95), 6) AS mean_hi_r
         FROM reps""",
    // dominance via the exclusive prefix max over price order — NULL
    // prefix (cheapest price) is on the frontier by definition
    "q_skyline" ->
      """WITH s AS (SELECT l_extendedprice AS price,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS qty_c FROM lineitem),
         pv AS (SELECT price, CAST(max(qty_c) AS BIGINT) AS q
           FROM s GROUP BY 1),
         r AS (SELECT price, q, max(q) OVER (ORDER BY price
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM pv)
         SELECT price, q AS qty_c FROM r
         WHERE pm IS NULL OR q > pm ORDER BY price""",
    // pairwise slopes are exact-integer ratios; both medians are
    // exact interpolated percentiles over identical doubles
    "q_sax_symbols" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         w AS (SELECT hr // 4 AS w, CAST(sum(cnt) AS BIGINT) AS sw,
             CAST(count(*) AS BIGINT) AS nh
           FROM hc GROUP BY 1),
         cw AS (SELECT w, sw FROM w WHERE nh = 4),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(sw) AS BIGINT) AS ssum,
             CAST(sum(sw * sw) AS BIGINT) AS ssq FROM cw),
         z AS (SELECT cw.w, cw.sw,
             CAST(ssum AS DOUBLE) / (4.0 * CAST(m.m AS DOUBLE)) AS mean,
             (CAST(ssq AS DOUBLE) / 16.0) / CAST(m.m AS DOUBLE) -
               (CAST(ssum AS DOUBLE) / (4.0 * CAST(m.m AS DOUBLE))) *
               (CAST(ssum AS DOUBLE) / (4.0 * CAST(m.m AS DOUBLE)))
               AS varp
           FROM cw CROSS JOIN m),
         zr AS (SELECT w, sw,
             CASE WHEN varp > 0 THEN
               round((CAST(sw AS DOUBLE) / 4.0 - mean) / sqrt(varp), 6)
             ELSE 0.0 END AS z_r
           FROM z)
         SELECT w, round(CAST(sw AS DOUBLE) / 4.0, 6) AS paa_r, z_r,
           CASE WHEN z_r < -0.6745 THEN 'a'
             WHEN z_r < 0.0 THEN 'b'
             WHEN z_r < 0.6745 THEN 'c'
             ELSE 'd' END AS sym
         FROM zr ORDER BY w""",
    "q_theilsen" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr
           FROM events),
         hc AS (SELECT hr, CAST(count(*) AS BIGINT) AS cnt
           FROM h GROUP BY 1),
         p AS (SELECT CAST(b.cnt - a.cnt AS DOUBLE) / (b.hr - a.hr)
             AS slope
           FROM hc a JOIN hc b ON a.hr < b.hr),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             quantile_cont(slope, 0.5) AS ms FROM p),
         ic AS (SELECT quantile_cont(CAST(cnt AS DOUBLE) - m.ms * hr, 0.5)
             AS mi FROM hc CROSS JOIN m)
         SELECT m.n_pairs, round(m.ms, 6) AS slope_r,
           round(ic.mi, 6) AS icept_r
         FROM m CROSS JOIN ic""")
}
