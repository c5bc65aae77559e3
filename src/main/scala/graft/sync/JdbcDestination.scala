package graft.sync

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}

import graft.model.Identifiers

/** Unified warehouse destination (D3 Redshift / D4 Azure DW / D5
  * Snowflake — `app/data.py:88-134`, `:156-202`, `:205-255`) on top of
  * Spark's JDBC writer:
  *
  *  - target schema `x_excel` or `x_excel_<path>` (`data.py:103-105`);
  *  - all-text columns via `createTableColumnTypes` with the dialect's
  *    text type (`generate_table_stmt`, `data.py:57-62`);
  *  - full-refresh semantics: `SaveMode.Overwrite`, with
  *    `truncate=true` exactly when [[SyncAction.decide]] says the
  *    column set is unchanged (`data.py:120-131`) — Azure mode forces
  *    drop+create (`:179-186`);
  *  - batched inserts (`batchsize`, reference hardcodes 1000,
  *    `data.py:194`);
  *  - identifiers sanitized, values bound by the driver — the
  *    reference's f-string SQL injection surface (bug B6) does not
  *    exist here.
  *
  * The existing-column introspection that drives the decision is a
  * parameter (`existingCols`): online it comes from
  * `INFORMATION_SCHEMA.COLUMNS` over the same JDBC connection; tests
  * inject it. No warehouse is reachable in this environment, so the
  * writer is exercised at the options/decision level by the specs.
  */
object JdbcDestination {

  final case class Dialect(name: String, textType: String,
      forceDropCreate: Boolean = false)

  val Redshift: Dialect = Dialect("redshift", "VARCHAR")
  val AzureDw: Dialect = Dialect("azuredw", "NVARCHAR(2000)",
    forceDropCreate = true)
  val Snowflake: Dialect = Dialect("snowflake", "TEXT")

  def targetSchema(path: String): String =
    // sqlify the routing path too: it reaches DDL identifiers, so raw
    // values would re-open the injection surface (bug B6) and benign
    // dashes would be SQL syntax errors
    if (path.nonEmpty) s"x_excel_${Identifiers.sqlify(path)}" else "x_excel"

  /** `"col1" TYPE, "col2" TYPE, …` column-type clause for the JDBC
    * writer, header sanitized like `generate_table_stmt`.
    */
  def createTableColumnTypes(header: Seq[String], dialect: Dialect): String =
    // headerNames (not bare toAlnum): duplicate or empty header cells
    // must yield the same uniquified names the DataFrame carries, or
    // the clause mismatches the schema and the JDBC write fails
    graft.model.SheetMatrix.headerNames(header)
      // backquote names Spark's option parser would mis-lex: an
      // all-digit/leading-digit column ("2024") tokenizes as an
      // integer literal in parseTableSchema and fails the write;
      // standard identifiers stay bare (spec-pinned clause format)
      .map { c =>
        val ident = if (c.head.isDigit) s"`$c`" else c
        s"$ident ${dialect.textType}"
      }.mkString(", ")

  final case class Plan(
      table: String,
      action: SyncAction,
      truncate: Boolean,
      columnTypes: String,
      batchSize: Int)

  def plan(
      tableName: String,
      header: Seq[String],
      existingCols: Seq[String],
      dialect: Dialect,
      path: String = "",
      batchSize: Int = 1000): Plan = {
    val action =
      SyncAction.decide(existingCols, header, dialect.forceDropCreate)
    Plan(
      table = s"${targetSchema(path)}.${Identifiers.sqlify(tableName)}",
      action = action,
      truncate = action == Truncate,
      columnTypes = createTableColumnTypes(header, dialect),
      batchSize = batchSize)
  }

  /** Execute a plan through Spark's JDBC writer. The row count is an
    * observed metric of the write's own pass, so the load counts in one
    * Spark job, with no cache and no second scan.
    */
  def write(df: DataFrame, url: String, p: Plan,
      props: Map[String, String] = Map.empty): LoadReport = {
    val o = Observation()
    val w = df.observe(o, count(lit(1)).as("n")).write.format("jdbc")
      .mode(SaveMode.Overwrite)
      .option("url", url)
      .option("dbtable", p.table)
      .option("truncate", p.truncate.toString)
      .option("createTableColumnTypes", p.columnTypes)
      .option("batchsize", p.batchSize.toString)
    props.foreach { case (k, v) => w.option(k, v) }
    w.save()
    LoadReport(Some(p.action), p.table, o.get("n").asInstanceOf[Long])
  }
}
