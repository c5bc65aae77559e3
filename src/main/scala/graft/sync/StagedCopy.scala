package graft.sync

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame

/** Staged-copy bulk load — the reference's core warehouse tactic: the
  * table body goes to a stage as gzip CSV, then one set-based `COPY`
  * moves it into the warehouse (`app/data.py:63-79` s3_copy +
  * `:106-113` Redshift COPY; `:243-254` Snowflake PUT + COPY INTO).
  * The JDBC batch writer ([[JdbcDestination]]) is the offline
  * fallback; this is the behavior-faithful path.
  *
  * Spark-first difference from the reference: the stage write is a
  * parallel multi-part gzip CSV (every executor writes its partition),
  * and the generated COPY loads the whole prefix — both warehouses
  * ingest a file set in one statement, so staging stays distributed at
  * any scale instead of funneling through one gzip stream. The stage is
  * [[LocalDestination]]'s multi-part write: one Spark job whose parts
  * land in a hidden temp directory that replaces the stage dir whole,
  * so a failed load leaves the previous stage as it was. Files are
  * headerless like the reference's (`writer.writerows(iterator)` after
  * `next(iterator)` skips the header): COPY maps columns by position.
  *
  * No warehouse is reachable in this environment, so specs pin the
  * statement text and the staged files; the statements are exactly
  * what a connected runner would execute.
  */
object StagedCopy {

  final case class Staged(
      stageDir: String,
      files: Seq[String], // staged part files (relative to stageDir)
      statements: Seq[String], // execute in order on the warehouse
      nRecords: Long)

  /** The preamble both warehouses share: sanitize the table name
    * INTERNALLY like JdbcDestination.plan (idempotent — sqlify∘sqlify
    * = sqlify): the raw name was interpolated into warehouse SQL (the
    * reference's B6 injection surface) AND into the local stage path
    * ("../../etc" traversal); sqlify's [a-z0-9_] output closes both.
    * The stage dir is schema-scoped, so two tenants loading the same
    * table name never share staged files. `statements` gets the
    * schema, the table, the stage dir and the staged part files.
    */
  private def stage(df: DataFrame, tableName: String, path: String,
      localStageDir: String)(
      statements: (String, String, Path, Seq[String]) => Seq[String]): Staged = {
    val table = graft.model.Identifiers.sqlify(tableName)
    val schema = JdbcDestination.targetSchema(path)
    val dir = Paths.get(localStageDir, schema, table)
    val (files, n) = LocalDestination.writeCsvParts(df, dir, header = false, gzip = true)
    Staged(dir.toString, files, statements(schema, table, dir, files), n)
  }

  /** Redshift: stage under `s3://bucket/prefix/` and COPY the prefix.
    * Statement shape mirrors `app/data.py:106-113` (GZIP csv,
    * COMPUPDATE OFF, explicit region), widened from one key to the
    * part-file prefix. The prefix is scoped by the target schema, so
    * two tenants loading the same table name never share staged files.
    *
    * Prefix-wide COPY contract: the uploader must MIRROR the returned
    * stage dir to the prefix (delete-then-upload, not additive) — a
    * leftover part file from a previous run would be ingested as
    * duplicate rows, the same way the reference's single-key put
    * overwrote its object.
    */
  def redshift(
      df: DataFrame,
      tableName: String,
      path: String,
      localStageDir: String,
      bucket: String,
      iamRole: String,
      region: String = "eu-central-1"): Staged =
    stage(df, tableName, path, localStageDir) { (schema, table, _, _) =>
      val prefix = s"excel-to-database/$schema/$table/"
      Seq(
        s"""COPY $schema.$table
           |FROM 's3://$bucket/$prefix'
           |iam_role '$iamRole'
           |GZIP
           |csv
           |COMPUPDATE OFF
           |region '$region';""".stripMargin)
    }

  /** Snowflake: table-stage PUT per part file + one COPY INTO.
    * Statement sequence mirrors `app/data.py:243-254`: recreate the
    * temporary stage, REMOVE leftovers (PUT skips same-named files),
    * PUT with OVERWRITE, COPY with optionally-quoted CSV fields.
    */
  def snowflake(
      df: DataFrame,
      tableName: String,
      path: String,
      localStageDir: String): Staged =
    stage(df, tableName, path, localStageDir) { (schema, table, dir, files) =>
      Seq(
        s"USE SCHEMA $schema",
        // reference-faithful quirk (data.py:244-248): the named
        // TEMPORARY STAGE created here is never referenced — REMOVE/
        // PUT/COPY all address the implicit TABLE stage @%table, which
        // exists once the table does (the flow creates the table
        // first). Kept verbatim: the oracle of record is the
        // reference's statement sequence, dead CREATE included.
        s"CREATE OR REPLACE TEMPORARY STAGE $table;",
        s"REMOVE @%$table;") ++
        files.map(f => s"PUT file://$dir/$f @%$table OVERWRITE=TRUE") :+
        s"""COPY INTO $table file_format = (
           |    TYPE = CSV
           |    FIELD_OPTIONALLY_ENCLOSED_BY = '"'
           |)""".stripMargin
    }
}
