package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{DropCreate, JdbcDestination, Truncate}

/** End-to-end JDBC destination against embedded Derby (in-memory,
  * ships with Spark). Exercises the real writer path: DDL with
  * createTableColumnTypes, SaveMode.Overwrite with and without
  * truncate, and read-back through spark.read.jdbc.
  */
class JdbcIntegrationSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftdb;create=true"
  // Derby needs a length on VARCHAR
  private val derby = JdbcDestination.Dialect("derby", "VARCHAR(255)")

  test("drop+create load, then truncate reload, both read back correctly") {
    import spark.implicits._
    val df = Seq(("1", "alpha"), ("2", "beta"), ("3", "gamma"))
      .toDF("id", "name")

    // first load: table doesn't exist → DropCreate
    val p1 = JdbcDestination.plan("My Table", df.columns.toSeq,
      existingCols = Nil, derby)
    assert(p1.action == DropCreate)
    assert(p1.table == "x_excel.my_table")
    // Derby has no schema auto-create via JDBC writer; use bare name
    val plainP1 = p1.copy(table = "my_table")
    val r1 = JdbcDestination.write(df, url, plainP1)
    assert(r1.nRecords == 3)
    val back1 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back1.count() == 3)
    assert(back1.schema.fields.forall(_.dataType.typeName == "string"))

    // second load, same columns → Truncate (keeps the table object)
    val df2 = Seq(("9", "delta")).toDF("id", "name")
    val p2 = JdbcDestination.plan("My Table", df2.columns.toSeq,
      existingCols = back1.columns.toSeq, derby)
    assert(p2.action == Truncate)
    val r2 = JdbcDestination.write(df2, url, p2.copy(table = "my_table"))
    assert(r2.nRecords == 1)
    assert(r2.render.startsWith("Truncated and loaded into"))
    val back2 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back2.count() == 1)
    assert(back2.select("name").collect().head.getString(0) == "delta")

    // changed column set → DropCreate again
    val df3 = Seq(("1", "x", "y")).toDF("id", "name", "extra")
    val p3 = JdbcDestination.plan("My Table", df3.columns.toSeq,
      existingCols = back2.columns.toSeq, derby)
    assert(p3.action == DropCreate)
    JdbcDestination.write(df3, url, p3.copy(table = "my_table"))
    val back3 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "my_table").load()
    assert(back3.columns.length == 3)
  }

  test("a CSV with blank cells loads into VARCHAR columns and reads back ''") {
    val f = java.nio.file.Files.createTempFile("graft-blank", ".csv")
    java.nio.file.Files.writeString(f, "id,name,note\n1,,x\n2,beta,\n")
    val df = graft.ingest.CsvIngest.read(spark, f.toString)
    val p = JdbcDestination.plan("blank cells", df.columns.toSeq,
      existingCols = Nil, derby)
    val r = JdbcDestination.write(df, url, p.copy(table = "blank_cells"))
    assert(r.nRecords == 2)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "blank_cells").load()
      .orderBy("id").collect().map(_.toSeq)
    assert(back.toSeq == Seq(Seq("1", "", "x"), Seq("2", "beta", "")))
  }
}
