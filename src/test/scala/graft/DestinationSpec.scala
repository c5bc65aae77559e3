package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{concat, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.model.SheetMatrix
import graft.sync.{DropCreate, JdbcDestination, LocalDestination, StagedCopy, Truncate}

class DestinationSpec extends AnyFunSuite with TimeLimits {

  import TestSpark.jobsOf

  lazy val spark = TestSpark.spark

  test("local destination writes <table>.csv with header and reports count") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dest").toString
    val df = Seq(("1", "a"), ("2", "b")).toDF("id", "name")
    val report = LocalDestination.write(df, "my_table", "sub/dir", base)
    val f = java.nio.file.Paths.get(base, "sub/dir", "my_table.csv")
    assert(Files.exists(f))
    val lines = Files.readAllLines(f)
    assert(lines.get(0) == "id,name")
    assert(lines.size == 3)
    assert(report.render ==
      s"Created $f.\n2 records loaded successfully.\n")
  }

  private def listNames(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString).toList.sorted)

  test("local destination writes the bytes of Spark's CSV part file and nothing else") {
    import spark.implicits._
    val tricky = SheetMatrix.toDataFrame(spark, Seq(
      // duplicate and empty header names
      Seq("Amount", "amount", "", "note", ""),
      Seq("a,b", "say \"hi\"", "line1\nline2", "cr\rx", "crlf\r\ny"),
      Seq("  lead", "trail  ", "back\\slash", "na\u00efve \u65e5\u672c", "\u00e9"),
      Seq("", null, "x", null, "")))
    val headerOnly = SheetMatrix.toDataFrame(spark, Seq(Seq("a", "b")))
    val emptyLocal = Seq.empty[(String, String)].toDF("a", "b")
    val base = Files.createTempDirectory("graft-bytes")
    for ((name, df, rows) <- Seq(("tricky", tricky, 3L),
        ("header_only", headerOnly, 0L), ("empty_local", emptyLocal, 0L))) {
      val ref = base.resolve(s"spark_$name")
      df.coalesce(1).write.option("header", "true").option("emptyValue", "")
        .csv(ref.toString)
      val part = listNames(ref).filter(_.startsWith("part-"))
      assert(part.size == 1, part)
      val report = LocalDestination.write(df, name, s"local_$name", base.toString)
      assert(report.nRecords == rows, name)
      val out = base.resolve(s"local_$name")
      // no _SUCCESS, .crc, _temporary or temp file beside the table
      assert(listNames(out) == Seq(s"$name.csv"), name)
      val got = Files.readAllBytes(out.resolve(s"$name.csv"))
      val want = Files.readAllBytes(ref.resolve(part.head))
      assert(got.sameElements(want),
        s"$name:\n${new String(got, "UTF-8")}\n--- vs ---\n${new String(want, "UTF-8")}")
    }
  }

  test("a failed local write leaves the old <table>.csv and no temp file") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-failed")
    LocalDestination.write(Seq(("1", "a")).toDF("id", "name"), "snap", "", base.toString)
    val before = Files.readAllBytes(base.resolve("snap.csv"))
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // row 1 fails to cast in the write's task, after row 0 is written
      val bad = spark.range(0, 2, 1, 1).select(
        when(col("id") === 1, lit("x")).otherwise(col("id").cast("string"))
          .cast("int").as("id"))
      intercept[Exception](LocalDestination.write(bad, "snap", "", base.toString))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
    assert(Files.readAllBytes(base.resolve("snap.csv")).sameElements(before))
    assert(listNames(base) == Seq("snap.csv"))
  }

  test("absolute path overrides base dir (data.py:138-142)") {
    val abs = Files.createTempDirectory("graft-abs").toString
    assert(LocalDestination.resolve("/nope", abs).toString == abs)
    assert(LocalDestination.resolve("/base", "rel").toString == "/base/rel")
    assert(LocalDestination.resolve("/base", "").toString == "/base")
  }

  test("jdbc plan: unchanged column set → truncate, changed → drop") {
    val p1 = JdbcDestination.plan("My Table", Seq("A", "B"),
      existingCols = Seq("b", "a"), JdbcDestination.Redshift, path = "team1")
    assert(p1.table == "x_excel_team1.my_table")
    assert(p1.action == Truncate && p1.truncate)
    assert(p1.columnTypes == "A VARCHAR, B VARCHAR")
    assert(p1.batchSize == 1000)

    val p2 = JdbcDestination.plan("t", Seq("A", "C"),
      existingCols = Seq("a", "b"), JdbcDestination.Snowflake)
    assert(p2.table == "x_excel.t")
    assert(p2.action == DropCreate && !p2.truncate)
    assert(p2.columnTypes == "A TEXT, C TEXT")
  }

  test("duplicate/empty headers get uniquified names matching the frame") {
    val types = JdbcDestination.createTableColumnTypes(
      Seq("Amount", "amount", ""), JdbcDestination.Redshift)
    assert(types == "Amount VARCHAR, amount_1 VARCHAR, _c2 VARCHAR")
  }

  test("routing path is sanitized before reaching schema identifiers") {
    val p = JdbcDestination.plan("t", Seq("a"), Nil,
      JdbcDestination.Redshift, path = "EU-West; DROP TABLE x")
    assert(p.table == "x_excel_eu_west_drop_table_x.t")
  }

  test("azure dialect always drops and uses NVARCHAR(2000)") {
    val p = JdbcDestination.plan("t", Seq("a"), Seq("a"),
      JdbcDestination.AzureDw)
    assert(p.action == DropCreate)
    assert(p.columnTypes == "a NVARCHAR(2000)")
  }

  implicit val signaler: Signaler = ThreadSignaler

  private def cachesEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty

  test("every sink counts its rows in the write's own single job, no cache") {
    import spark.implicits._
    // start from an empty cache, so what is left afterwards is the sinks'
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    val schema = StructType(Seq("id", "v").map(StructField(_, StringType)))
    val multi = spark.range(0, 90, 1, 3).select($"id".cast("string").as("id"),
      when($"id" % 10 === 0, lit("")).otherwise(concat(lit("v"), $"id")).as("v"))
    val frames = Seq[(String, DataFrame, Long)](
      ("zero_rows", multi.filter($"id".cast("int") > 1000), 0L),
      ("zero_parts", spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema), 0L),
      ("multi", multi, 90L))
    assert(frames.head._2.rdd.getNumPartitions > 0)
    assert(frames(1)._2.rdd.getNumPartitions == 0)
    assert(multi.rdd.getNumPartitions == 3)

    val base = Files.createTempDirectory("graft-counted")
    val url = "jdbc:derby:memory:graftcounted;create=true"
    val derby = JdbcDestination.Dialect("derby", "VARCHAR(255)")
    for ((name, df, rows) <- frames) {
      val sinks = Seq[(String, () => Long)](
        "local" -> (() =>
          LocalDestination.write(df, name, "local", base.toString).nRecords),
        "dir" -> (() =>
          LocalDestination.writeDir(df, name, "dir", base.toString).nRecords),
        "redshift" -> (() => StagedCopy.redshift(df, name, "",
          base.resolve("rs").toString, "b", "r").nRecords),
        "snowflake" -> (() => StagedCopy.snowflake(df, name, "",
          base.resolve("sf").toString).nRecords),
        // the table is new, then existing with the same columns
        "jdbc_create" -> (() => JdbcDestination.write(df, url,
          JdbcDestination.plan(name, df.columns.toSeq, Nil, derby)
            .copy(table = name)).nRecords),
        "jdbc_truncate" -> (() => JdbcDestination.write(df, url,
          JdbcDestination.plan(name, df.columns.toSeq, df.columns.toSeq,
            derby).copy(table = name)).nRecords))
      for ((sink, call) <- sinks) {
        // a lost observation blocks the count forever: fail instead
        val (n, jobs) = failAfter(Span(120, Seconds))(jobsOf(call()))
        assert(n == rows, s"$sink/$name count")
        assert(jobs == 1, s"$sink/$name ran $jobs Spark jobs")
        assert(cachesEmpty, s"$sink/$name left a cache behind")
      }
    }

    // blank cells are bare in every file sink, never quoted ""
    def csvLines(dir: Path): Seq[String] =
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p).asScala).toList)
    val local = Files.readAllLines(base.resolve("local/multi.csv")).asScala
    val dir = csvLines(base.resolve("dir/multi"))
    for (lines <- Seq(local.toSeq, dir)) {
      assert(lines.contains("0,") && lines.contains("10,"))
      assert(!lines.exists(_.contains("\"\"")), lines.take(3))
    }
  }

  /** The three frames of the single-job case: all partitions empty, no
    * partitions, and 3 partitions of 30 rows with blank cells.
    */
  private def writerFrames: Seq[(String, DataFrame)] = {
    import spark.implicits._
    val schema = StructType(Seq("id", "v").map(StructField(_, StringType)))
    val multi = spark.range(0, 90, 1, 3).select($"id".cast("string").as("id"),
      when($"id" % 10 === 0, lit("")).otherwise(concat(lit("v"), $"id")).as("v"))
    Seq(("zero_rows", multi.filter($"id".cast("int") > 1000)),
      ("zero_parts", spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)),
      ("multi", multi))
  }

  private def text(p: Path): String = {
    val in = Files.newInputStream(p)
    val body =
      if (p.toString.endsWith(".gz")) new java.util.zip.GZIPInputStream(in) else in
    try new String(body.readAllBytes(), "UTF-8") finally body.close()
  }

  /** Partition index → decompressed text of every `part-` file in `dir`. */
  private def partsByIndex(dir: Path): Map[Int, String] =
    listNames(dir).filter(_.startsWith("part-"))
      .map(n => n.substring(5, 10).toInt -> text(dir.resolve(n))).toMap

  test("the multi-part sinks write the parts of Spark's CSV writer and nothing else") {
    val base = Files.createTempDirectory("graft-parts")
    for ((name, df) <- writerFrames) {
      val sinks = Seq[(String, Boolean, () => Path)](
        ("dir", true, () => Paths.get(LocalDestination
          .writeDir(df, name, "dir", base.toString).target)),
        ("dir_gz", true, () => Paths.get(LocalDestination
          .writeDir(df, name, "dir_gz", base.toString, compress = true).target)),
        ("stage", false, () => Paths.get(StagedCopy
          .redshift(df, name, "", base.resolve("rs").toString, "b", "r").stageDir)))
      for ((sink, header, call) <- sinks) {
        val ref = base.resolve(s"spark_${name}_$header")
        if (!Files.exists(ref))
          df.write.option("header", header.toString).option("emptyValue", "")
            .csv(ref.toString)
        val out = call()
        // no _SUCCESS, .crc, _temporary or temp entry
        assert(listNames(out).forall(_.startsWith("part-")), s"$sink/$name")
        val (got, want) = (partsByIndex(out), partsByIndex(ref))
        assert(want.nonEmpty)
        assert(got == want, s"$sink/$name")
      }
    }
  }

  test("a failed multi-part write keeps the old parts and leaves no temp directory") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-failed-parts")
    val good = spark.range(0, 30, 1, 3).select($"id".cast("string").as("id"))
    // row 1 fails to cast in the write's task, after row 0 is written
    val bad = spark.range(0, 2, 1, 1).select(
      when(col("id") === 1, lit("x")).otherwise(col("id").cast("string"))
        .cast("int").as("id"))
    val sinks = Seq[(String, DataFrame => String)](
      "dir" -> (df => LocalDestination.writeDir(df, "snap", "dir",
        base.toString).target),
      "stage" -> (df => StagedCopy.redshift(df, "snap", "",
        base.resolve("rs").toString, "b", "r").stageDir))
    def parts(dir: Path): Seq[(String, Seq[Byte])] =
      listNames(dir).filter(_.startsWith("part-"))
        .map(n => n -> Files.readAllBytes(dir.resolve(n)).toSeq)
    for ((sink, load) <- sinks) {
      val dir = Paths.get(load(good))
      val before = parts(dir)
      assert(before.size == 3, sink)
      val saved = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "true")
      try intercept[Exception](load(bad))
      finally spark.conf.set("spark.sql.ansi.enabled", saved)
      assert(parts(dir) == before, sink)
      assert(listNames(dir.getParent) == Seq("snap"), sink)
    }
  }
}
