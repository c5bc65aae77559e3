package graft.sync

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution

/** `destination_local` (`app/data.py:137-153`): resolve `path` under a
  * base directory (absolute paths respected), mkdir -p, write
  * `<table>.csv` with header, report the record count (header-exclusive
  * — reference bug B4 fixed at the source).
  *
  * The write is one Spark job over `df.coalesce(1)`: its single task
  * streams the rows through Spark's own CSV generator, with the options
  * Spark's CSV writer builds for the same write, into a hidden temp file
  * next to the target, and returns the row count. The driver then moves
  * that file over `<table>.csv`. A one-file output needs no file-commit
  * protocol: a failed write leaves the old `<table>.csv` as it was and
  * no temp file behind. Callers loading big data should use [[writeDir]]
  * instead, which keeps full write parallelism.
  */
object LocalDestination {

  def resolve(baseDir: String, path: String): Path =
    if (path.nonEmpty && path.startsWith("/")) Paths.get(path)
    else if (path.nonEmpty) Paths.get(baseDir, path)
    else Paths.get(baseDir)

  /** Faithful single-file variant. Returns the reference-format report. */
  def write(df: DataFrame, tableName: String, path: String,
      baseDir: String): LoadReport = {
    val dir = resolve(baseDir, path)
    Files.createDirectories(dir)
    val target = dir.resolve(s"$tableName.csv")
    val tmp = Files.createTempFile(dir, s".$tableName-load", ".csv")
    try {
      val n = writeCsvFile(df, tmp)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      LoadReport(None, target.toString, n)
    } finally Files.deleteIfExists(tmp)
  }

  /** Write `df` to `file` as one CSV file with a header, in one Spark
    * job, and return its row count. The options are the ones Spark's
    * CSV writer builds from `header=true` and `emptyValue=""`, so the
    * bytes equal its part file's.
    */
  private def writeCsvFile(df: DataFrame, file: Path): Long = {
    val one = df.coalesce(1)
    val qe = one.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val conf = qe.sparkSession.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true", "emptyValue" -> ""),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val schema = one.schema
    val out = file.toString
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      qe.sparkSession.sparkContext.runJob(qe.executedPlan.execute(),
        (_: TaskContext, it: Iterator[InternalRow]) => {
          val gen = new UnivocityGenerator(schema, Files.newBufferedWriter(
            Paths.get(out), Charset.forName(opts.charset)), opts)
          try {
            gen.writeHeaders()
            var n = 0L
            it.foreach { r => gen.write(r); n += 1 }
            n
          } finally gen.close()
        }).sum
    }
  }

  /** Scale variant: parallel multi-part CSV directory per table. */
  def writeDir(df: DataFrame, tableName: String, path: String,
      baseDir: String, compress: Boolean = false): LoadReport = {
    val dir = resolve(baseDir, path).resolve(tableName)
    val (_, n) = writeCsvParts(df, dir, header = true, gzip = compress)
    LoadReport(None, dir.toString, n)
  }

  /** The CSV writer of every file sink: replace `dir` with the part
    * files of `df` and return their names, sorted, and the row count.
    * Empty cells are bare, like Python's `csv.writer`, not quoted `""`.
    */
  private[sync] def writeCsvParts(df: DataFrame, dir: Path, header: Boolean,
      gzip: Boolean): (Seq[String], Long) = {
    val n = LoadReport.countedWrite(df) { d =>
      val w = d.write.mode("overwrite")
        .option("header", header.toString).option("emptyValue", "")
      (if (gzip) w.option("compression", "gzip") else w).csv(dir.toString)
    }
    (withList(dir)(_.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq.sorted), n)
  }

  /** `Files.list` holds an open DirectoryStream — always close it. */
  private def withList[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }
}
