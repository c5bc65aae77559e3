package graft.sync

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat

/** `destination_local` (`app/data.py:137-153`): resolve `path` under a
  * base directory (absolute paths respected), mkdir -p, write
  * `<table>.csv` with header, report the record count (header-exclusive
  * — reference bug B4 fixed at the source).
  *
  * Every file sink here ([[write]], [[writeDir]] and [[StagedCopy]]'s
  * stage) is one Spark job with no file-commit protocol. Each task
  * streams its rows through Spark's own CSV generator, with the options
  * Spark's CSV writer builds for the same write, into a part file in a
  * hidden temp directory beside the target, and returns the file's name
  * and row count. The driver then promotes exactly the returned parts:
  * a file a failed or retried attempt left behind is never promoted. A
  * failed write deletes the temp directory and leaves the old output as
  * it was.
  */
object LocalDestination {

  def resolve(baseDir: String, path: String): Path =
    if (path.nonEmpty && path.startsWith("/")) Paths.get(path)
    else if (path.nonEmpty) Paths.get(baseDir, path)
    else Paths.get(baseDir)

  /** Faithful single-file variant: the one-partition case of the
    * multi-part write, whose single part is moved over `<table>.csv`.
    * Returns the reference-format report.
    */
  def write(df: DataFrame, tableName: String, path: String,
      baseDir: String): LoadReport = {
    val target = resolve(baseDir, path).resolve(s"$tableName.csv")
    val (_, n) = writeCsv(df.coalesce(1), target, header = true, gzip = false) {
      (tmp, parts) =>
        Files.move(tmp.resolve(parts.head), target, StandardCopyOption.REPLACE_EXISTING)
    }
    LoadReport(None, target.toString, n)
  }

  /** Scale variant: parallel multi-part CSV directory per table. */
  def writeDir(df: DataFrame, tableName: String, path: String,
      baseDir: String, compress: Boolean = false): LoadReport = {
    val dir = resolve(baseDir, path).resolve(tableName)
    val (_, n) = writeCsvParts(df, dir, header = true, gzip = compress)
    LoadReport(None, dir.toString, n)
  }

  /** Replace `dir` with the part files of `df` and return their names,
    * in partition order, and the row count. The old directory is
    * renamed aside, the new one renamed in, then the old one deleted.
    */
  private[sync] def writeCsvParts(df: DataFrame, dir: Path, header: Boolean,
      gzip: Boolean): (Seq[String], Long) =
    writeCsv(df, dir, header, gzip) { (tmp, _) =>
      if (!Files.exists(dir, LinkOption.NOFOLLOW_LINKS)) Files.move(tmp, dir)
      else {
        val old = tmp.resolveSibling(s"${tmp.getFileName}-old")
        Files.move(dir, old)
        try Files.move(tmp, dir)
        catch { case e: Throwable => Files.move(old, dir); throw e }
        deleteTree(old)
      }
    }

  /** Write `df`'s partitions as CSV parts into a fresh hidden directory
    * `.<target name>-load*` beside `target`, in one Spark job, then hand
    * that directory and the parts' names to `promote`. The directory is
    * deleted afterwards whatever happens. Empty cells are bare, like
    * Python's `csv.writer`, not quoted `""`.
    */
  private def writeCsv(df: DataFrame, target: Path, header: Boolean,
      gzip: Boolean)(promote: (Path, Seq[String]) => Unit): (Seq[String], Long) = {
    val parent = Files.createDirectories(target.toAbsolutePath.getParent)
    val tmp = Files.createTempDirectory(parent, s".${target.getFileName}-load")
    try {
      val parts = runParts(df, tmp, header, gzip)
      val names = parts.map(_._1)
      val keep = names.toSet
      withList(tmp)(_.filterNot(p => keep(p.getFileName.toString)).toList)
        .foreach(Files.delete)
      promote(tmp, names)
      (names, parts.map(_._2).sum)
    } finally deleteTree(tmp)
  }

  /** The job: each task writes `part-<partition>-<attempt>.csv[.gz]`
    * into `out` and returns its name and row count. The options are the
    * ones Spark's CSV writer builds from `header` and `emptyValue=""`,
    * so a part's text equals Spark's part file for the same partition;
    * gzip is the JDK's. Spark's writer rules hold: partition 0 always
    * writes a file (with `header`, the header alone), other empty
    * partitions write none, and a plan with no partitions runs as one
    * empty partition.
    */
  private def runParts(df: DataFrame, out: Path, header: Boolean,
      gzip: Boolean): Seq[(String, Long)] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val spark = qe.sparkSession
    val conf = spark.sessionState.conf
    val schema = df.schema
    DataSourceUtils.verifySchema(new CSVFileFormat, schema)
    val opts = new CSVOptions(Map("header" -> header.toString, "emptyValue" -> ""),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val dir = out.toString
    val ext = if (gzip) ".csv.gz" else ".csv"
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan.execute()
      val rdd =
        if (plan.partitions.nonEmpty) plan
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      spark.sparkContext.runJob(rdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          if (ctx.partitionId() != 0 && !it.hasNext) None
          else {
            val name = f"part-${ctx.partitionId()}%05d-${ctx.taskAttemptId()}$ext"
            val os = Files.newOutputStream(Paths.get(dir, name))
            val gen = new UnivocityGenerator(schema, new BufferedWriter(
              new OutputStreamWriter(if (gzip) new GZIPOutputStream(os, 65536) else os,
                Charset.forName(opts.charset))), opts)
            try {
              if (opts.headerFlag) gen.writeHeaders()
              var n = 0L
              it.foreach { r => gen.write(r); n += 1 }
              Some(name -> n)
            } finally gen.close()
          }).toSeq.flatten
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** `Files.list` holds an open DirectoryStream — always close it. */
  private def withList[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }
}
