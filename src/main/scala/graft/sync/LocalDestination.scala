package graft.sync

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** `destination_local` (`app/data.py:137-153`): resolve `path` under a
  * base directory (absolute paths respected), mkdir -p, write
  * `<table>.csv` with header, report the record count (header-exclusive
  * — reference bug B4 fixed at the source).
  *
  * The write itself is a distributed Spark CSV write into a temp dir;
  * the single part file is then renamed to the reference's exact
  * `<table>.csv` layout. `coalesce(1)` matches the reference's
  * one-file-per-table contract — callers loading big data should use
  * [[writeDir]] instead, which keeps full write parallelism.
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
    val tmp = Files.createTempDirectory(dir, s".$tableName-load")
    val (parts, n) = writeCsvParts(df.coalesce(1), tmp,
      header = true, gzip = false)
    val part = parts.headOption
      .getOrElse(throw new IllegalStateException("no part file written"))
    Files.move(tmp.resolve(part), target, StandardCopyOption.REPLACE_EXISTING)
    withList(tmp)(_.foreach(Files.deleteIfExists(_)))
    Files.deleteIfExists(tmp)
    LoadReport(None, target.toString, n)
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
