package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sync.UploadPipeline

class UploadPipelineSpec extends AnyFunSuite {

  test("uploadCsv: a sniffed ';' file lands as <sqlify(stem)>.csv, cells kept") {
    val src = Files.createTempDirectory("graft-upload")
      .resolve("Q3 Sales-Report (final).csv")
    val rows = Seq(Seq("EU", "1", "2", "x"), Seq("US", "3", "", "y"),
      Seq("APAC", "4", "5", "z"))
    Files.writeString(src, ("Region;Amount;amount;Region" +:
      rows.map(_.mkString(";"))).mkString("", "\n", "\n"))
    val base = Files.createTempDirectory("graft-upload-out")

    val report = UploadPipeline.uploadCsv(TestSpark.spark, src.toString,
      base.toString)

    val target = base.resolve("q3_sales_report_final_.csv")
    assert(report == s"Created $target.\n3 records loaded successfully.\n")
    val lines = Files.readAllLines(target).asScala.toSeq
    // duplicate header cells (case-insensitively) get their index
    assert(lines.head == "Region0,Amount1,amount2,Region3")
    assert(lines.tail.map(_.split(",", -1).toSeq) == rows)
  }
}
