package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{A1Ref, ExcelDate}

class ExcelDateA1Spec extends AnyFunSuite with PropHelpers {

  test("serial 1 = 1900-01-01 (Excel's first day)") {
    assert(ExcelDate.toDate(1) == LocalDate.of(1900, 1, 1))
  }

  test("serials below 60 agree between compat and fixed") {
    (1 to 59).foreach { s =>
      assert(ExcelDate.toDate(s) == ExcelDate.toDate(s, leapBugCompat = false))
    }
  }

  test("leap-bug compat: serial 60 → 1900-03-01 (reference), fixed → 1900-02-28") {
    assert(ExcelDate.toDate(60) == LocalDate.of(1900, 3, 1))
    assert(ExcelDate.toDate(60, leapBugCompat = false) == LocalDate.of(1900, 2, 28))
  }

  test("post-bug serials: compat is one day ahead of Excel's calendar") {
    // 61 is 1900-03-01 in real Excel
    assert(ExcelDate.toDate(61, leapBugCompat = false) == LocalDate.of(1900, 3, 1))
    assert(ExcelDate.toDate(61) == LocalDate.of(1900, 3, 2))
  }

  test("known modern date: 2024-01-01 has Excel serial 45292") {
    assert(ExcelDate.toDate(45292, leapBugCompat = false) == LocalDate.of(2024, 1, 1))
  }

  test("A1 column decode matches reference examples (xlsparser.js:85-94)") {
    assert(A1Ref.colToInt("A") == 1)
    assert(A1Ref.colToInt("Z") == 26)
    assert(A1Ref.colToInt("AA") == 27)
    assert(A1Ref.colToInt("BC") == 55)
    assert(A1Ref.colToInt(" BC ") == 55) // reference trims
  }

  test("A1 parse splits letters/digits") {
    assert(A1Ref.parse("BC12") == (12, 55))
    assert(A1Ref.parse("A1") == (1, 1))
    intercept[IllegalArgumentException](A1Ref.parse("12A"))
  }

  test("property: intToCol/colToInt round-trip") {
    forAll(org.scalacheck.Gen.choose(1, 20000)) { n =>
      assert(A1Ref.colToInt(A1Ref.intToCol(n)) == n)
    }
  }

  test("property: A1 parse equals the regex form on generated refs, errors included") {
    import org.scalacheck.Gen
    val RefPattern = "^([A-Z]+)([0-9]+)$".r
    def byRegex(ref: String): (Int, Int) = ref.trim match {
      case RefPattern(letters, digits) if digits.length <= 9 =>
        (digits.toInt, A1Ref.colToInt(letters))
      case other => throw new IllegalArgumentException(s"not an A1 ref: '$other'")
    }
    def outcome(f: => (Int, Int)): Either[String, (Int, Int)] =
      try Right(f) catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val pad = Gen.oneOf("", " ", "\t", "\n ", "\u0000")
    def run(cs: Seq[Char], lo: Int, hi: Int) =
      Gen.choose(lo, hi).flatMap(Gen.listOfN(_, Gen.oneOf(cs))).map(_.mkString)
    // well-formed-ish: letters then digits, around the 6-letter and
    // 9-digit bounds, with stray characters spliced in
    val shaped = for {
      l <- pad; letters <- run("ABXYZ", 0, 8); digits <- run("0189", 0, 11)
      junk <- Gen.oneOf("", "", "", "a", "$", "-", "1A", " ", "\u0660")
      at <- Gen.choose(0, 2); r <- pad
    } yield {
      val parts = Array(letters, digits, "")
      parts(at) = parts(at) + junk
      l + parts.mkString + r
    }
    val noise = run("AZaz09 $:\t\u00c4", 0, 12)
    forAll(Gen.frequency(4 -> shaped, 1 -> noise), n = 5000) { ref =>
      assert(outcome(A1Ref.parse(ref)) == outcome(byRegex(ref)), s"'$ref'")
    }
    for (ref <- Seq("A1", " XFD1048576 ", "ABCDEF999999999", "ABCDEFG1",
        "A1234567890", "A", "1", "", "a1", "A1A", "A-1"))
      assert(outcome(A1Ref.parse(ref)) == outcome(byRegex(ref)), s"'$ref'")
  }
}
