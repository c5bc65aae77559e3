package graft.expr

/** A1-style cell-reference decoding, porting the reference's client
  * parser (`app/static/xlsparser.js:85-102`): `"BC12"` → (row 12,
  * col 55). Column letters are base-26 with A=1 (no zero digit).
  */
object A1Ref {

  /** `"A"`→1, `"Z"`→26, `"AA"`→27, ... Input is trimmed like the
    * reference's `$.trim(col)`. Non-letter input → 0 contributions
    * (the reference's `letters.indexOf` returns -1; we reject instead).
    */
  def colToInt(col: String): Int = {
    val s = col.trim
    require(s.nonEmpty && s.forall(c => c >= 'A' && c <= 'Z'),
      s"not a column ref: '$col'")
    // 6 letters tops out at ~3.2e8; 7+ would overflow Int into a
    // silently-wrong (possibly negative) ordinal — xlsx column refs
    // max out at XFD (3 letters), so reject rather than wrap
    require(s.length <= 6, s"column ref too long: '$col'")
    s.foldLeft(0)((n, c) => n * 26 + (c - 'A' + 1))
  }

  def intToCol(n: Int): String = {
    require(n >= 1, s"column ordinal must be >= 1, got $n")
    val sb = new StringBuilder
    var x = n
    while (x > 0) {
      val r = (x - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      x = (x - 1) / 26
    }
    sb.result()
  }

  /** `"BC12"` → (row = 12, col = 55), mirroring `new Cell(cellRef)`
    * (`xlsparser.js:98-102`). The trimmed input must be 1+ letters
    * `A-Z` then 1–9 digits `0-9` (the form `^([A-Z]+)([0-9]+)$`), or it
    * fails with IllegalArgumentException. The digit bound keeps the row
    * inside Int (xlsx rows max out at 1,048,576, 7 digits); the letters
    * obey [[colToInt]]. A character scan, not a regex: it runs once per
    * cell of every parsed sheet.
    */
  def parse(ref: String): (Int, Int) = {
    val s = ref.trim
    var i = 0
    while (i < s.length && s.charAt(i) >= 'A' && s.charAt(i) <= 'Z') i += 1
    val letters = i
    var row = 0
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
      row = row * 10 + (s.charAt(i) - '0')
      i += 1
    }
    val digits = i - letters
    if (letters == 0 || digits == 0 || digits > 9 || i < s.length)
      throw new IllegalArgumentException(s"not an A1 ref: '$s'")
    (row, colToInt(s.substring(0, letters)))
  }
}
