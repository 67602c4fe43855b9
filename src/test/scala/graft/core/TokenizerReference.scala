package graft.core

import graft.core.Tokenizer._

/** The object-building form of `Tokenizer.tokenizeRow`: the row string with
  * its per-character source offsets, then fixed-stride slicing over it. Kept
  * only as the differential reference for the scratch-buffer fill that
  * extraction runs (TokenizerSpec). */
object TokenizerReference {

  final case class RowString(chars: String, srcOffsets: Array[Int])

  /** Build the row string + per-character source offsets for one content line.
    * `lineStart` is the line's offset within the turn text. */
  def rowString(line: String, lineStart: Int): RowString =
    rowStringRange(line, 0, line.length, lineStart)

  /** Range form: tokenizes text[lo, hi); emitted source offsets are
    * offsetBase + (position within the range). */
  def rowStringRange(text: String, lo: Int, hi: Int, offsetBase: Int): RowString = {
    val n = hi - lo
    // upper bound: payload chars + gap placeholders (< n/2 each) + pad 11
    val cap = n + Stride + 1
    val buf = new Array[Char](cap)
    val offs = new Array[Int](cap)
    var len = 0
    var i = lo
    while (i < hi) {
      val c = text.charAt(i)
      if (c == ' ') {
        var j = i
        while (j < hi && text.charAt(j) == ' ') j += 1
        val gap = j - i
        if (gap > GapUnit) {
          var k = 0
          val placeholders = gap / GapUnit // int truncation, as int(gap/23)
          while (k < placeholders) {
            buf(len) = ModuleParser.SpaceChar; offs(len) = -1; len += 1; k += 1
          }
        }
        i = j
      } else {
        buf(len) = c; offs(len) = offsetBase + (i - lo); len += 1; i += 1
      }
    }
    // Pad quirk — preserved bit-exactly (diary_ocr.py:249-253).
    if (len < PadBelow) {
      val missing = Stride - (len % Stride)
      var k = 0
      while (k < missing) {
        buf(len) = ModuleParser.SpaceChar; offs(len) = -1; len += 1; k += 1
      }
    }
    RowString(new String(buf, 0, len), java.util.Arrays.copyOf(offs, len))
  }

  /** Fixed-stride slicing with span reconstruction (diary_ocr.py:267-277). */
  def sliceRow(row: RowString): Vector[ModuleSlice] = {
    val len = row.chars.length
    if (len == 0) return Vector.empty
    val numModules = (len + Stride - 1) / Stride // ceil(len/11)
    (0 until numModules).map { m =>
      val init = m * Stride
      val stop = math.min(init + ModuleWidth, len)
      val str = row.chars.substring(init, stop)
      var lo = Int.MaxValue
      var hi = -1
      var i = init
      while (i < stop) {
        val o = row.srcOffsets(i)
        if (o >= 0) { if (o < lo) lo = o; if (o + 1 > hi) hi = o + 1 }
        i += 1
      }
      val span = if (hi < 0) Span(-1, -1) else Span(lo, hi)
      ModuleSlice(m, str, span)
    }.toVector
  }
}
