package graft.core

import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {

  /** The padded row string as `fillRow` leaves it in the scratch buffer —
    * the fill that extraction and `tokenizeRow` run. */
  private def rs(line: String): String = {
    val scratch = new Tokenizer.Scratch
    val len = Tokenizer.fillRow(line, 0, line.length, 0, scratch)
    new String(scratch.buf, 0, len)
  }

  private def slices(line: String, lineStart: Int = 0): Vector[Tokenizer.ModuleSlice] =
    Tokenizer.tokenizeRow(line, 0, line.length, lineStart, new Tokenizer.Scratch)

  test("pad quirk: rows shorter than 33 get 11-(len%11) underscores") {
    // len 10 -> +1 (diary_ocr.py:249-253)
    assert(rs("ABCDEFGHIJ") == "ABCDEFGHIJ_")
    assert(slices("ABCDEFGHIJ").map(_.str) == Vector("ABCDEFGHIJ"))
    // len 21 -> +1
    val gapped = "ABCDEFGHIJ" + "   " + "KLMNOPQRST"
    assert(rs(gapped).length == 22)
    assert(slices(gapped).map(_.str) == Vector("ABCDEFGHIJ", "KLMNOPQRST"))
  }

  test("pad quirk: len ≡ 0 mod 11 below 33 adds a FULL 11 underscores") {
    // the reference quirk: 11 - (22 % 11) = 11, not 0
    val line = "ABCDEFGHIJK" + "LMNOPQRSTUV" // 22 payload chars, no gaps
    val out = rs(line)
    assert(out.length == 33)
    assert(out.endsWith("_" * 11))
    assert(slices(line).map(_.str) == Vector("ABCDEFGHIJ", "LMNOPQRSTU", "_" * 10))
  }

  test("no padding at or above 33") {
    val line = "A" * 33
    assert(rs(line) == "A" * 33)
    assert(rs("A" * 34) == "A" * 34)
    assert(slices(line).map(_.str) == Vector.fill(3)("A" * 10))
    assert(slices("A" * 34).map(_.str) == Vector.fill(3)("A" * 10) :+ "A")
  }

  test("gap placeholders use integer division of gap/GapUnit") {
    // gap of 3 spaces -> 3/2 = 1 underscore; 4 -> 2; 5 -> 2; 2 -> none (fuse)
    assert(rs("AB   CD" + "X" * 30).startsWith("AB_CD"))
    assert(rs("AB    CD" + "X" * 30).startsWith("AB__CD"))
    assert(rs("AB     CD" + "X" * 30).startsWith("AB__CD"))
    assert(rs("AB  CD" + "X" * 30).startsWith("ABCD"))
    assert(rs("AB CD" + "X" * 30).startsWith("ABCD"))
    assert(slices("AB    CD" + "X" * 30).head.str == "AB__CDXXXX")
    assert(slices("AB  CD" + "X" * 30).head.str == "ABCDXXXXXX")
  }

  test("slicing: stride 11, keep 10, ceil(len/11) modules") {
    val line = "ABCDEFGHIJ" + "   " + "KLMNOPQRST" + "   " + "UVWXY=0123"
    assert(rs(line).length == 32 + 1) // 3 modules + 2 separators + 1 pad
    val out = slices(line)
    assert(out.map(_.str) == Vector("ABCDEFGHIJ", "KLMNOPQRST", "UVWXY=0123"))
    assert(out.map(_.ordinal) == Vector(0, 1, 2))
    // spans point at source offsets of the contributing chars
    assert(out(0).span == Span(0, 10))
    assert(out(1).span == Span(13, 23))
    assert(out(2).span == Span(26, 36))
  }

  test("placeholder-only module has span (-1,-1)") {
    val out = slices("ABCDEFGHIJK" + "LMNOPQRSTUV") // pads 11 '_'
    assert(out.length == 3)
    assert(out(2).span == Span(-1, -1))
  }

  test("line offsets propagate into spans") {
    assert(slices("ABCDEFGHIJ", 100).head.span == Span(100, 110))
  }

  test("slicing totality: every length yields ceil(len/11) modules (property)") {
    for (n <- 0 to 200) {
      val line = "A" * n
      val expectLen =
        if (n < Tokenizer.PadBelow) n + (Tokenizer.Stride - n % Tokenizer.Stride)
        else n
      assert(rs(line).length == expectLen)
      val out = slices(line)
      assert(out.length == (expectLen + 10) / 11)
      // slices drop exactly the separator positions (index ≡ 10 mod 11)
      assert(out.map(_.str.length).sum == expectLen - expectLen / 11)
    }
  }

  test("tokenizeRow == sliceRow(rowStringRange) on random ranges and offsets (property)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "AB09=_-.*"
    // mostly short tokens, with space runs from 1 to 40 wide
    def randText(n: Int): String = {
      val sb = new StringBuilder
      while (sb.length < n) {
        if (rnd.nextInt(3) == 0) sb.append(" " * (1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else 40)))
        else sb.append(alphabet(rnd.nextInt(alphabet.length)))
      }
      sb.result().take(n)
    }
    // range lengths on both sides of each pad and stride boundary, then random
    val lengths = Seq(0, 10, 11, 22, 32, 33, 34) ++ Seq.fill(400)(rnd.nextInt(300))
    // one scratch across all cases: buffers are reused as extraction reuses them
    val scratch = new Tokenizer.Scratch
    for (n <- lengths; dense <- Seq(true, false)) {
      val body = if (dense) "A" * n else randText(n)
      val prefix = randText(rnd.nextInt(20))
      val text = prefix + body + randText(rnd.nextInt(20))
      val lo = prefix.length
      val hi = lo + n
      val base = rnd.nextInt(10000)
      val fast = Tokenizer.tokenizeRow(text, lo, hi, base, scratch)
      val ref = TokenizerReference.sliceRow(TokenizerReference.rowStringRange(text, lo, hi, base))
      assert(fast == ref, s"text=[$text] lo=$lo hi=$hi base=$base")
    }
  }

  test("token groups: runs, fused short gaps, placeholder groups") {
    val gs = Tokenizer.tokenGroups("AB   CD  EF", 0)
    assert(gs == Vector(
      TokenGroup(2, Some(Span(0, 2))),
      TokenGroup(1, None),
      TokenGroup(2, Some(Span(5, 7))),
      TokenGroup(2, Some(Span(9, 11)))))
  }
}
