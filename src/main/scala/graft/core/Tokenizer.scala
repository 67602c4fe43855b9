package graft.core

/** Content-row tokenizer + fixed-stride module slicer — the G7–G10 family,
  * re-expressed over text spans instead of pixel boxes.
  *
  * The reference groups character boxes on the x-axis into modules using gap
  * thresholds (/root/reference/src/diary/diary_structure_detector.py:200-315),
  * concatenates per-group OCR output with `'_' * int(gap/GAP)` placeholders for
  * wide gaps (diary_ocr.py:229-254), pads short rows, and slices the row string
  * at stride 11 keeping 10 chars (diary_ocr.py:267-277). The 1-D text analog:
  *
  *  - a "character group" is a maximal run of non-space characters;
  *  - a space run of length g > GapUnit emits `g / GapUnit` (integer division,
  *    mirroring Python 2's `int(gap/23)`) placeholder underscores;
  *  - a space run of length ≤ GapUnit is a glyph gap: adjacent groups fuse —
  *    the analog of the reference's overlap/broken-glyph merge
  *    (diary_structure_detector.py:241-278);
  *  - the pad quirk is preserved bit-exactly: rows shorter than 33 get
  *    `11 - (len % 11)` underscores appended — which ADDS 11 when
  *    len ≡ 0 (mod 11) (diary_ocr.py:249-253);
  *  - slicing: ceil(len/11) modules, module i = row[11i, 11i+10) — the 11th
  *    char of each stride is the inter-module separator and is dropped.
  *
  * Every emitted character carries its source offset in the original turn
  * text (placeholders/padding carry -1), so each module reports the exact
  * half-open span it was extracted from — the north-rule span invariant.
  */
object Tokenizer {

  /** Space-run width at/below which adjacent groups fuse; above it each
    * GapUnit-wide step emits one placeholder. Analog of the 23-px module gap
    * (diary_structure_detector.py:280-292) scaled to character units. */
  val GapUnit = 2

  /** Pad threshold + stride constants (diary_ocr.py:249-253,267-277). */
  val PadBelow = 33
  val Stride = 11
  val ModuleWidth = 10

  /** Minimum chars for a content row to be tokenized at all — the
    * is_valid_content_row analog (diary_structure_detector.py:196-198). */
  val MinRowChars = 3

  final case class ModuleSlice(ordinal: Int, str: String, span: Span)

  /** Reusable per-partition scratch buffers for the fused tokenize+slice
    * path and the block splitter's packed line bounds. Thread-confined:
    * create one per mapPartitions invocation. */
  final class Scratch {
    var buf: Array[Char] = new Array[Char](256)
    var offs: Array[Int] = new Array[Int](256)
    var lineBuf: Array[Long] = new Array[Long](64)
    /** Reusable module-parse outcome holder (no Either/Option per module). */
    val parse = new ModuleParser.ParseResult
    def ensure(n: Int): Unit =
      if (buf.length < n) {
        val cap = math.max(n, buf.length * 2)
        buf = new Array[Char](cap)
        offs = new Array[Int](cap)
      }
    def ensureLines(n: Int): Unit =
      if (lineBuf.length < n)
        lineBuf = java.util.Arrays.copyOf(lineBuf, math.max(n, lineBuf.length * 2))

    // ---- flat block-tree buffers (Blocker.blockTreeInto) ------------------
    // Parallel per-block arrays + one shared line array for ALL blocks of the
    // turn: the object block tree costs ~5 allocations per block (RawBlock,
    // Span, copied line array, Block, ClassifiedBlock); the flat form costs
    // zero per turn once the buffers are warm.
    var bKind: Array[Int] = new Array[Int](16)
    var bStart: Array[Int] = new Array[Int](16)
    var bEnd: Array[Int] = new Array[Int](16)
    var bLineLo: Array[Int] = new Array[Int](16)
    var bLineHi: Array[Int] = new Array[Int](16)
    var lineAll: Array[Long] = new Array[Long](64)
    /** Reusable feature accumulator for the flat classifier. */
    val feat = new Blocker.Features
    def ensureBlocks(n: Int): Unit =
      if (bKind.length < n) {
        val cap = math.max(n, bKind.length * 2)
        bKind = java.util.Arrays.copyOf(bKind, cap)
        bStart = java.util.Arrays.copyOf(bStart, cap)
        bEnd = java.util.Arrays.copyOf(bEnd, cap)
        bLineLo = java.util.Arrays.copyOf(bLineLo, cap)
        bLineHi = java.util.Arrays.copyOf(bLineHi, cap)
      }
    def ensureLineAll(n: Int): Unit =
      if (lineAll.length < n)
        lineAll = java.util.Arrays.copyOf(lineAll, math.max(n, lineAll.length * 2))
  }

  /** Low-level fill: tokenize text[lo, hi) into the scratch buffers (gap
    * placeholders + pad quirk applied) and return the packed row length.
    * The hot extraction loop reads the scratch directly via `moduleCount`/
    * `moduleStr`/`moduleSpanPacked` — zero intermediate objects per module. */
  def fillRow(text: String, lo: Int, hi: Int, offsetBase: Int,
      scratch: Scratch): Int = {
    val n = hi - lo
    scratch.ensure(n + Stride + 1)
    val buf = scratch.buf
    val offs = scratch.offs
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
          val placeholders = gap / GapUnit
          while (k < placeholders) {
            buf(len) = ModuleParser.SpaceChar; offs(len) = -1; len += 1; k += 1
          }
        }
        i = j
      } else {
        buf(len) = c; offs(len) = offsetBase + (i - lo); len += 1; i += 1
      }
    }
    if (len < PadBelow) {
      val missing = Stride - (len % Stride)
      var k = 0
      while (k < missing) {
        buf(len) = ModuleParser.SpaceChar; offs(len) = -1; len += 1; k += 1
      }
    }
    len
  }

  /** Modules in a filled row of length `len`: ceil(len / Stride). */
  @inline def moduleCount(len: Int): Int = (len + Stride - 1) / Stride

  /** The m-th module's 10-char slice of a filled scratch row. */
  def moduleStr(scratch: Scratch, m: Int, len: Int): String = {
    val init = m * Stride
    val stop = math.min(init + ModuleWidth, len)
    new String(scratch.buf, init, stop - init)
  }

  /** The m-th module's source span [start, end) packed as a long
    * (Blocker.packLine layout); packLine(-1, -1) when no source chars. */
  def moduleSpanPacked(scratch: Scratch, m: Int, len: Int): Long = {
    val init = m * Stride
    val stop = math.min(init + ModuleWidth, len)
    var sLo = Int.MaxValue
    var sHi = -1
    var p = init
    val offs = scratch.offs
    while (p < stop) {
      val o = offs(p)
      if (o >= 0) { if (o < sLo) sLo = o; if (o + 1 > sHi) sHi = o + 1 }
      p += 1
    }
    if (sHi < 0) Blocker.packLine(-1, -1) else Blocker.packLine(sLo, sHi)
  }

  /** Fused tokenize+slice: the modules of text[lo, hi), each with its
    * 10-char slice and source span, built from the scratch fill.
    * Object-building convenience over fillRow — the extraction hot loop
    * uses fillRow + the accessors directly instead. */
  def tokenizeRow(text: String, lo: Int, hi: Int, offsetBase: Int,
      scratch: Scratch): Vector[ModuleSlice] = {
    val len = fillRow(text, lo, hi, offsetBase, scratch)
    if (len == 0) return Vector.empty
    val numModules = moduleCount(len)
    val out = Vector.newBuilder[ModuleSlice]
    var m = 0
    while (m < numModules) {
      val packed = moduleSpanPacked(scratch, m, len)
      out += ModuleSlice(m, moduleStr(scratch, m, len),
        Span(Blocker.lineStart(packed), Blocker.lineEnd(packed)))
      m += 1
    }
    out.result()
  }

  /** Token-group view of a row (numChars + optional source span per group) —
    * the typed analog of the reference's (num_chars, rect) pairs
    * (diary_structure_detector.py:154-166); used by tests and metrics. */
  def tokenGroups(line: String, lineStart: Int): Vector[TokenGroup] = {
    val out = Vector.newBuilder[TokenGroup]
    var i = 0
    val n = line.length
    var runStart = -1
    def closeRun(end: Int): Unit =
      if (runStart >= 0) {
        out += TokenGroup(end - runStart, Some(Span(lineStart + runStart, lineStart + end)))
        runStart = -1
      }
    while (i < n) {
      val c = line.charAt(i)
      if (c == ' ') {
        closeRun(i)
        var j = i
        while (j < n && line.charAt(j) == ' ') j += 1
        val gap = j - i
        if (gap > GapUnit) out += TokenGroup(gap / GapUnit, None)
        i = j
      } else {
        if (runStart < 0) runStart = i
        i += 1
      }
    }
    closeRun(n)
    out.result()
  }
}
