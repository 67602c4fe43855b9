package graft.core

/** Block-tree splitter + boilerplate classifier — the G1–G6 / P4–P9 family,
  * re-expressed as text-density + link-density heuristics over a block tree.
  *
  * The reference finds page regions by morphology + contours and keeps or
  * drops them with geometry predicates
  * (/root/reference/src/annuary/annuary_structure_detector.py:15-126,
  * /root/reference/src/diary/diary_structure_detector.py:20-198). The text
  * analog: a turn's raw text/markup splits into blocks on blank lines
  * (projection-profile analog — a blank line is a zero-ink horizontal band),
  * separator lines split header from content (is_separation_diary_row analog,
  * diary_structure_detector.py:148-152), and each block is scored with
  * text-density / link-density / size features standing in for the area and
  * aspect-ratio predicates. The density heuristic family follows the
  * published boilerplate-removal literature (Kohlschütter et al.,
  * "Boilerplate detection using shallow text features", WSDM 2010).
  *
  * Allocation discipline: blocks carry line OFFSETS into the original turn
  * text; no per-line substrings are created during split/classify, and
  * dropped (boilerplate/separator) blocks never allocate strings at all —
  * at 100 TB the classifier scans far more bytes than it keeps.
  */
object Blocker {

  /** Keep thresholds — the P4–P8 analogs. A block survives iff it has at
    * least MinChars payload characters (area analog,
    * annuary_structure_detector.py:120-126), text density at least
    * TextDensityMin and link density at most LinkDensityMax (the keep/drop
    * feature scoring of is_valid_* predicates). */
  val MinChars = 8
  val TextDensityMin = 0.50
  val LinkDensityMax = 0.40

  /** Structured-payload alphabet — the analog of the reference's OCR
    * character whitelist `ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789=`
    * (/root/reference/diary_ocr.py:240-243) plus the missing-value char '_'.
    * A surviving block whose non-space chars are ≥ PayloadRatioMin from this
    * alphabet is structured Content (module rows); otherwise it is Prose
    * (main content text, kept but not module-tokenized). */
  val PayloadRatioMin = 0.90
  def isPayloadChar(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '=' || c == '_'

  /** Header marker: the digitized register line of the block. */
  val HeaderMarker = "# "

  /** Line bounds pack into one long each — (start << 32) | end — so a
    * block's lines are ONE primitive array, not one Span object per line
    * (the extraction hot path allocates per turn; at 10^12 turns the
    * allocation rate is the scaling bottleneck, BENCH/BASELINE.md §3). */
  @inline def packLine(start: Int, end: Int): Long =
    (start.toLong << 32) | (end & 0xffffffffL)
  @inline def lineStart(packed: Long): Int = (packed >>> 32).toInt
  @inline def lineEnd(packed: Long): Int = packed.toInt

  /** One block: `span` over the turn text, lines as packed [start, end)
    * offsets (see packLine). */
  final case class RawBlock(text: String, span: Span, lineBounds: Array[Long]) {
    def lineStrings: Vector[(String, Int)] =
      lineBounds.iterator
        .map(l => (text.substring(lineStart(l), lineEnd(l)), lineStart(l))).toVector
  }

  final case class ClassifiedBlock(block: Block, raw: RawBlock) {
    def lines: Vector[(String, Int)] = raw.lineStrings
  }

  /** Is text[lo, hi) blank under String.trim semantics (all chars ≤ ' ')? */
  private def isBlankLine(text: String, lo: Int, hi: Int): Boolean = {
    var i = lo
    while (i < hi) { if (text.charAt(i) > ' ') return false; i += 1 }
    true
  }

  /** Split turn text into blocks on blank lines, tracking char offsets.
    * No substrings allocated; per block the only allocations are the
    * RawBlock and its exact-size packed-long line array. */
  private[core] def splitBlocks(text: String): Vector[RawBlock] =
    splitBlocks(text, new Tokenizer.Scratch)

  /** Scratch form for hot partition loops: the growable line buffer is
    * reused across turns. */
  def splitBlocks(text: String, scratch: Tokenizer.Scratch): Vector[RawBlock] = {
    val out = Vector.newBuilder[RawBlock]
    var nLines = 0
    var curStart = -1
    var curEnd = -1
    def flush(): Unit = {
      if (nLines > 0) {
        out += RawBlock(text, Span(curStart, curEnd),
          java.util.Arrays.copyOf(scratch.lineBuf, nLines))
        nLines = 0
      }
      curStart = -1; curEnd = -1
    }
    val n = text.length
    var lo = 0
    while (lo <= n) {
      val nl = text.indexOf('\n', lo)
      val end = if (nl < 0) n else nl
      if (isBlankLine(text, lo, end)) flush()
      else {
        if (curStart < 0) curStart = lo
        curEnd = end
        scratch.ensureLines(nLines + 1)
        scratch.lineBuf(nLines) = packLine(lo, end)
        nLines += 1
      }
      if (nl < 0) { flush(); lo = n + 1 }
      else lo = nl + 1
    }
    out.result()
  }

  /** Separator line test over a range: trimmed, ≥3 chars, all '=' or '-'
    * (same semantics as the regex `^[=\-]{3,}$` on the trimmed line). */
  private[core] def isSeparatorRange(text: String, lo0: Int, hi0: Int): Boolean = {
    var lo = lo0
    var hi = hi0
    while (lo < hi && text.charAt(lo) <= ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) <= ' ') hi -= 1
    if (hi - lo < 3) return false
    var i = lo
    while (i < hi) {
      val c = text.charAt(i)
      if (c != '=' && c != '-') return false
      i += 1
    }
    true
  }

  /** Link-region chars in text[lo, hi) — hand scan with the exact semantics
    * of the regex `<[^>]*>|https?://[^\s<]+` applied per line
    * (leftmost-match, tags need a closing '>' within the line, URLs run to
    * whitespace or '<'). */
  private def isJavaRegexSpace(ch: Char): Boolean = // exact \s class
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r'

  private[core] def linkCharsOf(text: String, lo: Int, hi: Int): Int = {
    var i = lo
    var total = 0
    while (i < hi) {
      val c = text.charAt(i)
      if (c == '<') {
        var j = i + 1
        while (j < hi && text.charAt(j) != '>') j += 1
        if (j < hi) { total += j - i + 1; i = j + 1 }
        else i += 1
      } else if (c == 'h' && (text.startsWith("http://", i) || text.startsWith("https://", i))) {
        var j = i
        while (j < hi && !isJavaRegexSpace(text.charAt(j)) && text.charAt(j) != '<') j += 1
        total += j - i
        i = j
      } else i += 1
    }
    total
  }

  private[core] def linkCharsOf(line: String): Int = linkCharsOf(line, 0, line.length)

  private def startsWithAt(text: String, prefix: String, lo: Int, hi: Int): Boolean =
    hi - lo >= prefix.length && text.startsWith(prefix, lo)

  /** Integer kind codes for the flat (allocation-free) block-tree API. */
  val KindHeader = 0
  val KindContent = 1
  val KindProse = 2
  val KindBoilerplate = 3
  val KindSeparator = 4
  def kindName(code: Int): String = code match {
    case KindHeader => BlockKind.Header
    case KindContent => BlockKind.Content
    case KindProse => BlockKind.Prose
    case KindBoilerplate => BlockKind.Boilerplate
    case KindSeparator => BlockKind.Separator
    case other => throw new IllegalArgumentException(s"bad kind code $other")
  }

  /** Reusable feature accumulator for the fused classify scan: one lives in
    * each Scratch so the hot path carries no per-block counter objects. */
  final class Features {
    var nChars = 0
    var alnum = 0
    var linkChars = 0
    var nonSpace = 0
    var payload = 0
    var allSeparator = true
    var hasHeader = false
    def reset(): Unit = {
      nChars = 0; alnum = 0; linkChars = 0; nonSpace = 0; payload = 0
      allSeparator = true; hasHeader = false
    }
    /** The P4–P8 keep/drop decision over the accumulated features. */
    def kindCode: Int =
      if (allSeparator) KindSeparator
      else if (hasHeader) KindHeader
      else {
        val textDensity = if (nChars == 0) 0.0 else alnum.toDouble / nChars
        val linkDensity = if (nChars == 0) 0.0 else linkChars.toDouble / nChars
        if (nChars < MinChars || textDensity < TextDensityMin || linkDensity > LinkDensityMax)
          KindBoilerplate
        else if (nonSpace > 0 && payload.toDouble / nonSpace >= PayloadRatioMin)
          KindContent
        else KindProse
      }
  }

  /** The fused feature scan of one block — ONE pass per line (char counts +
    * link-region detection interleaved, exactly linkCharsOf's leftmost-match
    * semantics; the separator probe early-exits on the first non-=/− char).
    * Shared by the object and flat classify paths; count/link equivalence vs
    * the standalone scans is property-pinned in BlockerSpec. */
  private def scanInto(f: Features, text: String, lines: Array[Long],
      lineLo: Int, lineHi: Int): Unit = {
    f.reset()
    var li = lineLo
    while (li < lineHi) {
      val lb = lines(li)
      val ls = lineStart(lb)
      val le = lineEnd(lb)
      f.nChars += le - ls
      var i = ls
      while (i < le) {
        val c = text.charAt(i)
        if (Character.isLetterOrDigit(c)) f.alnum += 1
        if (c != ' ') { f.nonSpace += 1; if (isPayloadChar(c)) f.payload += 1 }
        // link-region detection fused in: same leftmost-match rules as
        // linkCharsOf, but chars inside a link still count above, so the
        // inner consume loops repeat the counting
        if (c == '<') {
          var j = i + 1
          while (j < le && text.charAt(j) != '>') j += 1
          if (j < le) { // a closed tag: consume it, counting its chars
            f.linkChars += j - i + 1
            i += 1 // '<' already counted above
            while (i <= j) {
              val lc = text.charAt(i)
              if (Character.isLetterOrDigit(lc)) f.alnum += 1
              if (lc != ' ') { f.nonSpace += 1; if (isPayloadChar(lc)) f.payload += 1 }
              i += 1
            }
          } else i += 1
        } else if (c == 'h' &&
            (text.startsWith("http://", i) || text.startsWith("https://", i))) {
          var j = i + 1 // 'h' already counted above
          while (j < le && !isJavaRegexSpace(text.charAt(j)) && text.charAt(j) != '<') {
            val lc = text.charAt(j)
            if (Character.isLetterOrDigit(lc)) f.alnum += 1
            if (lc != ' ') { f.nonSpace += 1; if (isPayloadChar(lc)) f.payload += 1 }
            j += 1
          }
          f.linkChars += j - i
          i = j
        } else i += 1
      }
      if (f.allSeparator && !isSeparatorRange(text, ls, le)) f.allSeparator = false
      if (!f.hasHeader && startsWithAt(text, HeaderMarker, ls, le)) f.hasHeader = true
      li += 1
    }
  }

  /** Feature extraction + classification of one raw block (object form —
    * tests and non-hot callers; the hot path is blockTreeInto). */
  def classify(raw: RawBlock, ordinal: Int): ClassifiedBlock = {
    val f = new Features
    scanInto(f, raw.text, raw.lineBounds, 0, raw.lineBounds.length)
    ClassifiedBlock(
      Block(ordinal, kindName(f.kindCode), raw.span, raw.lineBounds.length,
        f.nChars, f.alnum, f.linkChars), raw)
  }

  /** Full turn → classified block tree. */
  def blockTree(text: String): Vector[ClassifiedBlock] =
    blockTree(text, new Tokenizer.Scratch)

  /** FLAT block tree — the hot-path form: splits + classifies the turn into
    * the scratch's parallel block arrays (kind code, span, [lineLo, lineHi)
    * range into `scratch.lineAll`) and returns the block count. ZERO
    * allocation per call once the scratch is warm: the object form costs
    * ~5 allocations per block (RawBlock, Span, copied line array, Block,
    * ClassifiedBlock) — at 10^12 turns that allocation rate is the scaling
    * bottleneck (BENCH/BASELINE.md §3). Split and classify are fused: each
    * block is classified at flush time. Block ordinal == array index. */
  def blockTreeInto(text: String, scratch: Tokenizer.Scratch): Int = {
    var nBlocks = 0
    var nLinesAll = 0
    var lineLo = 0
    var curStart = -1
    var curEnd = -1
    val n = text.length
    var lo = 0
    def flush(): Unit = {
      if (nLinesAll > lineLo) {
        scanInto(scratch.feat, text, scratch.lineAll, lineLo, nLinesAll)
        scratch.ensureBlocks(nBlocks + 1)
        scratch.bKind(nBlocks) = scratch.feat.kindCode
        scratch.bStart(nBlocks) = curStart
        scratch.bEnd(nBlocks) = curEnd
        scratch.bLineLo(nBlocks) = lineLo
        scratch.bLineHi(nBlocks) = nLinesAll
        nBlocks += 1
        lineLo = nLinesAll
      }
      curStart = -1; curEnd = -1
    }
    while (lo <= n) {
      val nl = text.indexOf('\n', lo)
      val end = if (nl < 0) n else nl
      if (isBlankLine(text, lo, end)) flush()
      else {
        if (curStart < 0) curStart = lo
        curEnd = end
        scratch.ensureLineAll(nLinesAll + 1)
        scratch.lineAll(nLinesAll) = packLine(lo, end)
        nLinesAll += 1
      }
      if (nl < 0) { flush(); lo = n + 1 }
      else lo = nl + 1
    }
    nBlocks
  }

  /** Scratch form (object API): built ON TOP of the flat form so the split
    * loop exists once — materializes the same ClassifiedBlock tree the
    * pre-flat implementation produced (differential-checked in BlockerSpec
    * and by the golden extraction fixture). */
  def blockTree(text: String, scratch: Tokenizer.Scratch): Vector[ClassifiedBlock] = {
    val nBlocks = blockTreeInto(text, scratch)
    val out = new scala.collection.immutable.VectorBuilder[ClassifiedBlock]
    var bi = 0
    while (bi < nBlocks) {
      out += classify(
        RawBlock(text, Span(scratch.bStart(bi), scratch.bEnd(bi)),
          java.util.Arrays.copyOfRange(scratch.lineAll,
            scratch.bLineLo(bi), scratch.bLineHi(bi))), bi)
      bi += 1
    }
    out.result()
  }

  /** The register string of a header block: the marker line minus the marker,
    * with any continuation lines appended (newlines fold to spaces downstream,
    * annuary_register_parser.py:31). */
  def headerText(cb: ClassifiedBlock): String =
    headerTextFlat(cb.raw.text, cb.raw.lineBounds, 0, cb.raw.lineBounds.length)

  /** Flat form over a line range: one output string, no per-line substrings
    * or intermediate vectors. Semantics identical to the object form (which
    * now delegates here): marker line minus the marker, then every
    * non-separator continuation line, '\n'-joined. */
  def headerTextFlat(text: String, lines: Array[Long], lineLo: Int,
      lineHi: Int): String = {
    var idx = lineLo
    while (idx < lineHi && !startsWithAt(text, HeaderMarker,
        lineStart(lines(idx)), lineEnd(lines(idx)))) idx += 1
    // loud failure on a non-header range: without this, lines(lineHi) reads
    // a packed bound belonging to the NEXT block and the garbled "header"
    // parses into corrupt entities instead of crashing
    require(idx < lineHi,
      s"headerTextFlat: no '$HeaderMarker' marker line in [$lineLo, $lineHi)")
    val sb = new java.lang.StringBuilder
    sb.append(text, lineStart(lines(idx)) + HeaderMarker.length,
      lineEnd(lines(idx)))
    var i = idx + 1
    while (i < lineHi) {
      val lb = lines(i)
      if (!isSeparatorRange(text, lineStart(lb), lineEnd(lb)))
        sb.append('\n').append(text, lineStart(lb), lineEnd(lb))
      i += 1
    }
    sb.toString
  }
}
