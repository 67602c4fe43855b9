package graft.core

/** Header/entity register parser — the M5–M10 family.
  *
  * Same field semantics as the reference's annuary register parser
  * (/root/reference/src/annuary/annuary_register_parser.py:28-162):
  * whitespace tokenization, letters-id + numeric-id validation, the
  * 9000 person/community threshold, name sanitization, parenthesized/numeric
  * info extraction with order-preserving dedup, and info-substring removal
  * from the name. Errors are typed values, not exceptions (batch engine:
  * the error channel is data).
  */
object EntityParser {

  val CommunityStartId = 9000 // annuary_register_parser.py:6
  val MaxNumId = 9850 // annuary_register_parser.py:7

  final case class ParseFailure(code: String, detail: String)

  // The reference's `^...$` patterns (annuary_register_parser.py:10-14) as
  // allocation-free char-class scans (each fullMatch allocated a Matcher,
  // ~5 per header — measured 2.9 KB/header, AllocProbe); ParserSpec checks
  // each scan against its pattern. Python's re.match anchors at the start
  // only; with `^...$` patterns that is full-string match
  // (annuary_register_parser.py uses ^..$ everywhere); empty strings match
  // the `*` quantifier in all four patterns.
  @inline private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private[core] def allDigits(s: String): Boolean = { // ^[0-9]*$
    var i = 0; while (i < s.length) { if (!isAsciiDigit(s.charAt(i))) return false; i += 1 }
    true
  }
  /** ^[A-Z]*$ over s[lo, hi). */
  private[core] def allUpper(s: String, lo: Int, hi: Int): Boolean = {
    var i = lo
    while (i < hi) {
      val c = s.charAt(i); if (c < 'A' || c > 'Z') return false; i += 1
    }
    true
  }
  // note the asymmetry, preserved from the reference: person names admit
  // '"' but not '-'; community names admit '-' but not '"'
  @inline private def nameCharCommon(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || isAsciiDigit(c) || c == '+' || c == '*' ||
      c == '.' || c == ' ' || c == '(' || c == ')' || c == '/'
  private[core] def personNameOk(s: String): Boolean = { // ^[A-Z0-9+*". \(\)\/]*$
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!nameCharCommon(c) && c != '"') return false
      i += 1
    }
    true
  }
  private[core] def communityNameOk(s: String): Boolean = { // ^[A-Z0-9\-+*. \(\)\/]*$
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!nameCharCommon(c) && c != '-') return false
      i += 1
    }
    true
  }

  /** Nonempty space-separated tokens in one pass (annuary_register_parser
    * .py:153-154) — `split(' ').filter(_.nonEmpty)` builds two arrays per
    * call and this runs per header name. */
  def tokenize(s: String): Array[String] = {
    val n = s.length
    var count = 0
    var i = 0
    while (i < n) {
      if (s.charAt(i) != ' ' && (i == 0 || s.charAt(i - 1) == ' ')) count += 1
      i += 1
    }
    val out = new Array[String](count)
    var k = 0
    i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') i += 1
      else {
        var j = i
        while (j < n && s.charAt(j) != ' ') j += 1
        out(k) = s.substring(i, j)
        k += 1
        i = j
      }
    }
    out
  }

  /** `\d` under Java's default (ASCII) semantics. */
  def containsNumbers(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (isAsciiDigit(s.charAt(i))) return true; i += 1 }
    false
  }

  /** Full register parse: `raw` is one header string (newlines already folded
    * to spaces by the caller, mirroring :31). */
  def parse(raw: String): Either[ParseFailure, EntityRegister] = {
    val registerStr = raw.replace('\n', ' ')
    // First two tokens + third-token existence by SPAN scan: the full
    // tokenize array (one String per token, ~10 per header) was the largest
    // header-parse allocation and only tokens(0)/tokens(1) are consumed.
    // Token spans are identical to tokenize()'s by construction.
    val n = registerStr.length
    var i0 = 0
    while (i0 < n && registerStr.charAt(i0) == ' ') i0 += 1
    var i1 = i0
    while (i1 < n && registerStr.charAt(i1) != ' ') i1 += 1
    var j0 = i1
    while (j0 < n && registerStr.charAt(j0) == ' ') j0 += 1
    var j1 = j0
    while (j1 < n && registerStr.charAt(j1) != ' ') j1 += 1
    var k0 = j1
    while (k0 < n && registerStr.charAt(k0) == ' ') k0 += 1
    if (i1 == i0 || j1 == j0 || k0 >= n) // fewer than 3 tokens
      return Left(ParseFailure(ErrorCode.InsufficientTokens, registerStr))

    // letters id: >= 2 chars, all A-Z (substring materialized only when
    // it survives into the result or an error detail — i.e. always small)
    if (i1 - i0 < 2 || !allUpper(registerStr, i0, i1))
      return Left(ParseFailure(ErrorCode.BadLetterId, registerStr.substring(i0, i1)))
    val lettersId = registerStr.substring(i0, i1)

    // numeric id parsed straight off the span. Post-regex overflow = an
    // all-digit id too large for Int: the reference's unbounded Python int
    // passes the regex and fails the MaxNumId range check
    // (annuary_register_parser.py:89-97), so any all-digit value beyond
    // MaxNumId — Int-overflowing or not — is ID_OUT_OF_RANGE, exactly the
    // toInt-catch semantics this replaces; parseNumIdOnly already agrees.
    var p = j0
    while (p < j1) {
      if (!isAsciiDigit(registerStr.charAt(p)))
        return Left(ParseFailure(ErrorCode.BadNumericId, registerStr.substring(j0, j1)))
      p += 1
    }
    var acc = 0L
    p = j0
    while (p < j1 && acc <= MaxNumId) {
      acc = acc * 10L + (registerStr.charAt(p) - '0')
      p += 1
    }
    if (acc > MaxNumId)
      return Left(ParseFailure(ErrorCode.IdOutOfRange, registerStr.substring(j0, j1)))
    val numId = acc.toInt

    val kind = if (numId < CommunityStartId) "person" else "community" // :99-103

    // Name: substring after the two id tokens (:105-116).
    val indexId = (i1 - i0) + (j1 - j0) + 1
    var name = registerStr.substring(math.min(indexId, registerStr.length)).trim
    // ','→'.' plus stray high-byte strip (\\x80 \\x98 \\x99 — smart-quote
    // debris in the reference's OCR output, annuary_register_parser.py:112).
    name = name
      .replace(',', '.')
      .replace("\u0080", "")
      .replace("\u0098", "")
      .replace("\u0099", "")
    val isPerson = kind == "person"
    if (!isPerson && name.nonEmpty) name = '*' + name.substring(1) // :159-162

    if (isPerson && !personNameOk(name))
      return Left(ParseFailure(ErrorCode.InvalidName, name))
    if (!isPerson && !communityNameOk(name))
      return Left(ParseFailure(ErrorCode.InvalidName, name))

    // Info extraction (:129-151): parenthesis group, community first token,
    // any token containing digits; order-preserving dedup.
    val info = scala.collection.mutable.ArrayBuffer.empty[String]
    // first \(([A-Za-z0-9]+)\) match by manual scan — a regex Matcher +
    // Match per header otherwise; equivalence: the alnum run is maximal so
    // the regex has no backtracking alternatives, and the scan advances one
    // position on failure exactly like findFirstMatchIn (ParserSpec
    // differential pins this against the reference regex)
    locally {
      var s = 0
      var found: String = null
      val nn = name.length
      while (found == null && s < nn) {
        if (name.charAt(s) == '(') {
          var e = s + 1
          while (e < nn && {
            val c = name.charAt(e)
            (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
          }) e += 1
          if (e > s + 1 && e < nn && name.charAt(e) == ')')
            found = name.substring(s, e + 1)
        }
        s += 1
      }
      if (found != null) info += found
    }
    val nameTokens = tokenize(name)
    if (!isPerson && nameTokens.nonEmpty) info += nameTokens(0) // unconditional, :143-144
    for (t <- nameTokens)
      if (containsNumbers(t) && !info.contains(t)) info += t

    // Strip info substrings from the name (:44-45).
    var cleanName = name
    for (i <- info) cleanName = cleanName.replace(i, "").trim

    Right(EntityRegister(numId, lettersId, cleanName, kind, info.mkString(" ").trim))
  }

  /** Fallback numeric-id-only parse (annuary_register_parser.py:55-65). */
  def parseNumIdOnly(raw: String): Either[ParseFailure, Int] = {
    val registerStr = raw.replace('\n', ' ')
    val tokens = tokenize(registerStr)
    if (tokens.length < 3)
      return Left(ParseFailure(ErrorCode.InsufficientTokens, registerStr))
    val numbersIdStr = tokens(1)
    if (!allDigits(numbersIdStr) || numbersIdStr.isEmpty)
      return Left(ParseFailure(ErrorCode.BadNumericId, numbersIdStr))
    try {
      val n = numbersIdStr.toInt
      if (n > MaxNumId) Left(ParseFailure(ErrorCode.IdOutOfRange, numbersIdStr))
      else Right(n)
    } catch {
      case _: NumberFormatException =>
        Left(ParseFailure(ErrorCode.IdOutOfRange, numbersIdStr))
    }
  }
}
