package graft.fixtures

import graft.core._

/** Deterministic synthetic transcript generator.
  *
  * Produces the authoritative input shape (BASELINE.json input_hint:
  * conv_id, turn_idx, role, text, tool, ts) with payload whose ground truth is
  * known by construction: module rows are generated *backwards from the
  * grammar* (valid zone values, optionally corrupted through the inverse of
  * the OCR-confusion maps so the fix maps repair them), plus controlled error
  * rows per error code, boilerplate/nav markup blocks, prose turns, and a
  * Zipf-ish skewed tail with mega-conversations to exercise salting.
  *
  * Fully seeded (SplitMix64 keyed on (seed, convIdx, turnIdx)) — no wall
  * clock, no global RNG — so any parallelism produces byte-identical turns.
  */
object TranscriptGen {

  val DefaultSeed = 42L
  /** Fixed epoch: 2026-01-01T00:00:00Z — deterministic ts base. */
  val EpochMillis = 1767225600000L

  // ---- splittable RNG ----------------------------------------------------
  final class Rng(private var state: Long) {
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val r = nextLong() >>> 1
      (r % bound).toInt
    }
    def nextBool(pPercent: Int): Boolean = nextInt(100) < pPercent
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  }
  def rngFor(seed: Long, convIdx: Long, turnIdx: Int, salt: Long): Rng =
    new Rng(seed * 0x100000001b3L ^ convIdx * 0x9e3779b97f4a7c15L ^
      turnIdx.toLong * 0xc2b2ae3d27d4eb4fL ^ salt)

  // ---- entity universe ---------------------------------------------------
  /** Persons 1..1999 and communities 9000..9199 (thresholds from
    * annuary_register_parser.py:6-7). */
  val PersonIds: Range = 1 until 2000
  val CommunityIds: Range = 9000 until 9200
  def allEntityIds: Set[Int] = PersonIds.toSet ++ CommunityIds.toSet

  private val Surnames = Vector("ACOSTA", "AGUILAR", "BRAVO", "CAMPOS", "DURAN",
    "ESTRADA", "FLORES", "GUERRA", "HUERTA", "IBARRA", "JUAREZ", "LUNA",
    "MENDOZA", "NAVARRO", "ORTEGA", "PEREZ", "QUINTANA", "RIVERA", "SOLIS",
    "TORRES", "VALDEZ", "ZAPATA")
  private val GivenNames = Vector("MIGUEL", "LUIS", "ANA", "JOSE", "CARMEN",
    "PEDRO", "ROSA", "JUAN", "ELENA", "MARCO")

  def entityTextId(numId: Int): String = {
    val a = ('A' + (numId % 23)).toChar
    val b = ('A' + ((numId / 23) % 23)).toChar
    s"$a$b"
  }
  def entityName(numId: Int): String =
    if (numId < EntityParser.CommunityStartId)
      s"${Surnames(numId % Surnames.length)}. ${GivenNames(numId % GivenNames.length)}"
    else s"*COM ${Surnames(numId % Surnames.length)}"

  /** Ground-truth header line for entity `numId` ("# " marker + register). */
  def headerLine(numId: Int, rng: Rng): String = {
    val info = if (rng.nextBool(30)) s" (Q${1 + rng.nextInt(98)})" else ""
    s"${Blocker.HeaderMarker}${entityTextId(numId)} $numId ${entityName(numId)}$info"
  }

  // ---- module payload ----------------------------------------------------
  /** All grammar types except the dead type 'O' (unreachable: the 'O'→'D'
    * prefix rewrite fires before matching — Grammar.rewritePrefix). */
  private val ModuleTypes: Vector[String] =
    Grammar.moduleZones.keys.filterNot(_ == "O").toVector.sorted
  private val FreeChars = "XY12KQ"

  // Inverse confusion maps (corruptions the fix maps repair).
  private val digitToConfus = Map('0' -> 'O', '2' -> 'Z', '5' -> 'S', '6' -> 'G', '7' -> 'T')
  private val alphaToConfus = Map('Z' -> '2', 'G' -> '6', 'B' -> '8', 'I' -> '1')
  private val yearToConfus = Map('0' -> 'O', '5' -> 'S', '1' -> 'I', '6' -> 'G')

  /** Zero-pad to 4 digits — the manual form of `f"$n%04d"` for 0 ≤ n ≤ 9999
    * (String.format parses its pattern per call; this runs once per FK zone
    * in the generator hot loop — bit-identity pinned by TranscriptGenSpec). */
  private def pad4(n: Int): String =
    if (n >= 1000) Integer.toString(n)
    else if (n >= 100) "0" + n
    else if (n >= 10) "00" + n
    else "000" + n

  /** A valid value for zone (catalogId, width), already exactly `width` chars.
    * Char-array loops replace Vector.fill(..).mkString (same RNG call order,
    * same bytes — generator fingerprint spec-pinned). */
  def zoneValue(catalogId: Int, width: Int, rng: Rng): String = catalogId match {
    case 0 =>
      val a = new Array[Char](width)
      var i = 0
      while (i < width) { a(i) = FreeChars.charAt(rng.nextInt(FreeChars.length)); i += 1 }
      new String(a)
    case 1 =>
      if (rng.nextBool(10)) "_" * width
      else {
        val a = new Array[Char](width)
        var i = 0
        while (i < width) { a(i) = ('0' + rng.nextInt(10)).toChar; i += 1 }
        new String(a)
      }
    case 32 | 42 =>
      val ids = if (rng.nextBool(85)) PersonIds else CommunityIds
      pad4(ids.start + rng.nextInt(ids.length))
    case c =>
      val id = if (c == 27) 9 else c
      rng.pick(Catalogs.keys(id))
  }

  /** Per-catalog confusion classification, memoized ONCE from the exact
    * expressions corruptZone previously evaluated per call (pure,
    * RNG-free): 1 = digit-confusion catalog, 2 = alpha-confusion. */
  private val ConfusKind: Array[Byte] = {
    val a = new Array[Byte](64)
    var c = 0
    while (c < 64) {
      if (Grammar.fixKnownIssues(c, "O") == "0") a(c) = 1
      else if (Grammar.fixKnownIssues(c, "2") == "Z") a(c) = 2
      c += 1
    }
    a
  }

  /** One unconditional 50%-per-char confusion pass (the map form of the
    * original `v.map(c => if (rng.nextBool(50)) m.getOrElse(c, c) else c)` —
    * identical RNG call sequence: one nextBool per char). */
  private def confuseChars(v: String, rng: Rng, m: Map[Char, Char]): String = {
    val a = v.toCharArray
    var i = 0
    while (i < a.length) {
      if (rng.nextBool(50)) a(i) = m.getOrElse(a(i), a(i))
      i += 1
    }
    new String(a)
  }

  /** Corrupt a zone value through the inverse confusion map (repairable). */
  def corruptZone(catalogId: Int, v: String, rng: Rng): String = catalogId match {
    case 0 => v
    case 1 => confuseChars(v, rng, yearToConfus)
    case 32 | 42 =>
      // nextBool fires ONLY on '0' chars — the original short-circuit order
      val a = v.toCharArray
      var i = 0
      while (i < a.length) {
        if (a(i) == '0' && rng.nextBool(40)) a(i) = 'O'
        i += 1
      }
      new String(a)
    case c0 =>
      val c = if (c0 == 27) 9 else c0
      val kind: Byte =
        if (c >= 0 && c < 64) ConfusKind(c)
        else if (Grammar.fixKnownIssues(c, "O") == "0") 1
        else if (Grammar.fixKnownIssues(c, "2") == "Z") 2
        else 0
      if (kind == 1) confuseChars(v, rng, digitToConfus) // digit-confusion catalog
      else if (kind == 2) confuseChars(v, rng, alphaToConfus) // alpha-confusion
      else v // catalogs without a fix map (incl. 3's bigrams): leave intact
  }

  // (cat, width) zone layouts aligned with ModuleTypes — one Map lookup per
  // TYPE at init instead of per generated module
  private val ModuleZoneCats: Array[Array[Int]] =
    ModuleTypes.map(t => Grammar.moduleZones(t).map(_._1).toArray).toArray
  private val ModuleZoneWidths: Array[Array[Int]] =
    ModuleTypes.map(t => Grammar.moduleZones(t).map(_._2).toArray).toArray

  /** One valid 10-char module string (optionally confusion-corrupted). */
  def moduleString(rng: Rng, corrupt: Boolean): String = {
    val ti = rng.nextInt(ModuleTypes.length)
    val sb = new java.lang.StringBuilder(12)
    sb.append(ModuleTypes(ti))
    val cats = ModuleZoneCats(ti)
    val widths = ModuleZoneWidths(ti)
    var z = 0
    while (z < cats.length) {
      val v = zoneValue(cats(z), widths(z), rng)
      sb.append(if (corrupt) corruptZone(cats(z), v, rng) else v)
      z += 1
    }
    var s = sb.toString
    // Prefix corruption repaired by rewritePrefix (diary_module_parser.py:185-201).
    if (corrupt && rng.nextBool(30)) {
      if (s.startsWith("BI")) s = "B1" + s.substring(2)
      else if (s.startsWith("BB")) s = "88" + s.substring(2)
      else if (s.startsWith("B")) s = "8" + s.substring(1)
      else if (s.startsWith("D")) s = (if (rng.nextBool(50)) "O" else "0") + s.substring(1)
    }
    s
  }

  /** A content row line: 1..3 modules joined by a 3-space gap (the gap-unit
    * tokenizer turns it into exactly one placeholder '_', which the stride-11
    * slicer drops as the inter-module separator). */
  def contentLine(rng: Rng): String = {
    val n = 1 + rng.nextInt(ModuleParser.MaxModulesPerRow)
    val sb = new java.lang.StringBuilder(13 * n)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append("   ")
      sb.append(moduleString(rng, corrupt = rng.nextBool(25)))
      i += 1
    }
    sb.toString
  }

  /** Deliberate error rows, rotating through the dead-letter codes. */
  def errorLine(rng: Rng, which: Int): String = (which % 5) match {
    case 0 => "??????????" // MODULE_TYPE_NOT_RECOGNIZED
    case 1 => // INVALID_VALUE_ON_ZONE: valid type A, miss key in catalog 2
      "A" + Catalogs.missKey(30) + "40" + Catalogs.missKey(2) +
        Catalogs.keys(3)(0) + "41" + Catalogs.keys(2)(1)
    case 2 => // BAD_YEAR: type A with letters in the year zone
      "A" + Catalogs.keys(30)(1) + "4X" + Catalogs.keys(2)(1) +
        Catalogs.keys(3)(1) + "42" + Catalogs.keys(2)(2)
    case 3 => // NO_ENTITY_REGISTER: type L, FK id not in universe
      "L" + Catalogs.keys(31)(1) + "43" + Catalogs.keys(2)(1) + "X" + "8777"
    case _ => // MODULES_NUMBER_EXCEEDED: 4 modules on one row
      Vector.fill(4)(moduleString(rng, corrupt = false)).mkString("   ")
  }

  // ---- boilerplate / prose ----------------------------------------------
  // anchors precomputed once (they are constants; the old form re-built the
  // interpolated strings + toLowerCase per generated nav block)
  private val NavAnchors = Vector("Home", "Index", "Archive", "About", "Contact")
    .map(i => s"""<a href="https://example.org/${i.toLowerCase}">$i</a>""")
  def navBlock(rng: Rng): String =
    NavAnchors.take(3 + rng.nextInt(3)).mkString("<nav>", " | ", "</nav>")
  def footerBlock(rng: Rng): String =
    s"""<footer><a href="https://example.org/terms">terms</a> c ${1900 + rng.nextInt(100)} example</footer>"""

  private val ProseWords = Vector("the", "archive", "records", "show", "a",
    "register", "of", "events", "for", "this", "person", "during", "those",
    "years", "and", "several", "entries", "mention", "public", "actions")
  def proseBlock(rng: Rng): String = {
    val nSentences = 1 + rng.nextInt(3)
    val sb = new java.lang.StringBuilder(nSentences * 80)
    var s = 0
    while (s < nSentences) {
      if (s > 0) sb.append(' ')
      val n = 6 + rng.nextInt(10)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(ProseWords(rng.nextInt(ProseWords.length)))
        w += 1
      }
      sb.append('.')
      s += 1
    }
    sb.toString
  }

  // ---- conversation assembly ----------------------------------------------
  /** Number of turns for conversation `convIdx`: mostly 3..10, every 97th conv
    * 40, conv 0 a mega-conversation (skew/salting exercise). */
  def turnsPerConv(nConvs: Long, convIdx: Long): Int = {
    if (convIdx == 0L) math.max(200, math.min(20000, (nConvs / 4).toInt))
    else if (convIdx % 97 == 0L) 40
    else {
      val r = rngFor(DefaultSeed, convIdx, -1, 0x5eed)
      3 + r.nextInt(8)
    }
  }

  def convId(convIdx: Long): String = {
    // manual zero-pad of the non-negative index — same bytes as the old
    // `f"conv-$convIdx%08d"` without a String.format pattern parse per turn
    val s = java.lang.Long.toString(convIdx)
    val sb = new java.lang.StringBuilder(5 + math.max(8, s.length))
    sb.append("conv-")
    var i = s.length
    while (i < 8) { sb.append('0'); i += 1 }
    sb.append(s).toString
  }

  /** Entity id owned by a conversation (headers + FK zones reference it). */
  def convEntity(convIdx: Long): Int =
    if (convIdx % 11 == 3) (CommunityIds.start + (convIdx % CommunityIds.length)).toInt
    else (PersonIds.start + (convIdx % PersonIds.length)).toInt

  // the four possible tool-item payloads of `(0 until n).map(i => s""\"r$i\"")
  // .mkString(", ")` for n in 0..3 — constants, table-looked-up per tool turn
  private val ToolItemLists =
    Array("", "\"r0\"", "\"r0\", \"r1\"", "\"r0\", \"r1\", \"r2\"")

  /** Build one turn (pure, independent of any other turn). */
  def turn(seed: Long, nConvs: Long, convIdx: Long, turnIdx: Int): Turn = {
    val rng = rngFor(seed, convIdx, turnIdx, 0)
    val role = (turnIdx % 3) match {
      case 0 => "user"
      case 1 => "assistant"
      case _ => "tool"
    }
    val sb = new java.lang.StringBuilder(96)
    role match {
      case "user" =>
        if (rng.nextBool(60)) { sb.append(navBlock(rng)); sb.append("\n\n") }
        sb.append(proseBlock(rng))
      case "tool" =>
        sb.append("{\"status\": \"ok\", \"items\": [")
        sb.append(ToolItemLists(rng.nextInt(4)))
        sb.append("]}")
      case _ => // assistant: the payload carrier
        if (rng.nextBool(40)) { sb.append(navBlock(rng)); sb.append("\n\n") }
        if (turnIdx == 1) { // first assistant turn: header block
          sb.append("===\n")
          sb.append(headerLine(convEntity(convIdx), rng))
          sb.append("\n===\n\n")
        }
        val nRows = 1 + rng.nextInt(4)
        var r = 0
        while (r < nRows) { // direct appends — no per-turn line Vector
          if (r > 0) sb.append('\n')
          if (rng.nextBool(8)) sb.append(errorLine(rngFor(seed, convIdx, turnIdx, r + 1000), r))
          else sb.append(contentLine(rngFor(seed, convIdx, turnIdx, r + 1)))
          r += 1
        }
        if (rng.nextBool(30)) { sb.append("\n\n"); sb.append(footerBlock(rng)) }
    }
    val tool = if (role == "tool") (if (rng.nextBool(50)) "search" else "exec") else null
    val tsMillis = EpochMillis + convIdx * 60000L + turnIdx * 1000L
    Turn(convId(convIdx), turnIdx, role, sb.toString, tool, new java.sql.Timestamp(tsMillis))
  }

  /** All turns of one conversation. */
  private def conversation(seed: Long, nConvs: Long, convIdx: Long): Seq[Turn] =
    (0 until turnsPerConv(nConvs, convIdx)).map(t => turn(seed, nConvs, convIdx, t))

  /** Driver-side corpus for tests (small nConvs only). */
  def corpus(seed: Long, nConvs: Int): Seq[Turn] =
    (0L until nConvs.toLong).flatMap(c => conversation(seed, nConvs.toLong, c))
}
