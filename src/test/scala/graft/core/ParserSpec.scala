package graft.core

import org.scalatest.funsuite.AnyFunSuite

class EntityParserSpec extends AnyFunSuite {

  test("person register parses: id, name, parenthesized info") {
    val r = EntityParser.parse("AM 123 ACOSTA. MIGUEL M. (AB12)").toOption.get
    assert(r.num_id == 123)
    assert(r.text_id == "AM")
    assert(r.kind == "person")
    assert(r.info == "(AB12)")
    assert(r.name == "ACOSTA. MIGUEL M.")
  }

  test("community register: kind by threshold, first-char star, first token is info") {
    val r = EntityParser.parse("CC 9001 *COM ZAPATA").toOption.get
    assert(r.kind == "community")
    assert(r.info == "*COM")
    assert(r.name == "ZAPATA")
  }

  test("threshold boundary: 8999 person, 9000 community (parser wins at 9000)") {
    assert(EntityParser.parse("AB 8999 NAME X").toOption.get.kind == "person")
    assert(EntityParser.parse("AB 9000 *NAME X").toOption.get.kind == "community")
  }

  test("newlines fold to spaces; commas become periods") {
    val r = EntityParser.parse("AM 12 ACOSTA,\nMIGUEL").toOption.get
    assert(r.name == "ACOSTA. MIGUEL")
  }

  test("digit-bearing tokens move to info, order-preserving dedup") {
    val r = EntityParser.parse("AM 12 NAME (X9) X9 22B").toOption.get
    assert(r.info == "(X9) X9 22B")
    assert(r.name == "NAME")
  }

  test("error: INSUFFICIENT_TOKENS") {
    assert(EntityParser.parse("AM 12").swap.toOption.get.code == ErrorCode.InsufficientTokens)
  }
  test("error: BAD_LETTER_ID (lowercase / short / digits)") {
    assert(EntityParser.parse("a 12 NAME").swap.toOption.get.code == ErrorCode.BadLetterId)
    assert(EntityParser.parse("A 12 NAME").swap.toOption.get.code == ErrorCode.BadLetterId)
    assert(EntityParser.parse("4M 12 NAME").swap.toOption.get.code == ErrorCode.BadLetterId)
  }
  test("error: BAD_NUMERIC_ID") {
    assert(EntityParser.parse("AM 1x2 NAME").swap.toOption.get.code == ErrorCode.BadNumericId)
  }
  test("error: ID_OUT_OF_RANGE above 9850") {
    assert(EntityParser.parse("AM 9851 NAME").swap.toOption.get.code == ErrorCode.IdOutOfRange)
    assert(EntityParser.parse("AM 9850 *NAME").isRight)
  }
  test("error: INVALID_NAME (lowercase chars)") {
    assert(EntityParser.parse("AM 12 bad name").swap.toOption.get.code == ErrorCode.InvalidName)
  }

  test("parseNumIdOnly fallback") {
    assert(EntityParser.parseNumIdOnly("?? 44 garbled !!").toOption.contains(44))
  }
}

class CharClassScanSpec extends AnyFunSuite {
  // the hand scans ARE the reference regexes — pinned by differential
  // property over a charset that straddles every class boundary. The
  // reference's `^...$` patterns (annuary_register_parser.py:10-14):
  private val NumIdPattern = "^[0-9]*$".r
  private val LetIdPattern = "^[A-Z]*$".r
  private val PersonNamePattern = """^[A-Z0-9+*". \(\)\/]*$""".r
  private val CommunityNamePattern = """^[A-Z0-9\-+*. \(\)\/]*$""".r
  private val alphabet =
    "AZaz09+-*\". ()/\\[]{}<>_=,:;!?'é\n\t" + "BKQ158"
  private val rnd = new scala.util.Random(17)
  private def randStr(): String =
    Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString

  test("allDigits/allUpper/name scans == the reference ^...$ patterns") {
    val cases = Seq("", "A", "-", "\"", "0", "A-B", "A\"B") ++ Seq.fill(2000)(randStr())
    cases.foreach { s =>
      assert(EntityParser.allDigits(s) == NumIdPattern.pattern.matcher(s).matches(), s)
      assert(EntityParser.allUpper(s, 0, s.length) == LetIdPattern.pattern.matcher(s).matches(), s)
      // the range form as parse calls it: a token inside a longer line
      assert(EntityParser.allUpper(s"a$s ", 1, s.length + 1) ==
        LetIdPattern.pattern.matcher(s).matches(), s)
      assert(EntityParser.personNameOk(s) ==
        PersonNamePattern.pattern.matcher(s).matches(), s)
      assert(EntityParser.communityNameOk(s) ==
        CommunityNamePattern.pattern.matcher(s).matches(), s)
      assert(EntityParser.containsNumbers(s) == "\\d".r.findFirstIn(s).isDefined, s)
    }
  }
}

class ModuleParserSpec extends AnyFunSuite {

  private val ctx = ModuleParser.defaultContext(Set(123, 1500, 9001))

  private def validModule(tpe: String): String = {
    val sb = new StringBuilder(tpe)
    Grammar.moduleZones(tpe).foreach { case (cat, w) =>
      sb.append(cat match {
        case 0 => "X" * w
        case 1 => "4" * w
        case 32 | 42 => "0123" // entity 123
        case c =>
          val id = if (c == 27) 9 else c
          Catalogs.keys(id).find(_.length == w).get
      })
    }
    sb.toString
  }

  test("every reachable type (46 of 47) round-trips a valid module") {
    // type 'O' is dead: the unconditional 'O'→'D' prefix rewrite means no raw
    // string can ever match it (reference quirk, diary_module_parser.py:188).
    Grammar.moduleZones.keys.filterNot(_ == "O").foreach { tpe =>
      val m = validModule(tpe)
      val parsed = ModuleParser.parseModule(0, m, ctx)
      assert(parsed.isRight, s"$tpe: $m -> $parsed")
      assert(parsed.toOption.get.moduleType == tpe)
      assert(parsed.toOption.get.zones.size == Grammar.moduleZones(tpe).size)
    }
  }

  test("dead type 'O': raw 'O…' strings decode through type 'D' instead") {
    assert(Grammar.moduleType(validModule("O")).contains("D"))
  }

  test("zones are cut from the ORIGINAL string after prefix rewrite") {
    val m = validModule("BA")
    val corrupted = "8" + m.substring(1)
    val parsed = ModuleParser.parseModule(0, corrupted, ctx).toOption.get
    assert(parsed.moduleType == "BA")
    assert(parsed.zones == ModuleParser.parseModule(0, m, ctx).toOption.get.zones)
  }

  test("confusion-corrupted zones repair to catalog hits") {
    // type BA zone 4 is catalog 5 (digit-keyed): corrupt 0->O
    val m = validModule("BA")
    val zones = Grammar.moduleZones("BA")
    // find the catalog-5 zone offset
    var off = 2
    var target = -1
    zones.foreach { case (cat, w) =>
      if (cat == 5 && target < 0) target = off
      if (target < 0) off += w
    }
    val key = Catalogs.keys(5).find(_.contains('0')).get
    val base = m.substring(0, target) + key + m.substring(target + key.length)
    val corrupted = base.substring(0, target) + key.replace('0', 'O') +
      base.substring(target + key.length)
    val a = ModuleParser.parseModule(0, base, ctx).toOption.get
    val b = ModuleParser.parseModule(0, corrupted, ctx).toOption.get
    assert(a.zones == b.zones)
  }

  test("error: MODULE_TYPE_NOT_RECOGNIZED") {
    val e = ModuleParser.parseModule(0, "??????????", ctx).swap.toOption.get
    assert(e.code == ErrorCode.ModuleTypeNotRecognized)
  }

  test("error: BAD_ZONE_STRING on truncated module") {
    // type A, only the first zone present, rest of string missing
    val e = ModuleParser.parseModule(0, "A" + Catalogs.keys(30).head, ctx).swap.toOption.get
    assert(e.code == ErrorCode.BadZoneString)
  }

  test("error: BAD_YEAR") {
    // type A: zone 0 hits catalog 30, zone 1 is the year zone '4X'
    val e = ModuleParser.parseModule(0, "A" + Catalogs.keys(30)(1) + "4X", ctx).swap.toOption.get
    assert(e.code == ErrorCode.BadYear)
  }

  test("year '_' passthrough (missing year)") {
    assert(ModuleParser.parseYear("__").toOption.contains("__"))
    assert(ModuleParser.parseYear("4_").toOption.contains("4_"))
  }

  test("error: INVALID_VALUE_ON_ZONE on catalog miss") {
    val miss = Catalogs.missKey(30)
    val m = "A" + miss + "44" + Catalogs.keys(2)(1) + Catalogs.keys(3)(1) + "44" + Catalogs.keys(2)(1)
    val e = ModuleParser.parseModule(0, m, ctx).swap.toOption.get
    assert(e.code == ErrorCode.InvalidValueOnZone)
  }

  test("catalog 27 aliases to 9 (diary_module_parser.py:227-228)") {
    val key9 = Catalogs.keys(9).head
    assert(ModuleParser.parseZone(27, key9, ctx).isRight)
  }

  test("entity FK: fix _/O to 0, resolve against broadcast id set") {
    assert(ModuleParser.resolveEntity(32, "_123", ctx).toOption.contains("0123"))
    assert(ModuleParser.resolveEntity(32, "15OO", ctx).toOption.contains("1500"))
  }

  test("entity FK: '000' substring accepted raw without lookup") {
    assert(ModuleParser.resolveEntity(32, "9000", ctx).toOption.contains("9000"))
    assert(ModuleParser.resolveEntity(42, "0005", ctx).toOption.contains("0005"))
  }

  test("error: BAD_NUM_ID / NO_ENTITY_REGISTER") {
    assert(ModuleParser.resolveEntity(32, "12X4", ctx).swap.toOption.get.code == ErrorCode.BadNumId)
    assert(ModuleParser.resolveEntity(32, "8777", ctx).swap.toOption.get.code == ErrorCode.NoEntityRegister)
  }

  test("entity FK long-digit edges keep the historical toInt semantics") {
    // 10 digits but Int-range: parses, fails the lookup -> NO_ENTITY_REGISTER
    // (the reference's arbitrary-precision int() + dict miss,
    // diary_module_parser.py:282-288)
    assert(ModuleParser.resolveEntity(32, "1234567891", ctx)
      .swap.toOption.get.code == ErrorCode.NoEntityRegister)
    // Int overflow (would throw in toInt) degrades to BAD_NUM_ID, no throw
    assert(ModuleParser.resolveEntity(32, "9999999999", ctx)
      .swap.toOption.get.code == ErrorCode.BadNumId)
    // adversarial digit flood: no exception, BAD_NUM_ID
    assert(ModuleParser.resolveEntity(32, "1" * 40, ctx)
      .swap.toOption.get.code == ErrorCode.BadNumId)
  }

  test("skip rules: tolerated zone failure keeps the raw zone string") {
    val miss = Catalogs.missKey(30)
    val m = "A" + miss + "44" + Catalogs.keys(2)(1) + Catalogs.keys(3)(1) + "44" + Catalogs.keys(2)(1)
    val skipping = new ModuleParser.Context(
      Set(123).contains,
      Set(SkipRule(0, 30, miss)))
    val parsed = ModuleParser.parseModule(0, m, skipping)
    assert(parsed.isRight)
    assert(parsed.toOption.get.zones.head == miss) // raw kept
    // later zones still validated (zone-level granularity)
    assert(parsed.toOption.get.zones.size == 6)
  }

  test("empty zone string is BAD_ZONE_STRING before any dispatch") {
    assert(ModuleParser.parseZone(0, "", ctx).swap.toOption.get.code == ErrorCode.BadZoneString)
  }

  test("tokenize == split(' ').filter(_.nonEmpty) on randomized strings") {
    val rnd = new scala.util.Random(17)
    val alphabet = "AB1 ()-\"  "
    for (_ <- 0 until 2000) {
      val str = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(EntityParser.tokenize(str).toSeq ==
        str.split(' ').filter(_.nonEmpty).toSeq, s"input '$str'")
    }
  }

  test("manual parenthesis scan == the reference regex on randomized names") {
    val pattern = """\(([A-Za-z0-9]+)\)""".r
    val rnd = new scala.util.Random(23)
    val alphabet = "AB1a() ()(X)"
    for (_ <- 0 until 3000) {
      val name = Seq.fill(rnd.nextInt(16))(alphabet(rnd.nextInt(alphabet.length))).mkString
      // the scan is only observable through parse(); compare via a register
      // whose name is the fuzzed string when it parses cleanly
      val reg = EntityParser.parse(s"AB 17 $name X1")
      val expectParen = pattern.findFirstMatchIn(s"$name X1".trim
        .replace(',', '.')).map(_.matched)
      reg match {
        case Right(r) =>
          expectParen match {
            case Some(g) => assert(r.info.contains(g), s"name '$name' info '${r.info}'")
            case None =>
              // digit-bearing tokens may carry stray parens into info; what
              // must be absent is a full (alnum) GROUP
              assert(pattern.findFirstIn(r.info).isEmpty, s"name '$name'")
          }
        case Left(_) => // invalid-name fuzz rolls are fine; scan parity is
          // still covered by the accepted cases above
      }
    }
  }
}
