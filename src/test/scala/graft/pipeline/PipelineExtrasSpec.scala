package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.SharedSpark
import graft.sources.{CsvSinks, CsvSources}

class EntityMergeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("merge: insert-if-absent, existing-wins, conflicts surfaced") {
    val existing = Seq(
      EntityRegister(1, "AA", "ALPHA", "person", ""),
      EntityRegister(2, "BB", "BETA", "person", "x")).toDS()
    val incoming = Seq(
      EntityRegister(2, "BB", "BETA-CHANGED", "person", "x"), // conflict
      EntityRegister(3, "CC", "GAMMA", "person", "")) // insert
    val r = EntityMerge.merge(existing, incoming.toDS())
    val merged = r.merged.collect().sortBy(_.num_id)
    assert(merged.map(_.num_id).toSeq == Seq(1, 2, 3))
    assert(merged(1).name == "BETA") // existing wins
    assert(r.inserted.collect().map(_.getAs[Int]("num_id")).toSeq == Seq(3))
    val c = r.conflicts.collect()
    assert(c.length == 1 && c.head.getAs[Int]("num_id") == 2)
  }

  test("merge is idempotent: re-merging own output is a no-op") {
    val existing = Seq(EntityRegister(1, "AA", "ALPHA", "person", "")).toDS()
    val once = EntityMerge.merge(existing, existing)
    assert(once.conflicts.count() == 0)
    assert(once.inserted.count() == 0)
    assert(once.merged.collect().toSet == existing.collect().toSet)
  }
}

class SalvagedDedupSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("dedupEntities: a real register always beats a salvaged minimal one") {
    val ents = Seq(
      EntityRegister(7, "", "", "person", ""), // salvaged (M10)
      EntityRegister(7, "ZZ", "ZULU", "person", ""), // real — must win
      EntityRegister(8, "", "", "person", "")) // salvage only: survives
    val out = ExtractPipeline.dedupEntities(ents.toDS().repartition(3))
      .collect().sortBy(_.num_id)
    assert(out.toSeq == Seq(
      EntityRegister(7, "ZZ", "ZULU", "person", ""),
      EntityRegister(8, "", "", "person", "")))
  }
}

class SkipRuleDerivationSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val errs = Seq(
    ExtractionError("c0", 0, 0, 0, 1, ErrorCode.InvalidValueOnZone, 3, "XQ", "r"),
    ExtractionError("c1", 4, 0, 0, 1, ErrorCode.InvalidValueOnZone, 3, "XQ", "r"), // dup triple
    ExtractionError("c2", 1, 0, 0, 0, ErrorCode.BadYear, 1, "19Z3", "r"),
    ExtractionError("c3", 2, 0, 0, 2, ErrorCode.BadNumId, 32, "0O1", "r"),
    ExtractionError("c4", 3, 0, 0, 1, ErrorCode.ModuleTypeNotRecognized, -1, "??", "r"), // not skippable
    ExtractionError("c5", 5, 0, 0, -1, ErrorCode.InvalidValueOnZone, 3, "YY", "r"), // row-level: excluded
    ExtractionError("c6", 6, 0, -1, -1, ErrorCode.BadLetterId, -1, "hdr", "r") // header: excluded
  )

  test("distributed derivation equals the naive collect-everything path") {
    val ds = errs.toDS().repartition(5)
    val (rules, overflowed) = ExtractPipeline.deriveSkipRules(ds)
    assert(!overflowed)
    // the old path: collect ALL raw errors, filter driver-side
    val naive = errs
      .filter(e => ExtractPipeline.SkippableCodes.contains(e.code) && e.module_ordinal >= 0)
      .map(e => SkipRule(e.module_ordinal, e.zone_catalog, e.zone_str)).toSet
    assert(rules == naive)
    assert(rules.size == 3)
  }

  test("cap truncates deterministically (lowest triples) and reports overflow") {
    val ds = errs.toDS()
    val (rules, overflowed) = ExtractPipeline.deriveSkipRules(ds, cap = 2)
    assert(overflowed)
    assert(rules.size == 2)
    // deterministic: the 2 smallest by (module_ordinal, zone_catalog, zone_str)
    val all = Seq(SkipRule(0, 1, "19Z3"), SkipRule(1, 3, "XQ"), SkipRule(2, 32, "0O1"))
    assert(rules == all.take(2).toSet)
  }
}

class CsvRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("entity CSV matches the reference byte format") {
    val rows = Seq(
      EntityRegister(2, "AL", "AGUILAR.  LUIS A.", "person", "2"),
      EntityRegister(1, "AM", "ACOSTA. MIGUEL M.", "person", ""))
    val csv = CsvSinks.entityCsv(rows)
    val lines = csv.split("\r\n")
    assert(lines(0) == "'num_id','text_id','name','type','info'")
    assert(lines(1) == "1,'AM','ACOSTA. MIGUEL M.','person',''")
    assert(lines(2) == "2,'AL','AGUILAR.  LUIS A.','person','2'")
    assert(csv.endsWith("\r\n"))
  }

  test("quotechar inside a value is doubled") {
    val csv = CsvSinks.entityCsv(Seq(EntityRegister(5, "XX", "O'HARA", "person", "")))
    assert(csv.contains("'O''HARA'"))
  }

  test("module CSV format") {
    val csv = CsvSinks.moduleCsv(Seq((8, "D|P|98|7|PU|17|_")))
    assert(csv.split("\r\n")(1) == "8,'D|P|98|7|PU|17|_'")
  }

  test("distributed entity CSV sink is byte-identical to the driver sink") {
    import spark.implicits._
    val rows = (1 to 200).map(i =>
      EntityRegister(i, f"T$i%03d", s"NAME. N$i", if (i < 150) "person" else "community",
        if (i % 7 == 0) s"($i)" else "")) ++ Seq(
      EntityRegister(500, "QQ", "O'HARA", "person", "")) // quotechar doubling
    val shuffled = new scala.util.Random(3).shuffle(rows)
    val dir = java.nio.file.Files.createTempDirectory("graft_dcsv").toString
    CsvSinks.writeEntityCsvDistributed(shuffled.toDS().repartition(6), s"$dir/d",
      partitions = 5)
    CsvSinks.assembleCsv(s"$dir/d", s"$dir/assembled.csv")
    val distributed = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "assembled.csv"))
    assert(distributed == CsvSinks.entityCsv(rows))
  }

  test("CSV source round-trips the sink with first-wins dedup on load") {
    val rows = Seq(
      EntityRegister(1, "AM", "ACOSTA. MIGUEL M.", "person", ""),
      EntityRegister(2, "AL", "O'HARA", "community", "(X1)"))
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    val path = dir.resolve("annuary.csv").toString
    // append a duplicate id with different fields: loader must keep the first
    val withDup = CsvSinks.entityCsv(rows) + "1,'ZZ','IMPOSTOR','person',''\r\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), withDup)
    val loaded = CsvSources.readEntityCsv(spark, path).collect().sortBy(_.num_id)
    assert(loaded.length == 2)
    assert(loaded(0) == rows(0)) // first wins
    assert(loaded(1) == rows(1))
    // module CSV: a repeated (id, module) row is dropped on load
    val modules = Seq((8, "D|P|98|7|PU|17|_"), (3, "O'HARA|X"), (8, "D|P|98|7|PU|17|_"),
      (8, "D|P|99"))
    val modPath = dir.resolve("diary.csv")
    java.nio.file.Files.writeString(modPath, CsvSinks.moduleCsv(modules))
    val mods = CsvSources.readModuleCsv(spark, modPath.toString).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted
    assert(mods.toSeq == modules.distinct.sorted)
  }
}
