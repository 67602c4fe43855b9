package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.fixtures.TranscriptGen
import graft.pipeline.ExtractPipeline
import graft.tools.Golden

/** Distributed-vs-driver differential tests (SURVEY §5.2): the Spark pipeline
  * must produce exactly the single-threaded extraction results at any
  * parallelism, and dedup/ordering must be arrival-order-independent. */
class SparkPipelineSpec extends AnyFunSuite {

  // one shared session across all Spark suites (the JVM tears it down)
  private lazy val spark = graft.operators.SharedSpark.spark

  private val nConvs = Golden.GoldenConvs

  test("distributed extraction equals driver-side extraction (differential oracle)") {
    val turns = ExtractPipeline.transcripts(spark, nConvs.toLong, 5)
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val ex = ExtractPipeline.extract(turns, ctx)

    val distModules = ExtractPipeline.modules(ex).collect().toSet
    val oracle = Golden.goldenCorpus()
    val oracleModules = oracle.flatMap(_._2.modules).toSet
    assert(distModules == oracleModules)

    val distErrors = ExtractPipeline.errors(ex).collect().toSet
    assert(distErrors == oracle.flatMap(_._2.errors).toSet)

    val distClean = ExtractPipeline.cleanTurns(ex).collect()
      .filter(_.clean_text.nonEmpty).map(c => (c.conv_id, c.turn_idx, c.clean_text)).toSet
    val oracleClean = oracle.map(_._2.clean).filter(_.clean_text.nonEmpty)
      .map(c => (c.conv_id, c.turn_idx, c.clean_text)).toSet
    assert(distClean == oracleClean)
  }

  test("dedup + ordered output is identical at different parallelism") {
    def run(parallelism: Int): Seq[String] = {
      val turns = ExtractPipeline.transcripts(spark, nConvs.toLong, parallelism)
      val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
      val ex = ExtractPipeline.extract(turns, ctx)
      ExtractPipeline.ordered(
        ExtractPipeline.dedupModules(ExtractPipeline.modules(ex)))
        .collect()
        .map(_.mkString("|"))
        .toSeq
    }
    val a = run(2)
    val b = run(11)
    assert(a == b) // same rows, same global order
  }

  test("first-wins module dedup picks the earliest (turn, block, row, module)") {
    import spark.implicits._
    val dup1 = ExtractedModule("c1", 5, 0, 0, 0, "A", Seq("x"), "A", 0, 1)
    val dup2 = ExtractedModule("c1", 2, 1, 0, 0, "A", Seq("x"), "A", 0, 1) // earlier turn
    val other = ExtractedModule("c1", 9, 0, 0, 0, "BA", Seq("y"), "BA", 0, 2)
    val ds = Seq(dup1, dup2, other).toDS()
    val out = ExtractPipeline.dedupModules(ds).collect()
    assert(out.length == 2)
    val winner = out.find(_.getAs[String]("module_type") == "A").get
    assert(winner.getAs[Int]("turn_idx") == 2)
  }

  test("entity dedup is deterministic first-wins by (text_id, name)") {
    import spark.implicits._
    val e1 = EntityRegister(7, "ZZ", "ZULU", "person", "")
    val e2 = EntityRegister(7, "AA", "ALPHA", "person", "")
    val out = ExtractPipeline.dedupEntities(Seq(e1, e2).toDS()).collect()
    assert(out.length == 1)
    assert(out.head.text_id == "AA")
  }

  test("entity dedup ties on (text_id, name) resolve by the full total order") {
    import spark.implicits._
    // same text_id/name/kind, differing info: winner must be the min info,
    // at any partition/arrival order
    val a = EntityRegister(9, "AA", "SAME", "person", "(Q9)")
    val b = EntityRegister(9, "AA", "SAME", "person", "(Q1)")
    val r1 = ExtractPipeline.dedupEntities(Seq(a, b).toDS().repartition(4)).collect()
    val r2 = ExtractPipeline.dedupEntities(Seq(b, a).toDS().repartition(2)).collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.head.info == "(Q1)")
  }

  test("driver contract: entry() returns rows and every query has a runner") {
    assert(SparkEntry.entry(spark).count() > 0)
    // 55 distinct names, each with exactly one oracle
    assert(SparkEntry.queries.size == 55)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // a name stated in two family tables fails the merge instead of one
    // entry silently replacing the other
    val e = intercept[IllegalArgumentException](
      SparkEntry.merge(Seq("qa" -> 1, "qb" -> 2), Seq("qb" -> 3)))
    assert(e.getMessage.contains("qb"), e.getMessage)
  }

  test("every {OUT} side table referenced by oracle SQL is materialized") {
    // a renamed materialization would otherwise surface only as a driver-run
    // DuckDB error that silently fails one query's correctness row
    val ref = """\{OUT\}/_tables/([A-Za-z0-9_]+)/""".r
    SparkEntry.oracleSql.foreach { case (q, sql) =>
      ref.findAllMatchIn(sql).foreach { m =>
        assert(SparkEntry.materializations.contains(m.group(1)),
          s"$q references unmaterialized table ${m.group(1)}")
      }
    }
    // and every materialization is actually referenced by some oracle
    val referenced = SparkEntry.oracleSql.values
      .flatMap(sql => ref.findAllMatchIn(sql).map(_.group(1))).toSet
    SparkEntry.materializations.keys.foreach(k =>
      assert(referenced.contains(k), s"materialization $k is dead weight"))
  }

  test("q50 planted-duplicate dedup collapses to exactly the q20 winners") {
    // the planted corpus duplicates every turn at turn_idx+100000; first-wins
    // dedup must therefore emit exactly the un-planted result
    val q20 = SparkEntry.queries("q20_extract_modules")(spark, "sf0.001")
      .collect().map(_.toString).sorted
    val q50 = SparkEntry.queries("q50_dedup_modules_planted")(spark, "sf0.001")
      .collect().map(_.toString).sorted
    assert(q20.nonEmpty)
    assert(q20.toSeq == q50.toSeq)
  }

  test("dedup idempotence: re-ingesting own output is a no-op") {
    import spark.implicits._
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val turns = ExtractPipeline.transcripts(spark, nConvs.toLong, 3)
    val mods = ExtractPipeline.modules(ExtractPipeline.extract(turns, ctx))
    val once = ExtractPipeline.dedupModules(mods).collect().map(_.toString).sorted
    val twice = ExtractPipeline.dedupModules(mods.union(mods))
      .collect().map(_.toString).sorted
    assert(once.toSeq == twice.toSeq)
  }

  test("anti-join resume prunes done turns") {
    import spark.implicits._
    val turns = ExtractPipeline.transcripts(spark, 4L, 2)
    val all = turns.count()
    val done = turns.limit(10).select("conv_id", "turn_idx")
    val pruned = ExtractPipeline.pruneDone(turns, done.toDF())
    assert(pruned.count() == all - 10)
  }

  test("partition metrics totals are partitioning-invariant") {
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    def totals(par: Int): (Long, Long, Long) = {
      val ex = ExtractPipeline.extract(
        ExtractPipeline.transcripts(spark, nConvs.toLong, par), ctx)
      val m = ExtractPipeline.partitionMetrics(ex).collect()
      (m.map(_.turns).sum, m.map(_.modules_ok).sum, m.map(_.modules_err).sum)
    }
    assert(totals(2) == totals(8))
  }
}
