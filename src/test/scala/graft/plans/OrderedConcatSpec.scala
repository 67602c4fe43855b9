package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.TranscriptGen
import graft.operators.SharedSpark
import graft.pipeline.ExtractPipeline

/** OrderedConcat (TypedImperativeAggregate) vs the shipped two-phase
  * reassembly: identical output on the real extraction corpus INCLUDING the
  * 20k-turn mega-conversation, plus serialization round-trip and SQL
  * registration. */
class OrderedConcatSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("aggregate == two-phase conversationText on a corpus with a mega-conv") {
    // nConvs=60 puts thousands of turns in conv 0 (the generator's skew
    // design); enough to span many partitions
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val turns = ExtractPipeline.transcripts(spark, 60L, 8)
    val clean = ExtractPipeline.cleanTurns(ExtractPipeline.extract(turns, ctx))
      .toDF().filter(length(col("clean_text")) > 0)
      .localCheckpoint()
    val twoPhase = ExtractPipeline.conversationText(clean)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    val agg = ExtractPipeline.conversationTextAgg(clean)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    assert(agg.length == twoPhase.length && agg.nonEmpty)
    agg.zip(twoPhase).foreach { case (a, b) => assert(a == b, s"${a._1}") }
  }

  test("partial buffers merge + serialize round-trip preserves order semantics") {
    val b1 = new OrderedConcat.Buffer
    b1.add(3, "c"); b1.add(1, "a")
    val b2 = new OrderedConcat.Buffer
    b2.add(2, "b"); b2.add(4, "d")
    val restored = OrderedConcat.Buffer.fromBytes(b1.toBytes)
    restored.addAll(OrderedConcat.Buffer.fromBytes(b2.toBytes))
    assert(restored.sortedConcat("|") == "a|b|c|d")
  }

  test("serialization carries >64KB texts (no writeUTF cap)") {
    val big = "x" * 100000
    val b = new OrderedConcat.Buffer
    b.add(1, big); b.add(0, "start")
    val r = OrderedConcat.Buffer.fromBytes(b.toBytes)
    assert(r.sortedConcat("-") == "start-" + big)
  }

  test("SQL registration: ordered_concat works in spark.sql") {
    GraftExtensions.install(spark)
    import spark.implicits._
    Seq((1, 2, "b"), (1, 1, "a"), (2, 1, "z")).toDF("g", "k", "t")
      .createOrReplaceTempView("oc_in")
    val out = spark.sql(
      "SELECT g, ordered_concat(k, t, ',') AS s FROM oc_in GROUP BY g")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1, "a,b"), (2, "z")))
  }

  test("null texts skipped; empty group yields null (string_agg parity)") {
    GraftExtensions.install(spark)
    import spark.implicits._
    Seq((1, 1, Option("a")), (1, 2, None), (2, 1, None))
      .toDF("g", "k", "t").createOrReplaceTempView("oc_nulls")
    val out = spark.sql(
      "SELECT g, ordered_concat(k, t, '|') AS s FROM oc_nulls GROUP BY g")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1, Some("a")), (2, None)))
  }
}
