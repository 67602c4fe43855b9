package graft.operators

import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Losing a pin's blocks must not change a query's rows. `GraftBridge.pin`
  * keeps lineage, so a lost block is recomputed from its upstream: an
  * executor loss costs time, never rows and never the query. Dropping the
  * pinned RDDs with `unpersist` leaves the block manager in the state a lost
  * executor leaves it in. Every module that pins has a case here; SCALE.md
  * lists the pin sites. */
class PinLossSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  /** Builds the operator's output twice. The first build runs as is; the
    * second drops every RDD its build pinned before it runs. Both must give
    * the same rows, in the same order when `inOrder`. */
  private def assertRecovers(build: => DataFrame, inOrder: Boolean = false): Unit = {
    val sc = spark.sparkContext
    val expected = rows(build)
    val before = sc.getPersistentRDDs.keySet
    val out = build
    val pinned = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(pinned.nonEmpty, "the operator pinned nothing")
    pinned.values.foreach(_.unpersist(blocking = true))
    val got = rows(out)
    if (inOrder) assert(got == expected)
    else assert(got.sorted == expected.sorted)
  }

  private val words = (0 until 60).map(i => s"w$i")

  /** 12 distinct documents, a near copy of each, and one exact copy. */
  private lazy val docs = {
    val base = (0 until 12).map { d =>
      (d.toLong, Seq.tabulate(40)(i => words((d * 7 + i * 3) % words.size)).mkString(" "))
    }
    val nearDups = base.map { case (id, text) => (id + 1000L, text + " tail") }
    (base ++ nearDups ++ Seq((5000L, base.head._2))).toDF("doc_id", "text")
  }

  test("conversationText gives the same rows after its pinned input is lost") {
    val clean = (for (c <- 0 until 6; t <- 0 until 5)
      yield (f"conv$c%02d", t, s"turn $t of conversation $c"))
      .toDF("conv_id", "turn_idx", "clean_text")
    SharedSpark.withPartitions(3)(assertRecovers(ExtractPipeline.conversationText(clean)))
  }

  test("ordered gives the same rows in the same order after its pinned input is lost") {
    val modules = (for (c <- 0 until 5; t <- 0 until 4; m <- 0 until 3)
      yield (f"conv$c%02d", t, m % 2, m, m, s"module $c.$t.$m"))
      .toDF("conv_id", "turn_idx", "block_ordinal", "row_ordinal", "module_ordinal", "v")
      .repartition(4)
    assertRecovers(ExtractPipeline.ordered(modules), inOrder = true)
  }

  test("dedupCorpus gives the same rows after its pinned exact set and pairs are lost") {
    assertRecovers(Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.6))
  }

  test("the star loop gives the same labels after its pinned base, nodes and rounds are lost") {
    // two chains and a self-pair, solved by the distributed loop
    val pairs = ((0L until 20L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i + 1, i)) ++ Seq((500L, 500L)))
      .toDF("id_a", "id_b")
    assertRecovers(Dedup.nearDupClustersWithRounds(pairs, localSolveMaxPairs = 0)._1)
  }

  test("the prefix n-gram join gives the same pairs after its pinned postings are lost") {
    assertRecovers(Dedup.ngramNearDupsByPrefix(docs, "doc_id", "text", 0.6))
  }

  test("the count n-gram join gives the same pairs after its pinned postings are lost") {
    // document 0's shingles occur in three documents (itself, its near copy
    // and its exact copy), so a cap of 2 makes them hot
    assertRecovers(Dedup.ngramNearDupsByCount(docs, "doc_id", "text", 0.6, hotDfCap = 2))
  }

  test("gaps gives the same rows after its pinned intra-partition gaps are lost") {
    val keys = ((0L to 10L) ++ (15L to 40L by 3) ++ (100L to 110L)).toDF("k")
    SharedSpark.withPartitions(3)(assertRecovers(GapAudit.gaps(keys, "k")))
  }

  test("removeRepeatedParagraphs gives the same rows after its pinned input view is lost") {
    val boiler = "subscribe to our newsletter"
    val texts = (0 until 8).map(d => (d.toLong, s"intro $d\n$boiler\nbody $d\n$boiler"))
      .toDF("doc_id", "text")
    assertRecovers(Curation.removeRepeatedParagraphs(texts, "doc_id", col("text")))
  }
}
