package graft.operators

import graft.pipeline.ExtractPipeline
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Losing an eager `localCheckpoint`'s blocks must fail the query loudly.
  * The checkpoint truncates lineage, so there is nothing to recompute the
  * blocks from: an executor loss has to surface as a SparkException that
  * names the missing block, never as a result with rows missing. Dropping
  * the pinned RDDs with `unpersist` leaves the block manager in the state a
  * lost executor leaves it in. SCALE.md lists the pin sites this covers. */
class CheckpointLossSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Builds the operator's output (its eager checkpoints run here), drops
    * every RDD the build pinned, then runs the output. */
  private def assertLoudLoss(build: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = build
    val pinned = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(pinned.nonEmpty, "the operator pinned nothing")
    pinned.values.foreach(_.unpersist(blocking = true))
    val e = intercept[SparkException](out.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(pinned.keys.exists(id => messages.contains(s"Checkpoint block rdd_${id}_")),
      s"no pinned block ${pinned.keys.mkString(", ")} named in:\n$messages")
  }

  test("conversationText fails loudly when its checkpointed input is lost") {
    val clean = (for (c <- 0 until 6; t <- 0 until 5)
      yield (f"conv$c%02d", t, s"turn $t of conversation $c"))
      .toDF("conv_id", "turn_idx", "clean_text")
    assertLoudLoss(ExtractPipeline.conversationText(clean, 3))
  }

  test("dedupCorpus fails loudly when its checkpointed exact set is lost") {
    val words = (0 until 60).map(i => s"w$i")
    val base = (0 until 12).map { d =>
      (d.toLong, Seq.tabulate(40)(i => words((d * 7 + i * 3) % words.size)).mkString(" "))
    }
    val nearDups = base.map { case (id, text) => (id + 1000L, text + " tail") }
    val exactDup = Seq((5000L, base.head._2))
    val docs = (base ++ nearDups ++ exactDup).toDF("doc_id", "text")
    assertLoudLoss(Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.6))
  }
}
