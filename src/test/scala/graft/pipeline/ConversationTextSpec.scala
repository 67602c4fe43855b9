package graft.pipeline

import graft.operators.SharedSpark.withPartitions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded-memory conversation reassembly (q29's two-phase form) vs the
  * naive whole-conversation aggregation buffer it replaced — byte-identical
  * output required, including on a mega-conversation. */
class ConversationTextSpec extends AnyFunSuite {
  private lazy val spark = graft.operators.SharedSpark.spark
  import spark.implicits._

  /** The replaced form: sort_array(collect_list(every turn)) — correct, but
    * one aggregation state holds the entire conversation. Kept as oracle. */
  private def naive(clean: DataFrame): DataFrame =
    clean.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("prose_turns"),
        concat_ws("\n\n",
          transform(
            sort_array(collect_list(struct(col("turn_idx"), col("clean_text")))),
            x => x.getField("clean_text"))).as("conversation_text"))
      .withColumn("n_chars", length(col("conversation_text")))

  private def asMap(df: DataFrame): Map[String, (Long, String, Int)] =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getInt(3)))).toMap

  test("two-phase output equals the naive aggregation, all partitionings") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 40
      t <- 0 until (1 + rnd.nextInt(30))
    } yield (f"conv$c%03d", t, s"text c$c t$t " + ("x" * rnd.nextInt(20)))
    // shuffle input order: correctness must come from keys, not arrival
    val df = rnd.shuffle(rows).toDF("conv_id", "turn_idx", "clean_text")
    val oracle = asMap(naive(df))
    for (p <- Seq(1, 3, 8)) {
      assert(withPartitions(p)(asMap(ExtractPipeline.conversationText(df))) == oracle,
        s"p=$p")
    }
  }

  test("mega-conversation (20k turns) splits across tasks and reassembles") {
    val mega = (0 until 20000).map(t => ("mega", t, s"turn $t"))
    val small = (0 until 5).map(t => ("small", t, s"s $t"))
    val df = (mega ++ small).toDF("conv_id", "turn_idx", "clean_text")
      .repartition(16) // scatter
    val got = withPartitions(8)(asMap(ExtractPipeline.conversationText(df)))
    assert(got("mega")._1 == 20000L)
    assert(got("mega")._2 == (0 until 20000).map(t => s"turn $t").mkString("\n\n"))
    assert(got("small")._2 == (0 until 5).map(t => s"s $t").mkString("\n\n"))
    assert(got == asMap(naive(df)))
  }

  test("non-contiguous turn_idx values keep sorted order") {
    val df = Seq(("c", 90, "last"), ("c", 5, "first"), ("c", 40, "mid"))
      .toDF("conv_id", "turn_idx", "clean_text")
    val out = withPartitions(4)(ExtractPipeline.conversationText(df).collect().head)
    assert(out.getString(2) == "first\n\nmid\n\nlast")
  }
}
