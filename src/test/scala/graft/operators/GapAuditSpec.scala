package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the two-phase gap audit: the retired global-window
  * form (single-task Window.orderBy — correct but unshippable at scale)
  * serves as the oracle for GapAudit.gaps on adversarial key sets. */
class GapAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** The historical window form (q07's original implementation). */
  private def windowGaps(keys: DataFrame): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("k"))
    keys.select(col("k")).distinct()
      .withColumn("prev", lag(col("k"), 1).over(w))
      .filter(col("prev").isNotNull && col("k") - col("prev") > 1)
      .select(col("prev"), col("k"), col("k") - col("prev") - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def twoPhase(keys: DataFrame, partitions: Int): Set[(Long, Long, Long)] =
    SharedSpark.withPartitions(partitions) {
      GapAudit.gaps(keys, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

  test("matches the window oracle on a seeded random key set, any partitioning") {
    val rnd = new scala.util.Random(42)
    val keys = Seq.fill(500)(rnd.nextInt(2000).toLong) // dups + gaps
    val df = keys.toDF("k")
    val oracle = windowGaps(df)
    assert(oracle.nonEmpty)
    for (p <- Seq(1, 3, 7, 16)) assert(twoPhase(df, p) == oracle, s"p=$p")
  }

  test("negative keys and keys near Long.MinValue are never misread as markers") {
    // the old implementation tagged partition-boundary rows with in-band
    // sentinel keys <= Long.MinValue + p; these keys would have collided
    val df = Seq(Long.MinValue + 1, Long.MinValue + 3, Long.MinValue + 9,
      -5L, -1L, 0L, 1L, 10L).toDF("k")
    val oracle = windowGaps(df)
    for (p <- Seq(2, 7)) assert(twoPhase(df, p) == oracle, s"p=$p")
  }

  test("boundary stitching: gaps that straddle range partitions are found") {
    // contiguous runs separated by cross-partition gaps
    val df = ((0L to 10L) ++ (100L to 110L) ++ (5000L to 5010L)).toDF("k")
    val expected = Set((10L, 100L, 89L), (110L, 5000L, 4889L))
    for (p <- Seq(1, 3, 8)) assert(twoPhase(df, p) == expected, s"p=$p")
  }

  test("no gaps and single-key inputs return empty") {
    assert(twoPhase((0L to 20L).toDF("k"), 4).isEmpty)
    assert(twoPhase(Seq(7L).toDF("k"), 4).isEmpty)
  }
}
