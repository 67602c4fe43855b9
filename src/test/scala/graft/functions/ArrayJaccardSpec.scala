package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark
import graft.plans.GraftExtensions

/** ArrayJaccard fused expression vs the composed
  * size(array_intersect)/size(array_union) form — bit-identical on random
  * inputs including duplicates, empties, null elements, and null arrays
  * (under the call-site coalesce). */
class ArrayJaccardSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def composed = {
    val inter = size(array_intersect(col("a"), col("b"))).cast("double")
    val union = size(array_union(col("a"), col("b"))).cast("double")
    when(union > 0, inter / union).otherwise(0.0)
  }

  test("fused == composed on randomized arrays (dups, empties, nulls)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("a", "b", "c", "dd", "ee", "ff", "g1", "g2")
    def arr(): Seq[String] =
      Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(20) == 0) null else words(rnd.nextInt(words.length)))
    val rows = Seq.fill(500)((arr(), arr()))
    val df = rows.toDF("a", "b").repartition(4)
    val got = df.select(
        coalesce(ArrayJaccard(col("a"), col("b")), lit(0.0)).as("fused"),
        composed.as("comp"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("null array behavior: expression propagates null; coalesce restores 0.0") {
    import spark.implicits._
    val df = Seq((Seq("x"), Option.empty[Seq[String]])).toDF("a", "b")
    val raw = df.select(ArrayJaccard(col("a"), col("b"))).collect()(0)
    assert(raw.isNullAt(0))
    val wrapped = df.select(
      coalesce(ArrayJaccard(col("a"), col("b")), lit(0.0))).collect()(0)
    assert(wrapped.getDouble(0) == 0.0)
  }

  test("SQL registration + codegen plan") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // parquet-backed: a LocalRelation would be constant-folded to a
    // LocalTableScan before codegen (ConvertToLocalRelation)
    val dir = java.nio.file.Files.createTempDirectory("graft_aj").toString
    Seq((Seq("a", "b", "b"), Seq("b", "c"))).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("aj_in")
    val out = spark.sql("SELECT array_jaccard(a, b) AS j FROM aj_in")
    assert(out.collect()(0).getDouble(0) == 1.0 / 3.0) // {a,b} vs {b,c}
    // "*(n)" prefix = inside a WholeStageCodegen stage
    assert(out.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }

  test("identical sets -> 1.0, disjoint -> 0.0, both empty -> 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq("x", "y"), Seq("y", "x")),
      (Seq("x"), Seq("y")),
      (Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    val got = df.select(ArrayJaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(1.0, 0.0, 0.0))
  }
}
