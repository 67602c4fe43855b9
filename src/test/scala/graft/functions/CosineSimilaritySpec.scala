package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SharedSpark}
import graft.plans.GraftExtensions

class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Reference formulation via composed built-ins (three passes + an
    * intermediate array): the differential oracle for the native
    * expression. */
  private def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, x) => acc + x))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(0.0)
  }

  private def vecs(n: Int, dim: Int) =
    (0 until n).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Array.fill(dim)(rng.nextDouble() * 2 - 1),
        Array.fill(dim)(rng.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")

  test("native expression is bit-identical to the composed-builtins form") {
    val df = vecs(200, 24)
    val out = df.select(
      Dedup.cosine(col("a"), col("b")).as("native"),
      cosineHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact, not approx
    }
  }

  test("identical vectors give 1.0; orthogonal give 0.0; zero vector gives 0.0") {
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(0.0, 3.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    val out = df.select(Dedup.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
    assert(out(2) == 0.0)
  }

  test("null array yields null") {
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val out = df.select(Dedup.cosine(col("a"), col("b"))).collect()
    assert(out.head.isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // a real file source (LocalTableScan pre-evaluates local data)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plan = e.select(Dedup.cosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cosine_similarity")), plan)
  }

  test("SQL registration works") {
    GraftExtensions.install(spark)
    vecs(5, 4).createOrReplaceTempView("cs_vecs")
    val out = spark.sql(
      "SELECT cosine_similarity(a, b) AS c FROM cs_vecs").collect()
    assert(out.length == 5)
    assert(out.forall(r => math.abs(r.getDouble(0)) <= 1.0 + 1e-12))
  }

  test("type check rejects non-double arrays") {
    val df = Seq((Array(1, 2), Array(2, 3))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.functions.CosineSimilarity(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
