package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** `SparkEntry.load` reuses a table's inferred schema only while the
  * table's files are unchanged. */
class LoadSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("a table rewritten with a new schema in the same session loads with it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_load").toString
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/t.parquet")
    val first = SparkEntry.load(spark, dir, "t")
    assert(first.columns.toSeq == Seq("a", "b"))
    assert(SparkEntry.load(spark, dir, "t").collect().map(_.getLong(1)).toSeq == Seq(2L))

    Seq(("x", 3.5)).toDF("c", "d").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = SparkEntry.load(spark, dir, "t")
    assert(second.columns.toSeq == Seq("c", "d"))
    assert(second.select(col("c"), col("d")).collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq == Seq(("x", 3.5)))
  }
}
