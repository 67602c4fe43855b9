package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** `SparkEntry.Slot`, the one-value cache behind the skip-rule outcome, the
  * media table and the BPE tables; and the query names the benchmarks call. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("a repeated (session, dir) returns the cached value without computing again") {
    val slot = new SparkEntry.Slot[String](_ => ())
    var computed = 0
    def get(dir: String) = slot(spark, dir) { computed += 1; s"v$computed" }
    assert(get("a") == "v1")
    assert(get("a") == "v1")
    assert(computed == 1)
  }

  test("a new dir releases the old value exactly once") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val slot = new SparkEntry.Slot[String](released += _)
    slot(spark, "a")("va")
    slot(spark, "b")("vb")
    slot(spark, "b")("vb2")
    assert(released.toSeq == Seq("va"))
    slot(spark, "c")("vc")
    assert(released.toSeq == Seq("va", "vb"))
  }

  test("a released persisted Dataset is no longer cached") {
    val slot = new SparkEntry.Slot[Dataset[java.lang.Long]](_.unpersist())
    val first = slot(spark, "a") {
      val d = spark.range(10).persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    slot(spark, "b")(spark.range(3))
    assert(first.storageLevel == StorageLevel.NONE)
  }

  test("a caller that loses the race to install its key releases its own copy") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val slot = new SparkEntry.Slot[String](released += _)
    // the racing caller installs the same key while the first one computes
    val got = slot(spark, "a") { slot(spark, "a")("winner"); "loser" }
    assert(got == "winner")
    assert(released.toSeq == Seq("loser"))
    assert(slot(spark, "a")("again") == "winner")
  }

  test("every query name the benchmarks run is a key of SparkEntry.queries") {
    // Bench.roundOnce drops a leg whose query throws, so a renamed key
    // would silently vanish from the bench; perfbench's event_joins
    // workload (perfbench/src/main/scala/perfbench/EventJoins.scala) calls
    // its three queries by name and would fail its run
    val recallLegs = Seq("q44_ann_brute_topk", "q45_ann_lsh_topk",
      "q47_ann_ivf_topk", "q69_ann_pq_topk")
    val eventJoins = Seq("q56_asof_join", "q63_funnel_asof", "q58_range_join")
    (Bench.headline ++ recallLegs ++ eventJoins).foreach(name =>
      assert(SparkEntry.queries.contains(name), name))
  }
}
