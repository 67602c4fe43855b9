package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AsOf.asofJoin vs a naive driver-side per-left-row scan. */
class AsOfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("asof == naive latest-right-at-or-before on a randomized corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val lefts = Seq.fill(400)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong,
      rnd.nextInt(100000).toLong))
    // unique right per (key, ts) — the documented precondition
    val rights = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }

    val l = lefts.toDF("k", "lts", "lid").repartition(7)
    val r = rights.toDF("k", "rts", "rid").repartition(5)
    val got = AsOf.asofJoin(l, r, "k", "lts", "rts")
      .select(col("k"), col("lts"), col("lid"),
        col("asof.rid").as("rid"), col("asof.rts").as("rts"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) None else Some(row.getLong(3))))
      .sortBy(t => (t._1, t._2, t._3))

    val byKey = rights.groupBy(_._1)
    val expect = lefts.map { case (k, lt, lid) =>
      val best = byKey.getOrElse(k, Nil).filter(_._2 <= lt)
        .sortBy(_._2).lastOption.map(_._3)
      (k, lt, lid, best)
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == expect)
    assert(got.length == lefts.length) // left-outer: every left row survives
    assert(got.exists(_._4.isEmpty) && got.exists(_._4.nonEmpty))
  }

  test("inclusive bound: an equal-ts right row matches") {
    import spark.implicits._
    val l = Seq((1L, 100L, 10L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 100L, 77L)).toDF("k", "rts", "rid")
    val out = AsOf.asofJoin(l, r, "k", "lts", "rts")
      .select(col("asof.rid")).collect()
    assert(out(0).getLong(0) == 77L)
  }

  test("SQL null semantics: null key/ts never matches; left nulls survive unmatched") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(100L), 1L), (None, Some(100L), 2L),
      (Some(1L), None, 3L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(50L), 10L), (Some(1L), None, 11L),
      (None, Some(10L), 12L)).toDF("k", "rts", "rid")
    val got = AsOf.asofJoin(l, r, "k", "lts", "rts")
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    // lid=1 matches the one valid right row; null-key (2) and null-ts (3)
    // left rows survive unmatched; null-ts right row 11 is never carried
    // as an "earliest ever" match, null-key right row 12 matches nothing
    assert(got == Map(1L -> Some(10L), 2L -> None, 3L -> None))
  }

  test("reserved/output column names are rejected loudly") {
    import spark.implicits._
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "asof")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    intercept[IllegalArgumentException] {
      AsOf.asofJoin(l, r, "k", "lts", "rts")
    }
    val l2 = Seq((1L, 1L, 1L)).toDF("k", "lts", "_tag")
    intercept[IllegalArgumentException] {
      AsOf.asofJoin(l2, r, "k", "lts", "rts")
    }
    // reserved by the time split only; rejected on this small input too
    val l3 = Seq((1L, 1L, 1L)).toDF("k", "lts", "_b")
    intercept[IllegalArgumentException] {
      AsOf.asofJoin(l3, r, "k", "lts", "rts")
    }
  }

  test("per-key window only: no unpartitioned window in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    val plan = AsOf.asofJoin(l, r, "k", "lts", "rts")
      .queryExecution.optimizedPlan
    val bad = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty)
  }

  test("bucketed == plain asofJoin on a randomized corpus with one MEGA-key") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // key 0 is the mega-key: it owns ~70% of all rows and spans every
    // bucket — the exact skew shape the bucketing exists for. Width 100
    // over ts range [0,1000) -> ~10 buckets; plenty of left rows land in
    // buckets with no in-bucket right row, exercising the carry-in path.
    def key() = if (rnd.nextInt(10) < 7) 0L else 1L + rnd.nextInt(5)
    val lefts = Seq.fill(600)((key(), rnd.nextInt(1000).toLong, rnd.nextLong()))
    val rights = Seq.fill(80)((key(), rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }
    val l = lefts.toDF("k", "lts", "lid").repartition(7)
    val r = rights.toDF("k", "rts", "rid").repartition(5)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("lts"), col("lid"),
        col("asof.rid").as("rid"), col("asof.rts").as("rts"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) None else Some(row.getLong(3)),
        if (row.isNullAt(4)) None else Some(row.getLong(4))))
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq
    val plain = norm(AsOf.asofJoin(l, r, "k", "lts", "rts"))
    for (width <- Seq(1L, 7L, 100L, 5000L)) {
      val bucketed = norm(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts", width))
      assert(bucketed == plain, s"width=$width diverged")
    }
  }

  test("bucketed: null semantics, inclusive bound, and timestamp ts match plain") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(100L), 1L), (None, Some(100L), 2L),
      (Some(1L), None, 3L), (Some(1L), Some(99L), 4L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(100L), 10L), (Some(1L), None, 11L),
      (None, Some(10L), 12L), (Some(1L), Some(40L), 13L)).toDF("k", "rts", "rid")
    val got = AsOf.asofJoinBucketed(l, r, "k", "lts", "rts", bucketWidth = 50L)
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    // equal-ts inclusive (1 -> 10), carry-in across bucket edge (4 -> 13,
    // right row in bucket 0, left in bucket 1), nulls unmatched
    assert(got == Map(1L -> Some(10L), 2L -> None, 3L -> None, 4L -> Some(13L)))

    // timestamp-typed ts goes through unix_micros bucketing
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    val lt = Seq((1L, at(100), 1L), (1L, at(30), 2L)).toDF("k", "lts", "lid")
    val rt = Seq((1L, at(50), 10L), (1L, at(10), 11L)).toDF("k", "rts", "rid")
    val gotTs = AsOf.asofJoinBucketed(lt, rt, "k", "lts", "rts",
      bucketWidth = 60L * 1000000L) // 1-minute buckets
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(gotTs == Map(1L -> 10L, 2L -> 11L))
  }

  test("bucketed: every window over the raw stream partitions by (key, bucket)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    val plan = AsOf.asofJoinBucketed(l, r, "k", "lts", "rts", 100L)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty)
      // a window whose expressions touch the raw right payload (_r) must be
      // partitioned by BOTH key and bucket — the mega-key defense; the
      // key-only window is allowed solely over the bucket summaries (_cin)
      val touchesRaw = w.windowExpressions.exists(_.collect {
        case a: AttributeReference if a.name == "_r" => a
      }.nonEmpty)
      if (touchesRaw)
        assert(w.partitionSpec.size >= 2,
          s"raw-stream window is not bucket-partitioned: $w")
    }
  }

  test("autoBucketWidth: density-derived width, correct on uniform AND " +
    "mega-key fixtures, sized near the target cell bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(405)

    // uniform fixture: 6 keys, ~100 rows each over span 10000
    val uniR = (0 until 600).map { i =>
      val k = (i % 6).toLong
      (k, rnd.nextInt(10000).toLong, i.toLong)
    }
    // mega-key fixture: key 0 owns 90% of rows, same span
    val megaR = (0 until 1000).map { i =>
      val k = if (rnd.nextInt(10) < 9) 0L else 1L + rnd.nextInt(5)
      (k, rnd.nextInt(10000).toLong, i.toLong)
    }
    val lefts = Seq.fill(300)(
      (rnd.nextInt(6).toLong, rnd.nextInt(10000).toLong, rnd.nextLong()))
    val l = lefts.toDF("k", "lts", "lid").repartition(5)

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("lts"), col("lid"), col("asof.rid").as("rid"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) None else Some(row.getLong(3))))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

    for ((rows, tag) <- Seq((uniR, "uniform"), (megaR, "mega"))) {
      val r = rows.toDF("k", "rts", "rid").repartition(7)
      val target = 100L
      val w = AsOf.autoBucketWidth(r, "k", "rts", targetRowsPerCell = target)
      // sized from the densest key: its expected rows per width-w cell
      // lands within a small factor of the target (density estimate is
      // span-uniform, so exactness isn't promised — boundedness is)
      val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2))
      val dMax = byKey.values.map { ts =>
        ts.size.toDouble / math.max(1L, ts.max - ts.min)
      }.max
      val expCell = dMax * w
      assert(w >= 1L, s"$tag: width $w")
      assert(expCell <= target * 2 && expCell >= target / 4,
        s"$tag: densest-cell estimate $expCell vs target $target (width $w)")
      // any width must be CORRECT: differential vs the plain as-of
      val plain = norm(AsOf.asofJoin(l, r, "k", "lts", "rts"))
      val auto = norm(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts", w))
      val fixed = norm(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts", 1000L))
      assert(auto == plain, s"$tag: auto width $w diverged")
      assert(fixed == plain, s"$tag: fixed width diverged")
    }

    // degenerate shapes fall back to the default width
    val zeroSpan = Seq((1L, 5L, 1L), (1L, 5L, 2L)).toDF("k", "rts", "rid")
    assert(AsOf.autoBucketWidth(zeroSpan, "k", "rts", default = 123L) == 123L)
    val empty = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "rid")
    assert(AsOf.autoBucketWidth(empty, "k", "rts", default = 77L) == 77L)
  }

  private val Budget = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def asofRows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("k"), col("lts"), col("lid"), col("asof.rid").as("rid"))
    .collect()
    .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
      if (row.isNullAt(3)) None else Some(row.getLong(3))))
    .sortBy(t => (t._1, t._2, t._3)).toSeq

  /** Latest right row at or before each left row, by a driver-side scan. */
  private def naive(lefts: Seq[(Long, Long, Long)], rights: Seq[(Long, Long, Long)]) = {
    val byKey = rights.groupBy(_._1)
    lefts.map { case (k, lt, lid) =>
      (k, lt, lid, byKey.getOrElse(k, Nil).filter(_._2 <= lt).sortBy(_._2)
        .lastOption.map(_._3))
    }.sortBy(t => (t._1, t._2, t._3))
  }

  test("asofJoin splits by time above the size budget: mega-key corpus == naive") {
    import spark.implicits._
    // the corpus of the bucketed mega-key test above (seed 47)
    val rnd = new scala.util.Random(47)
    def key() = if (rnd.nextInt(10) < 7) 0L else 1L + rnd.nextInt(5)
    val lefts = Seq.fill(600)((key(), rnd.nextInt(1000).toLong, rnd.nextLong()))
    val rights = Seq.fill(80)((key(), rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }
    val l = lefts.toDF("k", "lts", "lid").repartition(7)
    val r = rights.toDF("k", "rts", "rid").repartition(5)
    assert(!AsOf.splitsByTime(l, r)) // a few KB: one per-key window
    val expect = naive(lefts, rights)
    assert(asofRows(AsOf.asofJoin(l, r, "k", "lts", "rts")) == expect)
    SharedSpark.withConf(Budget, "1") {
      assert(AsOf.splitsByTime(l, r))
      assert(asofRows(AsOf.asofJoin(l, r, "k", "lts", "rts")) == expect)
    }
  }

  test("asofJoin null semantics are the same on both sides of the size budget") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(100L), 1L), (None, Some(100L), 2L),
      (Some(1L), None, 3L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(50L), 10L), (Some(1L), None, 11L),
      (None, Some(10L), 12L)).toDF("k", "rts", "rid")
    def run() = AsOf.asofJoin(l, r, "k", "lts", "rts")
      .select(col("lid"), col("asof.rid").as("rid")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    val expect = Map(1L -> Some(10L), 2L -> None, 3L -> None)
    assert(!AsOf.splitsByTime(l, r))
    assert(run() == expect)
    SharedSpark.withConf(Budget, "1") {
      assert(AsOf.splitsByTime(l, r))
      assert(run() == expect)
    }
  }

  test("asofJoin: an input built from an RDD has no size estimate and splits") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq("k", "lts", "lid").map(StructField(_, LongType)))
    val lefts = Seq((1L, 100L, 1L), (1L, 20L, 2L), (2L, 5L, 3L))
    val l = spark.createDataFrame(
      spark.sparkContext.parallelize(lefts.map { case (a, b, c) => Row(a, b, c) }, 2),
      schema)
    val rights = Seq((1L, 50L, 10L), (1L, 10L, 11L), (2L, 9L, 12L))
    val r = rights.toDF("k", "rts", "rid")
    assert(AsOf.splitsByTime(l, r))
    assert(asofRows(AsOf.asofJoin(l, r, "k", "lts", "rts")) == naive(lefts, rights))
  }
}
