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
    for (name <- Seq("_b", "_cin")) {
      val l3 = Seq((1L, 1L, 1L)).toDF("k", "lts", name)
      intercept[IllegalArgumentException] {
        AsOf.asofJoin(l3, r, "k", "lts", "rts")
      }
    }
    // no path of the operator uses `_in`: an input may carry it
    val l4 = Seq((1L, 1L, 1L)).toDF("k", "lts", "_in")
    assert(AsOf.asofJoin(l4, r, "k", "lts", "rts").select(col("_in"), col("asof.rid"))
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq == Seq((1L, 1L)))
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

  private val Budget = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `f` of `asofJoin(l, r)` at the default budget (one per-key window)
    * and at a 1-byte budget (split by time), each path asserted. */
  private def bothPaths[T](l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame)(f: org.apache.spark.sql.DataFrame => T): (T, T) = {
    assert(!AsOf.splitsByTime(l, r))
    val plain = f(AsOf.asofJoin(l, r, "k", "lts", "rts"))
    val split = SharedSpark.withConf(Budget, "1") {
      assert(AsOf.splitsByTime(l, r))
      f(AsOf.asofJoin(l, r, "k", "lts", "rts"))
    }
    (plain, split)
  }

  test("bucketed == plain asofJoin on a randomized corpus with one MEGA-key") {
    import spark.implicits._
    val W = AsOf.CellWidth
    val rnd = new scala.util.Random(47)
    // key 0 is the mega-key: it owns ~70% of all rows and spans every
    // cell — the exact skew shape the split exists for. Drawn over
    // [0, 1000) and scaled by W / w, so the split's W-wide cells cut the
    // rows where w-wide cells cut the unscaled ones: w = 100 gives ~10
    // cells, with plenty of left rows in cells that hold no right row of
    // their key (the carry-in path); w = 5000 keeps every key in one cell.
    def key() = if (rnd.nextInt(10) < 7) 0L else 1L + rnd.nextInt(5)
    val lefts0 = Seq.fill(600)((key(), rnd.nextInt(1000).toLong, rnd.nextLong()))
    val rights0 = Seq.fill(80)((key(), rnd.nextInt(1000).toLong)).distinct
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("lts"), col("lid"),
        col("asof.rid").as("rid"), col("asof.rts").as("rts"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) None else Some(row.getLong(3)),
        if (row.isNullAt(4)) None else Some(row.getLong(4))))
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq
    for (w <- Seq(1L, 8L, 100L, 5000L)) {
      val scale = W / w
      assert(scale * w == W) // the largest ts, 999 * W, still fits a long
      val lefts = lefts0.map { case (k, t, id) => (k, t * scale, id) }
      val rights = rights0.map { case (k, t) => (k, t * scale, k * 100000 + t) }
      val l = lefts.toDF("k", "lts", "lid").repartition(7)
      val r = rights.toDF("k", "rts", "rid").repartition(5)
      val (plain, split) = bothPaths(l, r)(norm)
      assert(split == plain, s"w=$w diverged")
      val cellsPerKey = (lefts.map(x => x._1 -> x._2) ++ rights.map(x => x._1 -> x._2))
        .groupBy(_._1).values.map(_.map(_._2 / W).distinct.size)
      // a left row matched to a right row of an earlier cell took the carry-in
      val carried = plain.exists { case (_, lts, _, _, rts) => rts.exists(_ / W < lts / W) }
      if (w < 1000) {
        assert(cellsPerKey.max >= 2, s"w=$w: no key spans two cells")
        assert(carried, s"w=$w: no match crosses a cell edge")
      } else assert(cellsPerKey.max == 1 && !carried, s"w=$w: expected one cell per key")
    }
  }

  test("bucketed: null semantics, inclusive bound, and timestamp ts match plain") {
    import spark.implicits._
    def rids(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      bothPaths(l, r)(_.select(col("lid"), col("asof.rid").as("rid")).collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap)
    // integral ts scaled so a cell spans 50 of the listed units
    val s = AsOf.CellWidth / 50
    val l = Seq((Some(1L), Some(100L * s), 1L), (None, Some(100L * s), 2L),
      (Some(1L), None, 3L), (Some(1L), Some(99L * s), 4L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(100L * s), 10L), (Some(1L), None, 11L),
      (None, Some(10L * s), 12L), (Some(1L), Some(40L * s), 13L)).toDF("k", "rts", "rid")
    val (plain, split) = rids(l, r)
    // equal-ts inclusive (1 -> 10), carry-in across a cell edge (4 -> 13,
    // right row in cell 0, left in cell 1), nulls unmatched
    assert(split == Map(1L -> Some(10L), 2L -> None, 3L -> None, 4L -> Some(13L)))
    assert(plain == split)

    // timestamp-typed ts: cells are UTC days of unix_micros. Offsets are in
    // 1/60 day, so a cell spans 60 of them
    val day0 = 20454L * 86400000L // 2026-01-01T00:00Z in epoch ms, a cell edge
    def at(u: Int) = new java.sql.Timestamp(day0 + u * 1440000L)
    val lt = Seq((1L, at(100), 1L), (1L, at(30), 2L)).toDF("k", "lts", "lid")
    val rt = Seq((1L, at(50), 10L), (1L, at(10), 11L)).toDF("k", "rts", "rid")
    val (plainTs, splitTs) = rids(lt, rt)
    // 1 (cell 1) matches 10 (cell 0) by carry-in; 2 matches 11 in-cell
    assert(splitTs == Map(1L -> Some(10L), 2L -> Some(11L)))
    assert(plainTs == splitTs)
  }

  test("bucketed: every window over the raw stream partitions by (key, bucket)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    val plan = SharedSpark.withConf(Budget, "1") {
      assert(AsOf.splitsByTime(l, r))
      AsOf.asofJoin(l, r, "k", "lts", "rts").queryExecution.optimizedPlan
    }
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty)
      // a window whose expressions touch the raw right payload (_r) must be
      // partitioned by BOTH key and cell — the mega-key defense; the
      // key-only window is allowed solely over the cell summaries (_cin)
      val touchesRaw = w.windowExpressions.exists(_.collect {
        case a: AttributeReference if a.name == "_r" => a
      }.nonEmpty)
      if (touchesRaw)
        assert(w.partitionSpec.size >= 2,
          s"raw-stream window is not cell-partitioned: $w")
    }
  }

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
    // the unscaled corpus of the mega-key test above (seed 47)
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

  test("equal-ts right rows: the greatest right row is the match, on both paths") {
    import spark.implicits._
    // few distinct ts per key, so most (key, ts) hold several right rows,
    // also at the close of a cell (the split's closing state settles the
    // same tie). Offsets are in 1/10 cell, so keys span ~5 cells.
    val s = AsOf.CellWidth / 10
    val rnd = new scala.util.Random(53)
    val lefts = Seq.fill(300)((rnd.nextInt(4).toLong, rnd.nextInt(50).toLong * s,
      rnd.nextLong()))
    val rights = Seq.fill(400)((rnd.nextInt(4).toLong, rnd.nextInt(25).toLong * 2 * s,
      rnd.nextInt(1000000).toLong))
    assert(rights.groupBy(r => (r._1, r._2)).values.count(_.size > 1) > 20)
    val byKey = rights.groupBy(_._1)
    val expect = lefts.map { case (k, lt, lid) =>
      (k, lt, lid, byKey.getOrElse(k, Nil).filter(_._2 <= lt)
        .maxByOption(r => (r._2, r._3)).map(_._3))
    }.sortBy(t => (t._1, t._2, t._3))
    // greatest rid first: a window that kept arrival order among equal-ts
    // rows would carry a smaller one
    val r = rights.sortBy(-_._3).toDF("k", "rts", "rid")
    val l = lefts.toDF("k", "lts", "lid").repartition(3)
    val (plain, split) = bothPaths(l, r)(asofRows)
    assert(plain == expect)
    assert(split == expect)
  }

  test("a right row Spark cannot order (a map column) joins on both paths") {
    import spark.implicits._
    // unique per (key, ts): the precondition that stays for such rows
    val lefts = Seq((1L, 100L, 1L), (1L, 20L, 2L), (2L, 5L, 3L), (2L, 60L, 4L))
    val rights = Seq((1L, 50L, 10L), (1L, 10L, 11L), (2L, 9L, 12L), (2L, 60L, 13L))
    val l = lefts.toDF("k", "lts", "lid")
    val r = rights.map { case (k, t, id) => (k, t, id, Map("id" -> id)) }
      .toDF("k", "rts", "rid", "m")
    val (plain, split) = bothPaths(l, r)(df => asofRows(df) -> df
      .select(col("lid"), col("asof.m").getItem("id")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap)
    val expect = naive(lefts, rights)
    assert(plain._1 == expect && split._1 == expect)
    assert(plain._2 == expect.map(t => t._3 -> t._4).toMap)
    assert(split._2 == plain._2)
  }
}
