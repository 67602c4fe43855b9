package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** As-of join — for every left row, the LATEST right row of the same key
  * with `right.ts <= left.ts` (inclusive) — an operator Spark lacks as a
  * built-in (DuckDB: `ASOF JOIN`, used verbatim as the q56 oracle).
  *
  * Spark-first shape: NOT a per-left-row subquery and NOT a range cross
  * join — tag the two inputs, union, and carry a per-key running
  * `last(right_payload, ignoreNulls)` over (key ORDER BY ts, tag) with
  * right rows sorted BEFORE left rows at equal timestamps (that one sort
  * bit IS the inclusive bound). One shuffle on the key, per-key windows
  * (bounded, partitioned — never a global window), linear in
  * |left| + |right|.
  *
  * Precondition for deterministic output: the right side must be unique
  * per (key, ts) — pre-aggregate ties (e.g. keep max id) or the carried
  * match among equal-ts right rows is plan-dependent. Left-outer
  * semantics: left rows with no prior right row get a null match struct.
  *
  * Cells are chosen from the size of the inputs ([[asofJoin]] is the one
  * entry point). A hot key concentrates ONE user's history in a task, so
  * large inputs take [[asofJoinBucketed]], which bounds every task by
  * (key, time-bucket) via the GapAudit two-phase pattern: join within the
  * bucket, fix boundaries with the previous bucket's closing state. Inputs
  * that together fit the partition size AQE aims for
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) take the single
  * per-key window: the split exists so no key can make one task much larger
  * than the others, and when the WHOLE input fits one ordinary partition no
  * key can — the split's second phase (closing aggregate, left-bucket
  * distinct, carry window) would only add jobs to the critical path.
  */
object AsOf {

  /** Auto-size [[asofJoinBucketed]]'s `bucketWidth` from measured per-key
    * density — the Dedup.ngramStrategyFor discipline (decide physical
    * parameters from bounded stats, not folklore). Any width is CORRECT;
    * this picks one that bounds the densest (key, bucket) cell near
    * `targetRowsPerCell` rows:
    *
    *  - per-key (rows, min ts, max ts) via partial-agg groupBy, then the
    *    `topKeys` DENSEST keys by row count (TakeOrdered — bounded on the
    *    driver by construction). Top-by-count, not a random key sample: the
    *    mega-key IS the tail this operator defends against, and a uniform
    *    sample of keys would miss it.
    *  - densest rows-per-time-unit over keys whose span is positive (a key
    *    whose every row shares one timestamp lands in one cell at ANY
    *    width — no width defends it, so it casts no vote);
    *  - width = targetRowsPerCell / maxDensity, clamped to [1, span of the
    *    densest key] so buckets neither degenerate to per-row cells nor
    *    exceed the history they're splitting.
    *
    * Returns `default` when the right side is empty or zero-span. Units
    * match [[asofJoinBucketed]]: microseconds for timestamp columns, the
    * column's own units for integral columns. Cost: one partial-agg
    * aggregation job over the right side — run it once per table shape,
    * not per query, if the extra action matters. */
  def autoBucketWidth(right: DataFrame, key: String, rightTs: String,
      targetRowsPerCell: Long = 65536, topKeys: Int = 64,
      default: Long = 86400L * 1000000L): Long = {
    require(targetRowsPerCell >= 1, "targetRowsPerCell must be >= 1")
    require(topKeys >= 1, "topKeys must be >= 1")
    val tsCol = tsUnits(col(rightTs), right.schema(rightTs).dataType, "autoBucketWidth")
    val stats = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as("_k"), tsCol.as("_t"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), min(col("_t")).as("_lo"),
        max(col("_t")).as("_hi"))
      .orderBy(desc("_n"), asc("_k"))
      .limit(topKeys)
      .select(col("_n"), col("_lo"), col("_hi"))
      .collect()
    var bestDensity = 0.0
    var bestSpan = 0L
    for (r <- stats) {
      val span = r.getLong(2) - r.getLong(1)
      if (span > 0L) {
        val d = r.getLong(0).toDouble / span
        if (d > bestDensity) { bestDensity = d; bestSpan = span }
      }
    }
    if (bestDensity <= 0.0) default
    else math.max(1L,
      math.min(bestSpan, (targetRowsPerCell / bestDensity).toLong))
  }

  /** Column names the operator uses while it runs, on either path. An
    * input carrying one (or a left input carrying the output column
    * `asof`) is rejected by every entry point, so whether a call is
    * accepted never depends on which path its input size picks. */
  private val Reserved = Seq("_k", "_t", "_tag", "_r", "_l", "_b", "_vb", "_in", "_cin")

  /** Rejects reserved column names and ts columns the time split cannot
    * bucket (see [[Reserved]]). */
  private def checkInputs(op: String, left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String): Unit = {
    val clash = (left.columns ++ right.columns).filter(Reserved.contains) ++
      left.columns.filter(_ == "asof")
    require(clash.isEmpty,
      s"$op reserves column names ${Reserved.mkString(", ")} and the " +
        s"output column 'asof'; input carries ${clash.mkString(", ")}")
    tsUnits(col(leftTs), left.schema(leftTs).dataType, op)
    tsUnits(col(rightTs), right.schema(rightTs).dataType, op)
  }

  /** A ts column `c` of type `dt` as a long: microseconds for timestamp
    * and date columns, the column's own units for integral ones. */
  private def tsUnits(c: Column, dt: DataType, op: String): Column = dt match {
    case TimestampType | TimestampNTZType | DateType =>
      unix_micros(c.cast("timestamp"))
    case LongType | IntegerType | ShortType | ByteType =>
      c.cast("long")
    case other => throw new IllegalArgumentException(
      s"$op needs a timestamp or integral ts column, got $other")
  }

  /** Whether [[asofJoin]] splits by time: true when the optimizer's size
    * estimates of the two inputs sum to more than
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. Read on the driver
    * from plan statistics, once per input; starts no job. An input built
    * from an RDD has no estimate, and Spark reports it as
    * `spark.sql.defaultSizeInBytes`, so it splits. */
  private[operators] def splitsByTime(left: DataFrame, right: DataFrame): Boolean = {
    val budget = left.sparkSession.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    estimate(left) + estimate(right) > BigInt(budget)
  }

  /** `left` as-of `right` on key/ts columns; returns every left column
    * plus a nullable `asof` struct holding the matched right row.
    *
    * NULL semantics follow SQL ASOF (the DuckDB oracle): a NULL key or
    * NULL ts never matches — right rows with either are dropped up front
    * (they could otherwise be carried as a bogus "earliest ever" match),
    * left rows with either survive with a null `asof` struct.
    *
    * Runs one per-key union-window when the inputs together fit the
    * partition size AQE aims for, and [[asofJoinBucketed]] with 1-day
    * cells otherwise ([[splitsByTime]]; the object doc says why that is
    * safe). Both give the same rows. The ts columns must be timestamp,
    * date or integral, as the time split needs. */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    checkInputs("asofJoin", left, right, leftTs, rightTs)
    if (splitsByTime(left, right)) asofJoinBucketed(left, right, key, leftTs, rightTs)
    else perKeyWindow(left, right, key, leftTs, rightTs)
  }

  /** The single-window body of [[asofJoin]]: one shuffle on the key, and
    * a key's whole history in one window partition. */
  private def perKeyWindow(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val rPayload = struct(right.columns.map(col).toIndexedSeq: _*)
    val lPayload = struct(left.columns.map(col).toIndexedSeq: _*)
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(
        col(key).as("_k"), col(rightTs).as("_t"),
        lit(0).as("_tag"), rPayload.as("_r"))
    val rType = r.schema("_r").dataType
    val l = left.select(
      col(key).as("_k"), col(leftTs).as("_t"),
      lit(1).as("_tag"), lit(null).cast(rType).as("_r"), lPayload.as("_l"))
    val all = r.withColumn("_l",
      lit(null).cast(l.schema("_l").dataType)).unionByName(l)
    // right (tag 0) sorts before left (tag 1) at equal ts -> inclusive bound
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn("asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col("_l.*"), col("asof"))
  }

  /** Time-bucketed as-of join — the split side of [[asofJoin]], which
    * calls it with the default width above its size budget; call it
    * directly to force the split or pick the width. Identical contract and
    * output, but NO per-key window ever sees the raw row stream, so a
    * mega-key (one user owning a measurable fraction of all events — the
    * 100 TB skew case) is bounded by its densest (key, bucket) cell instead
    * of its entire history in one task.
    *
    * Two phases (the GapAudit boundary-fixup pattern):
    *  1. per (key, bucket): the bucket's CLOSING right payload
    *     (`max_by(payload, ts)`), then a per-key running `last` over the
    *     bucket SUMMARIES (≤ #buckets rows per key, never row-scaled) gives
    *     each left bucket its carry-in state — the latest closing state of
    *     any strictly earlier bucket;
    *  2. the in-bucket as-of runs the per-key union-window partitioned
    *     by (key, bucket); rows with no in-bucket match fall back to the
    *     carry-in, joined on the same (key, bucket) hash partitioning the
    *     window already established (no extra exchange for the big side).
    *
    * `bucketWidth` is in MICROSECONDS for timestamp `ts` columns, in the
    * column's own units for integral `ts` columns. Bucketing uses exact
    * integral division (RangeJoin.idiv) — `/` on longs is double division
    * and mis-rounds beyond 2^53. Width tuning trades the number of bucket
    * summaries (small width) against in-bucket task size (large width); any
    * width is correct. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      bucketWidth: Long = 86400L * 1000000L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    checkInputs("asofJoinBucketed", left, right, leftTs, rightTs)
    def bucketOf(c: Column, dt: DataType): Column =
      RangeJoin.idiv(tsUnits(c, dt, "asofJoinBucketed"), bucketWidth)

    val rPayload = struct(right.columns.map(col).toIndexedSeq: _*)
    val lPayload = struct(left.columns.map(col).toIndexedSeq: _*)
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as("_k"), col(rightTs).as("_t"),
        lit(0).as("_tag"), rPayload.as("_r"))
      .withColumn("_b", bucketOf(col("_t"), right.schema(rightTs).dataType))
    val rType = r.schema("_r").dataType

    // SQL ASOF null semantics: a left row with a null key or ts can never
    // match — route it around both phases straight to a null `asof`
    val lNull = left.filter(col(key).isNull || col(leftTs).isNull)
      .select(lPayload.as("_l"))
    val lOk = left.filter(col(key).isNotNull && col(leftTs).isNotNull)
      .select(col(key).as("_k"), col(leftTs).as("_t"),
        lit(1).as("_tag"), lit(null).cast(rType).as("_r"), lPayload.as("_l"))
      .withColumn("_b", bucketOf(col("_t"), left.schema(leftTs).dataType))
    val lType = lOk.schema("_l").dataType

    // phase 1: closing state per (key, right-bucket), then carry-in per
    // (key, left-bucket) = last closing state of any STRICTLY earlier
    // bucket. A closing row becomes visible at bucket c+1 (sort tag 0 at
    // equal visibility, so it is admitted); the window runs over bucket
    // summaries only — per-key cardinality is #buckets, not #rows.
    val closing = r.groupBy(col("_k"), col("_b"))
      .agg(max_by(col("_r"), col("_t")).as("_cin"))
    val leftBuckets = lOk.select(col("_k"), col("_b")).distinct()
    val carrySrc = closing
      .select(col("_k"), (col("_b") + 1).as("_vb"), lit(0).as("_tag"), col("_cin"))
      .unionByName(leftBuckets.select(col("_k"), col("_b").as("_vb"),
        lit(1).as("_tag"), lit(null).cast(rType).as("_cin")))
    val wCarry = Window.partitionBy(col("_k")).orderBy(col("_vb"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = carrySrc
      .withColumn("_cin", last(col("_cin"), ignoreNulls = true).over(wCarry))
      .filter(col("_tag") === 1)
      .select(col("_k"), col("_vb").as("_b"), col("_cin"))

    // phase 2: the asofJoin union-window, partitioned by (key, bucket) —
    // the raw row stream is never windowed per key alone. The carry-in is
    // INJECTED as one pseudo-right row per (key, left-bucket) with a NULL
    // timestamp (asc_nulls_first sorts it before every real row of the
    // bucket), so the big side costs exactly ONE shuffle + window — no
    // join after the window. Real null-ts rows can't collide: null-ts
    // right rows are dropped and null-ts left rows bypass via lNull.
    val tsType = lOk.schema("_t").dataType
    val carryRows = carry.filter(col("_cin").isNotNull)
      .select(col("_k"), lit(null).cast(tsType).as("_t"),
        lit(-1).as("_tag"), col("_cin").as("_r"),
        lit(null).cast(lType).as("_l"), col("_b"))
    val all = r.withColumn("_l", lit(null).cast(lType))
      .unionByName(lOk)
      .unionByName(carryRows)
    val wIn = Window.partitionBy(col("_k"), col("_b"))
      .orderBy(col("_t").asc_nulls_first, col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = all
      .withColumn("asof", last(col("_r"), ignoreNulls = true).over(wIn))
      .filter(col("_tag") === 1)
      .select(col("_l"), col("asof"))

    matched
      .unionByName(lNull.withColumn("asof", lit(null).cast(rType)))
      .select(col("_l.*"), col("asof"))
  }
}
