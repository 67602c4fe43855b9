package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
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
  * Ties: among right rows of one key at the same ts, the match is the
  * greatest right row (whole-row struct order, nulls first), on both
  * paths — so a caller that wants "max id per (key, ts)" passes the raw
  * rows with the id first among the columns whose values can differ, and
  * needs no pre-aggregation. For a right row type Spark cannot order (one
  * holding a map column) the right side must be unique per (key, ts), or
  * the match among equal-ts right rows is plan-dependent. Left-outer
  * semantics: left rows with no prior right row get a null match struct.
  *
  * Cells are chosen from the size of the inputs ([[asofJoin]] is the only
  * entry point). A hot key concentrates ONE user's history in a task, so
  * large inputs split by (key, time cell) via the GapAudit two-phase
  * pattern: join within the cell, fix boundaries with the previous cell's
  * closing state. Inputs that together fit the partition size AQE aims for
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) take the single
  * per-key window: the split exists so no key can make one task much larger
  * than the others, and when the WHOLE input fits one ordinary partition no
  * key can — the split's second phase (closing aggregate, left-cell
  * distinct, carry window) would only add jobs to the critical path.
  */
object AsOf {

  /** Width of the split's time cells in ts units (see [[tsUnits]]): one day
    * for timestamp and date columns, whose units are microseconds, and
    * 86,400,000,000 of their own units for integral columns. */
  private[operators] val CellWidth: Long = 86400L * 1000000L

  /** Column names the operator uses while it runs, on either path. An
    * input carrying one (or a left input carrying the output column
    * `asof`) is rejected at any input size, so whether a call is accepted
    * never depends on which path its input size picks. */
  private val Reserved = Seq("_k", "_t", "_tag", "_r", "_l", "_b", "_vb", "_cin")

  /** Rejects reserved column names and ts columns the time split cannot
    * cut into cells (see [[Reserved]]). */
  private def checkInputs(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String): Unit = {
    val clash = (left.columns ++ right.columns).filter(Reserved.contains) ++
      left.columns.filter(_ == "asof")
    require(clash.isEmpty,
      s"asofJoin reserves column names ${Reserved.mkString(", ")} and the " +
        s"output column 'asof'; input carries ${clash.mkString(", ")}")
    tsUnits(col(leftTs), left.schema(leftTs).dataType)
    tsUnits(col(rightTs), right.schema(rightTs).dataType)
  }

  /** A ts column `c` of type `dt` as a long: microseconds for timestamp
    * and date columns, the column's own units for integral ones. */
  private def tsUnits(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType | DateType =>
      unix_micros(c.cast("timestamp"))
    case LongType | IntegerType | ShortType | ByteType =>
      c.cast("long")
    case other => throw new IllegalArgumentException(
      s"asofJoin needs a timestamp or integral ts column, got $other")
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
    // the analyzed plan exists once the DataFrame does; asking the
    // optimized plan would optimize each input once more than the query
    def estimate(df: DataFrame): BigInt = df.queryExecution.analyzed.stats.sizeInBytes
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
    * partition size AQE aims for, and splits by (key, time cell) otherwise
    * ([[splitsByTime]]; the object doc says why that is safe). Cells are
    * [[CellWidth]] wide: one day for timestamp and date ts columns, and
    * 86,400,000,000 units for integral ones. Both paths give the same rows.
    * The ts columns must be timestamp, date or integral, as the time split
    * needs. */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    checkInputs(left, right, leftTs, rightTs)
    if (splitsByTime(left, right)) splitByTime(left, right, key, leftTs, rightTs)
    else perKeyWindow(left, right, key, leftTs, rightTs)
  }

  /** The two sides in the union-window's row layout: `right` as tag-0 rows
    * (`_k`, `_t`, `_tag`, `_r` = the whole right row), right rows with a
    * null key or ts dropped; `left` as tag-1 rows with a null `_r` and the
    * whole left row as `_l`. */
  private def tagged(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): (DataFrame, DataFrame) = {
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as("_k"), col(rightTs).as("_t"), lit(0).as("_tag"),
        struct(right.columns.map(col).toIndexedSeq: _*).as("_r"))
    val l = left.select(col(key).as("_k"), col(leftTs).as("_t"), lit(1).as("_tag"),
      lit(null).cast(r.schema("_r").dataType).as("_r"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("_l"))
    (r, l)
  }

  /** `_r` itself as the last sort key, when Spark can order the right row
    * type: equal-ts right rows then settle on the greatest row (see the
    * object doc). Empty for a type it cannot order (a map column). */
  private def tieBreak(rows: DataFrame): Seq[Column] =
    if (RowOrdering.isOrderable(rows.schema("_r").dataType)) Seq(col("_r")) else Nil

  /** The union-window both paths run: over `rows` in the [[tagged]]
    * layout, each left row's `asof` is the latest non-null `_r` at or
    * before it within its partition of `cells`. Ordered by (`_t`, `_tag`)
    * and then [[tieBreak]]: right (tag 0) sorts before left (tag 1) at
    * equal ts, which is the inclusive bound, a null `_t` sorts first, and
    * the greatest of equal-ts right rows is carried. Returns the left rows. */
  private def lastRightAtOrBefore(rows: DataFrame, cells: Column*): DataFrame = {
    val w = Window.partitionBy(cells: _*)
      .orderBy(Seq(col("_t"), col("_tag")) ++ tieBreak(rows): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
  }

  /** The single-window body of [[asofJoin]]: one shuffle on the key, and
    * a key's whole history in one window partition. The key column is
    * output as the window's own `_k` (cast back to the left key's type, a
    * no-op the optimizer drops when the types agree), so the window's hash
    * partitioning on it survives: a `groupBy(key)` above needs no
    * exchange. */
  private def perKeyWindow(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val (r, l) = tagged(left, right, key, leftTs, rightTs)
    val all = r.withColumn("_l",
      lit(null).cast(l.schema("_l").dataType)).unionByName(l)
    val keyType = left.schema(key).dataType
    lastRightAtOrBefore(all, col("_k")).select(left.columns.toIndexedSeq.map(c =>
      if (c == key) col("_k").cast(keyType).as(key) else col("_l").getField(c).as(c)) :+
      col("asof"): _*)
  }

  /** The split body of [[asofJoin]]. Identical contract and output, but NO
    * per-key window ever sees the raw row stream, so a mega-key (one user
    * owning a measurable fraction of all events — the 100 TB skew case) is
    * bounded by its densest (key, cell) instead of its entire history in
    * one task.
    *
    * Two phases (the GapAudit boundary-fixup pattern):
    *  1. per (key, cell): the cell's CLOSING right payload
    *     (`max_by(payload, (ts, payload))`, the same tie rule as the
    *     window), then a per-key running `last` over the
    *     cell SUMMARIES (≤ #cells rows per key, never row-scaled) gives
    *     each left cell its carry-in state — the latest closing state of
    *     any strictly earlier cell;
    *  2. the union-window partitioned by (key, cell), with each left
    *     cell's carry-in injected as a pseudo-right row (below).
    *
    * A row's cell is its ts in [[tsUnits]] divided by [[CellWidth]], by
    * exact integral division (RangeJoin.idiv) — `/` on longs is double
    * division and mis-rounds beyond 2^53. */
  private def splitByTime(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    def cellOf(c: Column, dt: DataType): Column =
      RangeJoin.idiv(tsUnits(c, dt), CellWidth)

    // SQL ASOF null semantics: a left row with a null key or ts can never
    // match — route it around both phases straight to a null `asof`
    val lNull = left.filter(col(key).isNull || col(leftTs).isNull)
      .select(struct(left.columns.map(col).toIndexedSeq: _*).as("_l"))
    val (r0, l0) = tagged(left.filter(col(key).isNotNull && col(leftTs).isNotNull),
      right, key, leftTs, rightTs)
    val r = r0.withColumn("_b", cellOf(col("_t"), right.schema(rightTs).dataType))
    val lOk = l0.withColumn("_b", cellOf(col("_t"), left.schema(leftTs).dataType))
    val rType = r.schema("_r").dataType
    val lType = lOk.schema("_l").dataType

    // phase 1: closing state per (key, right-cell), then carry-in per
    // (key, left-cell) = last closing state of any STRICTLY earlier
    // cell. A closing row becomes visible at cell c+1 (sort tag 0 at
    // equal visibility, so it is admitted); the window runs over cell
    // summaries only — per-key cardinality is #cells, not #rows.
    val closing = r.groupBy(col("_k"), col("_b"))
      .agg(max_by(col("_r"), struct(col("_t") +: tieBreak(r): _*)).as("_cin"))
    val leftCells = lOk.select(col("_k"), col("_b")).distinct()
    val carrySrc = closing
      .select(col("_k"), (col("_b") + 1).as("_vb"), lit(0).as("_tag"), col("_cin"))
      .unionByName(leftCells.select(col("_k"), col("_b").as("_vb"),
        lit(1).as("_tag"), lit(null).cast(rType).as("_cin")))
    val wCarry = Window.partitionBy(col("_k")).orderBy(col("_vb"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = carrySrc
      .withColumn("_cin", last(col("_cin"), ignoreNulls = true).over(wCarry))
      .filter(col("_tag") === 1)
      .select(col("_k"), col("_vb").as("_b"), col("_cin"))

    // phase 2: the union-window partitioned by (key, cell) — the raw row
    // stream is never windowed per key alone. The carry-in is INJECTED as
    // one pseudo-right row per (key, left-cell) with a NULL timestamp
    // (sorted before every real row of the cell), so the big side costs
    // exactly ONE shuffle + window — no join after the window. Real
    // null-ts rows can't collide: null-ts right rows are dropped and
    // null-ts left rows bypass via lNull.
    val carryRows = carry.filter(col("_cin").isNotNull)
      .select(col("_k"), lit(null).cast(lOk.schema("_t").dataType).as("_t"),
        lit(-1).as("_tag"), col("_cin").as("_r"),
        lit(null).cast(lType).as("_l"), col("_b"))
    val all = r.withColumn("_l", lit(null).cast(lType))
      .unionByName(lOk)
      .unionByName(carryRows)
    lastRightAtOrBefore(all, col("_k"), col("_b"))
      .select(col("_l"), col("asof"))
      .unionByName(lNull.withColumn("asof", lit(null).cast(rType)))
      .select(col("_l.*"), col("asof"))
  }
}
