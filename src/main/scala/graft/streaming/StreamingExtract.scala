package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming face of the engine: the streaming twin of
  * operators/RangeJoin.
  *
  * The reference is a resumable batch pipeline with NO streaming (SURVEY
  * §2.9); this is additive capability, not a port. Extraction needs no
  * operator here: a transcript turn stream (`readStream` on the same
  * input_hint schema) runs through the batch path itself,
  * `ExtractPipeline.modules` / `errors` over `ExtractPipeline.extract`,
  * which is stateless per turn. Resume in streaming mode is the engine's
  * checkpointing (`checkpointLocation`), the streaming twin of the batch
  * manifest (ResumableExtract).
  */
object StreamingExtract {

  /** Streaming point-in-interval join — the Structured Streaming twin of
    * operators/RangeJoin: every (point, interval) pair of equal `key` with
    * `start <= pointTs < end` (half-open), emitted in the micro-batch that
    * brings the pair's second row. Output: the point columns, then the
    * interval columns without `key`. Differential-checked against batch
    * RangeJoin and against Spark's stream-stream join in
    * StreamingExtractSpec and IntervalJoinStreamSpec.
    *
    * ONE stateful operator: the two sides share one row layout (key,
    * watermarked event time, start/end micros, one payload struct per side),
    * are unioned, and meet in a single `flatMapGroupsWithState` keyed by
    * `key`, so each shuffle partition has one state store. (Spark's
    * stream-stream join keeps four per partition, two per side, and paid a
    * state-store commit for each on every micro-batch.) A key's state holds
    * its open intervals and its recent points; each arriving row is matched
    * against them and against the rows before it in its micro-batch, so
    * every pair is emitted exactly once.
    *
    * Watermark contract: `delay` applies to `pointTs` and to `startCol`.
    * Each side is watermarked before the union, so the query's watermark
    * is the minimum of the two. A row at or behind the watermark is dropped
    * as late and counted in the operator's `numRowsDroppedByWatermark`. An
    * interval leaves the state once its end is at or before the watermark,
    * a point once its time is: no on-time row can match either any more.
    * A key's event-time timeout is set to its earliest such eviction, so it
    * fires only when some state can go.
    *
    * Rows whose key, point time, start or end is null match nothing and are
    * dropped before the union, as are empty intervals (`end <= start`).
    *
    * `maxIntervalLen` (e.g. "1 hour") must be >= every interval's
    * end - start: it is the caller's bound on how long an interval stays in
    * the state, and an overlong interval row FAILS THE QUERY via
    * raise_error instead of being accepted silently.
    *
    * The state layout is not that of the stream-stream join this operator
    * replaced: a query checkpointed on that form must restart from a fresh
    * checkpoint. */
  def intervalJoinStream(
      points: DataFrame, pointTs: String,
      intervals: DataFrame, startCol: String, endCol: String,
      key: String, delay: String, maxIntervalLen: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types._
    def payload(df: DataFrame) = struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val guarded = intervals
      .withColumn("_len_ok",
        when(col(endCol) > col(startCol) + expr(s"INTERVAL $maxIntervalLen"),
          raise_error(concat(
            lit(s"intervalJoinStream: interval longer than maxIntervalLen " +
              s"($maxIntervalLen) at $startCol="), col(startCol).cast("string")))
            .cast("boolean"))
          .otherwise(lit(true)))
      .filter(col("_len_ok")).drop("_len_ok")
    // the filters sit above the watermarks, so every row still feeds its
    // side's event-time statistics, exactly as in a stream-stream join
    val p = points
      .select(col(key).as("_k"), col(pointTs).as("_t"),
        unix_micros(col(pointTs)).as("_s"), lit(null).cast(LongType).as("_e"),
        payload(points).as("_p"))
      .withWatermark("_t", delay)
      .filter(col("_k").isNotNull && col("_t").isNotNull)
    val i = guarded
      .select(col(key).as("_k"), col(startCol).as("_t"),
        unix_micros(col(startCol)).as("_s"), unix_micros(col(endCol)).as("_e"),
        payload(guarded.drop(key)).as("_i"))
      .withWatermark("_t", delay)
      .filter(col("_k").isNotNull && col("_t").isNotNull && col("_e") > col("_s"))
    val tagged = p.unionByName(i, allowMissingColumns = true)
    val pType = tagged.schema("_p").dataType.asInstanceOf[StructType]
    val iType = tagged.schema("_i").dataType.asInstanceOf[StructType]
    val stateType = new StructType()
      .add("intervals", ArrayType(new StructType()
        .add("s", LongType, false).add("e", LongType, false).add("row", iType, false), false), false)
      .add("points", ArrayType(new StructType()
        .add("t", LongType, false).add("row", pType, false), false), false)
    tagged.groupBy(col("_k"))
      .as[Row, Row](Encoders.row(tagged.select("_k").schema), Encoders.row(tagged.schema))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        IntervalJoinState.step)(
        Encoders.row(stateType), Encoders.row(StructType(pType.fields ++ iType.fields)))
  }
}

/** The per-key step of `StreamingExtract.intervalJoinStream`. Input rows
  * are (_k, _t, _s, _e, _p, _i): a point carries its time in `_s` (epoch
  * micros) and its columns in `_p`; an interval carries start and end in
  * `_s`/`_e` and its columns, without the key, in `_i`. The state is
  * (intervals: [(s, e, row)], points: [(t, row)]), times in epoch micros. */
private[streaming] object IntervalJoinState {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.streaming.GroupState
  import scala.collection.mutable.ArrayBuffer

  def step(key: Row, rows: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
    val intervals = ArrayBuffer.empty[(Long, Long, Row)]
    val points = ArrayBuffer.empty[(Long, Row)]
    state.getOption.foreach { st =>
      st.getSeq[Row](0).foreach(r => intervals += ((r.getLong(0), r.getLong(1), r.getStruct(2))))
      st.getSeq[Row](1).foreach(r => points += ((r.getLong(0), r.getStruct(1))))
    }
    // matching before eviction: this micro-batch admitted rows newer than
    // the PREVIOUS batch's watermark, which may still match state that the
    // current watermark is about to evict
    val out = ArrayBuffer.empty[Row]
    rows.foreach { r =>
      val s = r.getLong(2)
      if (!r.isNullAt(4)) {
        val p = r.getStruct(4)
        intervals.foreach { case (is, ie, i) =>
          if (is <= s && s < ie) out += Row.fromSeq(p.toSeq ++ i.toSeq)
        }
        points += ((s, p))
      } else {
        val e = r.getLong(3)
        val i = r.getStruct(5)
        points.foreach { case (t, p) =>
          if (s <= t && t < e) out += Row.fromSeq(p.toSeq ++ i.toSeq)
        }
        intervals += ((s, e, i))
      }
    }
    // rows admitted from the next micro-batch on lie after this watermark:
    // an interval ending at or before it, or a point at or before it, can
    // match none of them
    val wmMs = state.getCurrentWatermarkMs()
    val wm = wmMs * 1000L
    val keptIntervals = intervals.filter(_._2 > wm)
    val keptPoints = points.filter(_._1 > wm)
    if (keptIntervals.isEmpty && keptPoints.isEmpty) state.remove()
    else {
      state.update(Row(keptIntervals.map { case (s, e, i) => Row(s, e, i) }.toSeq,
        keptPoints.map { case (t, p) => Row(t, p) }.toSeq))
      // a timeout fires once the watermark passes it (strictly): wake the
      // key when the watermark reaches its earliest end or point time
      val next = (keptIntervals.iterator.map(_._2) ++ keptPoints.iterator.map(_._1)).min
      state.setTimeoutTimestamp(math.max(Math.floorDiv(next - 1, 1000L), wmMs + 1))
    }
    out.iterator
  }
}
