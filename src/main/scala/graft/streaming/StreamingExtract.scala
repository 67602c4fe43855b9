package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core._
import graft.pipeline.ExtractPipeline

/** Per-conversation reassembly state: arrival-order (turn_idx, clean_text)
  * pairs + max event time seen. The state IS the conversation — the
  * aggregate-tier trade-off (see plans.OrderedConcat); use the streaming
  * form for live tails and the batch two-phase `conversationText` for
  * closed corpora. */
final case class ConvBuffer(keys: Seq[Int], texts: Seq[String], maxTs: Long)

/** Emitted assembled conversation (same shape as batch conversationText). */
final case class ConvAssembly(conv_id: String, prose_turns: Long,
    conversation_text: String, n_chars: Int)

/** Structured Streaming face of the extractor.
  *
  * The reference is a resumable batch pipeline with NO streaming (SURVEY
  * §2.9) — this is additive capability, not a port: a transcript turn
  * stream (`readStream` on the same input_hint schema) flows through the
  * batch extraction itself — `ExtractPipeline.modules` / `errors` over
  * `ExtractPipeline.extract(stream, ctx)`, stateless per turn, so it is
  * trivially streamable — plus a watermarked per-conversation windowed
  * aggregate for the metrics channel. Resume in streaming mode is the
  * engine's checkpointing (`checkpointLocation`), the streaming twin of the
  * batch manifest (ResumableExtract).
  */
object StreamingExtract {

  /** Streaming first-wins entity dedup — the stateful-streaming twin of the
    * reference's `add_register` (insert iff key absent,
    * /root/reference/src/annuary/annuary_data.py:91-96) and of the batch
    * `dedupEntities`: per num_id, the first micro-batch to carry the key
    * emits exactly one register (ties WITHIN a batch resolved by the same
    * salvage-aware total order as batch dedup, so a real register beats a
    * salvaged minimal one arriving together); every later arrival is
    * dropped. `flatMapGroupsWithState` with a one-boolean state per key —
    * the custom-state primitive the engine uses where windowed aggregation
    * can't express "keep the first forever". State is one boolean per
    * distinct entity id (≤ 9850 here); for unbounded key spaces, bound it
    * with a GroupStateTimeout appropriate to the source's replay horizon. */
  def firstWinsEntityStream(entities: Dataset[EntityRegister]): Dataset[EntityRegister] = {
    val spark = entities.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    entities.groupByKey(_.num_id)
      .flatMapGroupsWithState[Boolean, EntityRegister](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[EntityRegister], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.reduceOption((a, b) =>
              if (ExtractPipeline.lt(a, b)) a else b).iterator
          }
      }
  }

  /** Streaming already-read skip — the J4 resume prune for at-least-once
    * sources: a (conv_id, turn_idx) pair passes the FIRST time it is seen,
    * replays are dropped, making downstream extraction exactly-once per
    * turn. Keyed per turn (one boolean of state each) so a
    * mega-conversation never concentrates state on one key.
    *
    * The turn key space is corpus-sized, so state MUST be bounded for a
    * long-running stream: pass `replayHorizon` (e.g. "1 hour") matching the
    * source's maximum replay window and each key's state is dropped after
    * that much processing time — replays beyond the horizon would then pass
    * again, which is exactly the at-least-once contract the horizon
    * encodes. None keeps state forever (small/bounded corpora only). */
  def dedupTurnsStream(turns: Dataset[Turn],
      replayHorizon: Option[String] = None): Dataset[Turn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (replayHorizon.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    turns.groupByKey(t => (t.conv_id, t.turn_idx))
      .flatMapGroupsWithState[Boolean, Turn](OutputMode.Append, timeoutConf) {
        (_: (String, Int), rows: Iterator[Turn], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed: forget the key
            Iterator.empty
          } else if (state.exists) {
            // GroupState clears the stored timeout on every invocation that
            // does not re-arm it — replays MUST re-set the duration or the
            // replayed keys (the common case) would leak state forever
            replayHorizon.foreach(state.setTimeoutDuration)
            Iterator.empty
          } else {
            state.update(true)
            replayHorizon.foreach(state.setTimeoutDuration)
            if (rows.hasNext) Iterator.single(rows.next()) else Iterator.empty
          }
      }
  }

  /** Streaming ordered conversation reassembly — the event-time twin of
    * batch q29/q52: per conversation, buffer the clean turn texts as they
    * arrive (any order), and emit the `turn_idx`-ordered concatenation once
    * the event-time watermark passes the conversation's last activity plus
    * `quietGapMs` (the "conversation closed" signal — the temporal analog of
    * q48's session gap). Late turns within `lateness` reorder correctly
    * because ordering happens at emission, not arrival.
    *
    * Replayed turns must be deduplicated upstream (`dedupTurnsStream`) —
    * this operator buffers every arrival. State per key is the whole
    * conversation (documented aggregate-tier trade-off above). */
  def conversationStream(turns: Dataset[Turn], ctx: ModuleParser.Context,
      lateness: String = "10 minutes",
      quietGapMs: Long = 30L * 60 * 1000): Dataset[ConvAssembly] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // A quiet gap shorter than the watermark delay would let a group time out
    // and emit while late turns inside `lateness` are still admissible — the
    // same conversation would then re-open and emit a SECOND partial row.
    // Enforce the invariant instead of documenting it.
    val latenessMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(lateness))
      require(iv.months == 0, s"lateness '$lateness' must be a day-time interval")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    require(quietGapMs >= latenessMs,
      s"quietGapMs ($quietGapMs ms) must be >= watermark lateness '$lateness' " +
        s"($latenessMs ms), or closed conversations can re-open and double-emit")
    val bc = spark.sparkContext.broadcast(ctx)
    val clean = turns
      .select(col("conv_id"), col("turn_idx"), col("text"), col("ts"))
      .as[(String, Int, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val c = bc.value
        val scratch = new Tokenizer.Scratch
        it.flatMap { case (conv, idx, text, ts) =>
          val ct = Extractor.extract(conv, idx, text, c, scratch).clean
          if (ct.clean_text.nonEmpty) Iterator.single((conv, idx, ct.clean_text, ts))
          else Iterator.empty
        }
      }
      .toDF("conv_id", "turn_idx", "clean_text", "ts")
      .withWatermark("ts", lateness)
    clean.as[(String, Int, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ConvBuffer, ConvAssembly](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (conv: String, rows: Iterator[(String, Int, String, java.sql.Timestamp)],
         state: GroupState[ConvBuffer]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            // stable sort on turn_idx: ordering decided at emission
            val ordered = st.keys.zip(st.texts).sortBy(_._1)
            val text = ordered.iterator.map(_._2).mkString("\n\n")
            // code POINTS, matching batch length()/the DuckDB oracle —
            // String.length would count UTF-16 units (diverges on non-BMP)
            Iterator.single(ConvAssembly(conv, ordered.size.toLong, text,
              text.codePointCount(0, text.length)))
          } else {
            val st0 = state.getOption.getOrElse(ConvBuffer(Vector.empty, Vector.empty, 0L))
            // batch-local buffers, ONE concat per invocation — per-row :+ on
            // the decoded state Seq would copy the whole buffer per turn
            val newKeys = scala.collection.mutable.ArrayBuffer.empty[Int]
            val newTexts = scala.collection.mutable.ArrayBuffer.empty[String]
            var maxTs = st0.maxTs
            rows.foreach { r =>
              newKeys += r._2
              newTexts += r._3
              maxTs = math.max(maxTs, r._4.getTime)
            }
            state.update(ConvBuffer(st0.keys ++ newKeys, st0.texts ++ newTexts, maxTs))
            // close when the watermark passes last activity + quiet gap;
            // the timestamp must sit strictly above the current watermark
            state.setTimeoutTimestamp(
              math.max(maxTs + quietGapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

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

  /** Watermarked per-conversation tumbling-window metrics: modules extracted
    * per conversation per minute of event time, tolerating `lateness` of
    * out-of-order turns — the streaming form of the metrics table (X1). */
  def windowedMetrics(
      turns: Dataset[Turn], ctx: ModuleParser.Context,
      lateness: String = "2 minutes", window: String = "1 minute"): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ctx)
    val perTurn = turns
      .select(col("conv_id"), col("turn_idx"), col("text"), col("ts"))
      .as[(String, Int, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (conv, idx, text, ts) =>
          val ex = Extractor.extract(conv, idx, text, c)
          (conv, ts, ex.modules.size.toLong, ex.errors.size.toLong)
        }
      }
      .toDF("conv_id", "ts", "n_modules", "n_errors")
    perTurn
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("conv_id"))
      .agg(sum("n_modules").as("modules"), sum("n_errors").as("errors"),
        count(lit(1)).as("turns"))
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
