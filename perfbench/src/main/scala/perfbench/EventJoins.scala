package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.SparkEntry
import graft.streaming.StreamingExtract

/** event_joins: the as-of, funnel and range joins of the query catalog,
  * called by name (primary), then the q58 point-in-interval join again as
  * a stream through `StreamingExtract.intervalJoinStream` (secondary). One
  * user owns ~10% of the events: the hot key of skewed band joins. */
object EventJoins extends Workload {
  val name = "event_joins"
  val primarySpan = "operators.batch_joins"
  val secondarySpan = "streaming.microBatch"

  val Queries = Seq("q56_asof_join", "q63_funnel_asof", "q58_range_join")
  /** 40% of the test data's bench-scale table: 12 of its 30 days. */
  val Events = 40000
  /** Closed loop: the next micro-batch is added only after the previous one
    * has been processed. */
  val MicroBatches = 12
  /** Passes of the three queries a round. A round interleaves them with the
    * stream: after each pass come the next `MicroBatches / QueryPasses`
    * micro-batches. Both figures then sample the whole round, so a slow
    * spell of the machine weighs on both alike. */
  val QueryPasses = 4
  /** State-store partitions of the stream: each is a state-store instance
    * paying a commit per micro-batch, so the stream keeps the few that the
    * repo's own streaming leg settled on. */
  val StreamPartitions = 4

  private var dir: String = _
  private var refs: Map[String, (Digest, Long)] = Map.empty
  private var pointBatches: Seq[Seq[(Long, Timestamp, Long)]] = Nil
  private var intervalBatches: Seq[Seq[(Long, Timestamp, Timestamp, Long)]] = Nil
  private var lastProgress: Seq[StreamingQueryProgress] = Nil
  private var rounds = 0

  /** Split time-ordered rows into `n` consecutive slices. */
  private def slices[A](xs: IndexedSeq[A], n: Int): Seq[Seq[A]] =
    (0 until n).map(i => xs.slice(i * xs.length / n, (i + 1) * xs.length / n))

  def generate(env: Env): Unit = {
    dir = env.path("events")
    val evs = Gen.events(env.seed, Events)
    Gen.eventsFrame(env.spark, evs).repartition(env.cores)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    pointBatches = slices(Gen.streamPoints(evs), MicroBatches)
    intervalBatches = slices(Gen.streamIntervals(evs), MicroBatches)
  }

  /** Warm-up is part of `reference`: the reference digests run each batch
    * query once, a short stream warms the streaming path, and then
    * `WarmUpPasses` untimed passes follow. */
  val warmUpRounds = 0
  val nominalRoundSeconds = 25.0
  val WarmUpPasses = 1
  val WarmUpBatches = 3

  def reference(env: Env): Unit = {
    refs = Queries.map(q => q -> Digest.of(SparkEntry.queries(q)(env.spark, dir),
      if (q == "q58_range_join") Some("n_events") else None)).toMap
    val warm = new IntervalLoop(env.spark, env.path("ckpt-warm"))
    try (1 to WarmUpBatches).foreach(_ => warm.feed()) finally warm.stop()
    (1 to WarmUpPasses).foreach(_ =>
      Queries.foreach(q => Digest.of(SparkEntry.queries(q)(env.spark, dir))))
  }

  /** One pass of the three queries, each checked against its reference;
    * returns the pass's wall seconds when every query passed. */
  private def queryPass(env: Env): Option[Double] = {
    var total = 0.0
    var ok = true
    val each = mutable.ArrayBuffer.empty[String]
    env.tracer.span(primarySpan) {
      Queries.foreach { q =>
        val sumCol = if (q == "q58_range_join") Some("n_events") else None
        env.op(q) {
          env.tracer.span(s"operators.$q") { Digest.of(SparkEntry.queries(q)(env.spark, dir), sumCol) }
        } { got => if (got != refs(q)) Some(s"$got != set-up reference ${refs(q)}") else None } match {
          case Some((secs, _)) => total += secs; each += f"${q.take(3)} $secs%.3f"
          case None => ok = false
        }
      }
    }
    env.log(f"query pass: $total%.3f s (${each.mkString(", ")})")
    if (!ok) None
    else {
      env.record("primary_s", total)
      Some(total)
    }
  }

  def round(env: Env): Unit = {
    rounds += 1
    val loop = env.op("interval join stream start") {
      new IntervalLoop(env.spark, env.path(s"ckpt-$rounds"))
    }(_ => None).map(_._2)
    val latencies = mutable.ArrayBuffer.empty[Double]
    val passSecs = (1 to QueryPasses).flatMap { _ =>
      val secs = queryPass(env)
      loop.foreach { l =>
        (1 to MicroBatches / QueryPasses).foreach { _ =>
          env.op("micro-batch")(env.tracer.span(secondarySpan)(l.feed()))(_ => None)
            .foreach(latencies += _._2)
        }
      }
      secs
    }
    // the events of every checked pass over their summed time: the passes
    // are still getting faster, and the sum weighs every pass instead of
    // picking the middle one
    if (passSecs.nonEmpty)
      env.record("primary_items_per_s", Events * passSecs.size / passSecs.sum)

    val expectedPairs = refs("q58_range_join")._2
    loop.foreach { l =>
      env.op("interval join stream")(l.stop()) { case (pairs, dropped) =>
        if (pairs != expectedPairs) Some(s"stream emitted $pairs pairs, q58 counts $expectedPairs")
        else if (dropped != 0) Some(s"$dropped rows dropped to the watermark")
        else None
      }.filter(_ => latencies.size == MicroBatches).foreach { _ =>
        env.log(latencies.map(l => f"$l%.0f").mkString("micro-batch ms: ", " ", ""))
        latencies.foreach(env.record("stream_batch_ms", _))
        // the median micro-batch: one slow batch does not move the figure
        env.record("secondary_items_per_s",
          Events.toDouble / MicroBatches / (Stats.median(latencies.toSeq) / 1000.0))
      }
    }
  }

  /** The q58 join as a running stream through
    * `StreamingExtract.intervalJoinStream`, fed one micro-batch at a time. */
  private final class IntervalLoop(spark: SparkSession, ckpt: String) {
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val pStream = MemoryStream[(Long, Timestamp, Long)]
    private val iStream = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    private val pairs = new java.util.concurrent.atomic.AtomicLong
    private var fed = 0
    private val query = {
      val conf = spark.conf
      val keys = Seq("spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled")
      val saved = keys.map(k => k -> conf.getOption(k))
      conf.set(keys(0), StreamPartitions.toString)
      conf.set(keys(1), "false")
      // the stream runs on a copy of the session taken at start, so the
      // batch queries between micro-batches keep the session's settings
      try StreamingExtract.intervalJoinStream(
          pStream.toDF().toDF("k", "pts", "pid"), "pts",
          iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
          delay = "1 hour", maxIntervalLen = Gen.MaxIntervalLen)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) => pairs.addAndGet(df.count()); () }
        .start()
      finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

    /** Adds the next micro-batch and waits until it is processed; returns
      * the milliseconds from addData to the return of processAllAvailable. */
    def feed(): Double = {
      val t0 = System.nanoTime()
      pStream.addData(pointBatches(fed))
      iStream.addData(intervalBatches(fed))
      fed += 1
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }

    /** Stops the stream; returns (pairs emitted, rows dropped late). */
    def stop(): (Long, Long) =
      try {
        // progress of the micro-batches that ran, without the idle reports
        lastProgress = query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
        (pairs.get, lastProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
      } finally {
        query.stop()
        Workload.deleteTree(java.nio.file.Paths.get(ckpt))
      }
  }

  def traceExtras(env: Env): Seq[(String, Double, String)] = {
    val tr = env.tracer
    val ledger = env.ledger.get
    def q(name: String) =
      ledger.fold(ledger.jobsOf(tr.run, tr.subtree(tr.named(s"operators.$name").last)))
    def qs(name: String) = tr.named(s"operators.$name").last.seconds
    val asof = q("q56_asof_join")
    val funnel = q("q63_funnel_asof")
    val range = q("q58_range_join")
    val prog = lastProgress
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val commit = prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets") +
      p.stateOperators.map(_.commitTimeMs.toDouble).sum)
    val batchMillis = env.samples("stream_batch_ms").toSeq
    val tail = Stats.tail(batchMillis)
    Seq(
      ("operators.asof_s", qs("q56_asof_join"), "s"),
      ("operators.funnel_s", qs("q63_funnel_asof"), "s"),
      ("operators.rangejoin_s", qs("q58_range_join"), "s"),
      ("operators.rangejoin_pairs", refs("q58_range_join")._2.toDouble, "count"),
      ("operators.asof_shuffle_mb", asof.shuffleMb, "MB"),
      ("operators.funnel_shuffle_mb", funnel.shuffleMb, "MB"),
      ("operators.rangejoin_shuffle_mb", range.shuffleMb, "MB"),
      ("operators.asof_task_skew", asof.taskSkew, "ratio"),
      ("operators.funnel_task_skew", funnel.taskSkew, "ratio"),
      ("operators.rangejoin_task_skew", range.taskSkew, "ratio"),
      ("streaming.planning_ms", Stats.median(prog.map(dur(_, "queryPlanning"))), "ms"),
      ("streaming.execution_ms", Stats.median(prog.map(dur(_, "addBatch"))), "ms"),
      ("streaming.commit_ms", Stats.median(commit), "ms"),
      ("streaming.state_rows_max",
        prog.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble, "count"),
      ("streaming.state_mb_max",
        prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / 1e6, "MB"),
      ("streaming.rows_dropped_late",
        prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      ("event_joins.batch_events_per_s", env.med("primary_items_per_s"), "1/s"),
      ("event_joins.stream_batch_p50_ms", Stats.median(batchMillis), "ms"),
      ("event_joins.stream_batch_tail_ms", tail.map(_.value).getOrElse(Double.NaN), "ms"),
      ("event_joins.stream_batch_tail_pct", tail.map(_.percentile).getOrElse(Double.NaN), "%"),
      ("event_joins.stream_batch_samples", batchMillis.size.toDouble, "count"))
  }
}
