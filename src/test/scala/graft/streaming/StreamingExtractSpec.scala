package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.fixtures.TranscriptGen
import graft.operators.SharedSpark
import graft.pipeline.ExtractPipeline

class StreamingExtractSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)

  test("streaming extraction equals batch extraction on the same turns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = TranscriptGen.corpus(TranscriptGen.DefaultSeed, 5)

    val stream = MemoryStream[Turn]
    val q = ExtractPipeline.modules(ExtractPipeline.extract(stream.toDS(), ctx))
      .writeStream.format("memory").queryName("stream_modules")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(turns.take(10))
      q.processAllAvailable()
      stream.addData(turns.drop(10)) // second micro-batch: incremental
      q.processAllAvailable()
      val streamed = spark.table("stream_modules").as[ExtractedModule]
        .collect().toSet
      val batch = turns.flatMap(t => Extractor.extractTurn(t, ctx).modules).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful first-wins entity dedup across micro-batches (A5 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EntityRegister]
    val q = StreamingExtract.firstWinsEntityStream(stream.toDS())
      .writeStream.format("memory").queryName("stream_entities")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: id 7 arrives twice (salvaged + real) — real must win the
      // within-batch tie by the same total order as batch dedup
      stream.addData(Seq(
        EntityRegister(7, "", "", "person", ""), // salvaged minimal
        EntityRegister(7, "AA", "ALPHA", "person", "")))
      q.processAllAvailable()
      // batch 2: id 7 again (must be dropped — first wins forever) + id 8
      stream.addData(Seq(
        EntityRegister(7, "ZZ", "IMPOSTOR", "person", ""),
        EntityRegister(8, "BB", "BETA", "person", "")))
      q.processAllAvailable()
      val out = spark.table("stream_entities").as[EntityRegister]
        .collect().sortBy(_.num_id)
      assert(out.toSeq == Seq(
        EntityRegister(7, "AA", "ALPHA", "person", ""),
        EntityRegister(8, "BB", "BETA", "person", "")))
    } finally q.stop()
  }

  test("stateful turn dedup makes an at-least-once source exactly-once (J4 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = TranscriptGen.corpus(TranscriptGen.DefaultSeed, 3)
    val stream = MemoryStream[Turn]
    val q = ExtractPipeline.modules(ExtractPipeline.extract(
      StreamingExtract.dedupTurnsStream(stream.toDS()), ctx))
      .writeStream.format("memory").queryName("stream_dedup_modules")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(turns.take(8))
      q.processAllAvailable()
      stream.addData(turns) // replays the first 8 + the rest
      q.processAllAvailable()
      stream.addData(turns.take(5)) // replay again
      q.processAllAvailable()
      val streamed = spark.table("stream_dedup_modules").as[ExtractedModule]
        .collect()
      val batch = turns.flatMap(t => Extractor.extractTurn(t, ctx).modules)
      // exactly-once: multiset equality, not just set equality
      assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ==
        batch.groupBy(identity).view.mapValues(_.size).toMap)
    } finally q.stop()
  }

  test("streaming ordered reassembly == batch conversationText (q29 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // two conversations, turns deliberately OUT of order within the stream
    val base = TranscriptGen.corpus(TranscriptGen.DefaultSeed, 4)
    val convA = base.filter(_.conv_id == base.head.conv_id).take(6)
    val convB = base.filter(_.conv_id != base.head.conv_id).take(6)
    val timed = (convA ++ convB).zipWithIndex.map { case (t, i) =>
      t.copy(ts = at(i % 4)) // all activity inside 4 minutes
    }
    val shuffled = new scala.util.Random(5).shuffle(timed)

    val stream = MemoryStream[Turn]
    val q = StreamingExtract.conversationStream(stream.toDS(), ctx,
      lateness = "1 minute", quietGapMs = 5L * 60 * 1000)
      .writeStream.format("memory").queryName("stream_convs")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(shuffled)
      q.processAllAvailable()
      // advance the watermark far past lastActivity + quietGap (two extra
      // batches: one to raise the watermark, one to fire the timeouts)
      val advancer = timed.head.copy(conv_id = "wm-advancer", ts = at(120))
      stream.addData(Seq(advancer))
      q.processAllAvailable()
      stream.addData(Seq(advancer.copy(turn_idx = advancer.turn_idx + 1, ts = at(121))))
      q.processAllAvailable()

      val streamed = spark.table("stream_convs").as[ConvAssembly]
        .collect().filter(_.conv_id != "wm-advancer")
        .map(a => (a.conv_id, a.prose_turns, a.conversation_text, a.n_chars))
        .sortBy(_._1)
      val batch = ExtractPipeline.conversationText(
        ExtractPipeline.cleanTurns(
          ExtractPipeline.extract(timed.toDS(), ctx)).toDF()
          .filter(org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("clean_text")) > 0))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
        .sortBy(_._1)
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("conversationStream rejects quietGapMs < lateness (double-emit invariant)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Turn]
    // gap 2 min < lateness 10 min: a closed conversation could re-open and
    // emit a second partial row — must be refused up front
    val e = intercept[IllegalArgumentException] {
      StreamingExtract.conversationStream(stream.toDS(), ctx,
        lateness = "10 minutes", quietGapMs = 2L * 60 * 1000)
    }
    assert(e.getMessage.contains("quietGapMs"))
  }

  test("watermarked windowed metrics aggregate per conversation per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = TranscriptGen.corpus(TranscriptGen.DefaultSeed, 3)
    val stream = MemoryStream[Turn]
    val q = StreamingExtract.windowedMetrics(stream.toDS(), ctx)
      .writeStream.format("memory").queryName("stream_metrics")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(turns)
      q.processAllAvailable()
      val rows = spark.table("stream_metrics").collect()
      assert(rows.nonEmpty)
      val totalTurns = rows.map(_.getAs[Long]("turns")).sum
      assert(totalTurns == turns.size)
    } finally q.stop()
  }

  test("streaming interval join == batch RangeJoin on the same data") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(mins: Long) = new Timestamp(base + mins * 60000L)
    val rnd = new scala.util.Random(58)
    // random points + intervals (0..40 min long) across 4 keys
    val pointsData = Seq.tabulate(120)(i =>
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(300).toLong), i.toLong))
    val intervalsData = Seq.tabulate(40) { i =>
      val s = rnd.nextInt(300).toLong
      (rnd.nextInt(4).toLong, ts(s), ts(s + rnd.nextInt(40)), 1000L + i)
    }

    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val iStream = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val joined = StreamingExtract.intervalJoinStream(
      pStream.toDF().toDF("k", "pts", "pid"), "pts",
      iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
      // generous watermark: the second micro-batch replays event-times from
      // the whole range, and anything behind the watermark is dropped as
      // late — the differential wants completeness, not eviction
      delay = "30 days", maxIntervalLen = "1 hour")
      .select("pid", "iid")
    val q = joined.writeStream.format("memory").queryName("stream_ivj")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        // two micro-batches: late-arriving second halves on both sides
        pStream.addData(pointsData.take(60))
        iStream.addData(intervalsData.take(20))
        q.processAllAvailable()
        pStream.addData(pointsData.drop(60))
        iStream.addData(intervalsData.drop(20))
        q.processAllAvailable()
        spark.table("stream_ivj").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()

    val bp = pointsData.toDF("k", "pts", "pid")
      .select(col("k"), unix_micros(col("pts")).as("ptsu"), col("pid"))
    val bi = intervalsData.toDF("k", "ws", "we", "iid")
      .select(col("k"), unix_micros(col("ws")).as("wsu"),
        unix_micros(col("we")).as("weu"), col("iid"))
    val batch = graft.operators.RangeJoin.pointInInterval(
      bp, "ptsu", bi, "wsu", "weu", "k", bucketWidth = 40L * 60000000L)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming interval join fails loudly on an overlong interval") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val iStream = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val joined = StreamingExtract.intervalJoinStream(
      pStream.toDF().toDF("k", "pts", "pid"), "pts",
      iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
      delay = "30 days", maxIntervalLen = "1 hour")
    val q = joined.writeStream.format("memory").queryName("stream_ivj_bad")
      .outputMode(OutputMode.Append).start()
    try {
      // a 2-hour interval under a 1-hour bound: matches in its second hour
      // would silently vanish — the guard turns that into a query failure
      iStream.addData((1L, new Timestamp(base),
        new Timestamp(base + 2L * 3600000L), 1L))
      pStream.addData((1L, new Timestamp(base + 90L * 60000L), 1L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
  }
}
