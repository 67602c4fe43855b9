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
