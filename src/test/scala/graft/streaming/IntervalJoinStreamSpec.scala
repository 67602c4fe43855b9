package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SharedSpark

/** `StreamingExtract.intervalJoinStream` against its stream-stream join
  * reference (IntervalJoinReference) where the two can differ: null rows,
  * active eviction with late rows, and the shape of the stateful plan. */
class IntervalJoinStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SharedSpark.spark
  private val checkpoints = java.nio.file.Files.createTempDirectory("ivj-spec-")

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(checkpoints).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  type Point = (Option[Long], Timestamp, Long)
  type Interval = (Option[Long], Timestamp, Timestamp, Long)
  type Join = (DataFrame, String, DataFrame, String, String, String, String, String) => DataFrame

  private val library: Join = StreamingExtract.intervalJoinStream
  private val reference: Join = IntervalJoinReference.symmetricHashJoin

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(mins: Long) = new Timestamp(base + mins * 60000L)

  private final case class Run(pairs: Seq[(Long, Long)],
      progress: Seq[StreamingQueryProgress], plan: String, checkpoint: String) {
    def dropped: Long = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
  }

  /** Feeds `batches` in order through `join` on a fresh session with
    * `partitions` shuffle partitions, each micro-batch processed before the
    * next is added; returns every (pid, iid) pair emitted. */
  private def run(join: Join, batches: Seq[(Seq[Point], Seq[Interval])],
      delay: String, partitions: Int = 4): Run = {
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    val pStream = MemoryStream[Point]
    val iStream = MemoryStream[Interval]
    val ckpt = java.nio.file.Files.createTempDirectory(checkpoints, "q").toString
    val pairs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val q = join(pStream.toDF().toDF("k", "pts", "pid"), "pts",
        iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
        delay, "1 hour")
      .select("pid", "iid")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => pairs.add((r.getLong(0), r.getLong(1))))
      }
      .start()
    try {
      batches.foreach { case (ps, is) =>
        pStream.addData(ps)
        iStream.addData(is)
        q.processAllAvailable()
      }
      import scala.jdk.CollectionConverters._
      Run(pairs.asScala.toSeq,
        q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")),
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
          .executedPlan.toString,
        ckpt)
    } finally q.stop()
  }

  /** Batch RangeJoin over the same rows: the pairs the streams must emit. */
  private def batchPairs(points: Seq[Point], intervals: Seq[Interval]): Seq[(Long, Long)] = {
    val session = spark
    import session.implicits._
    val bp = points.toDF("k", "pts", "pid")
      .select(col("k"), unix_micros(col("pts")).as("ptsu"), col("pid"))
    val bi = intervals.toDF("k", "ws", "we", "iid")
      .select(col("k"), unix_micros(col("ws")).as("wsu"),
        unix_micros(col("we")).as("weu"), col("iid"))
    graft.operators.RangeJoin.pointInInterval(
      bp, "ptsu", bi, "wsu", "weu", "k", bucketWidth = 60L * 60000000L)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("null key, point time, start or end: no pairs and no failure") {
    val k = Some(1L)
    val points: Seq[Point] = Seq(
      (k, ts(10), 1L), // matches interval 100 only
      (None, ts(10), 2L), // null key
      (k, null, 3L), // null point time
      (None, null, 4L))
    val intervals: Seq[Interval] = Seq(
      (k, ts(0), ts(30), 100L),
      (None, ts(0), ts(30), 101L), // null key: would meet point 2 if nulls grouped
      (k, null, ts(30), 102L), // null start
      (k, ts(0), null, 103L), // null end
      (None, null, null, 104L))
    val batches = Seq((points, intervals), (Seq[Point]((k, ts(20), 5L)), Seq.empty[Interval]))
    val got = run(library, batches, delay = "1 hour")
    val ref = run(reference, batches, delay = "1 hour")
    assert(got.pairs.sorted == Seq((1L, 100L), (5L, 100L)))
    assert(ref.pairs.sorted == got.pairs.sorted)
    assert(got.dropped == 0)
  }

  test("eviction differential: time-ordered feed with a hot key and late rows") {
    val rnd = new scala.util.Random(71)
    val batchCount = 10
    val keys = 20
    def key() = Some(if (rnd.nextInt(10) == 0) 0L else 1L + rnd.nextInt(keys - 1))
    var nextId = 0L
    def id() = { nextId += 1; nextId }
    // batch b covers event times [60b, 60b + 60) minutes, in time order,
    // and from batch 2 on also carries stragglers 65-115 minutes behind
    // its start: still ahead of the watermark, so they must meet every
    // interval that has not ended and every point not yet passed. Key 99
    // appears in batch 0 only, so only its event-time timeout can evict
    // it. From batch 3 on, a point and a covering interval of one key
    // arrive 3 hours behind: behind the watermark, so both forms drop them
    def at(b: Int, m: Long) = ts(60L * b + m)
    def interval(b: Int, m: Long) = (key(), at(b, m), at(b, m + 1 + rnd.nextInt(60)), 10000 + id())
    val onTime = (0 until batchCount).map { b =>
      val ps = Seq.fill(80)(rnd.nextInt(60)).sorted.map(m => (key(), at(b, m), id()))
      val is = Seq.fill(16)(interval(b, rnd.nextInt(60)))
      val straggling = if (b < 2) 0 else 8
      val sp = Seq.fill(straggling)((key(), at(b, -65L - rnd.nextInt(51)), id()))
      val si = Seq.fill(straggling / 4)(interval(b, -65L - rnd.nextInt(51)))
      if (b > 0) (ps ++ sp, is ++ si)
      else (ps :+ ((Some(99L), ts(10), id())), is :+ ((Some(99L), ts(5), ts(50), 10000 + id())))
    }
    val late = (3 until batchCount).map { b =>
      val m = 60L * b - 180
      (Seq[Point]((Some(0L), ts(m + 5), 20000 + id())),
        Seq[Interval]((Some(0L), ts(m), ts(m + 30), 30000 + id())))
    }
    val batches = onTime.zipWithIndex.map { case ((ps, is), b) =>
      val (lp, li) = if (b >= 3) late(b - 3) else (Nil, Nil)
      (ps ++ lp, is ++ li)
    }
    val got = run(library, batches, delay = "1 hour")
    val ref = run(reference, batches, delay = "1 hour")
    val expected = batchPairs(onTime.flatMap(_._1), onTime.flatMap(_._2))

    assert(expected.size > 200)
    assert(got.pairs.sorted == expected.sorted)
    assert(ref.pairs.sorted == expected.sorted)
    // every late row is dropped by both, and counted the same way
    assert(got.dropped == 2L * late.size)
    assert(ref.dropped == got.dropped)

    // after the last batch the state holds only rows the watermark has not
    // passed: far fewer than were fed
    val fed = batches.map(b => b._1.size + b._2.size).sum
    val state = spark.read.format("statestore").load(got.checkpoint)
      .select(col("value.groupState.intervals").as("i"), col("value.groupState.points").as("p"))
    val held = state.select(sum(size(col("i")) + size(col("p")))).head.getLong(0)
    val wmMicros = java.time.Instant.parse(got.progress.last.eventTime.get("watermark"))
      .toEpochMilli * 1000L
    val stale = state.select(
      sum(size(filter(col("i"), x => x("e") <= lit(wmMicros))) +
        size(filter(col("p"), x => x("t") <= lit(wmMicros))))).head.getLong(0)
    assert(held > 0 && held < fed / 4, s"state holds $held of $fed rows fed")
    assert(stale == 0)
  }

  test("one stateful operator with one state store per shuffle partition") {
    val rows = (Seq[Point]((Some(1L), ts(5), 1L), (Some(2L), ts(6), 2L)),
      Seq[Interval]((Some(1L), ts(0), ts(30), 100L)))
    val batches = Seq(rows, rows)
    /** (stateful operators, state-store instances of each, runs Spark's
      * symmetric hash join) of the last micro-batch */
    def shape(join: Join): (Int, Seq[Long], Boolean) = {
      val r = run(join, batches, delay = "1 hour", partitions = 3)
      val ops = r.progress.last.stateOperators.toSeq
      (ops.size, ops.map(_.numStateStoreInstances.toLong),
        r.plan.contains("StreamingSymmetricHashJoin"))
    }
    assert(shape(library) == ((1, Seq(3L), false)))
    // the check tells the forms apart: the reference keeps four per partition
    assert(shape(reference) == ((1, Seq(12L), true)))
  }
}
