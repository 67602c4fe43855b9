package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.Turn
import graft.fixtures.TranscriptGen

/** Seeded input generators of the three workloads. Every row is a pure
  * function of (seed, row index), so any parallelism gives the same table
  * and the same seed gives the same inputs. */
object Gen {

  /** SplitMix64 keyed on (seed, index, salt). */
  def rng(seed: Long, i: Long, salt: Long): TranscriptGen.Rng =
    new TranscriptGen.Rng(seed * 0x100000001b3L ^ i * 0x9e3779b97f4a7c15L ^
      salt * 0xc2b2ae3d27d4eb4fL)

  private def uniform(r: TranscriptGen.Rng): Double =
    ((r.nextLong() >>> 11) + 1).toDouble / (1L << 53).toDouble

  // ---- extract_commit: the transcript corpus -----------------------------

  /** Slices each conversation is generated in, spread over the range so
    * the mega-conversation does not land on one task. */
  val TranscriptChunks = 16

  /** `TranscriptGen` transcripts with `seed` as the content seed: the
    * generator's own mega-conversation (conversation 0) and its
    * module-dense assistant turns are kept. Conversation sizes come from
    * the generator and do not depend on the seed; turn contents do. */
  def transcripts(spark: SparkSession, seed: Long, nConvs: Long,
      parallelism: Int): Dataset[Turn] = {
    import spark.implicits._
    val chunks = TranscriptChunks
    spark.range(0L, nConvs * chunks, 1L, parallelism).as[Long].flatMap { i =>
      val conv = i % nConvs
      val chunk = (i / nConvs).toInt
      val n = TranscriptGen.turnsPerConv(nConvs, conv)
      val per = (n + chunks - 1) / chunks
      val lo = chunk * per
      val hi = math.min(n, lo + per)
      (lo until hi).iterator.map(t => TranscriptGen.turn(seed, nConvs, conv, t))
    }
  }

  /** Turn count of a `transcripts` corpus (seed-independent). */
  def transcriptTurns(nConvs: Long): Long =
    (0L until nConvs).map(c => TranscriptGen.turnsPerConv(nConvs, c).toLong).sum

  // ---- curate_corpus: the clean-turn table -------------------------------

  /** Share of the originals in the one mega-conversation. */
  val MegaShare = 0.10
  /** Turns of every other conversation. */
  val ConvTurns = 8
  /** Original i gets one planted copy when i % PlantEvery == PlantOffset. */
  val PlantEvery = 40
  val PlantOffset = 13

  /** Size of a clean-turn table: `originals` distinct turns, the first
    * `MegaShare` of them in one mega-conversation, the rest in
    * conversations of `ConvTurns` turns; plus one planted copy of every
    * `PlantEvery`-th original. A quarter of the copies are exact, the rest
    * near-duplicates (last word replaced). */
  final case class CleanSpec(originals: Long) {
    val megaTurns: Long = (originals * MegaShare).toLong
    val planted: Long =
      if (originals <= PlantOffset) 0L else (originals - 1 - PlantOffset) / PlantEvery + 1
    val rows: Long = originals + planted
  }

  /** Zipf(s = 1.1) over a vocabulary of `VocabSize` pseudo-words. */
  val VocabSize = 20000
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val Syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ri",
    "po", "de", "fa", "gu", "hi", "jo", "be", "ce", "vo", "wa", "ye", "zu", "xi")

  def word(rank: Int): String = {
    val sb = new java.lang.StringBuilder
    var r = rank
    do { sb.append(Syllables(r % Syllables.length)); r /= Syllables.length }
    while (r > 0)
    sb.toString
  }

  private def zipfWord(r: TranscriptGen.Rng): String = {
    val idx = java.util.Arrays.binarySearch(zipfCdf, uniform(r))
    word(if (idx >= 0) idx else math.min(VocabSize - 1, -idx - 1))
  }

  /** Heavy-tailed word count of original turn `i`: the Pareto(alpha 1.2,
    * minimum 6, capped at 1,500) quantile at a point of the even grid
    * (k + 0.5) / originals, assigned by a seeded affine permutation of the
    * grid (1,000,003 is prime, so the map permutes any smaller count).
    * Every seed thus draws the same multiset of lengths, so the
    * total work does not swing with the seed the way independent
    * heavy-tailed draws would. */
  def turnWords(seed: Long, spec: CleanSpec, i: Long): Int = {
    val n = spec.originals
    val k = Math.floorMod(i * 1000003L + Math.floorMod(seed * 0x9e3779b97f4a7c15L, n), n)
    val u = (k + 0.5) / n
    math.min(1500, (6.0 / math.pow(u, 1.0 / 1.2)).toInt)
  }

  /** Text of original turn `i`: a unique marker word first, so distinct
    * originals never collapse, then Zipfian words. Planted originals have
    * at least 40 words, so a one-word change keeps word-3-gram Jaccard
    * at 37/39 or more, far above the 0.8 dedup threshold. */
  def originalText(seed: Long, spec: CleanSpec, i: Long): String = {
    val n0 = turnWords(seed, spec, i)
    val n = if (i % PlantEvery == PlantOffset) math.max(40, n0) else n0
    val r = rng(seed, i, 0x7e47)
    val sb = new java.lang.StringBuilder(n * 6)
    sb.append('q').append(java.lang.Long.toString(i, 36))
    var k = 1
    while (k < n) { sb.append(' ').append(zipfWord(r)); k += 1 }
    sb.toString
  }

  def isExactCopy(copy: Long): Boolean = copy % 4 == 0

  /** Row `i` of the clean-turn table:
    * (conv_id, turn_idx, clean_text, doc_id). Originals have doc ids
    * below `spec.originals`; copy k has id originals + k. */
  def cleanRow(seed: Long, spec: CleanSpec, i: Long): (String, Int, String, Long) =
    if (i < spec.originals) {
      val text = originalText(seed, spec, i)
      if (i < spec.megaTurns) ("c-mega", i.toInt, text, i)
      else {
        val j = i - spec.megaTurns
        (f"c-${j / ConvTurns}%07d", (j % ConvTurns).toInt, text, i)
      }
    } else {
      val k = i - spec.originals
      val orig = originalText(seed, spec, k * PlantEvery + PlantOffset)
      val text =
        if (isExactCopy(k)) orig
        else orig.substring(0, orig.lastIndexOf(' ') + 1) + "xyzzyq"
      (f"d-${k / ConvTurns}%07d", (k % ConvTurns).toInt, text, i)
    }

  def cleanTurns(spark: SparkSession, seed: Long, spec: CleanSpec,
      parallelism: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, spec.rows, 1L, parallelism).as[Long]
      .map(i => cleanRow(seed, spec, i))
      .toDF("conv_id", "turn_idx", "clean_text", "doc_id")
  }

  // ---- event_joins: the events table -------------------------------------

  // The events table follows the test data's `events` table at bench
  // scale (sf0.1), as measured there: 100,000 events of 1,500 users
  // (every user 45 to 99 events) over 30 days from 2024-01-01, timestamps
  // rising with event_id at an even rate, five event types of ~20% each,
  // `value` exponential with mean 50 (median 34.8, p90 114.3) in cents,
  // and `props` = {"k": k} with k uniform in 0..99. A table of n events
  // keeps that rate, 1 event per 25.92 s, and so covers the first
  // n / 100,000 of the 30 days: events per user per half hour, which set
  // the join fan-outs and the stream state, stay near those of the test
  // data. One change is made: user 0 owns `HotShare` of the events, where
  // the test data's largest user owns 0.1%; the other users keep 90% of
  // the test data's rate.
  val Users = 1500
  val EventStepMicros: Long = 30L * 86400L * 1000000L / 100000L
  val HotShare = 0.10
  val ValueMean = 50.0

  final case class Event(event_id: Long, ts: java.time.LocalDateTime,
      user_id: Long, event_type: String, value: Double, props: String)

  val EventTypes: IndexedSeq[String] =
    IndexedSeq("click", "view", "purchase", "signup", "error")
  val EpochMicros: Long = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Event `i` (schema of the test data's events: event_id, ts, user_id,
    * event_type, value, props). */
  def event(seed: Long, i: Long): Event = {
    val r = rng(seed, i, 0xe7e47)
    val micros = EpochMicros + i * EventStepMicros + (r.nextLong() >>> 1) % EventStepMicros
    val user = if (uniform(r) < HotShare) 0L else 1L + r.nextInt(Users - 1)
    val ts = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
    val cents = math.round(-ValueMean * math.log(uniform(r)) * 100)
    Event(i, ts, user, EventTypes(r.nextInt(EventTypes.length)),
      cents / 100.0, s"""{"k": ${r.nextInt(100)}}""")
  }

  def events(seed: Long, n: Int): IndexedSeq[Event] =
    (0L until n.toLong).map(i => event(seed, i))

  def eventsFrame(spark: SparkSession, evs: Seq[Event]): DataFrame = {
    import spark.implicits._
    evs.toDS().toDF()
  }

  /** Stream feed of the q58 join: points are non-error events, intervals
    * are [error ts, error ts + 30 min). Both sides keep ts order. */
  val IntervalMillis: Long = 1800L * 1000L
  val MaxIntervalLen = "1 hour"

  def toTimestamp(t: java.time.LocalDateTime): Timestamp =
    Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC))

  def streamPoints(evs: Seq[Event]): IndexedSeq[(Long, Timestamp, Long)] =
    evs.iterator.filter(_.event_type != "error")
      .map(e => (e.user_id, toTimestamp(e.ts), e.event_id)).toIndexedSeq

  def streamIntervals(evs: Seq[Event]): IndexedSeq[(Long, Timestamp, Timestamp, Long)] =
    evs.iterator.filter(_.event_type == "error").map { e =>
      val s = toTimestamp(e.ts)
      val end = new Timestamp(s.getTime + IntervalMillis)
      end.setNanos(s.getNanos) // keep the microseconds: q58 adds exactly 30 min
      (e.user_id, s, end, e.event_id)
    }.toIndexedSeq
}
