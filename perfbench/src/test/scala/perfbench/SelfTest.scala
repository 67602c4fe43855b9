package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fixtures.TranscriptGen
import graft.operators.Dedup

/** The benchmark's own tests: its statistics, its digest and its seeded
  * generators. Run with `python3 perfbench/run.py --self-test`; exits
  * non-zero if any check fails. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  threw $e"); false }
    if (ok) passed += 1 else failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def stats(): Unit = {
    import Stats._
    check("median of an odd sample is the middle value")(median(Seq(5.0, 1, 3)) == 3.0)
    check("median of an even sample is the mean of the middle two")(
      median(Seq(4.0, 1, 3, 2)) == 2.5)

    check("no tail percentile with ten samples or fewer")(tail((1 to 10).map(_.toDouble)).isEmpty)
    val t40 = tail((1 to 40).reverse.map(_.toDouble)).get
    check("tail of 40 samples is p75, rank 30")(
      close(t40.percentile, 75.0) && t40.value == 30.0 && t40.samples == 40)
    check("exactly ten samples lie beyond the tail")(
      (1 to 40).count(_ > t40.value) == 10)
    val t11 = tail((1 to 11).map(_.toDouble)).get
    check("tail of 11 samples is the minimum, at p9.1")(
      t11.value == 1.0 && close(t11.percentile, 100.0 / 11) && t11.samples == 11)

    check("union length merges overlapping intervals")(
      unionLength(Seq(Interval(0, 10), Interval(5, 20), Interval(30, 40))) == 30.0)
    check("span self time removes the union of its children, clipped to the span")(
      selfTime(Interval(0, 100),
        Seq(Interval(10, 30), Interval(20, 50), Interval(90, 120))) == 50.0)
    check("self time of a span without children is its duration")(
      selfTime(Interval(3, 8), Nil) == 5.0)
    check("driver gap counts overlapping jobs once")(
      driverGap(Interval(0, 100),
        Seq(Interval(0, 20), Interval(10, 40), Interval(60, 70))) == 50.0)
    check("driver gap of back-to-back jobs covering the run is zero")(
      driverGap(Interval(0, 10), Seq(Interval(0, 4), Interval(4, 10))) == 0.0)
  }

  def digest(spark: SparkSession): Unit = {
    val a = 0x1234567890abcdefL
    val b = 0x0fedcba987654321L
    check("duplicating a row changes the digest")(
      Digest.ofHashes(Iterator(a, b)) != Digest.ofHashes(Iterator(a, b, b)))
    check("a row twice more also changes it (XOR would cancel)")(
      Digest.ofHashes(Iterator(a, b)).hashSum != Digest.ofHashes(Iterator(a, b, b, b)).hashSum &&
        (a ^ b) == (a ^ b ^ b ^ b))
    import spark.implicits._
    val df = Seq((1L, "x", Seq("p", "q")), (2L, null, Seq.empty[String]), (3L, "z", null))
      .toDF("id", "s", "arr")
    val (d, _) = Digest.of(df)
    check("table digest ignores row order and partitioning")(
      Digest.of(df.orderBy(desc("id")).repartition(3))._1 == d)
    check("table digest moves when a row is duplicated")(
      Digest.of(df.union(df.filter(col("id") === 2)))._1 != d)
    check("table digest tells a null column from an empty one")(
      Digest.of(Seq((1L, "")).toDF("id", "s"))._1 != Digest.of(Seq((1L, null: String)).toDF("id", "s"))._1)
    check("the summed column is summed in the same pass")(Digest.of(df, Some("id"))._2 == 6L)
  }

  def generators(spark: SparkSession): Unit = {
    import spark.implicits._
    def fp(df: org.apache.spark.sql.DataFrame) = Digest.of(df)._1

    // extract_commit
    val convs = 600L
    val t1 = fp(Gen.transcripts(spark, 7L, convs, 4).toDF())
    check("transcripts: same seed, same fingerprint (other parallelism)")(
      fp(Gen.transcripts(spark, 7L, convs, 3).toDF()) == t1)
    check("transcripts: another seed, another fingerprint")(
      fp(Gen.transcripts(spark, 8L, convs, 4).toDF()) != t1)
    val perConv = Gen.transcripts(spark, 7L, convs, 4).groupBy("conv_id").count()
      .as[(String, Long)].collect().toMap
    check("transcripts: turn count matches transcriptTurns")(
      perConv.values.sum == Gen.transcriptTurns(convs))
    check("transcripts: conversation 0 is the mega-conversation")(
      perConv(TranscriptGen.convId(0)) == perConv.values.max &&
        perConv(TranscriptGen.convId(0)) == TranscriptGen.turnsPerConv(convs, 0))

    // curate_corpus
    val spec = Gen.CleanSpec(originals = 2000)
    val c1 = Gen.cleanTurns(spark, 7L, spec, 4)
    val cfp = fp(c1)
    check("clean turns: same seed, same fingerprint")(fp(Gen.cleanTurns(spark, 7L, spec, 2)) == cfp)
    check("clean turns: another seed, another fingerprint")(fp(Gen.cleanTurns(spark, 8L, spec, 4)) != cfp)
    val rows = c1.as[(String, Int, String, Long)].collect()
    val mega = rows.count(_._1 == "c-mega").toDouble / rows.length
    check(f"clean turns: mega-conversation owns ~10%% of turns ($mega%.3f)")(mega > 0.09 && mega < 0.11)
    val copies = rows.filter(_._4 >= spec.originals)
    check(s"clean turns: ${spec.planted} planted copies")(
      copies.length == spec.planted && rows.length == spec.rows)
    val texts = rows.map(r => r._4 -> r._3).toMap
    def grams(s: String) = s.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val jaccards = copies.map { c =>
      val k = c._4 - spec.originals
      val o = grams(texts(k * Gen.PlantEvery + Gen.PlantOffset))
      val g = grams(c._3)
      (k, (o intersect g).size.toDouble / (o union g).size)
    }
    check("clean turns: exact copies equal their original, near copies differ by one word")(
      jaccards.forall { case (k, j) => if (Gen.isExactCopy(k)) j == 1.0 else j >= 0.9 && j < 1.0 })
    check("clean turns: originals are pairwise distinct")(
      rows.filter(_._4 < spec.originals).map(_._3).distinct.length == spec.originals)
    val lengths = rows.map(_._3.count(_ == ' ') + 1)
    check("clean turns: lengths are heavy-tailed (max >> median)")(
      lengths.max > 20 * Stats.median(lengths.map(_.toDouble)))
    def lengthSet(seed: Long) = (0L until spec.originals).map(Gen.turnWords(seed, spec, _)).sorted
    check("clean turns: every seed draws the same multiset of lengths")(
      lengthSet(7L) == lengthSet(8L) &&
        (0L until spec.originals).map(Gen.turnWords(7L, spec, _)) !=
          (0L until spec.originals).map(Gen.turnWords(8L, spec, _)))
    val kept = Dedup.dedupCorpus(c1.select("doc_id", "clean_text"), "doc_id", "clean_text")
      .select("doc_id").as[Long].collect().toSet
    check("clean turns: dedup keeps exactly the originals")(kept == (0L until spec.originals).toSet)

    // event_joins
    val es = 20000
    val evs = Gen.events(7L, es)
    val efp = fp(Gen.eventsFrame(spark, evs))
    check("events: same seed, same fingerprint")(fp(Gen.eventsFrame(spark, Gen.events(7L, es))) == efp)
    check("events: another seed, another fingerprint")(fp(Gen.eventsFrame(spark, Gen.events(8L, es))) != efp)
    val hot = evs.count(_.user_id == 0L).toDouble / evs.length
    check(f"events: the hot user owns ~10%% of events ($hot%.3f)")(hot > 0.09 && hot < 0.11)
    val typeShares = evs.groupBy(_.event_type).values.map(_.size.toDouble / evs.length)
    check("events: five event types of ~20% each, as in the test data")(
      typeShares.size == 5 && typeShares.forall(s => s > 0.18 && s < 0.22))
    check("events: users are 0 until Gen.Users")(
      evs.forall(e => e.user_id >= 0 && e.user_id < Gen.Users) &&
        evs.map(_.user_id).distinct.size > Gen.Users * 9 / 10)
    val meanValue = evs.map(_.value).sum / evs.length
    check(f"events: value has mean ~${Gen.ValueMean}%.0f, as in the test data ($meanValue%.1f)")(
      math.abs(meanValue - Gen.ValueMean) < 2.0)
    check("events: timestamps rise with event_id")(
      evs.sliding(2).forall(p => p(0).ts.isBefore(p(1).ts)))
    val maxLenMs = 3600L * 1000L // Gen.MaxIntervalLen, "1 hour"
    val ivs = Gen.streamIntervals(evs)
    check("events: every stream interval is within maxIntervalLen of intervalJoinStream")(
      ivs.nonEmpty && ivs.forall { case (_, s, e, _) =>
        e.after(s) && e.getTime - s.getTime <= maxLenMs && e.getNanos == s.getNanos })
    check("events: points and intervals split the events")(
      Gen.streamPoints(evs).length + ivs.length == evs.length)
  }

  def main(args: Array[String]): Unit = {
    stats()
    val scratch = java.nio.file.Files.createTempDirectory("perfbench-selftest")
    val spark = PerfbenchRun.session(2, scratch)
    spark.sparkContext.setLogLevel("ERROR")
    try { digest(spark); generators(spark) }
    finally { spark.stop(); Workload.deleteTree(scratch) }
    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
