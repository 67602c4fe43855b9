package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], prints ONE JSON line.
  *
  * The flagship metric is extraction throughput (turns/sec) — the
  * BASELINE.json north metric — measured on a fixed synthetic corpus whose
  * content is independent of parallelism.
  */
object Bench {

  /** Queries timed per round: the extraction pipeline + one representative
    * per operator family (agg, broadcast join, window topk, minhash dedup,
    * ANN). Full coverage runs under Verify; Bench tracks the hot paths. */
  val headline: Seq[String] = Seq(
    "q20_extract_modules", "q21_extract_clean_text", "q29_conversation_text",
    "q01_agg", "q03_broadcast_join", "q08_topk_per_group", "q48_sessionize",
    "q30_text_tokens", "q41_dedup_minhash", "q44_ann_brute_topk",
    "q46_multimodal_features",
    // round-3 additions: as-of join, exact n-gram Jaccard join, range join
    "q56_asof_join", "q57_dedup_ngram_jaccard", "q58_range_join",
    // round-4 additions: chained-as-of funnel, BPE token counting,
    // corpus-level paragraph dedup, n-gram decontamination
    "q63_funnel_asof", "q64_bpe_tokens", "q65_paragraph_dedup",
    "q68_ngram_decontaminate",
    // round-5 additions: the end-to-end near-dup clustering pipeline, the
    // BPE subword EMITTER — the two most production-shaped paths not yet
    // tracked round-over-round — and the new PQ compressed-index ANN
    "q49_dedup_corpus", "q67_bpe_tokenize", "q69_ann_pq_topk",
    // the complete emit chain (ids + packing), tracked as one leg
    "q71_packed_ids")

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-bench")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Time one query end-to-end (plan + execute + consume). */
  def time(f: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val df = f
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Extraction throughput on a fixed corpus (content independent of
    * parallelism): returns (turns, seconds). Generates inline. */
  def extractionThroughput(spark: SparkSession, nConvs: Long): (Long, Double) = {
    import graft.fixtures.TranscriptGen
    import graft.pipeline.ExtractPipeline
    val par = spark.sparkContext.defaultParallelism * 4
    val turns = ExtractPipeline.transcripts(spark, nConvs, par)
    // generator source is already object-typed: use the fused object chain
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val totalTurns = turns.count()
    val t0 = System.nanoTime()
    val n = ExtractPipeline.modules(ExtractPipeline.extractTurns(turns, ctx)).count()
    val secs = (System.nanoTime() - t0) / 1e9
    require(n > 0)
    (totalTurns, secs)
  }

  /** Size-aware scan-split tuning: Spark's default maxSplitBytes formula
    * (`bytesPerCore = padded / defaultParallelism`, capped at 128 MB)
    * deliberately targets ~ONE scan task per core — fine for scan-bound
    * jobs, but for heavy per-row work it leaves the tail wave mostly idle:
    * measured on the scaling corpus, 256 files packed into 9 partitions at
    * BOTH 2 and 8 pinned cores, capping the 8-core leg at ~0.73 efficiency
    * before the extractor even ran (tools/ScanProbe). This runs `body`
    * with `spark.sql.files.maxPartitionBytes` sized from the corpus
    * listing to ~`waves` even task waves per core count, restoring the
    * previous value afterwards — SCOPED, so interleaved bench queries keep
    * planning against the session default (a persistent set would silently
    * change every later query's scan splits; the conf is read at each
    * query's own planning time, so set-around-action is exact). On a real
    * cluster this is the per-job maxPartitionBytes tuning every heavy
    * pipeline applies. */
  def withTunedScanSplits[A](spark: SparkSession, path: String,
      waves: Int = 3)(body: => A): A = {
    val dir = java.nio.file.Paths.get(path)
    var target: Option[String] = None
    if (java.nio.file.Files.isDirectory(dir)) {
      var total = 0L
      var nFiles = 0L
      val stream = java.nio.file.Files.list(dir)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet")) { total += java.nio.file.Files.size(p); nFiles += 1 }
      } finally stream.close()
      if (nFiles > 0) {
        val openCost = spark.sessionState.conf.filesOpenCostInBytes
        val padded = total + nFiles * openCost
        target = Some(math.max(4L << 20,
          padded / (spark.sparkContext.defaultParallelism.toLong * waves)).toString)
      }
    }
    target match {
      case None => body
      case Some(v) =>
        val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        try body
        finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    }
  }

  /** Extraction throughput over a materialized parquet corpus — the
    * real pipeline shape (table scan → extract), used by the scaling
    * evidence so generation cost stays out of the measured job. */
  def extractionThroughputOn(spark: SparkSession, path: String): (Long, Double) =
    withTunedScanSplits(spark, path) {
      timeExtraction(graft.pipeline.ExtractPipeline.readTranscripts(spark, path))
    }

  /** Compute-bound variant: extract + in-partition reduce (no per-module
    * row materialization) — isolates the extraction engine from the
    * result-serialization cost for the scaling measurement. */
  def extractionThroughputLightOn(spark: SparkSession, path: String): (Long, Double) =
    withTunedScanSplits(spark, path) { extractionLightBody(spark, path) }

  private def extractionLightBody(spark: SparkSession, path: String): (Long, Double) = {
    import graft.fixtures.TranscriptGen
    import graft.pipeline.ExtractPipeline
    import spark.implicits._
    val turns = ExtractPipeline.readTranscripts(spark, path)
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val totalTurns = turns.count()
    val t0 = System.nanoTime()
    val n = ExtractPipeline.extract(turns, ctx)
      .mapPartitions { it =>
        var s = 0L
        it.foreach(s += _.modules.size)
        Iterator.single(s)
      }.reduce(_ + _)
    val secs = (System.nanoTime() - t0) / 1e9
    require(n > 0)
    (totalTurns, secs)
  }

  private def timeExtraction(
      turns: org.apache.spark.sql.Dataset[graft.core.Turn]): (Long, Double) = {
    import graft.fixtures.TranscriptGen
    import graft.pipeline.ExtractPipeline
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val totalTurns = turns.count() // outside the timer; also warms codegen
    val t0 = System.nanoTime()
    val n = ExtractPipeline.modules(ExtractPipeline.extract(turns, ctx)).count()
    val secs = (System.nanoTime() - t0) / 1e9
    require(n > 0)
    (totalTurns, secs)
  }

  /** Interleaved rounds per query (steal-proofing): this VM exhibits
    * multi-minute hypervisor CPU-steal episodes, so any SINGLE timing can
    * be 10–30× off. Each query runs once per round, rounds interleave all
    * queries, and the reported number is the per-query MINIMUM.
    *
    * Round-3 lesson: a steal episode spanning all base rounds still
    * publishes corrupted spreads — so the protocol is now ADAPTIVE. The
    * reported spread is max/min over the 3 LOWEST samples (the corrupted
    * highs a longer run accumulates are measurement artifacts, not query
    * behavior), and rounds keep running past the base count until every
    * leg's low-3 spread is <= SpreadCap or MaxRounds is hit. A published
    * spread above the cap therefore means the box was stealing for the
    * WHOLE bench window — self-evidently invalid rather than misleading. */
  val BaseRounds = 3
  val MaxRounds = 8
  val SpreadCap = 3.0

  /** Spread (max/min) over the lowest `take` samples — the steal-robust
    * repeatability estimate. */
  def lowSpread(s: List[Double], take: Int = 3): Double = s match {
    case Nil => -1.0
    case _ =>
      val low = s.sorted.take(take)
      low.last / low.head
  }

  /** Streaming interval-join leg: the q58 incident-attribution shape driven
    * through StreamingExtract.intervalJoinStream (one flatMapGroupsWithState
    * keyed by user), events fed in 4 micro-batches per side from the
    * sf dir's events table. Timed: feeding + processing to completion.
    * Driver-side collect of the events table is measurement plumbing at
    * bench scale (100k tiny rows), not a pipeline pattern. */
  /** State-partition sizing is the first-order knob for a stateful stream:
    * each shuffle partition is a state-store instance paying per-batch
    * checkpoint/maintenance cost, and the count locks in at query start.
    * Measured on this leg when it still ran Spark's stream-stream join
    * (sf0.1, 4 micro-batches): 8 partitions ~10-14 s, 32 ~35 s, 64 ~44 s
    * (tools/StreamLegProbe reproduces the sweep) — the
    * batch default (one per core) is an anti-pattern for bounded-state
    * joins. The settings are scoped to this query: streaming locks their
    * values at start(), batch queries re-read the restored conf at their
    * own planning.
    *
    * Round-5 overhead profile of the stream-stream join form (StreamLegProbe
    * sweep, warm minima):
    *  - no-data micro-batches OFF is the second-order knob (6.3 -> 4.4 s):
    *    by default every processAllAvailable() appends a data-less batch
    *    purely to advance the watermark and evict state — for an
    *    inner-join leg that emits eagerly, that DOUBLES the batch count
    *    for zero output. 4 parts beats 8 (fewer state-store instances)
    *    and 2 (less stateless parallelism): ~4.4 -> ~3.7 s.
    *  - checkpoint (offset/commit logs + state deltas) on tmpfs shaves
    *    ~0.3 s; RocksDB (with or without changelog checkpointing) is ~1 s
    *    SLOWER here — its native-store overhead only pays off when state
    *    outgrows the JVM heap, and this leg's state is bounded and tiny.
    *  - that form's residual ~0.8 s/micro-batch was mostly state-store
    *    commit: its symmetric hash join kept 4 state stores per partition
    *    (2 per side), 16 commits per micro-batch at 4 partitions. The
    *    one-operator form keeps 1 per partition; on the perfbench
    *    `event_joins` stream (traced, seeds 11-13, 4 vCPUs) the median
    *    micro-batch went from 83-105 to 18-20 ms planning, 629-697 to
    *    370-396 ms execution and 1,224-1,348 to 421-448 ms of commits.
    * formatValidation and minBatchesToRetain measured within noise;
    * left at their safe defaults. */
  def streamingIntervalJoinLeg(spark: SparkSession, sfDir: String,
      stateParts: Int = 4): Double = {
    val conf = spark.conf
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ckptKey = "spark.sql.streaming.checkpointLocation"
    val keys = Seq("spark.sql.shuffle.partitions", noDataKey, ckptKey)
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    // Tuned DEFAULTS, not overrides: a caller (StreamLegProbe sweeps) that
    // pinned either knob keeps its value — otherwise the sweep would
    // silently measure this leg's configuration on both sides.
    if (conf.getOption(noDataKey).isEmpty) conf.set(noDataKey, "false")
    // Unique tmpfs checkpoint root per invocation, deleted afterwards:
    // a fixed root leaks one RAM-backed offsets/commits/state dir per run
    // (unnamed queries under an explicit checkpointLocation are NOT
    // cleaned on stop, unlike Spark's own temp checkpoints).
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckptDir =
      if (conf.getOption(ckptKey).isEmpty &&
        java.nio.file.Files.isWritable(shm)) {
        val d = java.nio.file.Files.createTempDirectory(shm, "graft_stream_ckpt_")
        conf.set(ckptKey, d.toString)
        Some(d)
      } else None
    try streamingIntervalJoinTimed(spark, sfDir)
    finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      ckptDir.foreach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }

  private def streamingIntervalJoinTimed(spark: SparkSession, sfDir: String): Double = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), col("ts").cast("timestamp"))
      .collect()
    val points = rows.filter(_.getString(2) != "error")
      .map(r => (r.getLong(0), r.getTimestamp(3), r.getLong(1)))
    val intervals = rows.filter(_.getString(2) == "error")
      .map(r => (r.getLong(0), r.getTimestamp(3),
        new Timestamp(r.getTimestamp(3).getTime + 1800000L), r.getLong(1)))
    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val iStream = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val joined = graft.streaming.StreamingExtract.intervalJoinStream(
      pStream.toDF().toDF("k", "pts", "pid"), "pts",
      iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
      delay = "365 days", maxIntervalLen = "1 hour")
    val q = joined.writeStream.format("noop")
      .outputMode(OutputMode.Append).start()
    try {
      val nb = 4
      // max(1, ...): grouped(0) throws on an empty events table — an empty
      // input should measure an empty run, not crash (StreamLegProbe calls
      // this unguarded).
      val pb = points.grouped(math.max(1, (points.length + nb - 1) / nb)).toArray
      val ib = intervals.grouped(math.max(1, (intervals.length + nb - 1) / nb)).toArray
      val t0 = System.nanoTime()
      var i = 0
      while (i < nb) {
        if (i < pb.length) pStream.addData(pb(i).toSeq)
        if (i < ib.length) iStream.addData(ib(i).toSeq)
        q.processAllAvailable()
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // untimed warmup: absorbs JIT + codegen + scan-cache cold start so the
    // first timed query isn't charged for JVM warmup; q64's warmup also
    // fills the single-slot BPE merge-table cache so round 1's sample
    // measures query execution, not the one-time driver-side training
    try time(SparkEntry.queries("q20_extract_modules")(spark, sfDir))
    catch { case _: Throwable => }
    try SparkEntry.bpeMergeTable(spark, sfDir)
    catch { case _: Throwable => }
    // vocab is a one-time dimension build (tokenize+distinct+sort+collect);
    // warm its slot so q70/q71 rounds measure the emit path, not the build
    try SparkEntry.bpeVocabRows(spark, sfDir)
    catch { case _: Throwable => }
    // fills the single-slot media cache: q46 rounds time decode, not the
    // fixture synthesis (which stands in for a one-time table scan)
    try SparkEntry.mediaTable(spark, sfDir)
    catch { case _: Throwable => }

    val nConvs = SparkEntry.nConvsFor(sfDir) * 12 // bench-scale corpus
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var turns = 0L
    var extractSamples = List.empty[Double]
    var streamSamples = List.empty[Double]
    def roundOnce(): Unit = {
      headline.foreach { name =>
        val fn = SparkEntry.queries(name)
        val secs = try time(fn(spark, sfDir)) catch { case _: Throwable => -1.0 }
        if (secs >= 0) samples(name) = secs :: samples(name)
      }
      // streaming interval-join leg, interleaved like the batch queries
      try streamSamples = streamingIntervalJoinLeg(spark, sfDir) :: streamSamples
      catch { case _: Throwable => }
      // north metric leg: turns-extracted/sec on a corpus sized to the sf
      // dir — try-guarded like the headline queries so one failed round
      // still emits a bench JSON line (with -1 sentinels if ALL fail)
      try {
        val (t, extractSecs) = extractionThroughput(spark, nConvs)
        turns = t
        extractSamples = extractSecs :: extractSamples
      } catch { case _: Throwable => }
    }
    def allLegs: Seq[List[Double]] =
      headline.map(samples(_)) :+ extractSamples :+ streamSamples
    def worstLowSpread: Double = (allLegs.map(lowSpread(_)) :+ -1.0).max
    // a leg with 1-2 successes is NOT trustworthy-with-spread-1.0 — it has
    // no repeatability estimate at all; keep rounding until every leg that
    // succeeds at all has >= 3 samples (or the cap cuts losses on a leg
    // that keeps failing)
    def underSampled: Boolean =
      allLegs.exists(s => s.nonEmpty && s.size < 3)
    var round = 0
    while (round < BaseRounds ||
        (round < MaxRounds && (underSampled || worstLowSpread > SpreadCap))) {
      roundOnce()
      round += 1
    }

    // ANN recall gate at bench scale (round-3 verdict #4): recall@10 of the
    // LSH and IVF paths vs the exact brute-force baseline, on THIS sf dir.
    // Collects only |queries| x k rows (50 each) — bounded by construction.
    def topIds(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir)
        .select("query_id", "id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // per-leg try: a failure in ONE approximate path must sentinel only its
    // own metric, not erase the other legs' round-over-round recall trail
    val exactTop = try {
      val e = topIds("q44_ann_brute_topk")
      require(e.nonEmpty, "empty exact top-k") // no silent NaN in the JSON
      e
    } catch { case _: Throwable => Map.empty[Long, Set[Long]] }
    def recallOf(name: String): Double =
      if (exactTop.isEmpty) -1.0
      else try {
        val got = topIds(name)
        val per = exactTop.map { case (q, ids) =>
          got.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
        per.sum / per.size
      } catch { case _: Throwable => -1.0 }
    val recallLsh = recallOf("q45_ann_lsh_topk")
    val recallIvf = recallOf("q47_ann_ivf_topk")
    val recallPq = recallOf("q69_ann_pq_topk")

    // Embedding near-dup PAIR recall (round-3 verdict #6): candidate pairs
    // of the q43 path (hyperplane signs + multi-probe r=1) vs ALL pairs at
    // cosine >= 0.98 from an exact all-pairs baseline on the same planted
    // corpus. The all-pairs join is bench-scale measurement only (4k
    // vectors); the collected sets are the qualifying PAIRS, bounded by the
    // planted-duplicate count, not the corpus square.
    import org.apache.spark.sql.functions.col
    val recallEmb = try {
      val corpus = SparkEntry.withPlantedEmbDups(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      val v = corpus.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val exact = v.select(col("id").as("id_a"), col("v").as("v_a"))
        .crossJoin(v.select(col("id").as("id_b"), col("v").as("v_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(graft.operators.Dedup.cosine(col("v_a"), col("v_b")) >= 0.98)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(exact.nonEmpty, "no exact pairs at threshold")
      val cand = graft.operators.Dedup.embeddingCandidates(
        corpus, "vec_id", "embedding", dim = 64)
        .select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      cand.intersect(exact).size.toDouble / exact.size
    } catch { case _: Throwable => -1.0 }

    def fmt(v: Double) = f"$v%.3f"
    val mins = headline.map(n => n ->
      (if (samples(n).nonEmpty) samples(n).min else -1.0))
    val spreads = headline.map(n => n -> lowSpread(samples(n)))
    val extractSec =
      if (extractSamples.nonEmpty) extractSamples.min else -1.0
    val streamSec =
      if (streamSamples.nonEmpty) streamSamples.min else -1.0
    val tput = if (extractSec > 0) turns / extractSec else -1.0

    val qs = (mins :+ ("streaming_interval_join" -> streamSec))
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sp = (spreads :+ ("extract" -> lowSpread(extractSamples)) :+
        ("streaming_interval_join" -> lowSpread(streamSamples)))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // successful-sample counts per leg: a spread is only meaningful with
    // >= 3 samples, so the count rides along for the round-over-round diff
    val sc = (headline.map(n => n -> samples(n).size) :+
        ("extract" -> extractSamples.size) :+
        ("streaming_interval_join" -> streamSamples.size))
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum +
      math.max(extractSec, 0) + math.max(streamSec, 0)
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","turns":$turns,"extract_sec":$extractSec%.3f,"turns_per_sec":$tput%.1f,"cpus":"$cpus","rounds":$round,"protocol":"interleaved minima; spread = max/min of 3 lowest samples; extra rounds (cap $MaxRounds) until every spread <= $SpreadCap and every succeeding leg has >= 3 samples","recall_at_10":{"lsh":$recallLsh%.3f,"ivf":$recallIvf%.3f,"pq":$recallPq%.3f},"recall_pairs":{"embedding":$recallEmb%.3f},"spread_low3":$sp,"n_samples":$sc}""")
    spark.stop()
  }
}
