package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.core.{ModuleParser, Turn}
import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractPipeline, ParquetManifestIO, ResumableExtract}

/** extract_commit: the resumable, committed extraction job behind the
  * north metric. A fresh `ResumableExtract.run` over every bucket into an
  * empty directory (primary), then a simulated kill — a fixed quarter of
  * the buckets rolled back — and the resume run that redoes them
  * (secondary). The only workload that runs `core`. */
object ExtractCommit extends Workload {
  val name = "extract_commit"
  val primarySpan = "pipeline.ResumableExtract.run"
  val secondarySpan = "pipeline.ResumableExtract.resume"

  /** ~50k turns in `TranscriptGen` sizes; the mega-conversation has
    * 1,750 of them. */
  val Convs = 7000L
  /** `ResumableExtract.run`'s default bucket count. */
  val Buckets = 8
  /** The buckets a simulated kill rolls back: a fixed quarter. */
  val RolledBack: Set[Int] = (0 until Buckets).filter(_ % 4 == 0).toSet

  private var turns: Dataset[Turn] = _
  private var nTurns = 0L
  private var ctx: ModuleParser.Context = _
  private var expected: Digest = _
  private var refColumns: Seq[String] = Nil
  private var redoneTurns = 0L
  private var rounds = 0
  // per traced fresh run: the commit decorator of that run
  private var lastIO: RecordingIO = _
  private var lastResumeIO: RecordingIO = _

  def generate(env: Env): Unit = {
    val in = env.path("transcripts")
    Gen.transcripts(env.spark, env.seed, Convs, env.cores * 4)
      .repartition(env.cores * 4)
      .write.mode("overwrite").parquet(in)
    turns = ExtractPipeline.readTranscripts(env.spark, in)
    nTurns = Gen.transcriptTurns(Convs)
  }

  val warmUpRounds = 1
  val nominalRoundSeconds = 6.0

  def reference(env: Env): Unit = {
    ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    // the non-resumable path is the reference output
    val ref = ExtractPipeline.dedupModules(
      ExtractPipeline.modules(ExtractPipeline.extract(turns, ctx)))
    refColumns = ref.columns.toSeq
    expected = Digest.of(ref)._1
  }

  private def committed(env: Env, dir: String): DataFrame =
    ResumableExtract.readModules(env.spark, dir).select(refColumns.map(col): _*)

  def round(env: Env): Unit = {
    rounds += 1
    val dir = env.path(s"out-$rounds")
    val io = new RecordingIO(ParquetManifestIO)
    val fresh = env.op("fresh run") {
      env.tracer.span(primarySpan) {
        ResumableExtract.run(env.spark, turns, ctx, dir, Buckets, io)
      }
    } { res =>
      val d = Digest.of(committed(env, dir))._1
      val recorded = io.commits.map(_._1.modules).sum
      if (res.map(_.bucket).sorted != (0 until Buckets))
        Some(s"processed buckets ${res.map(_.bucket)} != all $Buckets")
      else if (d != expected) Some(s"committed digest $d != reference $expected")
      else if (recorded != d.rows)
        Some(s"commit records sum to $recorded modules, read back ${d.rows}")
      else None
    }
    fresh.foreach { case (secs, res) =>
      env.record("primary_s", secs)
      env.record("primary_items_per_s", nTurns / secs)
      redoneTurns = res.filter(r => RolledBack(r.bucket)).map(_.turns).sum
    }
    lastIO = io

    if (fresh.isDefined) {
      RolledBack.foreach(b => ParquetManifestIO.rollback(dir, b))
      val rio = new RecordingIO(ParquetManifestIO)
      env.op("resume run") {
        env.tracer.span(secondarySpan) {
          ResumableExtract.run(env.spark, turns, ctx, dir, Buckets, rio)
        }
      } { res =>
        val d = Digest.of(committed(env, dir))._1
        if (res.map(_.bucket).toSet != RolledBack)
          Some(s"resume redid buckets ${res.map(_.bucket).sorted}, not ${RolledBack.toSeq.sorted}")
        else if (d != expected) Some(s"digest after resume $d != reference $expected")
        else None
      }.foreach { case (secs, _) =>
        env.record("resume_s", secs)
        env.record("secondary_items_per_s", redoneTurns / secs)
      }
      lastResumeIO = rio
    }
    Workload.deleteTree(java.nio.file.Paths.get(dir))
  }

  /** Jobs of a ResumableExtract span, split by the program method that
    * submitted them (read from the stage call sites). */
  private def phases(ledger: Ledger, tr: Tracer, span: Span) = {
    val js = ledger.jobsOf(tr.run, tr.subtree(span))
    val (write, rest) = js.partition(_.callSites.contains("writePartitioned"))
    val (validate, other) = rest.partition(_.callSites.contains("countLanded"))
    (js, write, validate, other)
  }

  def traceExtras(env: Env): Seq[(String, Double, String)] = {
    val tr = env.tracer
    val ledger = env.ledger.get
    val spark = env.spark

    // layer probes, each its own span
    val scan = tr.span("pipeline.scan") {
      val t0 = System.nanoTime()
      turns.select(col("conv_id"), col("turn_idx"), col("text"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val extract = tr.span("pipeline.extract") {
      val t0 = System.nanoTime()
      ExtractPipeline.modules(ExtractPipeline.extract(turns, ctx)).count()
      (System.nanoTime() - t0) / 1e9
    }
    val dedupSpan = "pipeline.dedupModules"
    val dedup = tr.span(dedupSpan) {
      val t0 = System.nanoTime()
      ExtractPipeline.dedupModules(ExtractPipeline.modules(ExtractPipeline.extract(turns, ctx)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    PerfbenchRun.drain(spark)
    val dedupFold = ledger.fold(ledger.jobsOf(tr.run, tr.subtree(tr.named(dedupSpan).last)))

    // the last traced fresh run and resume run
    val run = tr.named(primarySpan).last
    val (js, write, validate, other) = phases(ledger, tr, run)
    val f = ledger.fold(js)
    val wall = run.seconds
    val gap = Stats.driverGap(run.interval, js.map(_.interval)) / 1000.0
    val jobS = (xs: Seq[Ledger.Job]) => xs.map(_.interval.length).sum / 1000.0
    val commits = lastIO.commits
    val coreTurnsPerS = 1e9 / CoreProbe.last("core.extract_ns_per_turn")

    val resume = tr.named(secondarySpan).last
    val (_, _, _, resumeOther) = phases(ledger, tr, resume)
    val rowsRead = ledger.recordsRead(resumeOther)
    val redone = lastResumeIO.commits.size

    Seq(
      ("pipeline.scan_s", scan, "s"),
      ("pipeline.extract_s", extract, "s"),
      ("pipeline.dedup_s", dedup, "s"),
      ("pipeline.dedup_shuffle_mb", dedupFold.shuffleMb, "MB"),
      ("pipeline.write_s", jobS(write), "s"),
      ("pipeline.validate_s", jobS(validate), "s"),
      ("pipeline.other_jobs_s", jobS(other), "s"),
      ("pipeline.commit_s", commits.map(_._2).sum / 1e9, "s"),
      ("pipeline.commit_calls", commits.size.toDouble, "count"),
      ("pipeline.jobs_per_run", js.size.toDouble, "count"),
      ("pipeline.driver_gap_s", gap, "s"),
      ("pipeline.run_wall_s", wall, "s"),
      ("pipeline.phase_sum_ratio",
        (jobS(write) + jobS(validate) + jobS(other) + gap) / wall, "ratio"),
      ("pipeline.task_skew", f.taskSkew, "ratio"),
      ("pipeline.gc_share", f.gcShare, "ratio"),
      ("pipeline.spill_mb", f.spillMb, "MB"),
      ("pipeline.extract_parallel_eff",
        (nTurns / extract) / (env.cores * coreTurnsPerS), "ratio"),
      ("pipeline.resume_rows_read_ratio", rowsRead.toDouble / math.max(1L, redoneTurns), "ratio"),
      ("pipeline.resume_s_per_bucket", resume.seconds / math.max(1, redone), "s"),
      ("extract_commit.turns_per_s", env.med("primary_items_per_s"), "1/s"),
      ("extract_commit.resume_s", env.med("resume_s"), "s"))
  }
}
