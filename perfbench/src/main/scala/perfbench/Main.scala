package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session and listener plumbing shared by the workloads. */
object PerfbenchRun {
  def session(cores: Int, scratch: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", scratch.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    .getOrCreate()

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --out <dir>`. Prints one JSON object as the
  * last line of standard output. With `--trace 0` it holds the end-to-end
  * metrics; with `--trace 1` the per-layer metrics, and the line before it
  * holds the workload's own layer metrics under "detail". */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, out: Path)

  private def options(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  private def outDir(m: Map[String, String]): Path =
    Paths.get(m.getOrElse("out", ".bench_build/perfbench")).toAbsolutePath

  def parse(args: Array[String]): Args = {
    val m = options(args)
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors), outDir(m))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val w = Workload.all.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val runDir = a.out.resolve(s"run-${a.workload}-${ProcessHandle.current().pid()}")
    var spark: SparkSession = null
    val code =
      try {
        run(a, w, runDir, sp => spark = sp).foreach(println)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${a.workload} aborted: $e")
          e.printStackTrace()
          1
      } finally {
        if (spark != null) spark.stop()
        Workload.deleteTree(runDir)
      }
    System.out.flush()
    sys.exit(code)
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  /** Runs the workload; returns the lines to print. */
  def run(a: Args, w: Workload, runDir: Path,
      onSession: SparkSession => Unit): Seq[String] = {
    // ---- set-up: session start, input generation, reference digests and
    // warm-up rounds
    val t0Session = System.nanoTime()
    val spark = PerfbenchRun.session(a.cores, runDir)
    onSession(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSecs = (System.nanoTime() - t0Session) / 1e9
    // the traced run times `core` first, in the same fresh JVM state on
    // every workload
    val core = if (a.trace) CoreProbe.run() else Nil
    val env = new Env(spark, a.seed, a.cores, Files.createDirectories(runDir.resolve("work")))
    val t0Gen = System.nanoTime()
    w.generate(env)
    val generateSecs = (System.nanoTime() - t0Gen) / 1e9
    val t0Warm = System.nanoTime()
    w.reference(env)
    (1 to w.warmUpRounds).foreach { _ => System.gc(); w.round(env) }
    val warmSecs = (System.nanoTime() - t0Warm) / 1e9
    env.log(f"session $sessionSecs%.2f s, generate $generateSecs%.2f s, " +
      f"reference and warm-up $warmSecs%.2f s")
    val setupSecs = sessionSecs + generateSecs + warmSecs
    env.samples.clear()
    val sc = env.spark.sparkContext

    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMillis = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMillis

    // ---- timed rounds
    val ledger = new Ledger
    val runId = s"${w.name}-${a.seed}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(sc, runId, enabled = true)
    val plain = new Tracer(sc, runId, enabled = false)
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    // a fixed number of rounds for the time asked: every run of a workload
    // takes the same number of samples. With --trace 1, rounds alternate
    // untraced / traced, starting untraced.
    val rounds = math.max(if (a.trace) 2 else 1, (a.seconds / w.nominalRoundSeconds).toInt)
    for (n <- 0 until rounds) {
      val roundStart = System.nanoTime()
      val traced = a.trace && n % 2 == 1
      if (traced) { sc.addSparkListener(ledger); env.ledger = Some(ledger) }
      env.tracer = if (traced) tracer else plain
      val before = env.samples.get("primary_s").map(_.size).getOrElse(0)
      System.gc() // every round starts from a collected heap
      w.round(env)
      val roundSecs = (System.nanoTime() - roundStart) / 1e9
      env.log(f"round ${n + 1} of $rounds${if (traced) " (traced)" else ""}: $roundSecs%.2f s; " +
        env.samples.map { case (k, v) => f"$k ${v.last}%.4g" }.mkString(", "))
      env.samples.get("primary_s").filter(_.size > before).foreach { s =>
        (if (traced) tracedWall else untracedWall) += s.last
      }
      if (traced) { PerfbenchRun.drain(env.spark); sc.removeSparkListener(ledger) }
    }

    val lines = mutable.ArrayBuffer.empty[String]
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupSecs, "s"),
        ("primary_items_per_s", env.med("primary_items_per_s"), "1/s"),
        ("secondary_items_per_s", env.med("secondary_items_per_s"), "1/s"))
      else {
        sc.addSparkListener(ledger)
        env.tracer = tracer
        val extras = w.traceExtras(env)
        PerfbenchRun.drain(env.spark)
        sc.removeSparkListener(ledger)
        def spanLedger(spanName: String) = {
          val spans = tracer.named(spanName)
          val folds = spans.map { s =>
            val tagged = ledger.jobsOf(runId, tracer.subtree(s))
            // jobs from threads that do not carry the span's job group (a
            // stream's micro-batch thread) are attributed by start time
            val untagged = ledger.allJobs.filter(j => !j.group.startsWith(runId + "/") &&
              j.start >= s.start && j.start <= s.end)
            val js = tagged ++ untagged
            (ledger.fold(js), Stats.driverGap(s.interval, js.map(_.interval)) / 1000.0)
          }
          def m(f: ((Ledger.Fold, Double)) => Double) = Stats.median(folds.map(f))
          Seq(
            ("jobs", m(_._1.jobs.toDouble), "count"),
            ("job_s", m(_._1.jobSeconds), "s"),
            ("driver_gap_s", m(_._2), "s"),
            ("shuffle_mb", m(_._1.shuffleMb), "MB"),
            ("task_skew", m(_._1.taskSkew), "ratio"),
            ("gc_share", m(_._1.gcShare), "ratio"),
            ("spill_mb", m(_._1.spillMb), "MB"))
        }
        val primary = spanLedger(w.primarySpan).map { case (k, v, u) => (s"primary.$k", v, u) }
        val secondary = spanLedger(w.secondarySpan).map { case (k, v, u) => (s"secondary.$k", v, u) }
        val jvm = Seq(
          ("jvm.peak_heap_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1e6, "MB"),
          ("jvm.gc_s", (gcMillis - gc0) / 1000.0, "s"),
          ("trace.overhead_ratio",
            Stats.median(tracedWall.toSeq) / Stats.median(untracedWall.toSeq), "ratio"))
        lines += s"""{"detail": ${json(extras)}}"""
        writeTrace(a, w, tracer, ledger, core ++ primary ++ secondary ++ jvm ++ extras)
        core ++ primary ++ secondary ++ jvm
      }

    val correct = env.failed == 0 && env.attempted > 0
    lines += s"""{"correct": $correct, "attempted": ${env.attempted}, "failed": ${env.failed}, "metrics": ${json(metrics)}}"""
    lines.toSeq
  }

  /** Spans, jobs and metrics of a traced run, written when the run ends. */
  private def writeTrace(a: Args, w: Workload, tr: Tracer, ledger: Ledger,
      metrics: Seq[(String, Double, String)]): Unit = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = tr.all.map(s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "run": ${str(s.run)}, """ +
        f""""start_ms": ${s.start}%.0f, "end_ms": ${s.end}%.0f, "self_s": ${tr.selfSeconds(s)}%.4f}""")
    val jobs = ledger.allJobs.map(j =>
      s"""{"id": ${j.id}, "group": ${str(j.group)}, "name": ${str(j.name)}, """ +
        f""""start_ms": ${j.start}%.0f, "end_ms": ${j.end}%.0f}""")
    val dir = Files.createDirectories(a.out.resolve("trace"))
    Files.writeString(dir.resolve(s"${w.name}-seed${a.seed}.json"),
      s"""{"workload": ${str(w.name)}, "seed": ${a.seed}, "metrics": ${json(metrics)},\n""" +
        s""""spans": [${spans.mkString(",\n")}],\n"jobs": [${jobs.mkString(",\n")}]}\n""")
  }
}
