package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.ListenerBusDrain
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Turn
import graft.fixtures.TranscriptGen
import graft.operators.SharedSpark

/** Helpers shared by the landed-row specs. */
private object Landed {
  val ios: Seq[(String, TableIO)] =
    Seq("parquet-manifest" -> ParquetManifestIO, "snapshot-log" -> SnapshotLogIO)

  lazy val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)

  def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  def bucketDir(outDir: String, table: String, b: Int): String =
    f"$outDir/$table/bucket=$b%05d"

  /** The reference form of the landed-row count that the one-pass
    * `ResumableExtract.countLanded` is checked against: one read and count
    * per bucket directory, 0 when the directory is absent. */
  def referenceCount(spark: SparkSession, dir: String): Long =
    if (!Files.isDirectory(Paths.get(dir))) 0L else spark.read.parquet(dir).count()

  /** Results whose counts differ from the reference re-read of their bucket. */
  def offReference(spark: SparkSession, outDir: String,
      rs: Seq[ResumableExtract.BucketResult]): Seq[ResumableExtract.BucketResult] =
    rs.filterNot(r =>
      r.modules == referenceCount(spark, bucketDir(outDir, "modules", r.bucket)) &&
        r.errors == referenceCount(spark, bucketDir(outDir, "errors", r.bucket)))

  /** `TableIO` decorator recording every committed `BucketStat`. */
  final class Recording(inner: TableIO) extends TableIO {
    @transient val commits: ArrayBuffer[BucketStat] = ArrayBuffer.empty
    override def init(outDir: String): Unit = inner.init(outDir)
    override def committedBuckets(outDir: String): Seq[Int] = inner.committedBuckets(outDir)
    override def commitBucket(outDir: String, stat: BucketStat): Unit = {
      inner.commitBucket(outDir, stat)
      commits += stat
    }
    override def rollback(outDir: String, bucket: Int): Unit = inner.rollback(outDir, bucket)
  }
}

class ResumableExtractSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // the same kill/rerun lifecycle must hold through EITHER commit layer —
  // the TableIO seam is compile-checked AND behavior-checked
  for ((ioName, io) <- Landed.ios) {
    test(s"[$ioName] single-pass run commits per bucket; resume skips committed") {
      val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
      val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
      val turns = ExtractPipeline.transcripts(spark, 12L, 3)

      val first = ResumableExtract.run(spark, turns, ctx, dir, buckets = 4, io = io)
      assert(first.map(_.bucket).toSet == Set(0, 1, 2, 3))
      assert(first.map(_.turns).sum == turns.count())
      val allModules = ResumableExtract.readModules(spark, dir, io).count()
      assert(allModules == first.map(_.modules).sum)

      // resume: nothing left to do
      val second = ResumableExtract.run(spark, turns, ctx, dir, buckets = 4, io = io)
      assert(second.isEmpty)

      // partial resume: roll back one bucket's commit (= crash between data
      // write and commit) -> readModules must NOT leak that bucket's rows,
      // and exactly that bucket reruns with identical output afterwards
      io.rollback(dir, 2)
      val bucket2 = first.find(_.bucket == 2).get.modules
      assert(ResumableExtract.readModules(spark, dir, io).count()
        == allModules - bucket2)
      val third = ResumableExtract.run(spark, turns, ctx, dir, buckets = 4, io = io)
      assert(third.map(_.bucket) == Seq(2))
      assert(third.head.modules == bucket2)
      assert(ResumableExtract.readModules(spark, dir, io).count() == allModules)
    }
  }

  test("snapshot log: every commit is an immutable version; hint flips last") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    SnapshotLogIO.init(dir)
    assert(SnapshotLogIO.committedBuckets(dir).isEmpty)
    SnapshotLogIO.commitBucket(dir, BucketStat(3, 10, 5, 1))
    SnapshotLogIO.commitBucket(dir, BucketStat(1, 7, 2, 0))
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(1, 3))
    // re-commit of the same bucket replaces its stats, not duplicates
    SnapshotLogIO.commitBucket(dir, BucketStat(3, 11, 6, 0))
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(1, 3))
    SnapshotLogIO.rollback(dir, 3)
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(1))
    // immutable log: all versions still present on disk
    val meta = java.nio.file.Paths.get(dir, "metadata")
    val versions = java.nio.file.Files.list(meta).iterator()
    var vs = List.empty[String]
    while (versions.hasNext) vs ::= versions.next().getFileName.toString
    assert(vs.count(_.matches("v\\d+\\.json")) == 4)
  }

  test("snapshot log CAS: two committers at the same version — one loses loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas").toString
    SnapshotLogIO.init(dir)
    SnapshotLogIO.commitBucket(dir, BucketStat(0, 1, 1, 0)) // v1
    // deterministic race: both committers computed target v2; the first
    // publish wins, the second MUST refuse instead of clobbering it
    SnapshotLogIO.publishAt(dir, 2, Seq(BucketStat(0, 1, 1, 0), BucketStat(1, 2, 2, 0)))
    val loser = intercept[SnapshotLogIO.CommitConflictException] {
      SnapshotLogIO.publishAt(dir, 2, Seq(BucketStat(0, 1, 1, 0), BucketStat(7, 9, 9, 9)))
    }
    assert(loser.getMessage.contains("v2"))
    // the winner's snapshot is intact — bucket 7 never landed
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(0, 1))
    // no stray staged tmp left behind by the loser
    val meta = java.nio.file.Paths.get(dir, "metadata")
    val files = java.nio.file.Files.list(meta).iterator()
    while (files.hasNext) assert(!files.next().getFileName.toString.endsWith(".tmp"))
  }

  test("snapshot log: concurrent committers all land via CAS retry, none lost") {
    val dir = java.nio.file.Files.createTempDirectory("graft_casmt").toString
    SnapshotLogIO.init(dir)
    val threads = (0 until 8).map { b =>
      new Thread(() => SnapshotLogIO.commitBucket(dir, BucketStat(b, b + 1, b, 0)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every bucket committed exactly once despite contention on the version file
    assert(SnapshotLogIO.committedBuckets(dir) == (0 until 8))
  }

  test("snapshot log: orphan vN.json (crash before hint flip) is adopted, not wedged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orphan").toString
    SnapshotLogIO.init(dir)
    SnapshotLogIO.commitBucket(dir, BucketStat(0, 5, 3, 0)) // v1, hint=1
    // simulate a crash between the v2.json publish and the hint flip: the
    // snapshot file exists but the hint still says 1
    val meta = java.nio.file.Paths.get(dir, "metadata")
    java.nio.file.Files.writeString(meta.resolve("v2.json"),
      """{"version":2,"buckets":[{"bucket":0,"turns":5,"modules":3,"errors":0},""" +
        """{"bucket":4,"turns":8,"modules":6,"errors":1}]}""")
    // probe-forward discovery adopts the orphan as committed
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(0, 4))
    // and the next commit targets v3 — it does not wedge on the orphan
    SnapshotLogIO.commitBucket(dir, BucketStat(9, 1, 1, 0))
    assert(SnapshotLogIO.committedBuckets(dir) == Seq(0, 4, 9))
    assert(java.nio.file.Files.readString(meta.resolve("version-hint.text")).trim == "3")
  }

  // differential: the one-pass landed-row counts equal the per-directory
  // reference form, bucket by bucket, on a fresh run and on a resume
  for ((ioName, io) <- Landed.ios) {
    test(s"[$ioName] one-pass landed counts equal a per-bucket re-read; empty bucket counts 0") {
      val dir = Landed.tmpDir("graft_landed")
      val buckets = 6
      val empty = 4
      // drop every conversation of one bucket: it writes no directory
      val turns = ExtractPipeline.transcripts(spark, 12L, 3)
        .filter(ResumableExtract.bucketOf(org.apache.spark.sql.functions.col("conv_id"),
          buckets) =!= empty)
      val rec = new Landed.Recording(io)

      val first = ResumableExtract.run(spark, turns, Landed.ctx, dir, buckets, rec)
      assert(first.map(_.bucket) == (0 until buckets))
      assert(Landed.offReference(spark, dir, first).isEmpty)
      // both tables carry rows, so neither comparison is vacuous
      assert(first.map(_.modules).sum > 0 && first.map(_.errors).sum > 0)
      assert(!Files.exists(Paths.get(Landed.bucketDir(dir, "modules", empty))))
      assert(!Files.exists(Paths.get(Landed.bucketDir(dir, "errors", empty))))
      assert(first.find(_.bucket == empty).contains(
        ResumableExtract.BucketResult(empty, 0L, 0L, 0L)))
      assert(rec.commits.map(s => ResumableExtract.BucketResult(
        s.bucket, s.turns, s.modules, s.errors)) == first)

      // resume over a subset that includes the empty bucket
      val redo = Seq(1, 3, empty)
      redo.foreach(io.rollback(dir, _))
      val resumed = ResumableExtract.run(spark, turns, Landed.ctx, dir, buckets, io)
      assert(resumed.map(_.bucket) == redo)
      assert(Landed.offReference(spark, dir, resumed).isEmpty)
      assert(resumed == first.filter(r => redo.contains(r.bucket)))
      assert(io.committedBuckets(dir) == (0 until buckets))
    }
  }
}

/** Write commit protocol that, once a write into a `modules` table has
  * committed, truncates one landed data file to half its length: a torn
  * file that the landed-row pass must refuse to count. */
class TruncatingCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, taskCommits)
    if (path.endsWith("modules")) {
      val stream = Files.walk(Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath))
      val victim = try stream.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toSeq.sortBy(_.toString).head finally stream.close()
      // drop the checksum too, so the read fails on the parquet footer
      Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
      val ch = Files.newByteChannel(victim, StandardOpenOption.WRITE)
      try ch.truncate(ch.size() / 2) finally ch.close()
    }
  }
}

class LandedRowsRobustnessSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def turns(s: SparkSession): Dataset[Turn] = ExtractPipeline.transcripts(s, 12L, 3)

  private def files(dir: Path, keep: String => Boolean): Seq[Path] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala.filter(p => keep(p.getFileName.toString)).toSeq
    finally stream.close()
  }

  test("non-data files in a bucket directory leave the landed counts unchanged") {
    val dir = Landed.tmpDir("graft_stray")
    val res = ResumableExtract.run(spark, turns(spark), Landed.ctx, dir, 4)
    val before = ResumableExtract.countLanded(spark, dir, 0 until 4)
    assert(before.values.sum == res.map(r => r.modules + r.errors).sum)

    // every name below starts with `_` or `.`; the two copies of a real data
    // file would add rows if the pass read them
    for (table <- Seq("modules", "errors"); b <- 0 until 4) {
      val bd = Paths.get(Landed.bucketDir(dir, table, b))
      if (Files.isDirectory(bd)) {
        val data = files(bd, _.endsWith(".parquet")).head
        Files.writeString(bd.resolve("_SUCCESS"), "")
        Files.writeString(bd.resolve(".part-99999-stray.snappy.parquet.crc"), "not a crc")
        Files.copy(data, bd.resolve("_tmp"))
        Files.createDirectories(bd.resolve("_temporary/0"))
        Files.copy(data, bd.resolve("_temporary/0/part-99999-attempt.snappy.parquet"))
      }
    }
    assert(ResumableExtract.countLanded(spark, dir, 0 until 4) == before)
    // the reference form ignores the same names
    for (table <- Seq("modules", "errors"); b <- 0 until 4)
      assert(before.getOrElse((table, b), 0L) ==
        Landed.referenceCount(spark, Landed.bucketDir(dir, table, b)))
  }

  test("a truncated data file fails run before any commit; a clean rerun commits true counts") {
    val dir = Landed.tmpDir("graft_torn")
    val torn = spark.newSession()
    torn.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[TruncatingCommitProtocol].getName)
    val rec = new Landed.Recording(ParquetManifestIO)
    val e = intercept[Exception] {
      ResumableExtract.run(torn, turns(torn), Landed.ctx, dir, 4, rec)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("is not a Parquet file")), e)
    assert(rec.commits.isEmpty)
    assert(ParquetManifestIO.committedBuckets(dir).isEmpty)

    // the rerun pre-cleans the torn bucket and commits what really landed
    val res = ResumableExtract.run(spark, turns(spark), Landed.ctx, dir, 4, rec)
    assert(res.map(_.bucket) == (0 until 4))
    assert(rec.commits.map(_.bucket) == (0 until 4))
    assert(Landed.offReference(spark, dir, res).isEmpty)
  }
}

/** Spark jobs of the validation step: jobs whose call site, or the call
  * site of the SQL execution that submitted them, names `countLanded`.
  * Adaptive execution submits some jobs from its own threads; those carry
  * only the execution id, so execution call sites are kept by id. */
private final class ValidationJobs extends SparkListener {
  private val executions = scala.collection.mutable.Map.empty[String, String]
  private var jobs = 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId.toString) = x.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(executions.get).getOrElse("")
    if ((e.stageInfos.map(_.details) :+ exec).exists(_.contains("countLanded"))) jobs += 1
  }

  def count: Int = synchronized(jobs)
}

class LandedRowsJobCountSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("validation runs at most 2 Spark jobs, at 4 and at 16 buckets") {
    val turns = ExtractPipeline.transcripts(spark, 64L, 4)
    for (buckets <- Seq(4, 16)) {
      val dir = Landed.tmpDir("graft_jobs")
      val jobs = new ValidationJobs
      spark.sparkContext.addSparkListener(jobs)
      try {
        ResumableExtract.run(spark, turns, Landed.ctx, dir, buckets)
        ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(jobs)
      // most buckets landed a directory, so a per-bucket count would show
      val landed = (0 until buckets).count(b =>
        Files.isDirectory(Paths.get(Landed.bucketDir(dir, "modules", b))))
      assert(landed >= buckets * 3 / 4, s"$landed of $buckets buckets landed")
      assert(jobs.count >= 1 && jobs.count <= 2, s"${jobs.count} validation jobs at $buckets buckets")
    }
  }
}
