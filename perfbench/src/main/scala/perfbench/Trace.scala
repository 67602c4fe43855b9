package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.pipeline.{BucketStat, TableIO}

/** One traced call into a layer: name, start and end (epoch ms), the span
  * that enclosed it (0 = none) and the workload run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, end: Double) {
  def interval: Stats.Interval = Stats.Interval(start, end)
  def seconds: Double = (end - start) / 1000.0
}

/** Spans kept in memory, recorded around the benchmark's calls into the
  * program. Each span tags the Spark jobs submitted inside it by setting
  * the job group (id `run/span`) and description from the calling thread,
  * so the [[Ledger]] can attribute jobs to spans. A disabled tracer runs
  * the body and records nothing. */
final class Tracer(sc: SparkContext, val run: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil // open spans, innermost first
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      sc.setJobGroup(s"$run/$id", name)
      stack = (id, name) :: stack
      val t0 = System.currentTimeMillis().toDouble
      try body
      finally {
        spans += Span(id, name, parent, run, t0, System.currentTimeMillis().toDouble)
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(s"$run/$p", pName)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spans named `name`, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).sortBy(_.start).toSeq

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    var ids = Set(root.id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => ids(s.parent) && !ids(s.id)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfSeconds(s: Span): Double =
    Stats.selfTime(s.interval, children(s).map(_.interval)) / 1000.0
}

/** A `SparkListener` that folds job intervals and task metrics, keyed by
  * the job group the [[Tracer]] set. */
object Ledger {
  /** A finished Spark job: its group, interval (epoch ms), stages, the
    * name of its last stage, and the call sites of its stages and of the SQL
    * execution that submitted it. */
  final case class Job(id: Int, group: String, start: Double, end: Double,
      stages: Seq[Int], name: String, callSites: String) {
    def interval: Stats.Interval = Stats.Interval(start, end)
    def spanId: Option[Int] = group.split('/').lastOption.flatMap(_.toIntOption)
  }
  final case class Task(stage: Int, millis: Long, runMillis: Long, gcMillis: Long,
      shuffleWrite: Long, recordsRead: Long, spilled: Long)

  /** Totals over a set of jobs. `taskSkew` is max over median task time in
    * the stage with the most task time. */
  final case class Fold(jobs: Int, jobSeconds: Double, shuffleMb: Double,
      spillMb: Double, gcShare: Double, taskSkew: Double)
}

final class Ledger extends SparkListener {
  import Ledger._

  private val starts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
  // call sites of SQL executions: jobs that adaptive execution submits from
  // its own threads carry only the execution id, not the caller's stack
  private val executions = scala.collection.mutable.Map.empty[String, String]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId.toString) = x.description + "\n" + x.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { s =>
      def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.id").flatMap(executions.get).getOrElse("")
      jobs += Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""), s.time.toDouble,
        e.time.toDouble, s.stageInfos.map(_.stageId),
        s.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
        (s.stageInfos.map(_.details) :+ exec).mkString("\n"))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
        m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  def allJobs: Seq[Job] = synchronized(jobs.toSeq)

  /** Jobs tagged with any span in `spanIds` of run `run`. */
  def jobsOf(run: String, spanIds: Set[Int]): Seq[Job] = synchronized {
    jobs.filter(j => j.group.startsWith(run + "/") && j.spanId.exists(spanIds)).toSeq
  }

  /** Input records read by the tasks of `js`. */
  def recordsRead(js: Seq[Job]): Long = synchronized {
    val stageIds = js.flatMap(_.stages).toSet
    tasks.filter(t => stageIds(t.stage)).map(_.recordsRead).sum
  }

  def fold(js: Seq[Job]): Fold = synchronized {
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds(t.stage)).toSeq
    val run = ts.map(_.runMillis).sum
    val byStage = ts.groupBy(_.stage)
    val skew =
      if (byStage.isEmpty) 1.0
      else {
        val largest = byStage.values.maxBy(_.map(_.millis).sum)
        val med = Stats.median(largest.map(_.millis.toDouble))
        largest.map(_.millis).max / math.max(1.0, med)
      }
    Fold(js.size, js.map(_.interval.length).sum / 1000.0,
      ts.map(_.shuffleWrite).sum / 1e6, ts.map(_.spilled).sum / 1e6,
      if (run > 0) ts.map(_.gcMillis).sum.toDouble / run else 0.0, skew)
  }
}

/** `TableIO` decorator that delegates to `inner` and records every commit:
  * the committed `BucketStat` and the wall time of the commit call. */
final class RecordingIO(inner: TableIO) extends TableIO {
  @transient val commits: ArrayBuffer[(BucketStat, Long)] = ArrayBuffer.empty

  override def init(outDir: String): Unit = inner.init(outDir)
  override def committedBuckets(outDir: String): Seq[Int] = inner.committedBuckets(outDir)
  override def commitBucket(outDir: String, stat: BucketStat): Unit = {
    val t0 = System.nanoTime()
    inner.commitBucket(outDir, stat)
    commits += ((stat, System.nanoTime() - t0))
  }
  override def rollback(outDir: String, bucket: Int): Unit = inner.rollback(outDir, bucket)
}
