package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload run shares with its workload: the session, the seed,
  * a private work directory, the tracer of the current round and the
  * operation tally. */
final class Env(val spark: SparkSession, val seed: Long, val cores: Int,
    val workDir: java.nio.file.Path) {
  var tracer: Tracer = new Tracer(spark.sparkContext, "setup", enabled = false)
  var ledger: Option[Ledger] = None

  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Samples by name, in recording order. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def med(name: String): Double = Stats.median(samples(name).toSeq)

  /** One timed operation. Counts as attempted; counts as failed when it
    * throws or when `check` returns an error. Returns the wall seconds and
    * the result, or None on failure. */
  def op[A](what: String)(body: => A)(check: A => Option[String]): Option[(Double, A)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val outcome =
      try {
        val a = body
        val secs = (System.nanoTime() - t0) / 1e9
        check(a) match {
          case None => Right((secs, a))
          case Some(err) => Left(err)
        }
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    outcome match {
      case Right(r) => Some(r)
      case Left(err) =>
        failed += 1
        failures += s"$what: $err"
        System.err.println(s"[perfbench] FAILED $what: $err")
        None
    }
  }

  def path(name: String): String = workDir.resolve(name).toString

  private val born = System.nanoTime()
  /** Progress note on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1fs $msg")
}

/** A benchmark workload. `generate` makes the inputs from the seed;
  * `reference` computes the reference digests. `round` runs the timed operations once, checks each output,
  * and records the samples
  * `primary_items_per_s`, `secondary_items_per_s` and `primary_s` (wall
  * seconds of the primary operation). `traceExtras` runs once after the
  * traced rounds and returns the workload's own layer metrics as
  * (name, value, unit). */
trait Workload {
  def name: String
  def generate(env: Env): Unit
  def reference(env: Env): Unit
  /** Untimed rounds after `reference`, which itself runs the workload's
    * operations once: in a fresh JVM round times keep falling for a few
    * rounds, and the timed rounds' median is taken past the steepest part. */
  def warmUpRounds: Int
  def round(env: Env): Unit
  /** Wall time of a warm round on 4 vCPUs, rounded. A run of
    * `--seconds s` times max(1, floor(s / nominalRoundSeconds)) rounds,
    * so the round count does not depend on how fast a run happens to be. */
  def nominalRoundSeconds: Double
  /** Span names of the primary and secondary operations of a round. */
  def primarySpan: String
  def secondarySpan: String
  def traceExtras(env: Env): Seq[(String, Double, String)]
}

object Workload {
  val all: Map[String, Workload] =
    Seq(ExtractCommit, CurateCorpus, EventJoins).map(w => w.name -> w).toMap

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }
}
