package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The plan half of a refactor check: writes, for every key of
  * `SparkEntry.queries` and `SparkEntry.materializations` sorted by name,
  * the key and its optimized logical plan, with what differs per JVM
  * stripped (`#<n>` expression ids, `$$Lambda...` class names, `@<hex>`
  * object addresses). Run it on two checkouts and `diff` the files: a line
  * that differs names a query or side table whose plan changed.
  *
  * {{{sbt -batch "Test/runMain graft.PlanDump <sfDir> <outFile>"}}} */
object PlanDump {
  private val volatile = Seq(
    """#\d+""" -> "#",
    """\$\$Lambda[\w$/]*""" -> "\\$\\$Lambda",
    """@[0-9a-f]+""" -> "@")

  def strip(plan: String): String =
    volatile.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val all = (SparkEntry.queries ++ SparkEntry.materializations).toSeq.sortBy(_._1)
      val out = all.map { case (name, fn) =>
        s"== $name\n" + strip(fn(spark, sfDir).queryExecution.optimizedPlan.toString)
      }
      Files.writeString(Paths.get(outFile), out.mkString("", "\n", "\n"))
      println(s"[plandump] ${all.size} plans -> $outFile")
    } finally spark.stop()
  }
}
