package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library materializes intermediates in one place: `GraftBridge.pin`
  * for eager pins, plus the scoped `persist`/`unpersist` pairs that an
  * action already running fills and a known point releases. A
  * `localCheckpoint` or `cache` anywhere else, or a new `persist`, fails
  * here instead of bringing back a per-operator policy. */
class PinPolicySpec extends AnyFunSuite {
  private val pinFile = Paths.get("src/main/scala/org/apache/spark/sql/GraftBridge.scala")

  /** The scoped persists, by file: ExtractJob's extraction pass and incoming
    * entities, ResumableExtract.run's extraction pass, the `skipRuleOutcome`
    * slot's two error sets and the `mediaTable` slot. */
  private val scopedPersists = Map(
    "graft/ExtractJob.scala" -> 2,
    "graft/pipeline/ResumableExtract.scala" -> 1,
    "graft/queries/Extraction.scala" -> 2,
    "graft/queries/NearDupAnn.scala" -> 1)

  private def sources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("no localCheckpoint or cache outside pin, and only the scoped persists") {
    val files = sources.filterNot(_.endsWith(pinFile))
    assert(files.size > 50)
    val Unpinned = """\blocalCheckpoint\s*\(|\.cache\s*\(""".r
    val offenders = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if Unpinned.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, s"materialize through GraftBridge.pin:\n${offenders.mkString("\n")}")
    val Persist = """\.persist\s*\(""".r
    val persists = files.map { f =>
      Paths.get("src/main/scala").relativize(f).toString ->
        Persist.findAllMatchIn(Files.readString(f)).size
    }.filter(_._2 > 0).toMap
    assert(persists == scopedPersists)
  }
}
