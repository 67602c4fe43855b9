package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every public object-level `def` in `graft.operators`, `graft.pipeline`
  * and `graft.streaming` must be named by the code that runs: the library
  * itself (queries, jobs, tools, other operators) or the benchmark. A
  * member that only specs call fails here, so it moves to `src/test` as a
  * reference or is deleted, instead of staying in the library jar. The
  * search skips comments and the member's own declaration line. */
class LibraryReachSpec extends AnyFunSuite {
  /** Members kept although no code names them, each with its reason. */
  private val allowed = Map(
    "pruneDone" -> ("the J4 resume skip: COVERAGE.md J4 and ICEBERG.md map " +
      "it to the reference's skip-what-was-read loop"))

  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** The file's lines with comments blanked, line numbers kept. */
  private def code(f: Path): Vector[String] = {
    val noBlock = """(?s)/\*.*?\*/""".r
      .replaceAllIn(Files.readString(f), m => "\n" * m.matched.count(_ == '\n'))
    noBlock.split("\n", -1).iterator.map(_.replaceAll("//.*", "")).toVector
  }

  private val TopLevel = """^((?:\S.*\s)?)(object|class|trait)\s+\w+.*""".r
  private val MemberDef = """^  (?:@\w+ |final |override |implicit )*def\s+(\w+).*""".r

  /** (line index, name) of each public def declared directly in a public
    * top-level object of `lines`. */
  private def publicObjectDefs(lines: Vector[String]): Seq[(Int, String)] = {
    var inPublicObject = false
    lines.zipWithIndex.flatMap {
      case (TopLevel(mods, kind), _) =>
        inPublicObject = kind == "object" && !mods.contains("private"); None
      case (MemberDef(name), i) if inPublicObject => Some(i -> name)
      case _ => None
    }
  }

  test("each public object-level def of operators, pipeline and streaming is reached") {
    val decls = for {
      pkg <- Seq("operators", "pipeline", "streaming")
      f <- files(s"src/main/scala/graft/$pkg")
      (i, name) <- publicObjectDefs(code(f))
    } yield (f, i, name)
    assert(decls.size > 50)
    val corpus = (files("src/main/scala") ++ files("perfbench/src/main")).map(f => f -> code(f))
    val unreached = decls.collect {
      case (f, i, name) if !allowed.contains(name) && {
        val named = s"\\b$name\\b".r
        !corpus.exists { case (g, lines) =>
          lines.indices.exists(j => !(g == f && j == i) && named.findFirstIn(lines(j)).isDefined)
        }
      } => s"$name (${f.getFileName}:${i + 1})"
    }
    assert(unreached.isEmpty,
      s"public members only specs call (move to src/test or delete): ${unreached.mkString(", ")}")
    val stale = allowed.keySet -- decls.map(_._3)
    assert(stale.isEmpty, s"allow-list entries with no such member: ${stale.mkString(", ")}")
  }
}
