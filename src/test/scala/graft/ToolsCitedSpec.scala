package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `main` object under `graft.tools` must be cited by the scaling
  * record (BENCH/BASELINE.md), SCALE.md or a spec. Per-stage timing belongs
  * to perfbench's traced runs; a one-off probe that nothing cites fails here
  * instead of staying in the library jar. */
class ToolsCitedSpec extends AnyFunSuite {
  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  test("each tools object is cited by BENCH/BASELINE.md, SCALE.md or a spec") {
    val self = Paths.get("src/test/scala/graft/ToolsCitedSpec.scala")
    val citing = (Seq(Paths.get("BENCH/BASELINE.md"), Paths.get("SCALE.md")) ++
      files("src/test").filterNot(_.endsWith(self)))
      .map(Files.readString(_)).mkString("\n")
    val ObjectDecl = """(?m)^object (\w+)""".r
    val tools = files("src/main/scala/graft/tools")
      .flatMap(f => ObjectDecl.findAllMatchIn(Files.readString(f)).map(_.group(1)))
    assert(tools.nonEmpty)
    val uncited = tools.filterNot(t => s"\\b$t\\b".r.findFirstIn(citing).isDefined)
    assert(uncited.isEmpty, s"tools no document or spec cites: ${uncited.mkString(", ")}")
  }
}
