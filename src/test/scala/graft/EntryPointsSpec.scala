package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The jar's entry points are the driver contract (`Bench`, `Verify`)
  * and the plan-evidence dump (`PlanDump`). Measurement probes belong in
  * `perfbench/` or in an uncommitted scratch main; this spec fails when
  * one is committed under `src/main/scala`.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val topLevel =
    """(?m)^(?:(?:final|private|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+)""".r
  private val pkg = """(?m)^package\s+([\w.]+)""".r
  private val entry = """def\s+main\s*\(|extends\s+App\b""".r

  /** Fully qualified names of the top-level objects in `file` whose body
    * declares an entry point.
    */
  private def mains(file: Path): Seq[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val prefix = pkg.findAllMatchIn(src).map(_.group(1) + ".").mkString
    val defs = topLevel.findAllMatchIn(src).toSeq
    defs.zipWithIndex.collect {
      case (m, i) if m.group(1) == "object" &&
          entry.findFirstIn(src.substring(m.start,
            if (i + 1 < defs.size) defs(i + 1).start else src.length)).isDefined =>
        prefix + m.group(2)
    }
  }

  test("the only mains under src/main/scala are Bench, Verify and PlanDump") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty)
    assert(files.flatMap(mains).toSet === Set("graft.Bench", "graft.Verify", "graft.PlanDump"))
  }
}
