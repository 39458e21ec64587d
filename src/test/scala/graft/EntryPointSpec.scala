package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The runtime surface is four mains. A one-off measurement main is not a
  * fifth: the pipeline's per-layer breakdown comes from
  * `perfbench/run.py --trace 1`, the engine entries are timed by `Bench`. */
class EntryPointSpec extends AnyFunSuite {

  private val Main    = """def\s+main\s*\(\s*\w+\s*:\s*Array\[String\]\s*\)""".r
  private val App     = """\bobject\s+(\w+)\s+extends\s+App\b""".r
  private val Object  = """\bobject\s+(\w+)""".r
  private val Package = """(?m)^package\s+([\w.]+)""".r

  /** Fully qualified names of the objects under `root` that a JVM can launch. */
  private def mains(root: Path): Set[String] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally walk.close()
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val pkg = Package.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      // a main belongs to the nearest object declared before it
      val viaMain = Main.findAllMatchIn(src).flatMap { m =>
        Object.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
      }
      (viaMain ++ App.findAllMatchIn(src).map(_.group(1))).map(pkg + _)
    }.toSet
  }

  test("src/main defines exactly the four entry points") {
    val found = mains(Paths.get("src/main"))
    val expected = Set("graft.Bench", "graft.Verify", "graft.PlanDump", "graft.cometbft.Pipeline")
    assert(found == expected,
      s"entry points under src/main: added ${(found -- expected).toSeq.sorted.mkString(", ")}; " +
        s"missing ${(expected -- found).toSeq.sorted.mkString(", ")}. Measure the pipeline " +
        "with `perfbench/run.py --trace 1` and the engine entries with `Bench` " +
        "instead of adding a one-off main.")
  }
}
