package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the by-hand tools: every tool session comes from
  * [[ToolSession]], and the deleted one-off probes stay deleted. */
class ToolSessionSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Vector[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector)
  }

  private def grep(re: scala.util.matching.Regex): Seq[(Path, String)] =
    sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined =>
          (f, s"$f:${i + 1}: ${line.trim}")
      }
    }

  test("source guard: only ToolSession and the driver-facing mains " +
      "build a SparkSession") {
    val allowed = Set("ToolSession.scala", "Bench.scala",
      "StreamBench.scala", "Verify.scala", "QTime.scala")
    val hits = grep("""SparkSession\s*\.\s*builder\b""".r)
      .filterNot { case (f, _) => allowed(f.getFileName.toString) }
    assert(hits.isEmpty, "use graft.ToolSession:\n" +
      hits.map(_._2).mkString("\n"))
  }

  test("source guard: the deleted one-off probes are not defined again") {
    val deleted = Seq("Profile", "OverheadProbe", "OverheadProbe2",
      "ConfProbe", "SubsetProbe", "TightLoop", "SubstrProbe",
      "SubstrStageProbe", "AnnBatchProbe", "ExplainCheck")
    val defined = (
      """\b(?:object|class|trait)\s+(""" + deleted.mkString("|") +
        """)\b""").r
    val hits = grep(defined)
    assert(hits.isEmpty, "perfbench/ and scripts/ cover these:\n" +
      hits.map(_._2).mkString("\n"))
  }
}
