package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the main source tree's shape: the harness mains share one
  * session factory ([[HarnessSession]]), and measurements come from the
  * shared instruments (`QTime`, `PlanDump`, perfbench's trace), not from
  * hand-copied per-plan profiler mains. */
class MainSourceSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("main source: SparkSession.builder only in HarnessSession, and no *Prof main") {
    val sources = mainSources
    val builders = sources.collect { case (p, s) if s.contains("SparkSession.builder") => p.getFileName.toString }
    assert(builders == Seq("HarnessSession.scala"), s"SparkSession.builder in: $builders")
    val profilers = sources.flatMap { case (p, s) =>
      """(?m)^\s*object (\w+Prof)\b""".r.findAllMatchIn(s).map(m => s"${m.group(1)} ($p)")
    }
    assert(profilers.isEmpty, s"profiler mains: $profilers")
  }
}
