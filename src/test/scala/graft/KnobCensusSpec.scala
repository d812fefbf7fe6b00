package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the engine reads, pinned: a new knob has to
  * edit [[KnobCensusSpec.Pinned]], so it is seen in review. A read counts
  * when `src/main/scala` calls `sys.env` or `System.getenv`; its key must
  * be a string literal, since a computed key could not be pinned.
  */
class KnobCensusSpec extends AnyFunSuite {

  test("src/main reads exactly the pinned environment variables") {
    val root = Paths.get("src/main/scala")
    val lines = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sorted.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex
          .map { case (l, i) => (s"${root.relativize(f)}:${i + 1}", l) }
      }
    val read = """sys\.env|System\.getenv""".r
    val keyed = """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]+)"""".r
    val unkeyed = lines.collect { case (at, l)
      if read.findAllIn(l).size != keyed.findAllIn(l).size => s"$at: ${l.trim}" }
    assert(unkeyed.isEmpty, s"environment reads without a literal key:\n${unkeyed.mkString("\n")}")
    val keys = lines.flatMap { case (_, l) => keyed.findAllMatchIn(l).map(_.group(1)) }.toSet
    assert(keys == KnobCensusSpec.Pinned,
      s"added: ${(keys -- KnobCensusSpec.Pinned).toSeq.sorted.mkString(", ")}; " +
        s"removed: ${(KnobCensusSpec.Pinned -- keys).toSeq.sorted.mkString(", ")}")
  }
}

object KnobCensusSpec {
  val Pinned: Set[String] = Set(
    "FANIN_E2E", "FANIN_MULT",
    "GATE_PROBE", "GATE_PROBE_JOBS", "GATE_PROBE_PLANS", "GATE_PROBE_REPS", "GATE_PROBE_SITES",
    "REL_MULT", "REL_SF_DIR",
    "SPARK_GRAFT_BENCH_COUNT_ACTION", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")
}
