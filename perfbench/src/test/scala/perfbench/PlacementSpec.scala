package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Run with `sbt test` from `perfbench/`. Pins the benchmark's placement:
  * its queries exist and sit in one workload each, `BENCHMARK.json` and
  * `expected.json` name what the code runs, and the harness keeps the
  * source rules the engine's own LintSpec enforces on `src/main`.
  */
class PlacementSpec extends AnyFunSuite {
  private val spec = Json.read(Paths.get("../BENCHMARK.json"))
  private val expected = Json.read(Paths.get("expected.json"))
  private val queries = Workloads.all.flatMap(_.queries)

  private def named(key: String): Seq[(String, String)] =
    spec.path(key).elements().asScala.map(m => m.path("name").asText -> m.path("unit").asText).toSeq

  test("every workload query is in the engine's catalog") {
    val missing = queries.filterNot(graft.SparkEntry.queries.contains)
    assert(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")
  }

  test("no query sits in two workloads") {
    val twice = queries.groupBy(identity).collect { case (q, n) if n.size > 1 => q }
    assert(twice.isEmpty, s"in more than one workload: ${twice.mkString(", ")}")
  }

  test("BENCHMARK.json names exactly the workloads and metrics the code runs") {
    val workloads = spec.path("workloads").elements().asScala.map(_.path("name").asText).toSeq
    assert(workloads == Workloads.all.map(_.name))
    assert(named("end_to_end") == Workloads.endToEnd)
    assert(named("per_layer") == Workloads.perLayer)
  }

  test("every workload query has a recorded expectation from its workload") {
    for (w <- Workloads.all; q <- w.queries) {
      val e = expected.path("queries").path(q)
      assert(!e.isMissingNode, s"no expectation for $q")
      assert(e.path("workload").asText == w.name, s"$q recorded under another workload")
    }
    val stale = expected.path("queries").fieldNames().asScala.toSet -- queries
    assert(stale.isEmpty, s"expectations for queries no workload runs: ${stale.mkString(", ")}")
  }

  test("harness sources keep the engine's src/main rules: no .rdd, no ???, " +
      "no unregistered graft.* conf key") {
    val sources = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val keyLit = """"(graft\.[a-z][a-zA-Z]*\.[a-z][a-zA-Z]*)"""".r
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.replaceAll("//.*$", "")
      if !code.trim.startsWith("*") && !code.trim.startsWith("import ")
      if """\.rdd\b""".r.findFirstIn(code).isDefined || code.contains("???") ||
        keyLit.findAllMatchIn(code).exists(m => !graft.Budgets.keys(m.group(1)))
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
