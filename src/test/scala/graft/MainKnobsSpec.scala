package graft

import org.scalatest.funsuite.AnyFunSuite

/** The developer knobs of Bench and Verify: a malformed value is refused
  * with the knob's name and value, never turned into an empty or
  * shrunken run.
  */
class MainKnobsSpec extends AnyFunSuite {

  private def refused(knob: String, value: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(knob) && e.getMessage.contains(s"'$value'"),
      e.getMessage)
  }

  test("SPARK_GRAFT_BENCH_PASSES: unset is 3, a positive integer is " +
      "taken, zero and non-integers are refused by name") {
    assert(Bench.passesOf(None) == 3)
    assert(Bench.passesOf(Some(" 5 ")) == 5)
    for (v <- Seq("0", "-2", "two", "1.5", ""))
      refused("SPARK_GRAFT_BENCH_PASSES", v)(Bench.passesOf(Some(v)))
  }

  test("SPARK_GRAFT_BENCH_LOAD_WAITS: unset is 10, a non-negative integer " +
      "is taken, negatives and non-integers are refused by name") {
    assert(Bench.loadWaitsOf(None) == 10)
    assert(Bench.loadWaitsOf(Some("0")) == 0)
    assert(Bench.loadWaitsOf(Some(" 3 ")) == 3)
    for (v <- Seq("-1", "ten", "2.5", ""))
      refused("SPARK_GRAFT_BENCH_LOAD_WAITS", v)(Bench.loadWaitsOf(Some(v)))
  }

  test("SPARK_GRAFT_BENCH_ONLY: selects headline queries in headline " +
      "order; a list naming nothing or a non-headline query is refused") {
    assert(Bench.sweepOf(None) == Bench.headline)
    val two = Bench.headline.take(2)
    assert(Bench.sweepOf(Some(two.reverse.mkString(" , "))) == two)
    refused("SPARK_GRAFT_BENCH_ONLY", "q01_no_such_query")(
      Bench.sweepOf(Some("q01_no_such_query")))
    refused("SPARK_GRAFT_BENCH_ONLY", ",")(Bench.sweepOf(Some(",")))
    val exempt = Bench.exempt.keys.head
    val mixed = s"${two.head},$exempt"
    val e = intercept[IllegalArgumentException](Bench.sweepOf(Some(mixed)))
    assert(e.getMessage.endsWith(s"unknown: $exempt"), e.getMessage)
  }

  test("SPARK_GRAFT_VERIFY_ONLY and _EXCEPT: catalog names pass, a typo " +
      "or an empty list is refused naming the knob and the value") {
    val catalog = SparkEntry.queries.keySet
    val some = catalog.toSeq.sorted.take(3)
    assert(Verify.queryNames("SPARK_GRAFT_VERIFY_ONLY", some.mkString(","),
      catalog) == some.toSet)
    for (knob <- Seq("SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_VERIFY_EXCEPT")) {
      refused(knob, "q63_apss_tfidff")(
        Verify.queryNames(knob, "q63_apss_tfidff", catalog))
      refused(knob, "")(Verify.queryNames(knob, "", catalog))
    }
  }
}
