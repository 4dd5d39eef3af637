package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench run's LAST stdout line must survive the driver's bounded
  * stdout tail (~2000 chars) AND parse as JSON — every prior round's
  * artifact carried `"parsed": null` because the only JSON line was the
  * 17 KB full map, truncated from the front. [[Bench.compactLine]] is a
  * pure function, so the contract pins down without running Spark. */
class BenchEmitSpec extends AnyFunSuite {

  private def results(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q$i%03d_some_longer_query_name", i * 0.013))

  test("compact line is valid single-line JSON within the tail budget") {
    for (n <- Seq(0, 5, 224, 500)) {
      val line = Bench.compactLine(results(n), "/root/testdata/sf0.1", "target/bench.json")
      assert(!line.contains("\n"))
      assert(line.length <= 1400, s"n=$n emitted ${line.length} chars")
      val js = JsonMethods.parse(line) // throws on malformed JSON
      assert((js \ "metric") == JString("total"))
      assert((js \ "unit") == JString("sec"))
      assert((js \ "n_queries") == JInt(n))
      val JDouble(total) = (js \ "value"): @unchecked
      assert(math.abs(total - results(n).map(_._2).sum) < 1e-3)
    }
  }

  test("slowest queries survive truncation; failed queries are listed, not summed") {
    val rs = results(300) :+ ("q999_failed", -1.0)
    val line = Bench.compactLine(rs, "sf", "a.json")
    val js = JsonMethods.parse(line)
    assert((js \ "queries_truncated") == JBool(true))
    // the slowest real query must be present in the kept prefix
    val JObject(qs) = (js \ "queries"): @unchecked
    assert(qs.exists(_._1 == "q300_some_longer_query_name"))
    assert((js \ "failed") == JArray(List(JString("q999_failed"))))
    val JDouble(total) = (js \ "value"): @unchecked
    assert(total > 0) // the -1 marker did not subtract
  }

  test("small suites emit the full per-query map untruncated") {
    val line = Bench.compactLine(results(10), "sf", "a.json")
    val js = JsonMethods.parse(line)
    assert((js \ "queries_truncated") == JBool(false))
    val JObject(qs) = (js \ "queries"): @unchecked
    assert(qs.size == 10)
  }

  test("a mass-failure run still fits the tail budget") {
    // failures sit in the FIXED part of the line — without a cap, the
    // exact runs grading most needs to see would tail-truncate at k=0
    val rs = (1 to 225).map(i => (f"q$i%03d_some_longer_query_name", -1.0))
    val line = Bench.compactLine(rs, "sf", "a.json")
    assert(!line.contains("\n"))
    assert(line.length <= 1400, s"mass-failure line is ${line.length} chars")
    val js = JsonMethods.parse(line)
    val JArray(failed) = (js \ "failed"): @unchecked
    assert(failed.size == 15)
    assert((js \ "failed_more") == JInt(210))
    // a lightly-failing run lists every name and omits the marker
    val light = Bench.compactLine(results(20) :+ ("q999_failed", -1.0), "sf", "a.json")
    val js2 = JsonMethods.parse(light)
    assert((js2 \ "failed") == JArray(List(JString("q999_failed"))))
    assert((js2 \ "failed_more") == JNothing)
  }

  test("calibration readings ride along when supplied") {
    val line = Bench.compactLine(results(224), "sf", "a.json",
      calib = Some((1.234, 1.567)))
    val js = JsonMethods.parse(line)
    assert((js \ "calib_before") == JDouble(1.234))
    assert((js \ "calib_after") == JDouble(1.567))
    assert(line.length <= 1400)
  }

  test("a >2x internal calibration drift stamps a loud warning into the artifact") {
    // stationary pair: no warning field (round 10's driver artifact
    // drifted 4.7x internally with nothing in-band to flag it)
    val quiet = Bench.compactLine(results(5), "sf", "a.json", calib = Some((0.40, 0.55)))
    assert((JsonMethods.parse(quiet) \ "calib_drift_warning") == JNothing)
    // drifted pair (either direction): warning rides the compact line...
    val slow = Bench.compactLine(results(5), "sf", "a.json", calib = Some((0.426, 2.019)))
    val JString(w) = (JsonMethods.parse(slow) \ "calib_drift_warning"): @unchecked
    assert(w.contains("4.7x") && w.contains("not a stationary measurement"))
    val fast = Bench.compactLine(results(5), "sf", "a.json", calib = Some((2.019, 0.426)))
    assert((JsonMethods.parse(fast) \ "calib_drift_warning") != JNothing)
    // ...and the shared field builder feeds the full line too
    assert(Bench.calibWarnField(0.5, 0.6).isEmpty)
    assert(Bench.calibWarnField(0.5, 1.2).nonEmpty)
  }

  test("a SPARK_GRAFT_ONLY entry that matches no query fails the run, naming it") {
    val registered = Seq("q6_b", "q38_a", "q65_c")
    assert(Bench.selectQueries(registered, None) == Right(Seq("q38_a", "q65_c", "q6_b")))
    assert(Bench.selectQueries(registered, Some(Seq("q38", "q6_"))) == Right(Seq("q38_a", "q6_b")))
    // one typo among valid entries must not time the rest under its label
    val typo = Bench.selectQueries(registered, Some(Seq("q38", "q6x5", "q99")))
    assert(typo.swap.exists(e => e.contains("q6x5") && e.contains("q99") && !e.contains("q38")),
      typo.toString)
    assert(Bench.selectQueries(registered, Some(Seq.empty)).isLeft)
  }

  test("a query's io_bytes entry carries its shuffle bytes and its Spark work") {
    val js = JsonMethods.parse(Bench.workEntry(1L to Bench.WorkKeys.size.toLong))
    val JObject(fields) = js: @unchecked
    assert(fields.map(_._1) == List("sr", "sw", "sp", "jobs", "skipped_stages", "tasks",
      "run_ms", "cpu_ms", "gc_ms", "fetch_wait_ms"))
    assert((js \ "sr") == JInt(1) && (js \ "fetch_wait_ms") == JInt(10))
  }
}
