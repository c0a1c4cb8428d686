package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-facing output contract that round 10 proved can break
  * silently: the driver parses ONLY the final stdout line of Bench, captured
  * from a ~2000-char tail window — if the line is longer than the window,
  * the window starts mid-line and the driver reads half a JSON object
  * (BENCH_r10 "parsed": null). The registration contract lives in
  * [[graft.queries.OpRegistrySpec]].
  */
class BenchContractSpec extends AnyFunSuite {

  // Headroom under the 2000-char window: the line must fit even when some
  // preceding stderr/stdout noise shares the captured tail.
  private val LineBudget = 1900

  test("worst-case headline line fits the driver's tail window") {
    val benched = SparkEntry.queries.keys.toSeq
      .filterNot(SparkEntry.verifyOnly)
    // worst plausible case: every query at a 4-digit-seconds timing (a
    // 5-digit-seconds query is a dead round, not a formatting problem),
    // including the wall/load env fields at their widest plausible render
    val line = Bench.headline(benched.map(_ -> 9999.99), Nil,
      "/root/testdata/sf0.1", Bench.envJson(99999.999, 128.125))
    assert(line.length <= LineBudget,
      s"headline is ${line.length} chars for ${benched.size} benched queries " +
        s"— over the $LineBudget budget; shorten names or precision")
    // growth headroom (the r12 squeeze): the line is worst-N-bounded, so
    // even 120 benched queries with driver-worst names must leave >=25%
    // slack under the window
    val many = (1 to 120).map(i => f"q_a_long_query_name_$i%03d" -> 9999.99)
    val big = Bench.headline(many, Nil, "/root/testdata/sf0.1")
    assert(big.length <= LineBudget * 3 / 4,
      s"120-query headline is ${big.length} chars — under 25% slack")
    // the all-failed shape: every ERR up to WorstN rides the line, the
    // failed COUNT always does
    val worst = Bench.headline(Nil, benched, "/root/testdata/sf0.1")
    assert(worst.length <= LineBudget * 3 / 4)
    assert(worst.contains(s""""failed":${benched.size}"""))
  }

  test("full map artifact carries every query; tail carries the worst") {
    val ok = (1 to 30).map(i => f"q_n$i%02d" -> i.toDouble)
    val full = Bench.fullMapJson(ok, Seq("q_dead"))
    (1 to 30).foreach(i => assert(full.contains(f""""q_n$i%02d":""")))
    assert(full.contains(""""q_dead":"ERR""""))
    val line = Bench.headline(ok, Seq("q_dead"), "/root/testdata/sf0.1")
    // failures + the (WorstN - failures) slowest make the cut; fast ones don't
    assert(line.contains(""""q_dead":"ERR""""))
    assert(line.contains(""""q_n30":"""))
    assert(line.contains(""""q_n24":""")) // 7th slowest of 30
    assert(!line.contains(""""q_n23":""")) // 8th slot went to the failure
    assert(!line.contains(""""q_n01":"""))
    assert(line.contains(""""n_benched":31"""))
    assert(line.contains(""""detail":"scale/bench_detail_sf0.1.json""""))
  }

  test("headline is a single line of valid shape") {
    val line = Bench.headline(Seq("q_x" -> 1.0), Seq("q_y"), "sf")
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"metric":"total","value":1.00"""))
    assert(line.contains(""""q_y":"ERR""""))
    assert(line.contains(""""failed":1"""))
  }
}
