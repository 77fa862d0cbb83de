package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench result line is a round ARTIFACT parsed from a bounded output
  * tail — length regressions silently void the round's performance record
  * (it happened twice before the precision fix), so the line format is
  * pinned here against the real query inventory.
  */
class BenchJsonSpec extends AnyFunSuite {

  private def lineFor(names: Seq[String], value: Double = 123.456789012): String =
    Bench.renderJson(names.map(_ -> value), Seq.empty, 3,
      "/root/testdata/sf0.1")

  test("bench line for the full current inventory stays far below the capture window") {
    // The harness keeps only the LAST 2 000 chars of output (BENCH_r01–r03
    // all have a tail field of exactly 2 000 chars), and ~100 chars of sbt
    // epilogue land after our line. Two pins:
    //  - generous-realistic shape (12 s for EVERY query ≈ 23 min total;
    //    the r4 worst single median was 4.4 s) must keep 300+ chars of
    //    margin: < 1 600;
    //  - the absurd uniform-123 s shape must still fit the hard window
    //    itself: < 1 900.
    val names = SparkEntry.queries.keys.toSeq
    val realistic = lineFor(names, 12.345678901)
    assert(realistic.length < 1600,
      s"bench line ${realistic.length} chars — the capture window is 2 000 minus epilogue")
    val absurd = lineFor(names)
    assert(absurd.length < 1900,
      s"worst-case bench line ${absurd.length} chars exceeds the 2 000-char window minus epilogue")
  }

  test("short keys are unique and collisions keep full names") {
    val names = SparkEntry.queries.keys.toSeq
    val short = Bench.shortKeys(names)
    assert(short.values.toSet.size === names.size, "short keys must stay unique")
    // the one known prefix collision keeps both full names
    assert(short("q10_distinct") === "q10_distinct")
    assert(short("q10_approx_distinct") === "q10_approx_distinct")
    assert(short("q1_filter_agg") === "q1")
  }

  test("bench line is valid single-line JSON with bounded-precision values and locale-proof dots") {
    // per-query values are magnitude-adaptive (2 dp < 1 s, 1 dp < 10 s,
    // whole seconds above — line-length budget: 130+ queries must fit the
    // tail window; 3-dp detail lives in BENCH_DETAIL.json), the total stays
    // 3 dp.
    val line = lineFor(Seq("q1_filter_agg", "q2_group_agg"))
    assert(!line.contains("\n"))
    assert(line.contains("\"q1\":123"), line)
    assert(line.contains("\"value\":246.914"), line)
    val sub1 = Bench.renderJson(Seq("q1_filter_agg" -> 0.23456), Seq.empty, 3, "/dir")
    assert(sub1.contains("\"q1\":0.23"), sub1)
    val sub10 = Bench.renderJson(Seq("q1_filter_agg" -> 1.23456), Seq.empty, 3, "/dir")
    assert(sub10.contains("\"q1\":1.2"), sub10)
    val sub100 = Bench.renderJson(Seq("q1_filter_agg" -> 12.3456), Seq.empty, 3, "/dir")
    assert(sub100.contains("\"q1\":12"), sub100)
    assert(!line.contains("123".concat(",46")), "decimal comma would break JSON parsing")
    // minimal structural parse without a JSON library: balanced braces,
    // expected top-level keys present
    assert(line.startsWith("{") && line.endsWith("}"))
    for (k <- Seq("\"metric\"", "\"value\"", "\"unit\"", "\"reps\"",
        "\"load\"", "\"queries\"", "\"errors\"", "\"sf\""))
      assert(line.contains(k), s"missing $k")
    // an SF dir with a quote and a backslash must not break the line
    val oddDir = "/data/sf \"0.1\"\\x"
    val odd = Bench.renderJson(Seq("q1_filter_agg" -> 1.0), Seq.empty, 3, oddDir)
    assert(new ObjectMapper().readTree(odd).get("sf").asText === oddDir, odd)
  }

  test("mins key: absent on idle runs, capped + budget-bounded on contended ones") {
    // idle: min ≈ median everywhere → no mins selected, no key rendered
    val idle = SparkEntry.queries.keys.toSeq.map(n => n -> ((1.0, 0.97)))
    assert(Bench.contendedMins(idle).isEmpty)
    assert(!Bench.renderJson(idle.map { case (k, (m, _)) => k -> m },
      Seq.empty, 3, "/dir", mins = Bench.contendedMins(idle)).contains("\"mins\""))
    // contended: a sub-0.5 s query never qualifies; big deltas win the cap
    val contended = Seq(
      "q1_filter_agg" -> ((0.4, 0.1)), // median < 0.5 s: excluded
      "q100_ann_ivfpq" -> ((17.0, 2.9)),
      "q40_tfidf_topterms" -> ((5.7, 1.1))) ++
      (1 to 10).map(i => s"q${i + 200}_x" -> ((1.0, 0.5)))
    val mins = Bench.contendedMins(contended)
    assert(mins.size == 6, s"cap at 6: $mins")
    assert(mins.head._1 == "q100_ann_ivfpq" && mins(1)._1 == "q40_tfidf_topterms")
    val line = Bench.renderJson(contended.map { case (k, (m, _)) => k -> m },
      Seq.empty, 3, "/dir", mins = mins)
    assert(line.contains("\"mins\":{\"q100\":2.9"), line)
    // the full inventory at worst-case widths must still fit the window
    // even when 6 long-name mins render
    val names = SparkEntry.queries.keys.toSeq
    val worst = Bench.renderJson(names.map(_ -> 123.456789012), Seq.empty, 3,
      "/root/testdata/sf0.1",
      mins = Seq("q143_approx_diversity", "q143_ngram_diversity",
        "q10_approx_distinct", "q10_distinct", "q100_ann_ivfpq",
        "q104_decontamination").map(_ -> 12.345))
    assert(worst.length < 1900, s"worst-case line with mins: ${worst.length}")
  }

  test("load averages render in the line so a contended run is self-evident") {
    val line = Bench.renderJson(Seq("q1_filter_agg" -> 1.0), Seq.empty, 3,
      "/dir", 2.5, 31.75)
    assert(line.contains("\"load\":[2.500,31.750]"), line)
  }

  test("errors map renders with escaped strings and failed queries are excluded from total") {
    val line = Bench.renderJson(Seq("ok_q" -> 1.0),
      Seq("bad_q" -> "IllegalStateException"), 3, "/dir")
    assert(line.contains("\"errors\":{\"bad\":\"IllegalStateException\"}"))
    assert(line.contains("\"value\":1.000"))
  }

  test("a measured query records its jobs, driver time and plan shape, as JSON") {
    val fn = SparkEntry.queries("q5_enrich_join")
    val (times, figures) = Bench.measure(TestSpark.spark, TestSpark.sf0001, fn, 2)
    assert(times.size === 2)
    val r = new ObjectMapper().readTree(Bench.renderDetail(
      Seq(("q5_enrich_join", (times.max, times.min), figures)), 2,
      TestSpark.sf0001, 0.5, 0.5)).get("queries").get("q5_enrich_join")
    def n(k: String) = r.get(k).asDouble
    assert(n("jobs") >= 1 && n("tasks") >= n("jobs"), r)
    assert(n("driver_s") >= 0 && n("driver_s") <= n("last_s"), r)
    val plan = r.get("plan")
    assert(plan.get("shuffle_exchanges").asInt + plan.get("broadcast_exchanges").asInt >= 1, r)
    // every join strategy the executed plan shows is counted
    val shown = fn(TestSpark.spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    val strategies = Seq("SortMergeJoin" -> "smj", "ShuffledHashJoin" -> "shj",
      "BroadcastHashJoin" -> "bhj", "BroadcastNestedLoopJoin" -> "bnlj",
      "CartesianProduct" -> "cartesian").filter(s => shown.contains(s._1))
    assert(strategies.nonEmpty, shown)
    strategies.foreach { case (node, key) => assert(plan.get(key).asInt >= 1, s"$node: $r") }
  }
}
