package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Locks the bench stdout contract: the driver's harness keeps only the
  * LAST 2000 characters of the line, so the summary must fit that window at
  * any realistic registry size — BENCH_r10–r12 were `parsed: null` for
  * three consecutive rounds because the per-query map overflowed it and
  * pushed every summary key past the cut. No SparkSession needed: the line
  * builder is pure.
  */
class BenchLineSpec extends AnyFlatSpec with Matchers {

  private val mapper = new ObjectMapper()

  private def parseTail2000(line: String): com.fasterxml.jackson.databind.JsonNode = {
    val tail = if (line.length > 2000) line.substring(line.length - 2000) else line
    mapper.readTree(tail)
  }

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q_ext_some_quite_long_query_name_number_$i%03d", i * 0.137))

  "Bench.summaryLine" should "fit the 2000-char stdout window at 200 queries" in {
    val line = Bench.summaryLine(fakeResults(200), 3,
      Seq(68.1, 106.2, 70.6), 71.2, 3.69, Seq(7.13, 6.2, 2.6),
      Nil, "/root/testdata/sf0.1")
    line.length should be <= 1900
    val js = parseTail2000(line)
    js.get("value").asDouble() should be > 0.0
    js.get("n_queries").asInt() shouldBe 200
    js.get("s_per_query").asDouble() should be > 0.0
    js.get("ratio_vs_r1").asDouble() should be > 0.0
    js.get("pass_totals").size() shouldBe 3
    js.get("n_errors").asInt() shouldBe 0
  }

  it should "stay inside the window with many errors (degrades, never overflows)" in {
    val errs = (1 to 120).map(i => f"q_ext_failing_query_with_a_long_name_$i%03d")
    val line = Bench.summaryLine(fakeResults(200), 3,
      Seq(68.1, 106.2, 70.6), 71.2, 3.69, Seq(7.13, 6.2, 2.6),
      errs, "/root/testdata/sf0.1")
    line.length should be <= 1900
    val js = parseTail2000(line)
    js.get("n_errors").asInt() shouldBe 120
    js.get("errors").size() should be > 0
  }

  it should "emit steal metrics and the corrected in-run ratio, still fitting the window (r17)" in {
    val line = Bench.summaryLine(fakeResults(200), 3,
      Seq(68.1, 106.2, 70.6), 71.2, 3.69, Seq(7.13, 6.2, 2.6),
      Nil, "/root/testdata/sf0.1", mergedRuns = 4, inRunTotal = 60.0,
      stealPct = 20.0)
    line.length should be <= 1900
    val js = parseTail2000(line)
    js.get("steal_pct").asDouble() shouldBe 20.0 +- 0.01
    // corrected = inrun_total × (1 − steal) / n / 0.279
    js.get("inrun_ratio_steal_adj").asDouble() shouldBe
      (60.0 * 0.8 / 200 / 0.279) +- 0.01
    // and NaN steal omits both keys (non-Linux hosts)
    val noSteal = parseTail2000(Bench.summaryLine(fakeResults(10), 1,
      Seq(1.0), 1.0, 1.0, Seq(1.0), Nil, "/root/testdata/sf0.1",
      mergedRuns = 1, inRunTotal = 1.0))
    noSteal.has("steal_pct") shouldBe false
    noSteal.has("inrun_ratio_steal_adj") shouldBe false
  }

  it should "emit the fixed-mix core25 ratio when all 25 are present at sf0.1" in {
    val core = Bench.Core25.toSeq.sorted.map(k => (k, 0.2))
    val ext = (1 to 95).map(i => (f"q_ext_x_$i%03d", 0.3))
    val line = Bench.summaryLine(core ++ ext, 3, Seq(33.5), 33.5, 1.0,
      Seq(1.0), Nil, "/root/testdata/sf0.1")
    val js = parseTail2000(line)
    js.get("core25_n").asInt() shouldBe 25
    js.get("core25_total").asDouble() shouldBe (25 * 0.2) +- 0.01
    js.get("core25_ratio").asDouble() shouldBe (5.0 / Bench.Core25BaseTotal) +- 0.01
  }

  it should "carry merged-run provenance and still fit the window" in {
    val line = Bench.summaryLine(fakeResults(200), 3,
      Seq(68.1, 106.2, 70.6, 69.0, 67.2), 71.2, 3.69,
      Seq(7.13, 6.2, 2.6, 2.2, 1.4), Nil, "/root/testdata/sf0.1",
      extraPasses = 2, mergedRuns = 4, inRunTotal = 72.41)
    line.length should be <= 1900
    val js = parseTail2000(line)
    js.get("extra_passes").asInt() shouldBe 2
    js.get("merged_runs").asInt() shouldBe 4
    js.get("inrun_total").asDouble() shouldBe 72.41 +- 0.01
    js.get("pass_totals").size() shouldBe 5
  }

  it should "mark rotated partial runs and omit the key on full runs (r18)" in {
    val rotated = parseTail2000(Bench.summaryLine(fakeResults(60), 3,
      Seq(20.0), 20.0, 1.0, Seq(1.0), Nil, "/root/testdata/sf0.1",
      rotate = Some((1, 3))))
    rotated.get("rotate").asText() shouldBe "1/3"
    val full = parseTail2000(Bench.summaryLine(fakeResults(60), 3,
      Seq(20.0), 20.0, 1.0, Seq(1.0), Nil, "/root/testdata/sf0.1"))
    full.has("rotate") shouldBe false
  }

  it should "omit merged provenance when there is nothing to merge" in {
    val line = Bench.summaryLine(fakeResults(120), 3, Seq(10.0), 10.0, 1.0,
      Seq(1.0), Nil, "/root/testdata/sf0.1")
    val js = parseTail2000(line)
    js.has("extra_passes") shouldBe false
    js.has("merged_runs") shouldBe false
    js.has("inrun_total") shouldBe false
  }

  "Bench run-log merging" should "round-trip floors and merge only same-head same-sf entries" in {
    val tmp = java.nio.file.Files.createTempFile("bench_runs", ".jsonl")
    try {
      val headA = "a" * 40
      val headB = "b" * 40
      val sf01 = "/root/testdata/sf0.1"
      Bench.appendRunLog(tmp, Some(headA), sf01, 32,
        Seq("q1" -> 1.5, "q2" -> 0.8), 2.3, 1.0, 3)
      Bench.appendRunLog(tmp, Some(headA), sf01, 32,
        Seq("q1" -> 1.2, "q2" -> 0.9, "q3" -> 4.0), 6.1, 0.5, 3)
      Bench.appendRunLog(tmp, Some(headB), sf01, 32, Seq("q1" -> 0.1), 0.1, 0.5, 3)
      Bench.appendRunLog(tmp, None, sf01, 32, Seq("q1" -> 0.01), 0.01, 0.5, 3) // dirty
      // same code, DIFFERENT scale factor: its ~10x-smaller floors must
      // never fold into the sf0.1 merge (review finding, round 14)
      Bench.appendRunLog(tmp, Some(headA), "/root/testdata/sf0.01", 32,
        Seq("q1" -> 0.05, "q2" -> 0.04), 0.09, 0.5, 3)
      val (floors, runs) = Bench.sameHeadFloors(headA, sf01, 32, tmp)
      runs shouldBe 2
      floors("q1") shouldBe 1.2 +- 1e-6
      floors("q2") shouldBe 0.8 +- 1e-6
      floors("q3") shouldBe 4.0 +- 1e-6
      // legacy bench_quiet entries (no head/queries) are skipped, not fatal
      java.nio.file.Files.write(tmp,
        "{\"ts\": 1.0, \"run\": 0, \"line\": \"{}\"}\nnot json at all\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      val (floors2, runs2) = Bench.sameHeadFloors(headA, sf01, 32, tmp)
      runs2 shouldBe 2
      floors2 shouldBe floors
      Bench.sameHeadFloors("c" * 40, sf01, 32, tmp)._2 shouldBe 0
      Bench.sameHeadFloors(headA, "/root/testdata/sf0.01", 32, tmp)._2 shouldBe 1
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  it should "merge only entries recorded on the same core count" in {
    val tmp = java.nio.file.Files.createTempFile("bench_runs", ".jsonl")
    try {
      val head = "a" * 40
      val sf01 = "/root/testdata/sf0.1"
      Bench.appendRunLog(tmp, Some(head), sf01, 8,
        Seq("q1" -> 2.0, "q2" -> 1.0), 3.0, 1.0, 3)
      Bench.appendRunLog(tmp, Some(head), sf01, 32,
        Seq("q1" -> 0.5, "q2" -> 0.4), 0.9, 1.0, 3)
      // an entry from before the cpus field: it names no core count
      java.nio.file.Files.write(tmp,
        ("{\"head\":\"" + head + "\",\"sf\":\"" + sf01 +
          "\",\"queries\":{\"q1\":0.1}}\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      val (c8, c8Runs) = Bench.sameHeadFloors(head, sf01, 8, tmp)
      c8Runs shouldBe 1
      c8("q1") shouldBe 2.0 +- 1e-6
      c8("q2") shouldBe 1.0 +- 1e-6
      val (c32, c32Runs) = Bench.sameHeadFloors(head, sf01, 32, tmp)
      c32Runs shouldBe 1
      c32("q1") shouldBe 0.5 +- 1e-6
      Bench.sameHeadFloors(head, sf01, 4, tmp)._2 shouldBe 0
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  it should "omit the sf0.1-anchored ratios at other scale factors" in {
    val line = Bench.summaryLine(fakeResults(120), 1, Seq(10.0), 10.0, 1.0,
      Seq(1.0), Nil, "/root/testdata/sf0.01")
    val js = parseTail2000(line)
    js.has("ratio_vs_r1") shouldBe false
    js.has("core25_ratio") shouldBe false
    js.get("n_queries").asInt() shouldBe 120
  }
}
