package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Ivf, Pq}

/** Round-close warm-ANN bench artifact (round-17 verdict item 4): the
  * DEPLOYMENT path of the PQ/IVF tier — codebook/model loaded from their
  * saved parquet forms, codes and the IVF index read at rest, queries
  * served via the `*Indexed`/`*Encoded` entry points — timed every close
  * and gated no-worse-than-2×-of-prior-round by `scripts/close_gate.py`.
  * An A/B measured this once (2.5–3.2× over the registry's cold shapes,
  * SCALE.md "Round-17: the PQ/IVF saved-model warm path"; the A/B main is
  * in git at ac4574e); without a per-round artifact a regression in
  * [[graft.ops.Pq.buildIvfIndex]] / [[graft.ops.Pq.ivfAdcRerankTopKIndexed]]
  * would be invisible — the registry queries deliberately keep the cold,
  * oracle-portable shapes.
  *
  * Parameters are FIXED (that A/B's set: 16 fixed quantizer ids, m=4,
  * nprobe=4, topK=5, shortlist=50) so the numbers are comparable
  * round-over-round; timing is min-of-`passes` after one warmup, the
  * engine's standard floor estimate on this weather-prone host.
  *
  * The GATED `queries` map is the same-head merged minimum over every run
  * recorded in BENCH_WARM_RUNS.jsonl (round-18 verdict item 5: the rows
  * are sub-second, so a single hot window has ~0.3 s of headroom against
  * the 2× gate — min-of-5 in ONE window isn't a floor, min across windows
  * at the same source tree is; the main bench's BENCH_RUNS.jsonl
  * protocol). This run's own numbers ship alongside as `queries_inrun`;
  * the log key is [[graft.Bench.gitHead]]'s src-tree hash, so artifact
  * commits preserve history and source commits reset it, by design.
  *
  * Usage: `runMain graft.tools.BenchWarm [sfDir] [outPath] [passes]`.
  */
object BenchWarm {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.drop(1).headOption.getOrElse("BENCH_WARM_LOCAL.json")
    val passes = args.drop(2).headOption.flatMap(_.toIntOption).getOrElse(5)
    val loadIdle =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val cores = 32
    val spark = LocalSession(cores = cores, logLevel = "ERROR")

    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    val ids = (0 until 16).map(_ * 31L)
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_warm").toString

    // one-time index build (the amortized cost a deployment pays once)
    val tBuild0 = System.nanoTime()
    val cb = Pq.fixedCodebook(e, "vec_id", "embedding", ids, m = 4)
    val model = Ivf.fixedModel(e, "vec_id", "embedding", ids)
    Pq.saveCodebook(spark, cb, s"$dir/cb")
    Ivf.saveModel(spark, model, s"$dir/ivf")
    Pq.encode(e, "vec_id", "embedding", cb)
      .write.mode("overwrite").parquet(s"$dir/codes")
    Pq.buildIvfIndex(e, "vec_id", "embedding", model, cb)
      .write.mode("overwrite").parquet(s"$dir/ivf_index")
    val buildS = (System.nanoTime() - tBuild0) / 1e9

    val cbW = Pq.loadCodebook(spark, s"$dir/cb")
    val modelW = Ivf.loadModel(spark, s"$dir/ivf")
    val codesW = spark.read.parquet(s"$dir/codes")
    val indexW = spark.read.parquet(s"$dir/ivf_index")
    val q = e.filter(col("vec_id") < 8)

    def time(fn: () => Long): Double = {
      fn() // warmup (JIT/codegen)
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val rows = Seq(
      "pq_adc" -> time(() => Pq.adcTopK(q, codesW, "vec_id", "embedding",
        "vec_id", cbW, topK = 5).orderBy("query_id", "rank").count()),
      "ivf_adc" -> time(() => Pq.ivfAdcTopKIndexed(q, indexW, "vec_id",
        "embedding", modelW, cbW, topK = 5, nprobe = 4)
        .orderBy("query_id", "rank").count()),
      "pq_rerank" -> time(() => Pq.adcRerankTopKEncoded(q, e, codesW,
        "vec_id", "embedding", "vec_id", cbW, topK = 5, shortlist = 50)
        .orderBy("query_id", "rank").count()),
      "ivf_rerank" -> time(() => Pq.ivfAdcRerankTopKIndexed(q, e, indexW,
        "vec_id", "embedding", "vec_id", modelW, cbW, topK = 5, nprobe = 4,
        shortlist = 50).orderBy("query_id", "rank").count()))

    // same-head merged floors: read history BEFORE appending this run (so
    // merged_runs counts prior runs, like Bench), gate on the fold of both
    val runsLog = java.nio.file.Paths.get("BENCH_WARM_RUNS.jsonl")
    val head = graft.Bench.gitHead()
    val (hist, mergedRuns) = head
      .map(h => graft.Bench.sameHeadFloors(h, sfDir, cores, runsLog))
      .getOrElse((Map.empty[String, Double], 0))
    graft.Bench.appendRunLog(runsLog, head, sfDir, cores, rows,
      rows.map(_._2).sum, loadIdle, passes, src = "bench-warm")
    val merged = rows.map { case (n, s) =>
      n -> math.min(s, hist.getOrElse(n, s)) }

    merged.zip(rows).foreach { case ((n, m), (_, s)) =>
      println(f"[bench-warm] $n%-10s floor $m%.3fs (this run $s%.3fs)") }
    def qmap(q: Seq[(String, Double)]): String = q.map { case (n, s) =>
      "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(s))
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"warm_ann","passes":$passes,""" +
      s""""build_s":${String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(buildS))},"queries":${qmap(merged)},""" +
      s""""queries_inrun":${qmap(rows)},"merged_runs":$mergedRuns,""" +
      s""""load_idle":${String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(loadIdle))},"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[bench-warm] wrote $outPath (build ${f"$buildS%.2f"}s, " +
      s"merged over $mergedRuns prior same-head runs)")
    // the throwaway index build under java.io.tmpdir must not outlive the
    // run (r18 advice: each close leaked one directory)
    try {
      import java.nio.file.{Files, Path}
      Files.walk(Path.of(dir)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
