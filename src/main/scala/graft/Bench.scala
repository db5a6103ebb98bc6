package graft
object Bench {

  /** The §2.12 reference-parity registry — the FIXED query mix behind
    * `core25_ratio`. `ratio_vs_r1`'s 0.279 s/query constant divides by a
    * query count that grows every round (42 → 120+), so its trend mixes
    * engine speed with registry composition; this mix never changes, giving
    * the 2× gate a clean round-over-round trend line.
    */
  private[graft] val Core25: Set[String] = Set(
    "q_agg_minmax", "q_agg_mode_per_key", "q_agg_null_count",
    "q_dedup_business_key", "q_dedup_full_row", "q_derive_cast_date",
    "q_derive_concat_key", "q_derive_fill_default", "q_derive_split",
    "q_derive_strip_decimal", "q_derive_substr", "q_filter_eq",
    "q_filter_isin", "q_filter_range_date", "q_filter_rlike",
    "q_join_left_multi_key", "q_join_lookup_fallback", "q_join_lookup_left",
    "q_join_rowcount_guard", "q_pipeline_pretam", "q_project_rename",
    "q_scan_project", "q_sort_limit_first", "q_union_harmonize",
    "q_validate_format")

  /** Fixed denominator for `core25_ratio`: the Core25 floor total at sf0.1
    * from the earliest committed BENCH_LOCAL.json that contains all 25
    * (round-5 close, git 9f9833e — 5.723 s). A constant by design: the
    * ratio is a trend line, not an absolute grade.
    */
  private[graft] val Core25BaseTotal = 5.723

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  private def fmt(dec: Int, v: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** (steal, total) jiffies from the aggregate `cpu` line of /proc/stat —
    * the host-steal observable loadavg misses (round-15/16 finding: this
    * host's CPU steal spikes while loadavg reads quiet and vice versa).
    * (-1, -1) when unreadable (non-Linux), which NaN-omits the metric.
    */
  private[graft] def procStatCpu(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse(return (-1L, -1L))
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal guest guest_nice —
      // the kernel already folds guest/guest_nice into user/nice, so the
      // denominator is the first 8 fields only (user..steal); summing all
      // 10 double-counts guest time and understates steal_pct
      val steal = if (f.length > 7) f(7) else return (-1L, -1L)
      (steal, f.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Key identifying the CODE under measurement: the git tree hash of
    * `src` plus the `build.sbt` blob — None when either is dirty or git is
    * unavailable. Same-code merging is only sound between runs of
    * IDENTICAL code, but the commit hash is the wrong key: committing a
    * regenerated bench ARTIFACT moves HEAD without touching a source
    * line, which would orphan every previously seeded floor right before
    * the driver's own run. The src-tree key survives artifact commits; a
    * dirty src (or build) never participates.
    */
  private[graft] def gitHead(): Option[String] =
    try {
      def run(cmd: String*): String = {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) out else ""
      }
      val trees = run("git", "rev-parse", "HEAD:src", "HEAD:build.sbt")
        .split("\n").map(_.trim)
      val dirty = run("git", "status", "--porcelain", "--", "src", "build.sbt")
      if (trees.length == 2 && trees.forall(_.matches("[0-9a-f]{40}")) &&
          dirty.isEmpty)
        Some(trees.mkString("+"))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-query floors recorded by previous Bench runs AT THE SAME COMMIT
    * (BENCH_RUNS.jsonl entries carrying a `head` + `queries` map — written
    * by [[appendRunLog]] since round 14). The per-run total breathes with
    * the host's CPU-steal weather; the per-query min across same-code runs
    * is the closest observable to the code's floor, and is the merge the
    * round-13 verdict prescribed for the official artifact. Only runs on
    * the same core count merge: a 32-core floor folded into an 8-core
    * stamp would report the wider machine's times; entries written before
    * the `cpus` field existed never merge.
    */
  private[graft] def sameHeadFloors(head: String, sfDir: String, cpus: Int,
                                    path: java.nio.file.Path): (Map[String, Double], Int) = {
    if (!java.nio.file.Files.exists(path)) return (Map.empty, 0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val merged = scala.collection.mutable.Map.empty[String, Double]
    var runs = 0
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(path)).asScala.foreach { line =>
      try {
        val js = mapper.readTree(line)
        // key = same CODE and same SCALE FACTOR: an sf0.01 smoke run's
        // per-query times are ~10× smaller — merging them would fabricate
        // the official sf0.1 floors (review finding, round 14)
        if (js.hasNonNull("head") && js.get("head").asText() == head &&
            js.hasNonNull("sf") && js.get("sf").asText() == sfDir &&
            js.hasNonNull("cpus") && js.get("cpus").asInt() == cpus &&
            js.hasNonNull("queries")) {
          runs += 1
          val it = js.get("queries").fields()
          while (it.hasNext) {
            val e = it.next()
            val v = e.getValue.asDouble()
            if (v > 0)
              merged(e.getKey) = math.min(v, merged.getOrElse(e.getKey, v))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    (merged.toMap, runs)
  }

  private[graft] def appendRunLog(path: java.nio.file.Path, head: Option[String],
                                  sfDir: String, cpus: Int,
                                  queries: Seq[(String, Double)], value: Double,
                                  loadIdle: Double, passes: Int,
                                  src: String = "bench-main"): Unit =
    try {
      val qmap = queries.sortBy(_._1)
        .map { case (k, v) => jq(k) + ":" + fmt(4, v) }.mkString("{", ",", "}")
      val entry =
        s"""{"ts":${System.currentTimeMillis() / 1000.0},"src":${jq(src)},""" +
          s""""head":${head.map(jq).getOrElse("null")},"sf":${jq(sfDir)},""" +
          s""""cpus":$cpus,""" +
          s""""passes":$passes,""" +
          s""""value":${fmt(2, value)},"load_idle":${fmt(2, loadIdle)},""" +
          s""""queries":$qmap}""" + "\n"
      java.nio.file.Files.write(path, entry.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The bounded stdout summary line. The harness consuming stdout keeps
    * only the LAST 2000 characters (BENCH_r03/r04 tails began mid-JSON;
    * BENCH_r10–r12 were `parsed: null` because the per-query map alone
    * overflowed the window at 116+ queries, pushing every summary key past
    * the cut). Per-query detail lives in the committed BENCH_LOCAL.json;
    * stdout carries only O(passes) aggregates plus a top-K-slowest map, and
    * degrades (drop top-K, cap error names) rather than ever exceeding the
    * window — BenchLineSpec locks ≤1900 chars at 200 queries with errors.
    */
  private[graft] def summaryLine(results: Seq[(String, Double)], passes: Int,
                                 passTotals: Seq[Double], p50Total: Double,
                                 loadIdle: Double, loads: Seq[Double],
                                 errorNames: Seq[String],
                                 sfDir: String,
                                 extraPasses: Int = 0,
                                 mergedRuns: Int = 0,
                                 inRunTotal: Double = Double.NaN,
                                 stealPct: Double = Double.NaN,
                                 rotate: Option[(Int, Int)] = None): String = {
    val total = results.map(_._2).sum
    val sPerQuery = if (results.nonEmpty) total / results.size else 0.0
    val isSf01 = sfDir.contains("sf0.1")
    val ratioVsR1 = if (isSf01) sPerQuery / 0.279 else Double.NaN
    val coreQs = results.filter { case (k, _) => Core25.contains(k) }
    val coreTotal = coreQs.map(_._2).sum
    val coreRatio =
      if (isSf01 && coreQs.size == Core25.size) coreTotal / Core25BaseTotal
      else Double.NaN
    val slowest = results.sortBy(-_._2)
    def build(topK: Int, errCap: Int): String = {
      val pts = passTotals.map(fmt(2, _)).mkString("[", ",", "]")
      val lds = loads.map(fmt(2, _)).mkString("[", ",", "]")
      val errNames = (errorNames.take(errCap).map(jq) ++
        (if (errorNames.size > errCap)
           Seq(jq(s"+${errorNames.size - errCap} more")) else Nil))
        .mkString("[", ",", "]")
      val top = slowest.take(topK)
        .map { case (k, v) => jq(k) + ":" + fmt(2, v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(2, total)},"unit":"sec","passes":$passes,""" +
        s""""pass_totals":$pts,"p50_total":${fmt(2, p50Total)},""" +
        s""""n_queries":${results.size},""" +
        s""""s_per_query":${fmt(3, sPerQuery)},""" +
        s"""${if (ratioVsR1.isNaN) "" else s""""ratio_vs_r1":${fmt(2, ratioVsR1)},"""}""" +
        s""""core25_total":${fmt(2, coreTotal)},"core25_n":${coreQs.size},""" +
        s"""${if (coreRatio.isNaN) "" else s""""core25_ratio":${fmt(2, coreRatio)},"""}""" +
        s""""load_idle":${fmt(2, loadIdle)},"load_avg":$lds,""" +
        s"""${if (extraPasses > 0) s""""extra_passes":$extraPasses,""" else ""}""" +
        s"""${if (mergedRuns > 0)
             // like-for-like companion (advice, round 14): ratio_vs_r1 on a
             // merged-min line is a FLOOR estimate (per-query minima folded
             // across same-code runs); inrun_ratio is this run's own
             // min-of-passes total over the same denominator — directly
             // comparable to a single-run round-1 measurement.
             s""""merged_runs":$mergedRuns,"inrun_total":${fmt(2, inRunTotal)},""" +
               (if (isSf01 && results.nonEmpty)
                  s""""inrun_ratio":${fmt(2, inRunTotal / results.size / 0.279)},"""
                else "")
           else ""}""" +
        s"""${if (stealPct.isNaN) "" else {
             // steal-corrected companion (round-16 verdict item 7, derivation
             // in BASELINE.md): CPU-bound wall time under host steal fraction
             // s inflates by ~1/(1-s), so the quiet-host estimate of this
             // run's in-run figure is measured × (1 − s).
             s""""steal_pct":${fmt(1, stealPct)},""" +
               (if (isSf01 && results.nonEmpty && !inRunTotal.isNaN && stealPct < 100)
                  s""""inrun_ratio_steal_adj":${fmt(2,
                    inRunTotal * (1 - stealPct / 100) / results.size / 0.279)},"""
                else "")
           }}""" +
        s""""n_errors":${errorNames.size},"errors":$errNames,""" +
        s"""${if (topK > 0) s""""top_slowest":$top,""" else ""}""" +
        // a rotated (partial-registry) run must be unmistakable in its own
        // line: its totals cover a slice, not the registry — the close
        // gate refuses to stamp one (BASELINE.md rotation policy, r18)
        s"""${rotate.map { case (i, k) => s""""rotate":"$i/$k",""" }.getOrElse("")}""" +
        s""""sf":"$sfDir"}"""
    }
    Seq((10, 20), (0, 20), (0, 5), (0, 0))
      .map { case (t, e) => build(t, e) }
      .find(_.length <= 1900)
      .getOrElse(build(0, 0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.tools.LocalSession(cores = cpus)
    def loadAvg(): Double =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    // Idle load BEFORE any Spark work: the per-pass samples below include
    // this process's own executor threads, so only this number cleanly
    // separates external host steal from self-load.
    val loadIdle = loadAvg()
    // A query that throws must surface in the artifact, not vanish into a
    // fast "timing": BENCH_r09 recorded 5 analysis-broken queries as
    // 0.0-0.1s results and the round closed believing the registry green.
    // Every failure (warmup or timed) lands in `errors`, which is emitted in
    // the JSON line; a nonzero errors map means the bench FAILED regardless
    // of the total.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def recordError(name: String, e: Throwable): Unit =
      if (!errors.contains(name))
        errors(name) =
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160)}"
    // Registry rotation (round-17 verdict item 3, policy in BASELINE.md):
    // SPARK_GRAFT_ROTATE="i/k" times core-25 (always — it is the weather
    // probe AND the reference-parity gate mix) plus the i-th of k
    // deterministic tail slices. Slice membership hashes the query NAME
    // (String.hashCode is spec-fixed), so adding a query never reshuffles
    // existing assignments the way index-mod-k would. Farm runs rotate to
    // seed per-query floors at ~1/k of the full-registry cost; the kept
    // stamped line and the floor table always come from a FULL run (the
    // close gate refuses a line carrying the `rotate` key).
    val rotate: Option[(Int, Int)] =
      sys.env.get("SPARK_GRAFT_ROTATE").flatMap { s =>
        s.split("/") match {
          case Array(i, k) =>
            for { ii <- i.toIntOption; kk <- k.toIntOption
                  if kk > 0 && ii >= 0 && ii < kk } yield (ii, kk)
          case _ => None
        }
      }
    val benchQueries = rotate match {
      case Some((i, k)) => SparkEntry.queries.filter { case (name, _) =>
        Core25.contains(name) || math.floorMod(name.hashCode, k) == i }
      case None => SparkEntry.queries
    }
    // Warmup pass: pay JVM/codegen/broadcast-build startup once, outside the
    // timed run (the first executed query otherwise absorbs ~4s of session
    // warmup regardless of its own cost).
    benchQueries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable => recordError(name, e) }
    }
    // N timed passes (default 3, clamped to >=1; a malformed env value falls
    // back to the default instead of throwing), MIN per query: a single pass
    // is hostage to transient machine noise (a cold OS page cache measured
    // 5x; host CPU steal spiked 1.5x across round 7 and ~3x in the round-8
    // driver run, drowning real 10-30% deltas); the per-query minimum
    // estimates the query's cost floor, not the weather.
    //
    // Self-adjudication (round 9): alongside the floor the artifact records
    // per-query p50, every pass's total (not just the first), and the OS
    // 1-minute load average sampled before each pass. A reader can now tell
    // floor from weather from the artifact alone: floors moved = real
    // regression; only p50/pass totals moved, or load >> 0 = host steal.
    val passes = math.max(
      1, sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(3))
    def timedPass(): Seq[(String, Double)] =
      benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => recordError(name, e) }
        name -> (System.nanoTime() - t0) / 1e9
      }
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val allPasses = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val (steal0, jiffies0) = procStatCpu()
    (1 to passes).foreach { _ => loads += loadAvg(); allPasses += timedPass() }
    // Weather-adaptive extra passes (round-13 verdict finding #1): the
    // per-query min only reflects the CODE's floor if at least one pass per
    // query saw a quiet window. The fixed-mix core25 floor is a constant-
    // work weather probe (loadavg misses CPU steal); while it reads hot
    // (>1.15x its committed base) and budget remains, keep sampling — each
    // extra pass can only LOWER the floors, never fake them.
    val maxExtra = math.max(0, sys.env.get("SPARK_GRAFT_MAX_EXTRA_PASSES")
      .flatMap(_.toIntOption).getOrElse(3))
    def floorsOf(): Map[String, Double] =
      allPasses.toSeq.flatten.groupMapReduce(_._1)(_._2)(math.min)
    def core25Hot(): Boolean = {
      val c = floorsOf().filter { case (k, _) => Core25.contains(k) }
      c.size == Core25.size && c.values.sum / Core25BaseTotal > 1.15
    }
    var extraPasses = 0
    while (extraPasses < maxExtra && sfDir.contains("sf0.1") && core25Hot()) {
      loads += loadAvg(); allPasses += timedPass(); extraPasses += 1
    }
    // steal fraction ACROSS the timed window (all passes): Δsteal/Δtotal
    // of the aggregate /proc/stat cpu line — the weather observable the
    // 1-min loadavg misses on this host (BASELINE.md derivation)
    val (steal1, jiffies1) = procStatCpu()
    val stealPct =
      if (steal0 >= 0 && steal1 > steal0 && jiffies1 > jiffies0)
        100.0 * (steal1 - steal0) / (jiffies1 - jiffies0)
      else if (steal0 >= 0 && jiffies1 > jiffies0) 0.0
      else Double.NaN
    val passTotals = allPasses.toSeq.map(_.map(_._2).sum)
    val singlePassTotal = passTotals.head
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val byQuery = allPasses.transpose.map { qs =>
      (qs.head._1, qs.map(_._2).min, median(qs.map(_._2).toSeq))
    }.toSeq
    val inRunResults = byQuery.map { case (k, mn, _) => k -> mn }
    val inRunTotal = inRunResults.map(_._2).sum
    val p50Total = byQuery.map(_._3).sum
    // Same-head merged-min (round-13 verdict finding #1): fold this run's
    // floors with the per-query floors of every PRIOR Bench run at the same
    // commit (BENCH_RUNS.jsonl). Identical code, so a lower floor elsewhere
    // is the same code measured in better weather — the closest observable
    // to the code's actual floor. Only registry-current query names merge;
    // this run's own entry is appended AFTER reading so `merged_runs`
    // counts prior evidence, not self.
    val runsLog = java.nio.file.Paths.get("BENCH_RUNS.jsonl")
    val head = gitHead()
    val (histFloors, mergedRuns) =
      head.map(sameHeadFloors(_, sfDir, cpus, runsLog))
        .getOrElse((Map.empty[String, Double], 0))
    appendRunLog(runsLog, head, sfDir, cpus, inRunResults, inRunTotal,
      loadIdle, allPasses.size)
    val results =
      if (mergedRuns > 0)
        inRunResults.map { case (k, v) => k -> math.min(v, histFloors.getOrElse(k, v)) }
      else inRunResults
    val total = results.map(_._2).sum
    // The 2x perf gate is arithmetic over s/query vs the round-1 engine
    // baseline (11.7s / 42 queries = 0.279 s/query at sf0.1, BASELINE.md):
    // emit the ratio in the artifact so the round-over-round trend
    // (1.3x r9 -> 1.61x r10) is self-evident without cross-file math.
    // the 0.279 baseline is an sf0.1 number — emitting the ratio for any
    // other scale factor would put a bogus gate figure in the artifact,
    // so it is NaN-omitted unless this run IS sf0.1
    val r1SecPerQuery = 0.279
    val sPerQuery = if (results.nonEmpty) total / results.size else 0.0
    val ratioVsR1 =
      if (sfDir.contains("sf0.1")) sPerQuery / r1SecPerQuery else Double.NaN
    // Full-precision record for local round-over-round analysis: per-query
    // min AND p50, plus every raw pass, so no re-measurement is ever needed
    // to adjudicate a driver-side artifact (this file is committed).
    val fullQs = byQuery.map { case (k, mn, _) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // the MERGED per-query floors (same-head history folded in) — the
    // close-gate's round-over-round per-query regression input
    // (round-16 verdict item 1; scripts/bench_floors.py ships them as
    // BENCH_FLOORS_r{N}.json)
    val fullMerged = results.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullP50 = byQuery.map { case (k, _, p) => s"\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val fullRaw = allPasses.map(p =>
      p.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    val fullErrs = errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,""" +
        s""""single_pass_total":$singlePassTotal,""" +
        s""""pass_totals":${passTotals.mkString("[", ",", "]")},""" +
        s""""p50_total":$p50Total,""" +
        s""""n_queries":${results.size},"s_per_query":$sPerQuery,""" +
        s"""${if (ratioVsR1.isNaN) "" else s""""ratio_vs_r1":$ratioVsR1,"""}""" +
        s""""core25_total":${results.filter(r => Core25(r._1)).map(_._2).sum},""" +
        s""""extra_passes":$extraPasses,"merged_runs":$mergedRuns,""" +
        s""""inrun_total":$inRunTotal,""" +
        s""""load_idle":$loadIdle,""" +
        s""""load_avg":${loads.mkString("[", ",", "]")},""" +
        s""""n_errors":${errors.size},"errors":$fullErrs,""" +
        s"""${if (stealPct.isNaN) "" else s""""steal_pct":$stealPct,"""}""" +
        s""""queries":$fullQs,"queries_p50":$fullP50,""" +
        s""""queries_merged":$fullMerged,""" +
        s""""head":${head.map(jq).getOrElse("null")},""" +
        s"""${rotate.map { case (i, k) => s""""rotate":"$i/$k",""" }.getOrElse("")}""" +
        s""""raw_passes":$fullRaw,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // Round-19 verdict item 7: the driver's PERF comparison reads stdout,
    // whose 2000-char tail cannot carry a 142-query map — give it the
    // merged per-query floors as a stable artifact instead (flat
    // {query: floor_s}; additions-only, the stdout contract is untouched).
    // Rotated runs are partial registries and would clobber a full table,
    // so only FULL runs write it (same rule as the close gate's stamp).
    if (rotate.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_QUERIES.json"),
        (results.sortBy(_._1)
          .map { case (k, v) => jq(k) + ":" + v }
          .mkString("{", ",", "}") + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () }
    val out = summaryLine(results, passes, passTotals, p50Total,
      loadIdle, loads.toSeq, errors.keys.toSeq, sfDir,
      extraPasses = extraPasses, mergedRuns = mergedRuns,
      inRunTotal = inRunTotal, stealPct = stealPct, rotate = rotate)
    println(out)
    // The stdout line verbatim, for the close gate (scripts/close_gate.py)
    // to assert window-fit + parseability without re-running the bench.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_STDOUT.txt"),
      (out + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    if (errors.nonEmpty) {
      errors.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
