package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark run in one fresh JVM: set up the session, run the workload's
  * operations in a cold pass and then in as many warm passes as fill about
  * the given number of seconds, and write what was measured as JSON for
  * `run.py`.
  *
  * An operation is one registry query (build the DataFrame, then `collect`
  * it, which computes every output column) or one `Runner.run` of the payroll
  * ETL. Every operation's output is kept for the correctness check: the
  * first pass's query results are written as JSON, later passes must produce
  * the same digest, and the payroll outputs stay on disk.
  *
  * Usage (normally started by run.py):
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE
  */
object Harness {

  /** The reference-parity mix, the names of `graft.Bench.Core25`; fixed here so
    * that the workload does not change when the Bench harness does. */
  val Core25: Seq[String] = Seq(
    "q_agg_minmax", "q_agg_mode_per_key", "q_agg_null_count",
    "q_dedup_business_key", "q_dedup_full_row", "q_derive_cast_date",
    "q_derive_concat_key", "q_derive_fill_default", "q_derive_split",
    "q_derive_strip_decimal", "q_derive_substr", "q_filter_eq",
    "q_filter_isin", "q_filter_range_date", "q_filter_rlike",
    "q_join_left_multi_key", "q_join_lookup_fallback", "q_join_lookup_left",
    "q_join_rowcount_guard", "q_pipeline_pretam", "q_project_rename",
    "q_scan_project", "q_sort_limit_first", "q_union_harmonize",
    "q_validate_format")

  /** A warm pass's length on a 4-core host, in seconds. */
  val NominalPassS: Map[String, Double] = Map("core25" -> 10.0, "payroll_etl" -> 13.0)

  /** The payroll run date: its calendar fiscal year is 2025-07-01..2026-06-30. */
  val RunDate: LocalDate = LocalDate.of(2026, 8, 12)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"))
  }

  /** One timed operation: wall-clock bounds (epoch ms) of its build and action. */
  final case class OpTiming(name: String, buildStart: Long, buildEnd: Long,
                            actionEnd: Long, buildNs: Long, actionNs: Long,
                            failed: Option[String])

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.tools.LocalSession(cores = cores)
    val readyMs = System.currentTimeMillis()
    val head = Json.obj("main_ms" -> mainMs, "ready_ms" -> readyMs, "cores" -> cores)
    val tracer = if (a.trace) Some(new Tracer(spark, cores)) else None
    val work = Paths.get(a.work)
    val workload: Workload = a.workload match {
      case "core25" => new QueryWorkload(spark, a.data, Core25, a.seed, work)
      case "payroll_etl" => new PayrollWorkload(spark, a.data, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvm = new JvmCounters
    val passes = mutable.ArrayBuffer.empty[(String, Seq[OpTiming], Map[String, Double])]
    def pass(kind: String, idx: Int): Unit = {
      jvm.start()
      val timings = workload.pass(idx)
      passes += ((kind, timings, jvm.stop() ++ workload.passMetrics()))
    }
    pass("cold", 0)
    // --seconds becomes a whole number of warm passes through the workload's
    // nominal pass length, so every run does the same work however fast the
    // host is (a timed window gave one pass in slow runs and two in fast ones,
    // and the JIT makes a second pass faster than the first)
    val warmPasses = math.max(1, (a.seconds / NominalPassS(a.workload)).toInt)
    (1 to warmPasses).foreach { i => workload.beforeWarmPass(); pass("warm", i) }
    val layers = tracer.map(_.finish(passes.map(_._2).toSeq))
    val passJson = passes.zipWithIndex.map { case ((kind, ts, m), i) =>
      val traced = layers.map(_(i)).getOrElse(Map.empty)
      Json.obj(
        "kind" -> kind,
        "wall_s" -> ts.map(t => (t.buildNs + t.actionNs) / 1e9).sum,
        "metrics" -> Json.obj((m ++ traced ++ Map(
          "queries.build_s" -> ts.map(_.buildNs / 1e9).sum)).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (v: Any) }: _*))
    }
    val failures = passes.flatMap(_._2).flatMap(t => t.failed.map(f => s"${t.name}: $f"))
    val result = head ++ Json.obj(
      "workload" -> a.workload,
      "attempted" -> passes.map(_._2.size).sum,
      "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq,
      "unstable" -> workload.unstable.toSeq,
      "peak_rss_mb" -> JvmCounters.peakRssMb(),
      "passes" -> passJson.toSeq)
    tracer.foreach(_.writeSpans(work.resolve("trace.json"), passes.map(_._2).toSeq))
    Files.writeString(Paths.get(a.out), Json.render(result))
    // stopping the session only deletes temporary files under --work, which
    // run.py removes; skipping it saves about a second per run
    Runtime.getRuntime.halt(0)
  }
}

/** A workload: a fixed list of operations run once per pass. */
trait Workload {
  /** Runs every operation once, in the order this pass uses. */
  def pass(idx: Int): Seq[Harness.OpTiming]
  /** Counters the workload reads itself after a pass (no listener needed). */
  def passMetrics(): Map[String, Double] = Map.empty
  def beforeWarmPass(): Unit = ()
  /** Operations whose output differed from the first pass's. */
  val unstable: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty

  protected def timed[T](name: String)(build: => T)(action: T => Unit): Harness.OpTiming = {
    val b0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try {
      val built = build
      val n1 = System.nanoTime(); val b1 = System.currentTimeMillis()
      action(built)
      val n2 = System.nanoTime()
      Harness.OpTiming(name, b0, b1, System.currentTimeMillis(), n1 - n0, n2 - n1, None)
    } catch {
      case NonFatal(e) =>
        val n2 = System.nanoTime(); val now = System.currentTimeMillis()
        Harness.OpTiming(name, b0, now, now, n2 - n0, 0L,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }
}

/** Registry queries: build with the registry function, then `collect`. The
  * seed sets the query order of every pass.
  */
final class QueryWorkload(spark: SparkSession, dataDir: String,
                          names: Seq[String], seed: Long, work: Path) extends Workload {
  private val registry = graft.SparkEntry.queries
  private val firstDigest = mutable.Map.empty[String, String]
  private val resultsDir = Files.createDirectories(work.resolve("results"))

  override def pass(idx: Int): Seq[Harness.OpTiming] = {
    val order = new scala.util.Random(seed * 1000003L + idx).shuffle(names)
    order.map { name =>
      var rows: Array[Row] = null
      var columns: Array[String] = null
      val t = timed(name)(registry(name)(spark, dataDir)) { df =>
        columns = df.columns
        rows = df.collect()
      }
      if (t.failed.isEmpty) record(name, columns, rows, first = idx == 0)
      t
    }
  }

  private def record(name: String, columns: Array[String], rows: Array[Row], first: Boolean): Unit = {
    val lines = rows.map(r => Json.render(r.toSeq))
    val digest = Digest.ofSortedLines(lines)
    if (first) {
      firstDigest(name) = digest
      Files.writeString(resultsDir.resolve(s"$name.json"),
        "{\"columns\":" + Json.render(columns.toSeq) +
          ",\"rows\":[" + lines.mkString(",\n") + "]}")
    } else if (!firstDigest.get(name).contains(digest)) unstable += name
  }
}

/** The paper's program: discover → pick → ingest → PUA + CPA → stamped CSV
  * and XLSX sinks, over a generated storage root. Warm runs start from a
  * cleared session cache; the cache left behind by each run is measured first.
  */
final class PayrollWorkload(spark: SparkSession, root: String, work: Path,
                            tracer: Option[Tracer]) extends Workload {
  private val outDir = work.resolve("out")
  private var firstDigest: Option[String] = None
  private var cacheLeftMb = 0.0
  private var outMb = 0.0

  override def pass(idx: Int): Seq[Harness.OpTiming] = {
    Files.createDirectories(outDir)
    val sampler = tracer.map(_.sampleThread(Thread.currentThread()))
    val t = try timed("Runner.run")(()) { _ =>
      graft.pipelines.Runner.run(spark, root, Some(outDir.toString), Harness.RunDate,
        dedupOrder = Seq(col("UIN")))
    } finally sampler.foreach(_.stop())
    cacheLeftMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val files = scala.util.Using.resource(Files.walk(outDir))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    outMb = files.map(Files.size(_)).sum / 1e6
    if (t.failed.isEmpty) {
      val csvLines = files.filter(_.toString.endsWith(".csv")).sortBy(_.toString)
        .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      val digest = Digest.ofSortedLines(csvLines)
      if (firstDigest.isEmpty) firstDigest = Some(digest)
      else if (!firstDigest.contains(digest)) unstable += "Runner.run"
    }
    Seq(t)
  }

  override def passMetrics(): Map[String, Double] =
    Map("pipelines.cache_left_mb" -> cacheLeftMb, "io.out_mb" -> outMb)

  override def beforeWarmPass(): Unit = spark.catalog.clearCache()
}

/** JVM-wide counters read over one pass from the platform MXBeans. */
final class JvmCounters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private var gc0, jit0 = 0L
  private var codegen0 = 0.0

  private def gcMs = gcs.map(_.getCollectionTime).sum
  /** Spark's generated-code compile time: count × mean of its histogram (ms). */
  private def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  def start(): Unit = {
    gc0 = gcMs; jit0 = jit.getTotalCompilationTime; codegen0 = codegenMs
    heapPools.foreach(_.resetPeakUsage())
  }

  def stop(): Map[String, Double] = Map(
    "jvm.gc_s" -> (gcMs - gc0) / 1e3,
    "jvm.jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
    "jvm.codegen_s" -> (codegenMs - codegen0) / 1e3,
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
}

object JvmCounters {
  /** Peak resident set (VmHWM) of this process, in MB; 0 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }
}

object Digest {
  /** Order-insensitive digest: md5 over the sorted lines. */
  def ofSortedLines(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.toSeq.sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Just enough JSON writing for the harness's results. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

}
