package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all attached from outside the engine:
  * Spark's public listener APIs for jobs, stages, tasks and Catalyst phases,
  * and a stack sampler that attributes `Runner.run`'s wall time to the
  * `graft.io` / `graft.pipelines` function it is inside. Events are kept in
  * memory, attributed to operations by time once the run ends, and written
  * out once as spans.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val samples = new ConcurrentLinkedQueue[(Long, Long, String)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageInfos.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, nStages) = jobStarts.getOrDefault(e.jobId, (e.time, 0))
      jobs.add(JobRec(e.jobId, start, e.time, nStages))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null)
        tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.resultSize))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val end = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_._3).max
      val exchanges = try ExchangeCounter.count(qe.executedPlan) catch { case _: Throwable => 0 }
      plans.add(PlanRec(end, phases, exchanges))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Samples `target`'s stack every 10 ms until stopped. */
  def sampleThread(target: Thread): Sampler = new Sampler(target, samples)

  /** Waits until the listener bus has delivered every job's end, then
    * returns the listener metrics of each pass.
    */
  def finish(passes: Seq[Seq[Harness.OpTiming]]): Seq[Map[String, Double]] = {
    drain()
    val allJobs = jobs.asScala.toSeq
    val allTasks = tasks.asScala.toSeq
    val allStages = stages.asScala.toSeq
    val allPlans = plans.asScala.toSeq
    val allSamples = samples.asScala.toSeq
    passes.map { ops =>
      def in(t: Long, o: Harness.OpTiming) = t >= o.buildStart && t <= o.actionEnd + 1
      val opJobs = allJobs.filter(j => ops.exists(in(j.start, _)))
      val opTasks = allTasks.filter(t => ops.exists(in(t.finish, _)))
      val opPlans = allPlans.filter(p => ops.exists(in(p.end, _)))
      val buildJobs = allJobs.count(j => ops.exists(o => j.start >= o.buildStart && j.start <= o.buildEnd))
      val noJobMs = ops.map { o => idleMs(o.buildEnd, o.actionEnd, opJobs) }.sum
      val wallS = ops.map(o => (o.buildNs + o.actionNs) / 1e9).sum
      val taskBusyS = opTasks.map(t => (t.finish - t.launch) / 1e3).sum
      val opSamples = allSamples.filter(s => ops.exists(in(s._1, _)))
      val layerS = opSamples.groupMapReduce(_._3)(s => s._2 / 1e9)(_ + _)
      Map(
        "queries.build_jobs" -> buildJobs.toDouble,
        "ops.analysis_s" -> opPlans.map(_.ms("analysis")).sum / 1e3,
        "ops.optimization_s" -> opPlans.map(_.ms("optimization")).sum / 1e3,
        "ops.planning_s" -> opPlans.map(_.ms("planning")).sum / 1e3,
        "ops.exchanges" -> opPlans.map(_.exchanges).sum.toDouble,
        "ops.jobs" -> opJobs.size.toDouble,
        "ops.stages" -> allStages.count(s => ops.exists(in(s, _))).toDouble,
        "ops.no_job_s" -> noJobMs / 1e3,
        "ops.tasks" -> opTasks.size.toDouble,
        "ops.task_s" -> opTasks.map(_.runMs).sum / 1e3,
        "ops.cpu_s" -> opTasks.map(_.cpuNs).sum / 1e9,
        "ops.task_gc_s" -> opTasks.map(_.gcMs).sum / 1e3,
        "ops.shuffle_write_mb" -> opTasks.map(_.shuffleWrite).sum / 1e6,
        "ops.shuffle_read_mb" -> opTasks.map(_.shuffleRead).sum / 1e6,
        "ops.spill_mb" -> opTasks.map(_.spill).sum / 1e6,
        "ops.result_mb" -> opTasks.map(_.result).sum / 1e6,
        "ops.core_idle_s" -> math.max(0.0, cores * wallS - taskBusyS)
      ) ++ Layers.map(l => l -> layerS.getOrElse(l, 0.0))
    }
  }

  /** Spans: run → pass → operation → build / plan / action, jobs under
    * the build or action they ran in, sampled ETL steps under the action.
    */
  def writeSpans(path: Path, passes: Seq[Seq[Harness.OpTiming]]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span(name: String, parent: Int, start: Long, end: Long, attrs: (String, Any)*): Int = {
      spans += Json.obj(Seq("id" -> spans.size, "parent" -> parent, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ attrs: _*)
      spans.size - 1
    }
    val all = passes.flatten
    val run = span("run", -1, all.map(_.buildStart).min, all.map(_.actionEnd).max)
    val allJobs = jobs.asScala.toSeq.sortBy(_.start)
    val steps = stepSpans(samples.asScala.toSeq.sortBy(_._1))
    val allPlans = plans.asScala.toSeq
    passes.zipWithIndex.foreach { case (ops, i) =>
      val p = span(if (i == 0) "pass.cold" else "pass.warm", run,
        ops.map(_.buildStart).min, ops.map(_.actionEnd).max, "index" -> i)
      ops.foreach { o =>
        val op = span(o.name, p, o.buildStart, o.actionEnd, "failed" -> o.failed)
        val build = span("build", op, o.buildStart, o.buildEnd)
        allPlans.filter(p => p.end >= o.buildStart && p.end <= o.actionEnd + 1)
          .flatMap(_.phases).sortBy(_._2)
          .foreach { case (n, s, e) => span(s"plan.$n", op, s, e) }
        val act = span("action", op, o.buildEnd, o.actionEnd)
        allJobs.filter(j => j.start >= o.buildStart && j.start <= o.actionEnd)
          .foreach(j => span(s"job.${j.id}", if (j.start <= o.buildEnd) build else act,
            j.start, j.end, "stages" -> j.stages))
        steps.filter(s => s._1 >= o.buildEnd && s._2 <= o.actionEnd + 1)
          .foreach(s => span(s._3.stripSuffix("_s"), act, s._1, s._2))
      }
    }
    Files.writeString(path, spans.map(Json.render).mkString("[\n", ",\n", "\n]\n"))
  }

  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (jobs.size != jobStarts.size || jobs.size != last)) {
      last = jobs.size
      Thread.sleep(200)
    }
  }
}

object Tracer {
  final case class JobRec(id: Int, start: Long, end: Long, stages: Int)
  final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                           spill: Long, result: Long)
  /** One executed query: its Catalyst phases (name, start, end in epoch ms). */
  final case class PlanRec(end: Long, phases: Seq[(String, Long, Long)], exchanges: Int) {
    def ms(phase: String): Long = phases.filter(_._1 == phase).map(p => p._3 - p._2).sum
  }

  /** Stack frames that mark an ETL step, innermost first wins. */
  val Rules: Seq[(String, String, String)] = Seq(
    ("graft.io.Storage$LocalFs", "list", "io.list_s"),
    ("graft.io.Sources$", "catalog", "io.list_s"),
    ("graft.io.Storage$", "pickFirst", "io.pick_s"),
    ("graft.io.Xlsx$", "read", "io.read_s"),
    ("graft.io.Xls$", "read", "io.read_s"),
    ("graft.pipelines.Runner$", "readAny", "io.read_s"),
    ("graft.io.Sinks$", "singleCsv", "io.csv_sink_s"),
    ("graft.io.Xlsx$", "write", "io.xlsx_sink_s"),
    ("graft.pipelines.Pua$", "run", "pipelines.pua_s"),
    ("graft.pipelines.Cpa$", "run", "pipelines.cpa_s"))
  val Layers: Seq[String] = Rules.map(_._3).distinct

  def classify(stack: Array[StackTraceElement]): String =
    stack.iterator.flatMap { f =>
      Rules.find { case (cls, m, _) => f.getClassName == cls && f.getMethodName.contains(m) }
    }.nextOption().map(_._3).getOrElse("other")

  /** Consecutive samples in the same step, merged into (start, end, step). */
  def stepSpans(s: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] =
    s.foldLeft(List.empty[(Long, Long, String)]) {
      case ((st, en, l) :: rest, (t, d, layer)) if layer == l && t - en <= 50 =>
        (st, t, l) :: rest
      case (acc, (t, d, layer)) => (t - d / 1000000, t, layer) :: acc
    }.reverse.filter(_._3 != "other")

  /** Summed wall time in [from, to] not covered by any job. */
  def idleMs(from: Long, to: Long, jobs: Seq[JobRec]): Long = {
    var covered = 0L
    var cursor = from
    jobs.filter(j => j.end > from && j.start < to).sortBy(_.start).foreach { j =>
      val s = math.max(j.start, cursor); val e = math.min(j.end, to)
      if (e > s) { covered += e - s; cursor = e }
    }
    math.max(0L, (to - from) - covered)
  }

  final class Sampler(target: Thread, out: ConcurrentLinkedQueue[(Long, Long, String)]) {
    @volatile private var running = true
    private val thread = new Thread(() => {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(10)
        val now = System.nanoTime()
        out.add((System.currentTimeMillis(), now - last, classify(target.getStackTrace)))
        last = now
      }
    }, "perfbench-sampler")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join() }
  }
}

/** Counts shuffle and broadcast exchanges in an executed plan, looking
  * inside adaptive query stages and subqueries.
  */
object ExchangeCounter extends AdaptiveSparkPlanHelper {
  def count(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size
}
