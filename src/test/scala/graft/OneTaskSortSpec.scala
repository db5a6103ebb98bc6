package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

/** [[OneTaskSort]]: which root sorts run as one local sort and which keep
  * their range exchange. QueriesSpec checks that no registry answer
  * changes.
  */
class OneTaskSortSpec extends SparkSpec {
  import spark.implicits._

  /** A sort over a one-partition coalesce: the rule's rewrite. */
  private def oneTask(p: LogicalPlan): Boolean =
    p.exists { case Sort(_, true, Repartition(1, false, _), _) => true; case _ => false }

  private def rangeExchanges(df: DataFrame): Int =
    ExecutedPlan.nodes(df.queryExecution.executedPlan).count {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }

  private def withoutRule[T](body: => T): T = {
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed.filterNot(_ == OneTaskSort)
    try body finally spark.experimental.extraOptimizations = installed
  }

  private val small = spark.range(0, 1000, 1, 4).toDF("id")
    .withColumn("k", $"id" % 7)

  "OneTaskSort" should "be installed once on the shared session" in {
    spark.experimental.extraOptimizations.count(_ == OneTaskSort) shouldBe 1
    OneTaskSort.install(spark)
    spark.experimental.extraOptimizations.count(_ == OneTaskSort) shouldBe 1
  }

  it should "run a small root sort as one job with no exchange" in {
    val df = small.orderBy($"k".desc, $"id")
    val (rows, jobs) = JobCounter(spark)(df.as[(Long, Long)].collect())
    jobs shouldBe 1
    rows.toSeq shouldBe (0L until 1000L).map(i => (i, i % 7))
      .sortBy { case (i, k) => (-k, i) }
    ExecutedPlan.nodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s } shouldBe empty
    // the range sort it replaces: bounds sample, shuffle map, result
    withoutRule {
      val off = small.orderBy($"k".desc, $"id")
      JobCounter(spark)(off.collect())._2 shouldBe 3
      rangeExchanges(off) shouldBe 1
    }
  }

  it should "rewrite a sort under a deterministic root projection only" in {
    oneTask(small.orderBy("id").select($"k").queryExecution.optimizedPlan) shouldBe true
    val tagged = small.orderBy("id")
      .withColumn("mid", org.apache.spark.sql.functions.monotonically_increasing_id())
    oneTask(tagged.queryExecution.optimizedPlan) shouldBe false
  }

  it should "keep the range exchange for a source over the broadcast threshold" in {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val df = small.orderBy("k", "id")
      oneTask(df.queryExecution.optimizedPlan) shouldBe false
      df.collect().length shouldBe 1000
      rangeExchanges(df) shouldBe 1
    }
  }

  it should "keep the range exchange over code that reads the task's partition id" in {
    val df = spark.range(0, 100, 1, 4).as[Long]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map(id => (id, pid))
      }
      .toDF("id", "pid").orderBy("id")
    df.as[(Long, Int)].collect().toSeq shouldBe
      (0L until 100L).map(id => (id, (id / 25).toInt))
    oneTask(df.queryExecution.optimizedPlan) shouldBe false
    rangeExchanges(df) shouldBe 1
  }

  it should "leave a root sort under a limit unchanged" in {
    val df = small.orderBy($"id".desc).limit(5)
    oneTask(df.queryExecution.optimizedPlan) shouldBe false
    df.as[(Long, Long)].collect().map(_._1).toSeq shouldBe (995L to 999L).reverse
    ExecutedPlan.nodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[TakeOrderedAndProjectExec]) shouldBe true
  }

  it should "leave a sorted write unchanged" in {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val dir = Files.createTempDirectory("one-task-sort")
    spark.listenerManager.register(listener)
    try {
      small.orderBy("k", "id").write.mode("overwrite").parquet(dir.toString)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (seen.synchronized(seen.isEmpty) && System.nanoTime() < deadline)
        Thread.sleep(5)
      val write = seen.synchronized(seen.head)
      oneTask(write.optimizedPlan) shouldBe false
      ExecutedPlan.nodes(write.executedPlan).exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      } shouldBe true
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  it should "leave a streaming sort unchanged" in {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val counts = input.toDS().toDF("id")
      .groupBy(($"id" % 3).as("k")).count().orderBy($"count".desc, $"k")
    val analyzed = counts.queryExecution.analyzed
    OneTaskSort(analyzed) should be theSameInstanceAs analyzed
    val query = counts.writeStream.format("memory").queryName("one_task_sort_stream")
      .outputMode("complete").start()
    try {
      input.addData(1L to 10L)
      query.processAllAvailable()
      spark.table("one_task_sort_stream").as[(Long, Long)].collect().toSeq shouldBe
        Seq(1L -> 4L, 0L -> 3L, 2L -> 3L)
      val last = query.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution
      oneTask(last.optimizedPlan) shouldBe false
    } finally query.stop()
  }
}
