package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts.
  *
  * The block runs under its own job tag, which Spark copies to every job it
  * starts, broadcast and adaptive-stage jobs included (tags add up, so the
  * broadcast exchange's own cancellation tag does not replace it), and to
  * every thread the block creates; only jobs carrying that tag count.
  * Listener events arrive asynchronously and in order, so one-task fence
  * jobs with their own tags run before and after the block, and the count
  * is read once the listener has seen the closing fence start.
  */
object JobCounter {

  private val TagsKey = "spark.job.tags"

  /** The block's result and the number of jobs carrying its tag. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, tagged, _) = withAll(spark)(body)
    (out, tagged)
  }

  /** The block's result, the number of jobs carrying its tag, and the
    * number of all jobs that started between the two fences, tagged or not.
    */
  def withAll[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-job-count-${System.nanoTime()}"
    val open = s"$tag-open"
    val fence = s"$tag-fence"
    val started = new ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty(TagsKey)))
          .fold(Set.empty[String])(_.split(',').toSet))
    }
    def fenceJob(t: String): Unit = {
      sc.addJobTag(t)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(t)
    }
    def seen(t: String): Int = started.asScala.count(_.contains(t))
    sc.addSparkListener(listener)
    try {
      fenceJob(open)
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      fenceJob(fence)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (seen(fence) == 0 && System.nanoTime() < deadline) Thread.sleep(5)
      require(seen(fence) == 1, "the listener never saw the fence job")
      val between = started.asScala.toSeq
        .dropWhile(!_.contains(open)).drop(1).takeWhile(!_.contains(fence))
      (out, seen(tag), between.size)
    } finally sc.removeSparkListener(listener)
  }
}
