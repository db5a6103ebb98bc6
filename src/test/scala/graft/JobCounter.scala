package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts.
  *
  * The block runs under its own job tag, which Spark copies to every job it
  * starts, broadcast and adaptive-stage jobs included (tags add up, so the
  * broadcast exchange's own cancellation tag does not replace it); only
  * jobs carrying that tag count. Listener events arrive asynchronously, so
  * a one-task fence job with a second tag runs afterwards, and the count is
  * read once the listener has seen the fence start: the bus delivers events
  * in order.
  */
object JobCounter {

  private val TagsKey = "spark.job.tags"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-job-count-${System.nanoTime()}"
    val fence = s"$tag-fence"
    val started = new ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty(TagsKey)))
          .fold(Set.empty[String])(_.split(',').toSet))
    }
    def seen(t: String): Int = started.asScala.count(_.contains(t))
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(fence)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (seen(fence) == 0 && System.nanoTime() < deadline) Thread.sleep(5)
      require(seen(fence) == 1, "the listener never saw the fence job")
      (out, seen(tag))
    } finally sc.removeSparkListener(listener)
  }
}
