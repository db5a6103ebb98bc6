package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for operator specs (one JVM-wide session —
  * getOrCreate — so the suite pays startup once), built like every other
  * session by [[graft.tools.LocalSession]].
  */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  protected def sql = spark.sqlContext

  /** Run `body` with the given SQL confs, restoring previous values. Safe
    * on the shared session: sbt forks one test JVM and runs suites
    * sequentially (`Test / fork := true`, default non-parallel fork).
    */
  protected def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.tools.LocalSession(cores = 2)
}
