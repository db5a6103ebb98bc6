package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** The settings [[LocalSession]] gives every session. */
class LocalSessionSpec extends SparkSpec {

  "LocalSession" should "keep more generated classes than Spark's default cache of 100" in {
    // one whole-stage class per plan: the literals are compiled into the code
    val plans = (1 to 150).map(i => () => spark.range(10).selectExpr(s"id * $i + 7 AS v").collect())
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = compiled
    plans.foreach(_())
    val second = compiled
    plans.foreach(_())
    withClue(s"${second - first} classes compiled by the first loop: ") {
      (second - first) should be > 100L
      (compiled - second) shouldBe 0L
    }
  }
}
