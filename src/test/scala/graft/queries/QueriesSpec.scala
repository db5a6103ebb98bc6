package graft.queries

import graft.SparkSpec

/** Registry-wide invariants over ALL SparkEntry queries at sf0.001:
  * every query returns rows (the driver's rows-only check must never see an
  * accidentally-empty frame) and is deterministic across invocations (the
  * driver hash-compares results, so nondeterminism = silent round failure).
  */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  "every registered query" should "return rows at sf0.001" in {
    val counts = graft.SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).count()
    }
    val empty = counts.filter(_._2 == 0L).keys.toSeq.sorted
    withClue(s"empty queries: $empty") { empty shouldBe empty }
  }

  it should "produce identical results on repeated invocation" in {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, dir).collect()
      val b = fn(spark, dir).collect()
      withClue(s"$name nondeterministic: ") {
        a.length shouldBe b.length
        a.zip(b).foreach { case (ra, rb) => ra shouldBe rb }
      }
    }
  }

  it should "return the same rows in the same order without the one-task sort" in {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    val installed = spark.experimental.extraOptimizations
    def off[T](body: => T): T = {
      spark.experimental.extraOptimizations = installed.filterNot(_ == graft.OneTaskSort)
      try body finally spark.experimental.extraOptimizations = installed
    }
    val fired = graft.SparkEntry.queries.toSeq.map { case (name, fn) =>
      val on = fn(spark, dir)
      val rows = on.collect()
      withClue(s"$name: ") { rows.toSeq shouldBe off(fn(spark, dir).collect()).toSeq }
      on.queryExecution.optimizedPlan.exists {
        case Sort(_, true, Repartition(1, false, _), _) => true
        case _ => false
      }
    }
    // most of the registry ends in a small root sort
    fired.count(identity) should be > graft.SparkEntry.queries.size / 2
  }

  "oracleSql" should "only name declared queries and cover the SQL-expressible ones" in {
    val qs = graft.SparkEntry.queries.keySet
    val orphans = graft.SparkEntry.oracleSql.keySet.diff(qs)
    orphans shouldBe empty
  }
}
