package graft.ops

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.ExecutedPlan.nodes
import graft.SparkSpec

class LookupJoinSpec extends SparkSpec {
  import spark.implicits._

  private def fact = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")

  "lookupLeft" should "not fan out when the dim has duplicate projected rows" in {
    val dim = Seq((1, "A"), (1, "A"), (2, "B")).toDF("k", "name")
    val out = LookupJoin.lookupLeft(fact, dim, Seq("k"))
    out.count() shouldBe 3
    out.filter($"k" === 3).select("name").collect().head.isNullAt(0) shouldBe true
  }

  it should "project the dim to keys ++ dimCols before dedup" in {
    val dim = Seq((1, "A", "noise1"), (1, "A", "noise2")).toDF("k", "name", "junk")
    val out = LookupJoin.lookupLeft(fact, dim, Seq("k"), dimCols = Seq("name"))
    out.count() shouldBe 3 // junk column dropped, so the dim rows collapse
    out.columns should not contain "junk"
  }

  "lookupLeftOn" should "support asymmetric keys and drop the right key" in {
    val dim = Seq((10, "D10")).toDF("rk", "dname")
    val f = Seq((1, 10), (2, 99)).toDF("id", "fk")
    val out = LookupJoin.lookupLeftOn(f, dim, f("fk") === dim("rk"), dropRight = Seq("rk"))
    out.columns should not contain "rk"
    out.orderBy("id").select("dname").collect().map(r => Option(r.getString(0))) shouldBe
      Array(Some("D10"), None)
  }

  "withFallback" should "prefer the dim value and fall back to the fact column" in {
    val df = Seq((Some("dim"), "fact"), (None, "fact2")).toDF("p", "f")
    val out = LookupJoin.withFallback(df, "r", $"p", $"f")
      .select("r").as[String].collect()
    out shouldBe Array("dim", "fact2")
  }

  "semiJoin" should "keep exactly the allowlisted rows, never fanning out" in {
    val list = Seq((1, "junk"), (1, "junk2"), (3, "j")).toDF("k", "extra")
    val out = LookupJoin.semiJoin(fact, list, Seq("k"))
    out.columns shouldBe Array("k", "v") // no list columns leak
    out.orderBy("k").as[(Int, String)].collect() shouldBe
      Array((1, "x"), (3, "z")) // duplicate list keys don't duplicate facts
  }

  "antiJoin" should "drop blocklisted rows and keep null-key rows" in {
    val f = Seq((Some(1), "x"), (Some(2), "y"), (None, "nullkey")).toDF("k", "v")
    val list = Seq(1, 1).toDF("k")
    val out = LookupJoin.antiJoin(f, list, Seq("k"))
    // SQL NOT IN would return zero rows once the fact has a null key;
    // anti-join keeps them (the NOT EXISTS semantics the oracle mirrors)
    out.orderBy("k").select("v").as[String].collect().toSet shouldBe
      Set("y", "nullkey")
  }

  "semiJoin and antiJoin" should "dedup a hinted list inside its broadcast job with the old rows" in {
    val f = Seq((Some(1), "a"), (Some(2), "b"), (Some(3), "c"), (None, "n"))
      .toDF("k", "v")
    // three input partitions, so the old form's dedup needs an exchange
    val list = spark.sparkContext.parallelize(Seq((Some(1), "x"), (Some(1), "y"),
      (None, "z"), (None, "z"), (Some(4), "w")), 3).toDF("k", "junk")
    // the previous form: a planned dropDuplicates under the hint
    def old(how: String) =
      f.join(broadcast(list.select("k").dropDuplicates()), Seq("k"), how)
    Seq("left_semi" -> LookupJoin.semiJoin(f, list, Seq("k")),
        "left_anti" -> LookupJoin.antiJoin(f, list, Seq("k"))).foreach {
      case (how, got) => withClue(s"$how: ") {
        got.collect().map(_.toSeq).toSet shouldBe old(how).collect().map(_.toSeq).toSet
        val plan = nodes(got.queryExecution.executedPlan)
        val builds = plan.collect { case b: BroadcastExchangeExec => b }
        builds should not be empty
        builds.flatMap(b => nodes(b.child))
          .collect { case s: ShuffleExchangeExec => s } shouldBe empty
      }
    }
    LookupJoin.semiJoin(f, list, Seq("k")).select("v").as[String].collect() shouldBe Array("a")
    LookupJoin.antiJoin(f, list, Seq("k")).select("v").as[String].collect().toSet shouldBe
      Set("b", "c", "n")
  }

  it should "keep a planned dedup for an unhinted list" in {
    val f = fact
    val list = Seq(1, 1, 3).toDF("k")
    Seq("left_semi" -> LookupJoin.semiJoin(f, list, Seq("k"), hint = false),
        "left_anti" -> LookupJoin.antiJoin(f, list, Seq("k"), hint = false)).foreach {
      case (how, got) => withClue(s"$how: ") {
        val old = f.join(list.select("k").dropDuplicates(), Seq("k"), how)
        got.queryExecution.optimizedPlan
          .sameResult(old.queryExecution.optimizedPlan) shouldBe true
      }
    }
  }

  "keyViolations" should "report keys that would fan out a left join" in {
    val dim = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val bad = LookupJoin.keyViolations(dim, Seq("k")).collect()
    bad.map(_.getInt(0)) shouldBe Array(1)
    bad.head.getLong(1) shouldBe 2L
  }

  "rowcountGuard" should "report before/after/fanout counts" in {
    val dim = Seq((1, "a"), (1, "b")).toDF("k", "v")
    val joined = fact.join(dim, Seq("k"), "left")
    val g = LookupJoin.rowcountGuard(fact, joined).collect().head
    (g.getLong(0), g.getLong(1), g.getLong(2)) shouldBe (3L, 4L, 1L)
  }
}
