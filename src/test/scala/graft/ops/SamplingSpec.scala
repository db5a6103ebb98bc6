package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val ids = (0L until 1000L).toDF("id")

  "hashSample" should "be deterministic and roughly proportional" in {
    val a = Sampling.hashSample(ids, "id", 20).as[Long].collect().toSet
    val b = Sampling.hashSample(ids.repartition(7), "id", 20)
      .as[Long].collect().toSet
    a shouldBe b // stable under repartitioning, unlike sample()
    a.size.toDouble should (be > 120.0 and be < 280.0)
    Sampling.hashSample(ids, "id", 0).count() shouldBe 0L
    Sampling.hashSample(ids, "id", 100).count() shouldBe 1000L
  }

  it should "decorrelate samples with different salts" in {
    val s1 = Sampling.hashSample(ids, "id", 50, salt = "a").as[Long].collect().toSet
    val s2 = Sampling.hashSample(ids, "id", 50, salt = "b").as[Long].collect().toSet
    s1 should not be s2
  }

  "deterministicShuffle" should "produce a reproducible permutation" in {
    val out = Sampling.deterministicShuffle(ids, "id", salt = "e0")
    val order1 = out.select("id").as[Long].collect()
    val order2 = Sampling.deterministicShuffle(ids.repartition(7), "id", salt = "e0")
      .select("id").as[Long].collect()
    order1.sorted shouldBe (0L until 1000L).toArray // a permutation
    order1 shouldBe order2 // stable under input partitioning
    order1 should not be order1.sorted // actually shuffled
    val salted = Sampling.deterministicShuffle(ids, "id", salt = "e1")
      .select("id").as[Long].collect()
    salted should not be order1 // salt reshuffles (epoch decorrelation)
  }

  it should "sort within partitions so a sharded write preserves the order" in {
    import org.apache.spark.sql.functions.spark_partition_id
    val out = Sampling.deterministicShuffle(ids, "id")
      .withColumn("pid", spark_partition_id())
    // range partitioning: partition ids are ordered by shuffle key, so the
    // concatenation of partitions in id order IS the global shuffled order
    val rows = out.select("pid", "__shuffle_key").as[(Int, String)].collect()
    rows.sortBy(_._2).map(_._1) shouldBe rows.map(_._1).sorted
  }

  "trainValTestSplit" should "partition every row into exactly one split" in {
    val out = Sampling.trainValTestSplit(ids, "id", testPct = 10, valPct = 10)
    out.count() shouldBe 1000L
    val byCount = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    byCount.keySet shouldBe Set("train", "val", "test")
    byCount("train").toDouble should be > 700.0
    // nested sample property: a doc's bucket is fixed, so the test set of a
    // (20, 0) split contains the (10, 10) split's test set
    val test10 = out.filter($"split" === "test").select("id").as[Long].collect().toSet
    val test20 = Sampling.trainValTestSplit(ids, "id", testPct = 20, valPct = 0)
      .filter($"split" === "test").select("id").as[Long].collect().toSet
    test10.subsetOf(test20) shouldBe true
  }

  "systematicWeighted" should "draw exactly k copies in total" in {
    val df = (1L to 200L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    val out = Sampling.systematicWeighted(df, "id", "w", k = 50)
    out.agg(org.apache.spark.sql.functions.sum("copies"))
      .as[Long].head() shouldBe 50L
  }

  it should "be a pure function of the data, independent of partitioning" in {
    val rows = (1L to 300L).map(i => (i, i % 11 + 1))
    val a = Sampling.systematicWeighted(rows.toDF("id", "w").repartition(1),
      "id", "w", k = 40).orderBy("id").as[(Long, Long, Long)].collect()
    val b = Sampling.systematicWeighted(rows.toDF("id", "w").repartition(17),
      "id", "w", k = 40).orderBy("id").as[(Long, Long, Long)].collect()
    b shouldBe a
  }

  it should "oversample a dominant row and never draw zero-weight rows" in {
    val df = ((1L to 20L).map(i => (i, 1L)) :+ (21L -> 80L))
      .map { case (i, w) => (i, w) }.toDF("id", "w")
      .union(Seq((22L, 0L)).toDF("id", "w"))
    val out = Sampling.systematicWeighted(df, "id", "w", k = 10)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    out(21L) shouldBe 8L // 80% of the mass → 8 of 10 draws
    out.keySet should not contain 22L
    // every drawn count is within 1 of the exact proportional share
    out.foreach { case (id, c) =>
      val w = if (id == 21L) 80.0 else 1.0
      math.abs(c - 10.0 * w / 100.0) should be <= 1.0
    }
  }

  it should "reject negative weights" in {
    val df = Seq((1L, 5L), (2L, -3L)).toDF("id", "w")
    an[Exception] should be thrownBy
      Sampling.systematicWeighted(df, "id", "w", k = 2).collect()
  }

  "systematicWeightedPerGroup" should "walk each group independently with its own k" in {
    val df = ((1L to 100L).map(i => ("a", i, 2L)) ++
      (101L to 130L).map(i => ("b", i, 1L))).toDF("g", "id", "w")
    val out = Sampling.systematicWeightedPerGroup(df, "g", "id", "w",
        kByGroup = Map("a" -> 10L, "b" -> 3L), defaultK = 0L)
      .as[(String, Long, Long, Long)].collect()
    out.filter(_._1 == "a").map(_._4).sum shouldBe 10L
    out.filter(_._1 == "b").map(_._4).sum shouldBe 3L
    // within each group, draws match a direct global walk on that group
    val onlyB = Sampling.systematicWeighted(
        df.filter($"g" === "b").select("id", "w"), "id", "w", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    out.filter(_._1 == "b").map(t => (t._2, t._3, t._4)).toSet shouldBe onlyB
  }

  "exclusiveOffsets" should "match the quadratic reference form bit-for-bit" in {
    val rnd = new scala.util.Random(42)
    // holes on purpose: not every group appears in every partition
    val entries = (for { pid <- 0 until 37; g <- 0 until 11
                         if rnd.nextInt(4) > 0 }
      yield (pid, s"g$g", rnd.nextInt(1000).toLong)).toArray
    // the pre-round-16 O(E^2) form, kept here as the reference semantics
    val quadratic = entries.map { case (pid, g, _) =>
      (pid, g) -> entries.filter(x => x._2 == g && x._1 < pid).map(_._3).sum
    }.toMap
    Sampling.exclusiveOffsets(entries) shouldBe quadratic
  }

  it should "handle the driver shape 10^4 partitions x 10^2 groups linearly" in {
    // 10^6 entries in-spec (the full 10^7 shape is measured in SCALE.md,
    // "Round 16: the per-group sampling offsets, de-quadratified"); the
    // quadratic form would be ~10^12 comparisons
    val entries = Array.tabulate(1000000) { i =>
      (i % 10000, s"g${i / 10000}", (i % 97).toLong)
    }
    val t0 = System.nanoTime()
    val out = Sampling.exclusiveOffsets(entries)
    val sec = (System.nanoTime() - t0) / 1e9
    out.size shouldBe 1000000
    // spot-check one offset: group g3, pid 5 = sum of g3 in pids 0..4
    out((5, "g3")) shouldBe entries
      .filter(x => x._2 == "g3" && x._1 < 5).map(_._3).sum
    sec should be < 30.0 // linear-ish; the quadratic form would never finish
  }

  it should "be partitioning-independent and skip k<=0 groups" in {
    val rows = (1L to 200L).map(i => (s"g${i % 3}", i, i % 5 + 1))
    val a = Sampling.systematicWeightedPerGroup(
        rows.toDF("g", "id", "w").repartition(1), "g", "id", "w",
        Map("g0" -> 7L, "g1" -> 0L), defaultK = 5L)
      .orderBy("id").as[(String, Long, Long, Long)].collect()
    val b = Sampling.systematicWeightedPerGroup(
        rows.toDF("g", "id", "w").repartition(13), "g", "id", "w",
        Map("g0" -> 7L, "g1" -> 0L), defaultK = 5L)
      .orderBy("id").as[(String, Long, Long, Long)].collect()
    b shouldBe a
    a.map(_._1).toSet shouldBe Set("g0", "g2") // g1 never drawn
    a.filter(_._1 == "g0").map(_._4).sum shouldBe 7L
    a.filter(_._1 == "g2").map(_._4).sum shouldBe 5L
  }
}
