package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Adversarial hot-block corpus: a boilerplate text duplicated en masse
  * lands every copy in the same LSH buckets, which the uncapped self-join
  * turns into O(n²) candidates. The cap must keep candidates linear while
  * preserving the dedup GROUPS (the consumer contract — [[DedupGroups]]).
  */
class BlockingSpec extends SparkSpec {
  import spark.implicits._

  private val boiler =
    "terms of service apply to all users of this web site without exception"

  private def degenerateDocs(n: Int) = (
    (0 until n).map(i => (i.toLong, boiler)) ++ Seq(
      (90000L, "the quick brown fox jumps over the lazy dog"),
      (90001L, "the quick brown fox jumps over the lazy cat"),
      (95000L, "completely unrelated content about spark engines"))
  ).toDF("doc_id", "text")

  private def groupsOf(docs: org.apache.spark.sql.DataFrame,
                       pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    DedupGroups.resolveFromPairs(docs, "doc_id", pairs)
      .select("doc_id", "group_id").as[(Long, Long)].collect().toMap

  "minhash maxBucket" should "keep candidates O(n) on a 1200-copy hot bucket" in {
    val n = 1200
    val prepared = TextDedup.minhashPrepare(degenerateDocs(n), "doc_id", "text")
      .persist()
    try {
      // uncapped candidates would be >= n(n-1)/2 = 719,400; capped = one
      // star edge per duplicate copy (distinct across bands) + the few
      // genuine near-dup pairs from small buckets
      val capped = TextDedup.minhashCandidates(prepared, "doc_id",
        maxBucket = 100)
      capped.count() should be < (n + 50).toLong
      capped.count() should be >= (n - 1).toLong
    } finally prepared.unpersist()
  }

  it should "preserve dedup groups vs the uncapped join" in {
    val docs = degenerateDocs(300)
    val prepared = TextDedup.minhashPrepare(docs, "doc_id", "text").persist()
    try {
      val capped = TextDedup.minhashPairsFromPrepared(prepared, "doc_id",
        threshold = 0.5, maxBucket = 50)
      val uncapped = TextDedup.minhashPairsFromPrepared(prepared, "doc_id",
        threshold = 0.5)
      groupsOf(docs, capped) shouldBe groupsOf(docs, uncapped)
    } finally prepared.unpersist()
  }

  it should "be a no-op below the cap" in {
    val docs = degenerateDocs(8)
    val prepared = TextDedup.minhashPrepare(docs, "doc_id", "text").persist()
    try {
      val capped = TextDedup.minhashPairsFromPrepared(prepared, "doc_id",
          threshold = 0.5, maxBucket = 1000)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val uncapped = TextDedup.minhashPairsFromPrepared(prepared, "doc_id",
          threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      capped shouldBe uncapped
    } finally prepared.unpersist()
  }

  "auto cap (the default)" should "bound a degenerate hot bucket with no tuning" in {
    val n = 1200
    val prepared = TextDedup.minhashPrepare(degenerateDocs(n), "doc_id", "text")
      .persist()
    try {
      // default maxBucket = Blocking.Auto: the 1203-member bucket is far
      // past max(256, 8 × p99.9) of this corpus's distribution, so it
      // collapses to stars + rep pairs — linear, not 719k candidates
      val capped = TextDedup.minhashCandidates(prepared, "doc_id")
      capped.count() should be < (n + 50).toLong
      capped.count() should be >= (n - 1).toLong
    } finally prepared.unpersist()
  }

  it should "record its decisions in the observability log" in {
    Blocking.clearAutoCapMemo()
    val prepared = TextDedup.minhashPrepare(degenerateDocs(600), "doc_id", "text")
      .persist()
    try {
      TextDedup.minhashCandidates(prepared, "doc_id").count()
      val engaged = Blocking.resolutions.values.filter(_.engaged)
      engaged should have size 1
      // evidence: the pile bucket is the max block, far over the cap
      engaged.head.maxBlock should be >= 600L
      engaged.head.cap should be < engaged.head.maxBlock
    } finally { prepared.unpersist(); Blocking.clearAutoCapMemo() }
  }

  it should "be a pair-set no-op on the real documents corpus" in {
    // every block on the oracle corpus sits far below the auto floor
    // (minhash max 3-4 at sf0.01/0.1, SCALE.md "Auto hot-bucket cap"), so
    // default-on auto must
    // emit the EXACT uncapped pair set — the property the DuckDB oracle
    // relies on (q_ext_dedup_minhash/simhash unchanged under the default)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prepared = TextDedup.minhashPrepare(docs, "doc_id", "text").persist()
    try {
      def pairs(maxBucket: Int) =
        TextDedup.minhashPairsFromPrepared(prepared, "doc_id",
            threshold = 0.5, maxBucket = maxBucket)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      pairs(Blocking.Auto) shouldBe pairs(0)
      def simPairs(maxBlock: Int) =
        TextDedup.simhashNearDups(docs, "doc_id", "text",
            maxHamming = 3, portable = true, maxBlock = maxBlock)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      simPairs(Blocking.Auto) shouldBe simPairs(0)
    } finally prepared.unpersist()
  }

  "the engaged plan" should "cluster on the block key only via the explicit repartition" in {
    // Structural lock on the round-9 shape: block sizing, star edges,
    // representatives, and both self-joins all feed off the EXPLICIT
    // block-key repartition (windows + filters — no size-count join-back,
    // no rep groupBy, no member←reps star join). A regression to the
    // join-based shape shows up as planner-inserted (ENSURE_REQUIREMENTS)
    // shuffles clustering on the block key; the correct plan has zero —
    // every block-key exchange is the REPARTITION_BY_COL one (Catalyst
    // legitimately splits it into a pruned and an unpruned variant per
    // consumer branch, so member rows cross the wire at most twice, vs
    // the round-8 chain's four-plus member/agg shuffles).
    val blocks = (0 until 400).map(i => (0, 7L, 1000L + i, "pile")) ++
      Seq((0, 8L, 1L, "a"), (0, 8L, 2L, "b"))
    val df = blocks.toDF("band", "bucket", "doc_id", "content")
    val pairs = Blocking.cappedCandidates(df, Seq("band", "bucket"),
      "doc_id", "content", maxBlock = 100)
    pairs.collect() // finalize the adaptive plan
    val executed = pairs.queryExecution.executedPlan.toString
    val planned = "Exchange hashpartitioning\\(band[^)]*ENSURE_REQUIREMENTS"
      .r.findAllIn(executed).length
    withClue(executed) { planned shouldBe 0 }
    val repart = "Exchange hashpartitioning\\(band[^)]*REPARTITION_BY_COL"
      .r.findAllIn(executed).length
    withClue(executed) { repart should be <= 2 }
    // and the output is still the star-plus-reps pair set
    pairs.count() shouldBe (399L + 1L) // 399 stars + the (1,2) small-block pair
  }

  "simhash maxBlock" should "bound a hot quarter block and keep one group" in {
    val n = 600
    val docs = degenerateDocs(n)
    val pairs = TextDedup.simhashNearDups(docs, "doc_id", "text",
      maxHamming = 3, maxBlock = 50)
    // all copies share one fingerprint: star edges only, not 179,700 pairs
    pairs.count() should be < (n + 50).toLong
    val groups = groupsOf(docs, pairs)
    (0 until n).map(i => groups(i.toLong)).toSet should have size 1
  }

  "cosine maxBucket" should "bound identical-vector pile-ups and keep groups" in {
    val n = 500
    val hot = (0 until n).map(i => (i.toLong, Seq(1.0f, 0.5f, 0.25f, 0.0f)))
    val rest = Seq(
      (90000L, Seq(0.99f, 0.52f, 0.24f, 0.01f)), // near-dup of the pile
      (95000L, Seq(-1.0f, 0.3f, -0.8f, 0.5f)))   // unrelated
    val vecs = (hot ++ rest).toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDups(vecs, "vec_id", "embedding",
      threshold = 0.95, nbits = 4, dim = 4, maxBucket = 40)
    capped.count() should be < (2L * n) // stars + rep↔near-dup, not n²/2
    val groups = groupsOf(
      vecs.select(col("vec_id").as("doc_id")),
      capped)
    (0 until n).map(i => groups(i.toLong)).toSet shouldBe Set(0L)
    // the near-identical outlier joins via its rep pair
    groups(90000L) shouldBe 0L
    groups(95000L) shouldBe 95000L
  }

  it should "match the uncapped pair set when no bucket exceeds the cap" in {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.98f, 0.05f, 0.0f))).toDF("vec_id", "embedding")
    def pairSet(maxBucket: Int) =
      Similarity.cosineNearDups(vecs, "vec_id", "embedding",
          threshold = 0.9, nbits = 2, dim = 4, maxBucket = maxBucket)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairSet(100) shouldBe pairSet(0)
  }
}
