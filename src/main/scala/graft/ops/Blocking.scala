package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-block guard for the LSH-family candidate generators
  * ([[TextDedup.minhashPairsFromPrepared]], [[TextDedup.simhashNearDups]],
  * [[Similarity.cosineNearDups]]).
  *
  * The blocked self-joins are collision-rate-bounded on well-behaved
  * corpora, but a degenerate corpus — millions of boilerplate-identical
  * documents landing in one (band, bucket) — makes within-block candidates
  * quadratic before the verify filter ever runs. The standard mitigation
  * (and the one implemented here): for blocks over a size cap, collapse
  * identical-content members first. Degenerate blocks are dominated by
  * exact duplicates, so
  *
  *   - members sharing a content key (full MinHash signature / SimHash
  *     fingerprint / raw vector) are connected by STAR edges to the
  *     group's minimum id — O(block size) rows, and since downstream
  *     verification recomputes the true similarity on every candidate,
  *     stars introduce no false positives;
  *   - the distinct-content REPRESENTATIVES (one per content group) then
  *     run the normal all-pairs comparison — quadratic only in the number
  *     of distinct contents R, not the block size.
  *
  * Candidate count per oversized block is O(size + R²). The emitted pair
  * SET differs from the uncapped join (member↔member pairs across two
  * different content groups are represented by their rep↔rep pair
  * instead), but the CONNECTED COMPONENTS are preserved whenever
  * same-content-key members are true duplicates (exact for the raw-vector
  * key; a 2^-64-per-pair hash-collision argument for the signature keys) —
  * which is precisely what dedup-group resolution ([[DedupGroups]])
  * consumes. Callers needing the exact pair multiset leave the cap off.
  *
  * A block whose DISTINCT contents exceed the cap stays quadratic in R —
  * that shape is not a boilerplate pile-up but a banding/threshold
  * misconfiguration (the block key no longer discriminates), and silently
  * dropping its pairs would corrupt recall, so it is deliberately left
  * alone.
  *
  * AUTO mode (`maxBlock` = [[Auto]], the operator default since round 8):
  * the cap is derived IN-PLAN from the observed block-size distribution —
  *
  *   `cap = max(AutoFloor, min(AutoFactor × p99.9(block size),
  *                             AutoMassFrac × total member rows))`
  *
  * Two complementary outlier tests, each covering the other's blind spot:
  * the p99.9 factor catches a pile-up that towers over the corpus's own
  * distribution (and scales the cap UP on organically dense families,
  * where big blocks are the norm — simhash quarters reach 269 at sf0.1
  * with p99.9 = 123, cap 984, no-op); the mass bound catches the corpus
  * that is MOSTLY one pile — there the degenerate blocks contaminate
  * p99.9 itself (few distinct docs ⇒ few blocks ⇒ the pile IS the tail),
  * but by the same token the pile holds most of the member mass, far over
  * the few-percent share any healthy block has. The floor keeps auto a
  * guaranteed no-op on small/well-behaved corpora (every oracle corpus's
  * max block is ≤ 45 — measured, SCALE.md "Auto hot-bucket cap"), so
  * default-on auto preserves the exact uncapped pair set there — and,
  * because auto resolves via a preflight job ([[resolveAutoCap]]), the
  * healthy-corpus plan is bit-identical to uncapped (zero plan overhead).
  */
object Blocking {

  /** One auto-cap resolution, for observability ([[resolutions]]): the
    * derived cap, the distribution evidence it came from, and whether the
    * guard ENGAGED (some block exceeds the cap — the plan switched to the
    * star-plus-representatives form) or resolved to a no-op.
    */
  final case class AutoCapResolution(cap: Long, maxBlock: Long, p999: Long,
                                     mass: Long, engaged: Boolean)

  /** Snapshot of this session's auto-cap decisions (keyed by the block
    * frame's semantic-plan hash — one entry per distinct corpus/banding).
    * The guard is silent by design (no logging from inside operators);
    * production users audit WHEN it engaged — and on what evidence —
    * here. Cleared alongside [[clearAutoCapMemo]].
    */
  def resolutions: Map[Int, AutoCapResolution] = {
    val b = Map.newBuilder[Int, AutoCapResolution]
    resolutionLog.forEach((k, v) => b += (k.intValue -> v))
    b.result()
  }

  private val resolutionLog =
    new java.util.concurrent.ConcurrentHashMap[Integer, AutoCapResolution]()

  /** Sentinel for `maxBlock`: derive the cap from the block-size
    * distribution (see object doc). The operator-level default.
    */
  val Auto: Int = -1

  /** Auto-cap floor: blocks at or below this size are never capped. 256²
    * within-block candidate rows ≈ 65k — trivial to verify — while the
    * pile-ups the guard exists for are 10⁴–10⁶ members. Measured
    * (SCALE.md round 8, "Auto hot-bucket cap"): minhash 16×4 bucket max
    * is 3 at sf0.01 / 4 at sf0.1 — two orders below the floor.
    */
  val AutoFloor: Long = 256L

  /** Auto-cap multiplier over the p99.9 block size: a block must be this
    * many times the corpus's own 99.9th-percentile block before collapsing
    * — only far-outlier pile-ups, never the corpus's organic density. The
    * factor (not the floor) is what keeps auto a no-op on organically
    * dense families — measured: simhash quarter blocks at sf0.1 reach 269
    * (> floor) with p99.9 = 123 → cap 984; both the max and the p99.9
    * scale linearly with corpus size, so the ratio — and the no-op — is
    * scale-invariant, while a boilerplate pile-up grows its one block far
    * past 8× p99.9 and is capped.
    */
  val AutoFactor: Long = 8L

  /** Mass-share bound: no single block may exceed this fraction of ALL
    * (member, block) rows without being capped (floor still wins below
    * it). This is what catches a corpus DOMINATED by one pile — few
    * distinct docs means few blocks, so the pile contaminates p99.9 and
    * the factor test goes blind, but the pile then carries near-all of
    * the mass. Healthy blocks sit orders below it: the largest observed
    * organic share is simhash's 269 of 20k member rows = 1.3% at sf0.1,
    * and the share of any fixed near-dup family only FALLS as the corpus
    * grows, so the margin widens with scale.
    */
  val AutoMassFrac: Double = 0.05

  /** Resolve [[Auto]] into an effective cap with ONE bounded preflight job
    * (block sizes → a single (max, p99.9, mass) row): returns 0 — no block
    * over the derived cap, run the PURE uncapped plan — or the positive
    * cap for [[cappedCandidates]].
    *
    * Deliberately eager, not in-plan: the first auto implementation rode
    * the cap in as a one-row broadcast with the capping machinery always
    * in the plan, and the machinery's extra shuffles (size join + star/rep
    * branches over the full bucket table) cost 3-4× on the healthy-corpus
    * hot path even though zero rows were capped (q_ext_dedup_simhash
    * 0.9 → 4.2 s at sf0.1). The preflight is one aggregation over the
    * bucket table — a fraction of the self-join stage it guards — and in
    * the healthy case the main plan is BIT-IDENTICAL to uncapped. The
    * collect is a bounded scalar (one row), the same guard pattern as the
    * pipeline rowcount checks.
    */
  def resolveAutoCap(blocks: DataFrame, blockCols: Seq[String]): Int = {
    // Memoized on the SEMANTIC plan of the block frame: the dominant
    // deployment shape is many dedup queries over one stored corpus, and
    // re-running the preflight per call would tax every warm query ~a job
    // (~0.3-0.5 s at sf0.1 local). The 32-bit semanticHash is only the
    // BUCKET key — the entry stores the canonicalized plan itself and a
    // hit requires full structural equality, so two distinct plans whose
    // hashes collide can never share a cap resolution (a collision would
    // silently engage capping on a healthy corpus or skip it on a
    // degenerate one; the losing plan just re-preflights each call).
    // Same canonical plan ⇒ same source data in Spark's model — file
    // listings are NOT part of relation equality (InMemoryFileIndex
    // compares root paths), so appending files under an already-resolved
    // store path in the SAME session leaves the cap one batch stale: a
    // plan-shape (perf) consideration only, and [[clearAutoCapMemo]]
    // resets it ([[graft.pipelines.CorpusStore]]'s mutators call it).
    // Bounded: cleared at 1024 plans.
    //
    // The preflight Spark job runs OUTSIDE the map (publish via
    // putIfAbsent), so concurrent resolutions of different corpora never
    // serialize on a ConcurrentHashMap bin lock; two threads racing the
    // same cold plan at worst both run the bounded preflight and agree on
    // the (deterministic) result.
    val plan = blocks.queryExecution.logical.canonicalized
    val key = Integer.valueOf(plan.hashCode())
    val cached = autoCapMemo.get(key)
    if (cached != null && cached._1 == plan) cached._2
    else {
      if (autoCapMemo.size > 1024) { autoCapMemo.clear(); resolutionLog.clear() }
      val r = blocks.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .agg(max(col("__bsz")).as("mx"),
          percentile_approx(col("__bsz"), lit(0.999), lit(10000)).as("p999"),
          sum(col("__bsz")).as("mass"))
        .collect()(0)
      val eff =
        if (r.isNullAt(0)) 0 // empty corpus: nothing to cap
        else {
          val cap = math.max(AutoFloor,
            math.min(AutoFactor * r.getAs[Long]("p999"),
              (AutoMassFrac * r.getAs[Long]("mass")).toLong))
          val engaged = r.getAs[Long]("mx") > cap
          resolutionLog.put(key, AutoCapResolution(cap, r.getAs[Long]("mx"),
            r.getAs[Long]("p999"), r.getAs[Long]("mass"), engaged))
          if (!engaged) 0 else cap.min(Int.MaxValue.toLong).toInt
        }
      autoCapMemo.putIfAbsent(key, (plan, eff))
      eff
    }
  }

  private val autoCapMemo = new java.util.concurrent.ConcurrentHashMap[
    Integer, (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int)]()

  /** Drop memoized auto-cap resolutions and the observability log (tests;
    * or after appending to a corpus store whose path was already resolved
    * in this session).
    */
  def clearAutoCapMemo(): Unit = { autoCapMemo.clear(); resolutionLog.clear() }

  /** Candidate pairs (id_a < id_b, distinct) from a block-membership table
    * (one row per member and block), capping per-block fan-out at
    * `maxBlock` via the star-plus-representatives scheme above.
    *
    * @param blocks      one row per (member, block): `blockCols` ++ idCol
    *                    ++ groupKeyCol
    * @param blockCols   the block key (e.g. band+bucket)
    * @param idCol       member id (orderable; pairs come out id_a < id_b)
    * @param groupKeyCol content key equating "identical" members
    * @param maxBlock    size cap; 0 disables capping (pure self-join);
    *                    negative ([[Auto]]) resolves the cap via
    *                    [[resolveAutoCap]] (one preflight job; healthy
    *                    corpora get the pure uncapped plan)
    */
  def cappedCandidates(blocks: DataFrame, blockCols: Seq[String],
                       idCol: String, groupKeyCol: String,
                       maxBlock: Int): DataFrame = {
    val bc: Seq[Column] = blockCols.map(col)
    def selfJoin(members: DataFrame): DataFrame = {
      val a = members.select(bc :+ col(idCol).as("id_a"): _*)
      val b = members.select(bc :+ col(idCol).as("id_b"): _*)
      a.join(b, blockCols).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }
    val eff = if (maxBlock < 0) resolveAutoCap(blocks, blockCols) else maxBlock
    if (eff == 0) selfJoin(blocks).distinct()
    else {
      // ENGAGED plan, one-exchange shape (round 9): the round-8 form
      // carried the pile's member rows through three separate shuffles —
      // a size-count aggregation joined back to the members, a rep
      // groupBy, and a member←reps star join. All three keys are the
      // block key or a superset of it, so a single repartition on the
      // block key feeds everything: both window specs below are satisfied
      // by that partitioning (hash on a subset of the window keys
      // clusters them — no further exchange, only local sorts), the star
      // edges become a FILTER (each member row already carries its
      // group's min id) instead of a join, the representative table is
      // the `id == rep` rows instead of an aggregation, and the two
      // self-joins reuse the repartition exchange. Column pruning splits
      // the repartition into a pruned variant (small-block branch) and an
      // unpruned one (star/rep branches), so member rows cross the wire
      // at most TWICE — down from the round-8 chain, and with zero
      // planner-inserted block-key shuffles (spec-locked). Measured
      // (SCALE.md round 9, "Capped-path shuffle diet"): 32k/128k piles
      // 16.4/17.4 → 13.2/12.9 s. Output is the exact pair set of the
      // round-8 shape (BlockingSpec equality), and the healthy-corpus
      // branch above is untouched. Per-block skew note: repartitioning by
      // block key puts an oversized block in one partition — the same
      // funnel the round-8 star join already forced, paid once instead of
      // thrice.
      import org.apache.spark.sql.expressions.Window
      val wBlock = Window.partitionBy(bc: _*)
      val wGroup = Window.partitionBy(bc :+ col(groupKeyCol): _*)
      val annotated = blocks.repartition(bc: _*)
        .withColumn("__bsz", count(lit(1)).over(wBlock))
        .withColumn("__rep", min(col(idCol)).over(wGroup))
      val small = selfJoin(annotated.filter(col("__bsz") <= eff))
      val big = annotated.filter(col("__bsz") > eff)
      // rep = group minimum, so star edges are already oriented id_a < id_b
      val stars = big.filter(col(idCol) =!= col("__rep"))
        .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
      val repPairs = selfJoin(big.filter(col(idCol) === col("__rep")))
      small.union(stars).union(repPairs).distinct()
    }
  }
}
