package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) over an edge list — the canonical
  * iterative link-analysis operator: web-crawl corpora rank pages for
  * quality-weighted sampling, and citation/reference graphs rank
  * documents for curation. One groupBy-sum per iteration; no
  * vertex-program framework needed — the power iteration IS a join+agg.
  *
  * Integer-exact: ranks are scaled BIGINTs (mass [[Scale]] = 1e12 split
  * across nodes) and every step is integer floor-division arithmetic.
  * Floating-point PageRank is partition-order-dependent (double sums
  * don't associate); the scaled-integer form makes the fixpoint a pure
  * function of the graph — the same value on any cluster layout, and
  * token-for-token reproducible by the SQL oracle (`div` == `//` on
  * non-negatives). The cost is ≤1 scaled-unit (1e-12) truncation per
  * term — far below any ranking-relevant signal.
  *
  * Scale shape: edges are the big frame; each iteration shuffles the
  * rank frame (|V| narrow rows) onto the edge partitioning (join on
  * src, groupBy dst) — shuffle volume O(|V| + |E|) per iteration,
  * rounds fixed. The edge+outdeg frame is computed and pinned ONCE;
  * dangling mass (nodes with no out-edges) is redistributed through a
  * broadcast single-row aggregate, not a per-iteration driver job.
  * Rank frames persist one generation and release as the next
  * materializes (same deferred-release discipline as [[Bpe]]).
  *
  * Cache lifecycle: the plain forms pin the graph frames (nodes, edges
  * with out-degrees) for the life of the session — fine for
  * job-per-query use. Long-lived serving sessions should call the
  * `*Managed` forms, whose [[Managed]] handle releases the pins AND the
  * lineage-truncation checkpoint blocks after the result materializes.
  */
object PageRank {

  /** Total rank mass; per-node ranks are BIGINTs out of this. */
  val Scale: Long = 1000000000000L

  /** Node count at or below which the per-iteration |V|-row frames (ranks,
    * contribs) are BROADCAST instead of shuffled. The loop frames are
    * stats-less once persisted, so neither Catalyst nor AQE can ever make
    * the broadcast call the optimizer would make on a scanned table —
    * but prepare() measured |V| EXACTLY, so the operator makes it: at or
    * under the threshold each iteration runs ONE exchange (the contrib
    * groupBy) with every join map-side, instead of three.
    *
    * 64k nodes (~1.5 MB of unsafe rows): measured on one 3-regular graph
    * in one JVM, the regimes tied at 50k nodes and shuffled WON from 150k
    * up on local[32] (3.36 vs 3.42 s at 50k, 5.01 vs 4.48 s at 150k) —
    * per-iteration broadcast pays a driver collect + hashed-relation build
    * × joins × rounds, which outgrows the (network-free local) shuffle
    * quickly. On a network-attached cluster the crossover sits higher
    * (SCALE.md, "Graph-iteration broadcast siding"; the probe that
    * measured it is in git at ac4574e).
    */
  val BroadcastNodesMax: Long = 1L << 16

  /** Lineage-truncation cadence for the iteration loop, dangling-aware.
    * With dangling nodes each round references the previous ranks TWICE
    * (contrib join + dangling anti-join) — the plan tree DOUBLES per round
    * and must be cut every few rounds (cadence 3, the round-10 measured
    * choice). Without dangling (symmetric graphs — TextRank's by
    * construction; every-node-emits graphs generally) the reference is
    * single, the nest grows LINEARLY, and each skipped eager checkpoint
    * saves a full |V|-row materialize+store pass — cadence 8 keeps driver
    * heap bounded while typical contract runs (≤8 rounds) checkpoint never.
    * Measured a null result on time (TextRank at sf0.1: 7.13 s at cadence
    * 3, 7.30 s at 8 — SCALE.md, "Checkpoint-cadence A/B on the linear
    * nest"); kept because the geometric-nest guard only needs to fire on
    * geometric nests.
    */
  def checkpointCadence(hasDangling: Boolean): Int =
    if (hasDangling) 3 else 8

  /** Edge count at or below which the WHOLE iteration runs on the driver
    * (collect edges once, run the identical integer recurrence in-JVM,
    * hand back a LocalRelation). The principle extends the broadcast
    * siding one step: below [[BroadcastNodesMax]] the rank frame already
    * ships to EVERY executor each iteration — when the edge set too fits
    * in one JVM, the remaining distributed work is pure job-scheduling
    * overhead (measured: 5 iterations over a 961-edge TextRank graph cost
    * 3.3 s at local[32], sub-millisecond in-JVM). Values are BIT-IDENTICAL
    * by construction — the recurrence is integer floor-division arithmetic
    * with no float in sight, so engine placement cannot change a digit
    * (every graph oracle at sf0.01/sf0.1 exercises exactly this path).
    * The probe is bounded (`limit(max+1).count()`), so big graphs pay one
    * early-stopping scan, not a full count. Default 2^21 edges (~32 MB of
    * (long, long) rows); `-Dgraft.graph.localEdgesMax=N` overrides, 0
    * forces the distributed path (how the structural specs pin the regime
    * they test).
    */
  def LocalEdgesMax: Long =
    sys.props.get("graft.graph.localEdgesMax").map(_.toLong)
      .getOrElse(1L << 21)

  /** `iterations` power-iteration steps at `dampingPct`/100 damping.
    * Returns (node, rank_scaled): rank_scaled sums to ~[[Scale]]
    * (minus sub-unit truncation). Multi-edges contribute multiply —
    * `distinct` the edge frame upstream if simple-graph semantics are
    * wanted.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85): DataFrame =
    iterate(edges, srcCol, dstCol, iterations, dampingPct, seedsRaw = None).df

  /** [[pageRank]] with an explicit cache-release handle. */
  def pageRankManaged(edges: DataFrame, srcCol: String, dstCol: String,
                      iterations: Int, dampingPct: Int = 85): Managed =
    iterate(edges, srcCol, dstCol, iterations, dampingPct, seedsRaw = None)

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    * personalized PageRank whose teleport — and dangling mass — return
    * ONLY to a trusted seed set. Trust flows out along links; spam/junk
    * far from the seeds receives asymptotically nothing. The standard
    * quality-propagation pass over a web-crawl link graph (seed =
    * hand-vetted domains), reusing the exact-integer iteration.
    * `seeds` is a one-column frame of trusted node ids (must appear in
    * the graph; others are ignored by the inner join).
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                iterations: Int, dampingPct: Int = 85): DataFrame =
    trustRankManaged(edges, srcCol, dstCol, seeds, seedCol, iterations,
      dampingPct).df

  /** [[trustRank]] with an explicit cache-release handle. */
  def trustRankManaged(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedCol: String,
                       iterations: Int, dampingPct: Int = 85): Managed =
    iterate(edges, srcCol, dstCol, iterations, dampingPct,
      seedsRaw = Some(seeds.select(col(seedCol).cast("long").as("node"))))

  /** [[pageRankConverged]]'s managed result: the rank handle plus how the
    * loop terminated.
    */
  final case class Converged(ranks: Managed, iterations: Int,
                             deltaScaled: Long)

  /** Iterate until the L1 rank delta drops to `epsilonScaled` scaled
    * units or `maxIterations`, whichever first — the operational mode
    * (fixed-round [[pageRank]] stays the oracle-checkable contract).
    * The per-round convergence check is a driver scalar, as in every
    * iterative framework: one extra co-keyed join+agg job per round.
    * Returns (ranks, iterationsRun, finalDeltaScaled).
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        epsilonScaled: Long, maxIterations: Int = 50,
                        dampingPct: Int = 85): (DataFrame, Int, Long) = {
    val c = pageRankConvergedManaged(edges, srcCol, dstCol, epsilonScaled,
      maxIterations, dampingPct)
    (c.ranks.df, c.iterations, c.deltaScaled)
  }

  /** [[pageRankConverged]] with an explicit cache-release handle — the
    * converged loop checkpoints EVERY round, so long-lived sessions
    * accumulate one checkpoint block set per round without it.
    */
  def pageRankConvergedManaged(edges: DataFrame, srcCol: String,
                               dstCol: String, epsilonScaled: Long,
                               maxIterations: Int = 50,
                               dampingPct: Int = 85): Converged = {
    require(epsilonScaled >= 0, s"epsilonScaled must be >= 0, got $epsilonScaled")
    // measured-small graph: the convergence loop is the barrier-heaviest
    // form (per-round checkpoint + per-round delta job) — route it through
    // the same in-JVM twin as the fixed-round loop (see [[LocalEdgesMax]]);
    // per-round values AND the L1 delta are the identical integer
    // arithmetic, so (ranks, iterations, delta) all match bit-for-bit.
    val e0c = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    collectSmallEdges(e0c, LocalEdgesMax).foreach { eArr =>
      val lctx = new LocalCtx(eArr, None, dampingPct)
      var cur = lctx.r0
      var iters = 0
      var delta = Long.MaxValue
      while (iters < maxIterations && delta > epsilonScaled) {
        val next = lctx.step(cur)
        delta = 0L
        var j = 0
        while (j < next.length) { delta += math.abs(next(j) - cur(j)); j += 1 }
        cur = next
        iters += 1
      }
      val ranks = cur
      val out = edges.sparkSession
        .createDataFrame(lctx.nodeIds.indices.map(j => (lctx.nodeIds(j), ranks(j))))
        .toDF("node", "rank_scaled")
      return Converged(new Managed(out, Nil, Nil), iters, delta)
    }
    val ctx = prepare(edges, srcCol, dstCol, dampingPct, seeds = None)
    val cpRdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    var ranks = ctx.r0
    var prev: Option[DataFrame] = None
    var iters = 0
    var delta = Long.MaxValue
    while (iters < maxIterations && delta > epsilonScaled) {
      // localCheckpoint per round: unlike the fixed-iteration loop (plan
      // depth bounded by the small iteration count), this loop is
      // unbounded — without truncation each round's plan embeds every
      // earlier round's and the driver OOMs composing explain strings
      // (observed in-spec at ~20 rounds). The eager checkpoint doubles as
      // the round's materializing action.
      val raw = step(ctx, ranks)
      val next = raw.localCheckpoint(true)
      cpRdds ++= Managed.directCheckpointRdds(next)
      raw.unpersist(false)
      delta = next.join(ctx.sided(ranks.withColumnRenamed("rank", "rank_prev")
          .select("node", "rank_prev")), Seq("node"))
        .agg(coalesce(sum(abs(col("rank") - col("rank_prev"))), lit(0L)))
        .head().getLong(0)
      // the grandparent round is provably dead here (this round's frame
      // is materialized and the delta read only parent+child): free its
      // cache pin AND checkpoint blocks in-loop, bounding live
      // checkpoint storage to 2 |V|-row frames however long the loop runs
      // DIRECT checkpoint release only: round-1 prev is ctx.r0, whose
      // lineage reaches the caller's edges — a deep walk would free a
      // checkpoint-backed input argument (GraphManagedSpec locks this)
      prev.foreach { p =>
        p.unpersist(false)
        Managed.directCheckpointRdds(p).foreach(_.unpersist(false))
      }
      prev = Some(ranks)
      ranks = next
      iters += 1
    }
    val out = ranks.select(col("node"), col("rank").as("rank_scaled"))
    prev.foreach { p =>
      p.unpersist(false)
      Managed.directCheckpointRdds(p).foreach(_.unpersist(false))
    }
    Converged(new Managed(out, ctx.pins, cpRdds.toSeq), iters, delta)
  }

  /** Immutable per-run context: pinned graph frames + integer constants. */
  private final case class Ctx(nodes: DataFrame, eod: DataFrame,
                               outdeg: DataFrame, r0: DataFrame,
                               teleport: Long, nRecv: Long, dampingPct: Int,
                               hasDangling: Boolean, small: Boolean) {
    /** Every frame prepare() pinned, for a release handle. */
    def pins: Seq[DataFrame] = Seq(nodes, eod, outdeg, r0)

    /** A |V|-bounded per-iteration frame, sided for its next join: map-side
      * broadcast when the measured |V| fits, shuffled-hash otherwise (the
      * hint is load-bearing — stats-less cached frames otherwise degrade
      * to SortMergeJoin, see [[step]]).
      */
    def sided(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
  }

  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
                      dampingPct: Int, seeds: Option[DataFrame]): Ctx = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    // every pin below goes through ensurePersisted: the unmanaged entry
    // points leave their pins alive, so a later run over the same edges
    // (pageRank then trustRank, or the same seeds again) finds the graph
    // frames already cached and aliases them (see Managed.ensurePersisted)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    // nodes carry a seed flag (everyone is a "seed" in plain PageRank:
    // uniform teleport); seeds outside the graph are dropped by the
    // inner-join semantics of the flag build
    val nodes = seeds.fold(allNodes.withColumn("is_seed", lit(true))) { s =>
      allNodes.join(s.withColumn("is_seed", lit(true)).hint("shuffle_hash"),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    }.transform(Managed.ensurePersisted(_, lvl))
    // |V| and |receiving set| from ONE aggregate job over the nodes pin
    // (round 11: these were two separate count() jobs — at tiny per-job
    // cost × five graph queries the scheduling overhead was measurable;
    // same floor-div on both engines)
    val nodeStats = nodes.agg(count(lit(1)).as("__n"),
      coalesce(sum(when(col("is_seed"), 1L).otherwise(0L)), lit(0L))
        .as("__recv")).head()
    val nNodes = nodeStats.getLong(0)
    val nRecv = nodeStats.getLong(1)
    require(nRecv > 0, "seed set does not intersect the graph")
    val teleport = ((100L - dampingPct) * Scale / 100L) / nRecv
    // outdeg is read by the dangling join EVERY iteration: unpinned it
    // re-derives the whole edge pipeline per round — invisible when
    // edges is a parquet scan, a large tax when it is a derived frame
    // (TextRank's explode+join+distinct edge pipeline)
    val outdeg = Managed.ensurePersisted(e.groupBy("src").agg(count(lit(1)).as("od")), lvl)
    val small = nNodes <= BroadcastNodesMax
    // (src, dst, od) pinned once — every iteration reads it. In the
    // BROADCAST regime the rank side of the edge join broadcasts, so the
    // join output keeps eod's partitioning — pre-partitioning eod by dst
    // HERE (one exchange at prepare) lets every iteration's contrib
    // groupBy(dst) reuse it through the alias-aware Project: ZERO
    // exchanges per iteration (textrank at sf0.1: 6.43 → 5.33 s, SCALE.md
    // "Zero-exchange broadcast iterations"). In
    // the shuffled regime iterations join BY SRC, so dst-partitioning
    // would force a re-exchange per round — left as-is there.
    val eodBase = e.join(outdeg, "src")
    val eod = Managed.ensurePersisted(
      if (small) eodBase.repartition(col("dst")) else eodBase, lvl)
    val r0 = nodes
      .select(col("node"), col("is_seed"),
        when(col("is_seed"), lit(Scale / nRecv)).otherwise(lit(0L)).as("rank"))
      .transform(Managed.ensurePersisted(_, lvl))
    // dangling detection, once: graphs whose every node emits edges (the
    // common case — symmetric graphs can't dangle at all) skip the
    // per-round redistribution broadcast stage entirely; dang_sum is
    // identically 0 there, so values are unchanged
    val hasDangling = outdeg.count() < nNodes
    Ctx(nodes, eod, outdeg, r0, teleport, nRecv, dampingPct, hasDangling,
      small = small)
  }

  /** One power-iteration step; the result is persisted (materialized by
    * the caller's next action over it).
    */
  private def step(ctx: Ctx, ranks: DataFrame): DataFrame = {
    // join siding via ctx.sided: broadcast when prepare() measured |V|
    // small (one exchange per iteration — the contrib groupBy — with the
    // edge join and the node join both map-side), shuffled-hash hints
    // otherwise — the cached frames are stats-less and Catalyst's
    // unhinted fallback is SortMergeJoin, a wasted sort on narrow
    // co-keyed frames (locked out registry-wide by PlanInvariantsSpec)
    val contrib = ctx.eod.join(ctx.sided(ranks),
        ctx.eod("src") === ranks("node"))
      .select(col("dst").as("node"), expr("rank div od").as("c"))
      .groupBy("node").agg(sum("c").as("contrib"))
    val joined = ctx.nodes
      .join(ctx.sided(contrib), Seq("node"), "left")
    val base =
      if (!ctx.hasDangling) joined // dang_sum ≡ 0: no broadcast stage
      else {
        // dangling nodes hold mass but emit no edges: redistribute their
        // per-node share to the receiving set via a single-row broadcast
        // (stays in-plan — no per-iteration driver job); outdeg sides
        // like the rank frames (≤|V| narrow rows)
        val dang = ranks.join(ctx.sided(ctx.outdeg),
            ranks("node") === ctx.outdeg("src"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0L)).as("dang_sum"))
        joined.crossJoin(broadcast(dang))
      }
    val dangTerm =
      if (!ctx.hasDangling) "0"
      else s"(CASE WHEN is_seed THEN dang_sum div ${ctx.nRecv} ELSE 0 END)"
    base
      .select(col("node"), col("is_seed"),
        (when(col("is_seed"), lit(ctx.teleport)).otherwise(lit(0L)) + expr(
          s"${ctx.dampingPct} * (coalesce(contrib, 0) + $dangTerm) div 100"))
          .as("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Gate + collect for the local fast paths: a bounded COUNT probe
    * (`limit(localMax+1).count()` — early-stopping, no row transfer;
    * 0.9–1.4 s warm on a 64M-edge frame, SCALE.md "Round 14: the graph
    * tier's measured-size LOCAL fast path"), then the collect only
    * when the count qualifies (advice, round 14: the previous
    * collect-first gate pulled up to localMax+1 boxed Rows to the driver
    * per invocation on graphs ABOVE the threshold — ~2M GenericRows at
    * the default — before rejecting them). Small graphs pay one extra
    * single-stage job over a LocalLimit; big graphs ship nothing.
    * Qualify only when the frame really had ≤ localMax rows AND no null
    * ids: the distributed loops drop null join keys (with knock-on
    * semantics on the node set), so a null-carrying frame falls back to
    * the distributed path rather than letting the in-JVM twin diverge —
    * or NPE (review finding, round 14). Callers must pre-cast both
    * columns to long.
    */
  private[ops] def collectSmallEdges(e0: DataFrame,
                                     localMax: Long): Option[Array[(Long, Long)]] = {
    if (localMax <= 0 || localMax >= Int.MaxValue) return None
    // two-tier gate: TINY graphs (the common fast-path population —
    // co-occurrence/session/contraction graphs) qualify in ONE bounded
    // job via a small direct collect; graphs past the small tier pay a
    // count probe first so the rejected case ships zero rows (advice,
    // round 14 — the one-tier collect pulled up to 2M boxed Rows per
    // invocation on graphs above the threshold). The round-15 floor
    // diff measured the always-count form costing the small tier an
    // extra ~0.2 s/query in scheduling — this keeps both properties.
    val fastMax = math.min(localMax, 1L << 16).toInt
    val fast = e0.limit(fastMax + 1).collect()
    val rows =
      if (fast.length <= fastMax) fast
      else if (localMax <= fastMax) return None
      else {
        val probe = e0.limit(localMax.toInt + 1)
        if (probe.count() > localMax) return None
        val r = probe.collect()
        if (r.length > localMax) return None
        r
      }
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Driver-side node indexing shared by the local twins (PageRank's
    * LocalCtx and [[Hits]]' half-steps): stable first-seen node order,
    * edge endpoints as dense int indexes.
    */
  private[ops] final class EdgeIndex(edges: Array[(Long, Long)]) {
    val nodeIds: Array[Long] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      edges.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    private val idx = new java.util.HashMap[Long, Int](nodeIds.length * 2)
    nodeIds.zipWithIndex.foreach { case (id, i) => idx.put(id, i) }
    val n: Int = nodeIds.length
    val src: Array[Int] = new Array[Int](edges.length)
    val dst: Array[Int] = new Array[Int](edges.length)
    locally {
      var i = 0
      while (i < edges.length) {
        src(i) = idx.get(edges(i)._1); dst(i) = idx.get(edges(i)._2)
        i += 1
      }
    }
  }

  /** The driver-side twin of the distributed recurrence — LINE-FOR-LINE
    * the arithmetic of [[step]] (per-edge `rank div od` contributions,
    * dangling mass `div nRecv` to seeds, `dampingPct · (…) div 100`), so
    * placement cannot change a value. Used only under [[LocalEdgesMax]].
    */
  private final class LocalCtx(edges: Array[(Long, Long)],
                               seedSet: Option[Set[Long]], dampingPct: Int) {
    private val g = new EdgeIndex(edges)
    def nodeIds: Array[Long] = g.nodeIds
    val n: Int = g.n
    private val src = g.src
    private val dst = g.dst
    private val isSeed: Array[Boolean] = seedSet match {
      case None => Array.fill(n)(true)
      case Some(s) => nodeIds.map(s.contains)
    }
    private val nRecv = isSeed.count(identity).toLong
    require(nRecv > 0, "seed set does not intersect the graph")
    private val teleport = ((100L - dampingPct) * Scale / 100L) / nRecv
    private val od = new Array[Long](n)
    locally {
      var i = 0
      while (i < src.length) { od(src(i)) += 1L; i += 1 }
    }
    def r0: Array[Long] =
      Array.tabulate(n)(j => if (isSeed(j)) Scale / nRecv else 0L)
    def step(rank: Array[Long]): Array[Long] = {
      val contrib = new Array[Long](n)
      var k = 0
      while (k < src.length) {
        contrib(dst(k)) += rank(src(k)) / od(src(k))
        k += 1
      }
      var dangSum = 0L
      var j = 0
      while (j < n) { if (od(j) == 0L) dangSum += rank(j); j += 1 }
      val next = new Array[Long](n)
      j = 0
      while (j < n) {
        val dang = if (isSeed(j)) dangSum / nRecv else 0L
        next(j) = (if (isSeed(j)) teleport else 0L) +
          dampingPct * (contrib(j) + dang) / 100L
        j += 1
      }
      next
    }
  }

  private[ops] def localIterate(edges: Array[(Long, Long)], seedSet: Option[Set[Long]],
                           iterations: Int, dampingPct: Int): Seq[(Long, Long)] = {
    val ctx = new LocalCtx(edges, seedSet, dampingPct)
    var rank = ctx.r0
    (1 to iterations).foreach(_ => rank = ctx.step(rank))
    ctx.nodeIds.indices.map(j => (ctx.nodeIds(j), rank(j)))
  }

  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
                      iterations: Int, dampingPct: Int,
                      seedsRaw: Option[DataFrame]): Managed = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    collectSmallEdges(e0, LocalEdgesMax).foreach { eArr =>
      // measured-small graph: run the identical recurrence in-JVM — see
      // [[LocalEdgesMax]]. The seed pull is gated like the edge pull
      // (advice, round 14): a seed frame larger than LocalEdgesMax RAW
      // rows would OOM the driver on the fast path where the distributed
      // loop handles it, so it falls through instead (conservative — the
      // Set dedups whatever qualifies, so duplicate seed rows agree with
      // the distributed regime's distinct by construction,
      // GraphLocalPathSpec 4-way). Null seeds never match the
      // distributed join, so dropping them here is exact; a
      // LocalRelation result needs no pins at all.
      val seedSet: Option[Option[Set[Long]]] = seedsRaw match {
        case None => Some(None)
        case Some(s) =>
          val bound = LocalEdgesMax.toInt
          val rows = s.limit(bound + 1).collect()
          if (rows.length > bound) None
          else Some(Some(rows
            .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet))
      }
      seedSet.foreach { ss =>
        val spark = edges.sparkSession
        val out = spark.createDataFrame(
          localIterate(eArr, ss, iterations, dampingPct))
          .toDF("node", "rank_scaled")
        return new Managed(out, Nil, Nil)
      }
    }
    // seed dedup for the DISTRIBUTED regime (advice, round 14): a
    // duplicate seed row would duplicate node rows through prepare()'s
    // left join — inflating nNodes/nRecv and double-counting
    // contributions. The local twin's Set dedups naturally, so the
    // distinct lives on this branch only (no extra shuffle on the fast
    // path); GraphLocalPathSpec locks 4-way agreement on dup seeds.
    val ctx = prepare(edges, srcCol, dstCol, dampingPct,
      seedsRaw.map(_.distinct()))
    val cpRdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    // dangling-aware lineage-truncation cadence — see [[checkpointCadence]]:
    // geometric nest (two rank references per round) cuts every 3, linear
    // nest (no dangling stage) every 8; each skipped cut saves an eager
    // |V|-row materialize+store pass
    val cadence = checkpointCadence(ctx.hasDangling)
    var ranks = ctx.r0
    var prev: Option[DataFrame] = None
    (1 to iterations).foreach { i =>
      val stepped = step(ctx, ranks)
      val next =
        if (i % cadence == 0 && i < iterations) {
          val cp = stepped.localCheckpoint(true)
          cpRdds ++= Managed.directCheckpointRdds(cp)
          stepped.unpersist(false)
          cp
        } else stepped
      // contrib's shuffle materializes `next` lazily on first action; the
      // grandparent pin can go now, the parent after `next` computes
      prev.foreach(_.unpersist(false))
      prev = Some(ranks)
      ranks = next
    }
    val out = ranks.select(col("node"), col("rank").as("rank_scaled"))
    prev.foreach(_.unpersist(false))
    // the final ranks frame stays pinned (out reads it lazily): it joins
    // the prepare() pins in the release handle
    new Managed(out, ctx.pins :+ ranks, cpRdds.toSeq)
  }
}
