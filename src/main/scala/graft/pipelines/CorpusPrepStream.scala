package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Chunker, Curation, Decontaminate, Profiler, TextDedup, TextStats}
import graft.streaming.{DriftGate, DriftStream, LshStream}

/** [[CorpusPrep]] over an UNBOUNDED document stream — the curation recipe
  * (dedup → quality → decontaminate → budget → chunk) applied per arriving
  * micro-batch, with the two pieces of cross-batch state a continuous
  * pipeline needs:
  *
  *   - the seen-content-hash table (exact dedup must drop a doc whose
  *     duplicate arrived in ANY earlier batch, not just this one), and
  *   - per-source consumed token counts (the mixture budget is a property
  *     of the whole run, not of one batch).
  *
  * Stage order matches the batch composition deliberately: budget tokens
  * are only spent on documents that survive dedup + quality +
  * decontamination, so an exhausted-looking source whose arrivals are all
  * duplicates spends nothing.
  *
  * Budget semantics are [[graft.streaming.BudgetStream]]'s, re-expressed in
  * the foreachBatch world: within a batch the order is `doc_id` asc
  * (deterministic), across batches it is arrival order, and a document is
  * admitted iff its source's consumed count BEFORE it is under budget (the
  * crossing doc is included; each source overshoots by at most one doc).
  * BudgetStream itself (flatMapGroupsWithState) can't run inside
  * foreachBatch — state operators need the streaming query graph — so the
  * fold here keeps the consumed map on the driver: one (source → tokens)
  * entry per source, updated from a groups-sized aggregate per batch.
  * CorpusPrepStreamSpec asserts admission parity against a live
  * BudgetStream query over the same batches.
  *
  * Near-dup defense reuses the served LSH index ([[LshStream.serve]] /
  * [[CorpusStore.servedIndex]]): arriving docs are tagged against the
  * stored corpus statelessly and dropped on any verified match. Stream ↔
  * stream near-dup (and group labeling) stays [[CorpusPipeline.streamIngest]]'s
  * job — this pipeline is the selection tier, that one is the corpus
  * bookkeeping tier; a deployment runs prep first and feeds survivors to
  * ingest, which is exactly what [[prepareBatch]]'s output supports.
  *
  * Scale posture, per batch of size B against a corpus of size C:
  *   - exact-dedup probe: the seen-hash table is only SCANNED — the batch's
  *     hashes are broadcast into it (inner join, batch side broadcast) and
  *     the colliding sliver comes back to anti-join the batch. C is never
  *     shuffled; cost is one corpus scan with a hash probe, the same shape
  *     [[LshStream.nearDupTagStream]] uses for the LSH index. (A naive
  *     `batch.join(seen, anti)` would hash-partition BOTH sides — at 100 TB
  *     that is a corpus shuffle per micro-batch.)
  *   - LSH tag: stream-side broadcast against the persisted exploded index
  *     (see LshStream's scale notes); the drop set is batch-bounded.
  *   - decontamination: benchmark broadcast (or the Bloom path via
  *     `bloomBenchmark` when the benchmark outgrows broadcast).
  *   - budget: one window over the batch partitioned by source + one
  *     groups-sized collect to update the driver map.
  *   - state growth: the hash table appends B rows per batch (localCheckpoint
  *     when streaming — same contract as [[CorpusPipeline.ingest]]); a real
  *     deployment appends to a parquet store instead and re-reads lazily.
  */
object CorpusPrepStream {

  /** Cross-batch state: every admitted-or-seen content hash (with the doc
    * that claimed it), and tokens consumed per source.
    */
  final case class PrepState(seenHashes: DataFrame, consumed: Map[String, Long])

  def emptyState(spark: SparkSession, idCol: String): PrepState =
    PrepState(
      seenHashes = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("__content_hash", StringType),
          StructField(idCol, LongType)))),
      consumed = Map.empty)

  /** `nearDupThreshold` applies to the served-index tag; LSH geometry
    * (bands × rowsPerBand) must match the index's signature width.
    *
    * Drift gate (opt-in, round-16 verdict item 8): when `driftReference`
    * is set (a blessed [[Profiler.profile]] snapshot), each arriving
    * micro-batch is profiled over `driftCols` (default: every column in
    * the reference) and checked with [[DriftStream.drift]]'s escape rules
    * BEFORE any pipeline stage runs; `driftQuantileReference` (a blessed
    * [[Profiler.quantiles]] snapshot over `driftQuantileCols`) adds the
    * [[DriftStream.quantileDrift]] band rule — a distribution that
    * SHIFTED inside fixed bounds, which the profile rules can't see; and
    * `driftCategoryReference` (a blessed [[Profiler.categories]] snapshot
    * over `driftCategoryCols`) adds the [[DriftStream.categoryDrift]]
    * total-variation rule — a source silently flipping its value MIX
    * (lang/source shares) inside fixed bounds, which neither of the other
    * two sees. A batch flagged by ANY rule is a poisoned intake window: its rows and
    * per-rule reports land under `quarantineDir` (exactly-once,
    * batch_id-partitioned — the [[graft.streaming.DriftSink]] posture)
    * and the pipeline state is untouched — no hash-table append, no
    * budget spend, so a healthy re-delivery of the same content later is
    * processed as if the poisoned window never happened.
    */
  final case class Config(
      shingleN: Int = 3,
      bloomBenchmark: Boolean = false,
      budgetByGroup: Map[String, Long] = Map.empty,
      defaultBudget: Long = Long.MaxValue,
      chunkWidth: Int = 32,
      chunkStride: Int = 24,
      lshShingleN: Int = 3,
      lshBands: Int = 16,
      lshRowsPerBand: Int = 4,
      // multi-probe the served-index tag ([[LshStream.nearDupTagStreamMultiProbe]]):
      // per band, the exact bucket + one single-slot substitution per band
      // slot — recovers the single-slot banding misses that dominate at
      // low pair Jaccard (fixture recall 0.86→1.00 / 0.66→0.86 at the
      // J≈0.57/0.49 bands), for ~1.5× of this ONE stage's cost
      // (SCALE.md "Round 19: multi-probe streaming LSH tag"; the tag is a
      // minority of the
      // pipeline). Off by default: the drop SET can only grow, and a
      // curation deployment should opt into stricter dropping explicitly.
      lshMultiProbe: Boolean = false,
      nearDupThreshold: Double = 0.6,
      driftReference: Option[DataFrame] = None,
      driftCols: Seq[String] = Nil,
      driftNullFracTol: Double = 0.01,
      driftDistinctTol: Double = 1.05,
      driftQuantileReference: Option[DataFrame] = None,
      driftQuantileCols: Seq[String] = Nil,
      driftBandTol: Double = 0.25,
      driftCategoryReference: Option[DataFrame] = None,
      driftCategoryCols: Seq[String] = Nil,
      driftTvTol: Double = 0.1,
      quarantineDir: Option[String] = None)

  /** Drift check of one micro-batch against a blessed profile: the
    * [[DriftStream.drift]] rules (missing column / null-fraction move /
    * extrema escape / distinct growth) applied to a single whole-batch
    * "window" (window bounds are null — a micro-batch has no event-time
    * extent). Returns the full per-column comparison with the `drift`
    * flag; one aggregation pass over the batch.
    */
  def batchDrift(batch: DataFrame, reference: DataFrame,
                 cols: Seq[String] = Nil, nullFracTol: Double = 0.01,
                 distinctTol: Double = 1.05): DataFrame = {
    val wanted =
      if (cols.nonEmpty) cols
      else reference.select("column").collect().map(_.getString(0)).toSeq
    val (monitored, absent) = wanted.partition(batch.columns.contains)
    require(monitored.nonEmpty || absent.nonEmpty,
      "batchDrift: nothing to monitor (empty reference and cols)")
    def present: DataFrame = {
      val prof = Profiler.profile(batch.select(monitored.map(col): _*))
      val windowed = prof.select(
        lit(null).cast("timestamp").as("window_start"),
        lit(null).cast("timestamp").as("window_end"),
        col("column"), col("n_rows"), col("n_nulls"), col("min"), col("max"),
        col("n_distinct"))
      DriftStream.drift(windowed, reference, nullFracTol, distinctTol)
    }
    if (absent.isEmpty) present
    else {
      // a monitored column the batch doesn't even carry IS drift (the
      // schema changed upstream) — drift()'s left join can't see it
      import batch.sparkSession.implicits._
      val missingRows = absent.toDF("column").select(
        lit(null).cast("timestamp").as("window_start"),
        lit(null).cast("timestamp").as("window_end"), col("column"),
        lit(0L).as("n_rows"), lit(null).cast("double").as("null_frac"),
        lit(null).cast("double").as("ref_null_frac"),
        lit(null).cast("string").as("min"), lit(null).cast("string").as("max"),
        lit(null).cast("string").as("ref_min"),
        lit(null).cast("string").as("ref_max"),
        lit(null).cast("long").as("n_distinct"),
        lit(null).cast("long").as("ref_distinct"), lit(true).as("drift"))
      if (monitored.isEmpty) missingRows else present.unionByName(missingRows)
    }
  }

  /** Quantile drift check of one micro-batch against a blessed
    * [[Profiler.quantiles]] snapshot ([[DriftStream.quantileDrift]]'s
    * band rule on a single whole-batch window): catches a distribution
    * that SHIFTED inside fixed bounds, which the profile rules
    * (nulls/extrema/distincts) cannot see. Columns missing from the
    * batch flag, like [[batchDrift]].
    */
  /** `nRows`: pass the batch's row count when the caller already knows it
    * (the [[streamPrepare]] gate counts the checkpointed batch once for
    * all rules); −1 counts here — one extra action per call.
    */
  def batchQuantileDrift(batch: DataFrame, reference: DataFrame,
                         cols: Seq[String], bandTol: Double = 0.25,
                         nRows: Long = -1L): DataFrame = {
    require(cols.nonEmpty, "batchQuantileDrift: name the numeric columns")
    val (monitored, absent) = cols.partition(batch.columns.contains)
    def present: DataFrame = {
      val n = if (nRows >= 0) nRows else batch.count()
      val qs = Profiler.quantiles(batch, monitored)
      val windowed = qs.select(
        lit(null).cast("timestamp").as("window_start"),
        lit(null).cast("timestamp").as("window_end"),
        col("column"), lit(n).as("n_rows"),
        col("p25"), col("p50"), col("p75"))
      DriftStream.quantileDrift(windowed, reference, bandTol)
    }
    if (absent.isEmpty) present
    else {
      import batch.sparkSession.implicits._
      val missingRows = absent.toDF("column").select(
        lit(null).cast("timestamp").as("window_start"),
        lit(null).cast("timestamp").as("window_end"), col("column"),
        lit(0L).as("n_rows"), lit(null).cast("double").as("window_mid"),
        lit(null).cast("double").as("ref_lo"),
        lit(null).cast("double").as("ref_mid"),
        lit(null).cast("double").as("ref_hi"), lit(true).as("drift"))
      if (monitored.isEmpty) missingRows else present.unionByName(missingRows)
    }
  }

  /** Categorical-mix drift check of one micro-batch against a blessed
    * [[Profiler.categories]] snapshot ([[DriftStream.categoryDrift]]'s
    * total-variation rule on a single whole-batch window): catches a
    * source silently FLIPPING its `lang`/`source` mix inside fixed
    * bounds, which neither the profile escape rules nor the quantile band
    * can see (no extremum moves, no null count moves, cardinality
    * unchanged). `cols` defaults to every column in the reference, like
    * [[batchDrift]]. Columns missing from the batch flag; so does a
    * monitored column whose batch values are ALL null (zero category
    * rows would otherwise silently produce no verdict at all — an
    * unadjudicable column is a drifted column).
    */
  def batchCategoryDrift(batch: DataFrame, reference: DataFrame,
                         cols: Seq[String] = Nil,
                         tvTol: Double = 0.1): DataFrame = {
    val wanted =
      if (cols.nonEmpty) cols
      else reference.select("column").distinct()
        .collect().map(_.getString(0)).toSeq
    require(wanted.nonEmpty, "batchCategoryDrift: nothing to monitor")
    val (monitored, absent) = wanted.partition(batch.columns.contains)
    import batch.sparkSession.implicits._
    def flagRows(names: Seq[String]): DataFrame =
      names.toDF("column").select(
        lit(null).cast("timestamp").as("window_start"),
        lit(null).cast("timestamp").as("window_end"), col("column"),
        lit(0L).as("n_rows"), lit(0L).as("n_values"),
        lit(null).cast("double").as("tv"), lit(true).as("drift"))
    if (monitored.isEmpty) flagRows(absent)
    else {
      val cats = Profiler.categories(
          batch.select(monitored.map(col): _*), monitored)
        .select(lit(null).cast("timestamp").as("window_start"),
          lit(null).cast("timestamp").as("window_end"),
          col("column"), col("value"), col("n"))
      val verdicts = DriftStream.categoryDrift(cats, reference, tvTol)
      // all-null monitored columns emit no category rows → no verdict row;
      // a LAZY left-join guard surfaces them as flagged without spending a
      // per-batch collect (the r18 fused-gate measurement: every extra
      // driver action costs ~300 ms of scheduling on a healthy batch)
      val present = monitored.toDF("column").join(verdicts, Seq("column"), "left")
        .select(col("window_start"), col("window_end"), col("column"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_values"), lit(0L)).as("n_values"),
          col("tv"), coalesce(col("drift"), lit(true)).as("drift"))
      if (absent.isEmpty) present
      else present.unionByName(flagRows(absent))
    }
  }

  /** One batch's outputs: the next state, the admitted docs (post-budget,
    * pre-chunk — the frame to hand to [[CorpusPipeline.ingest]] or a store
    * append), the chunks, and the per-stage audit row set.
    */
  /** `transients`: internal checkpointed stage frontiers, carried out so
    * the streaming driver can release their blocks after the batch's
    * hooks return (same lifecycle as [[CorpusPipeline.BatchResult]]).
    */
  final case class BatchPrepared(state: PrepState, admitted: DataFrame,
                                 chunks: DataFrame, audit: DataFrame,
                                 transients: Seq[DataFrame] = Nil)

  /** Run the full recipe on one (micro-)batch. `checkpointState = true`
    * materializes the next state and the returned frames — REQUIRED from
    * foreachBatch, where the batch's source dies with the call — and also
    * checkpoints the expensive stage frontiers (novel, clean) so the audit
    * counts and downstream stages read each frontier once instead of
    * re-running the dedup probe and the decontamination explode-join per
    * consumer (measured ~4× recompute per micro-batch before this, SCALE.md
    * "Streaming corpus-prep tier").
    *
    * `preparedBenchShingles`: pass [[graft.ops.Decontaminate.prepareBenchmark]]
    * output (persisted) when calling repeatedly — the benchmark is static,
    * so re-exploding it every batch is pure waste; [[streamPrepare]] does
    * this automatically. Ignored on the Bloom path (the sketch build is
    * the Bloom path's benchmark pass).
    */
  def prepareBatch(state: PrepState, batch: DataFrame, idCol: String,
                   textCol: String, groupCol: String, benchmark: DataFrame,
                   benchTextCol: String, index: Option[LshStream.ServedIndex],
                   cfg: Config = Config(),
                   checkpointState: Boolean = false,
                   preparedBenchShingles: Option[DataFrame] = None): BatchPrepared = {
    val spark = batch.sparkSession
    import spark.implicits._
    def frontier(df: DataFrame): DataFrame =
      if (checkpointState) df.localCheckpoint() else df

    // 1. exact dedup: keep-first inside the batch, then drop every doc
    //    whose hash any earlier batch claimed. Probe shape per the scaladoc:
    //    broadcast the batch's hashes INTO the big seen table, anti-join
    //    the sliver back — the seen side is scanned, never shuffled.
    val hashed = TextDedup.exactDedupAsc(batch, textCol,
      tieBreakAsc = Seq(idCol))
    val collidingHashes = state.seenHashes
      .join(broadcast(hashed.select(col("__content_hash"))), "__content_hash")
      .select(col("__content_hash"))
    val novel = frontier(hashed.join(broadcast(collidingHashes),
      Seq("__content_hash"), "left_anti"))

    // 2. quality filter (one-pass native verdict)
    val kept = TextStats.qualityFilter(novel, textCol)
      .filter(col("keep")).drop("keep", "fail_reason")

    // 3. benchmark decontamination (broadcast or Bloom path)
    val tagFn =
      if (cfg.bloomBenchmark) Decontaminate.tagBloom(_: DataFrame, idCol,
        textCol, benchmark, benchTextCol, cfg.shingleN)
      else preparedBenchShingles match {
        case Some(b) => Decontaminate.tagPrepared(_: DataFrame, idCol,
          textCol, b, cfg.shingleN)
        case None => Decontaminate.tag(_: DataFrame, idCol, textCol,
          benchmark, benchTextCol, cfg.shingleN)
      }
    val clean = frontier(tagFn(kept).filter(!col("contaminated"))
      .drop("n_contaminated", "contaminated"))

    // 4. near-dup vs the stored corpus (served LSH index, stateless tag;
    //    multi-probe opt-in — see Config.lshMultiProbe)
    val fresh = index match {
      case Some(ix) =>
        val tagFrame =
          if (cfg.lshMultiProbe) LshStream.nearDupTagStreamMultiProbe(
            clean.select(col(idCol), col(textCol)), ix, idCol, textCol,
            cfg.lshShingleN, cfg.lshBands, cfg.lshRowsPerBand,
            cfg.nearDupThreshold)
          else LshStream.nearDupTagStream(
            clean.select(col(idCol), col(textCol)), ix, idCol, textCol,
            cfg.lshShingleN, cfg.lshBands, cfg.lshRowsPerBand,
            cfg.nearDupThreshold)
        val dupIds = tagFrame.select(col("stream_id").as(idCol)).distinct()
        frontier(clean.join(broadcast(dupIds), Seq(idCol), "left_anti"))
      case None => clean
    }

    // 5. token budget: remaining-per-source budgets reproduce the global
    //    boundary rule (consumed-before < budget) batch-locally.
    val remaining = (cfg.budgetByGroup.keySet ++ state.consumed.keySet).map { g =>
      val b = cfg.budgetByGroup.getOrElse(g, cfg.defaultBudget)
      g -> math.max(0L, b - state.consumed.getOrElse(g, 0L))
    }.toMap
    val admitted0 = Curation.tokenBudgetPerGroup(
        fresh.withColumn("__n_tokens", size(TextDedup.tokens(col(textCol)))),
        groupCol = groupCol, tokenCol = "__n_tokens",
        orderBy = Seq(col(idCol).asc),
        budgetByGroup = remaining, defaultBudget = cfg.defaultBudget)
      .drop("cum_tokens")
    val admitted1 =
      if (checkpointState) admitted0.localCheckpoint() else admitted0
    val spentRows = admitted1.groupBy(groupCol)
      .agg(sum("__n_tokens").as("__spent"))
      .as[(String, Long)].collect()
    val consumed = spentRows.foldLeft(state.consumed) { case (m, (g, t)) =>
      m.updated(g, m.getOrElse(g, 0L) + t)
    }
    val admitted = admitted1.drop("__n_tokens")

    // 6. chunk the survivors
    val chunks0 = Chunker.chunk(admitted, idCol, textCol,
      cfg.chunkWidth, cfg.chunkStride)

    // hash-table append: every NOVEL hash is now seen, whether or not its
    // doc survived the later stages — a re-arrival of a rejected doc's text
    // must not re-run the pipeline for it.
    val nextSeen0 = state.seenHashes.unionByName(
      novel.select(col("__content_hash"), col(idCol)))

    val audit0 = Seq(
      ("input", batch.count()),
      ("novel", novel.count()),
      ("quality_kept", kept.count()),
      ("decontaminated", clean.count()),
      ("near_dup_free", fresh.count()),
      ("admitted", admitted1.count()),
      ("chunks", chunks0.count())).toDF("stage", "n_rows")

    val (nextSeen, chunks, audit) =
      if (checkpointState)
        (nextSeen0.localCheckpoint(), chunks0.localCheckpoint(),
          audit0.localCheckpoint())
      else (nextSeen0, chunks0, audit0)
    // novel/clean/fresh/admitted1 are checkpoint-backed only when
    // checkpointState; Managed.checkpointRdds is a no-op otherwise, so
    // listing them unconditionally is safe
    BatchPrepared(PrepState(nextSeen, consumed), admitted, chunks, audit,
      transients = Seq(novel, clean, fresh, admitted1))
  }

  /** Live handle of [[streamPrepare]]: current state plus the running
    * query. [[close]] stops the query and releases the persisted benchmark
    * shingle set.
    */
  final class StreamingPrep(initial: PrepState) {
    @volatile var state: PrepState = initial
    @volatile private[CorpusPrepStream] var queryRef:
      org.apache.spark.sql.streaming.StreamingQuery = _
    @volatile private[CorpusPrepStream] var benchRef: Option[DataFrame] = None
    def query: org.apache.spark.sql.streaming.StreamingQuery = queryRef
    def close(): Unit = {
      queryRef.stop()
      benchRef.foreach(_.unpersist())
    }
  }

  /** Run the recipe over an unbounded stream: each micro-batch is one
    * [[prepareBatch]] call (foreachBatch executes serially → single-writer
    * state fold, same contract as [[CorpusPipeline.streamIngest]]).
    * `onBatch` receives each batch's materialized result — route chunks and
    * audit rows to sinks there. The benchmark shingle set is prepared and
    * persisted ONCE for the query's lifetime (broadcast path; the Bloom
    * path rebuilds its sketch per batch by construction) — stop via
    * [[StreamingPrep.close]] to release it.
    */
  def streamPrepare(stream: DataFrame, idCol: String, textCol: String,
                    groupCol: String, benchmark: DataFrame,
                    benchTextCol: String,
                    index: Option[LshStream.ServedIndex] = None,
                    cfg: Config = Config(),
                    onBatch: (Long, BatchPrepared) => Unit = (_, _) => (),
                    onQuarantine: (Long, DataFrame) => Unit = (_, _) => ()): StreamingPrep = {
    val handle = new StreamingPrep(
      emptyState(stream.sparkSession, idCol))
    val benchSh =
      if (cfg.bloomBenchmark) None
      else Some(Decontaminate.prepareBenchmark(benchmark, benchTextCol,
        cfg.shingleN).persist())
    handle.benchRef = benchSh
    // gather the blessed references driver-side ONCE (column defaults
    // resolved, extrema pre-cast): the r18 measurement showed the gate's
    // cost is driver-action count, not data volume — the fused gate
    // (round-18 verdict item 1) runs ONE aggregation job per batch
    val gateRefs = DriftGate.collect(
      cfg.driftReference, cfg.driftCols,
      cfg.driftNullFracTol, cfg.driftDistinctTol,
      cfg.driftQuantileReference, cfg.driftQuantileCols, cfg.driftBandTol,
      cfg.driftCategoryReference, cfg.driftCategoryCols, cfg.driftTvTol)
    handle.queryRef = stream.writeStream
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // with the drift gate on, the batch is read by the gate pass and —
        // healthy — by the pipeline stages; checkpoint it ONCE so every
        // batch pays one source read, not one per action
        val gated = gateRefs.enabled
        val batch = if (gated) batch0.localCheckpoint() else batch0
        // drift gate (opt-in, see Config doc): profile rules + the
        // quantile band rule (r17) + the categorical TV rule (r18); ANY
        // flagged rule quarantines the batch WHOLE and never touches
        // pipeline state. Fused single pass (r19): one aggregation
        // computes all three rules' inputs and the verdicts are driver
        // arithmetic ([[graft.streaming.DriftGate]]); the full per-rule
        // reports are only built on the rare poisoned path, where the
        // once-checkpointed batch makes their recompute cheap.
        val poisoned = gated && {
          val gate = DriftGate.check(batch, gateRefs)
          if (gate.poisoned) {
            val reports: Seq[(String, DataFrame)] = (
              cfg.driftReference.map(ref => "profile" ->
                batchDrift(batch, ref,
                  gateRefs.profile.map(_.cols).getOrElse(Nil),
                  cfg.driftNullFracTol, cfg.driftDistinctTol)).toSeq ++
              cfg.driftQuantileReference.map(ref => "quantile" ->
                batchQuantileDrift(batch, ref, cfg.driftQuantileCols,
                  cfg.driftBandTol, gate.nRows)).toSeq ++
              cfg.driftCategoryReference.map(ref => "category" ->
                batchCategoryDrift(batch, ref,
                  gateRefs.category.map(_.cols).getOrElse(Nil),
                  cfg.driftTvTol))
            ).map { case (rule, df) => rule -> df.localCheckpoint() }
            cfg.quarantineDir.foreach { dir =>
              // DriftSink's exactly-once recipe: each batch overwrites its
              // own batch_id partition, so a replayed delivery never
              // duplicates quarantined rows
              def dump(df: DataFrame, sub: String): Unit =
                df.withColumn("batch_id", lit(batchId))
                  .write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("batch_id").parquet(s"$dir/$sub")
              dump(batch, "rows")
              reports.foreach { case (rule, df) => dump(df, s"report_$rule") }
            }
            import batch.sparkSession.implicits._
            onQuarantine(batchId, gate.flagged
              .map(v => (v.column, v.rule, v.drift))
              .toDF("column", "rule", "drift"))
            releaseCp(reports.map(_._2): _*)
          }
          gate.poisoned
        }
        if (!poisoned) {
          val prev = handle.state
          val r = prepareBatch(handle.state, batch, idCol, textCol, groupCol,
            benchmark, benchTextCol, index, cfg, checkpointState = true,
            preparedBenchShingles = benchSh)
          handle.state = r.state
          onBatch(batchId, r)
          // release the superseded hash-table generation and this batch's
          // checkpoint blocks (the new state is checkpointed; the hook has
          // materialized what it keeps — same contract as streamIngest)
          releaseCp(prev.seenHashes)
          releaseCp(r.transients: _*)
          releaseCp(r.chunks, r.audit)
        }
        // the gate's one-read checkpoint of the batch itself: everything
        // downstream (reports, quarantine dump, prepareBatch state) has
        // materialized by now
        if (gated) releaseCp(batch)
      }
      .start()
    handle
  }

  /** Drop the localCheckpoint blocks behind `dfs` (no-op for frames that
    * aren't checkpoint-backed). The frames must not be executed again.
    */
  private def releaseCp(dfs: DataFrame*): Unit =
    dfs.foreach(df =>
      graft.ops.Managed.checkpointRdds(df).foreach(_.unpersist(false)))
}
