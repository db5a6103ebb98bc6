package graft.pipelines

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Blocking, TextDedup}
import graft.streaming.{LshStream, VecStream}

/** Durable parquet layout of a [[CorpusPipeline.CorpusState]] — the ONE
  * store both deployment tiers share:
  *
  *   - the INGEST tier ([[CorpusPipeline.ingest]] / `streamIngest`) folds
  *     arriving batches into the state and persists it here after each
  *     batch;
  *   - the LATENCY tier ([[LshStream.nearDupTagStream]] /
  *     [[VecStream.nearDupTagStream]]) builds its serving index from the
  *     SAME `prepared` table, so a document ingested by tier 1 is taggable
  *     by tier 2 as soon as the tier refreshes its index
  *     ([[refreshServedIndex]]) — no second signing pass, no divergent
  *     signature families (both tiers read the signatures computed once at
  *     ingest).
  *
  * UnifiedTiersSpec proves the loop end-to-end: MemoryStream →
  * `streamIngest` (writing here per batch) → `servedIndex` → tagger sees
  * the just-ingested doc.
  *
  * Layout: GENERATIONAL parquet directories `<dir>/<table>-<n>` for every
  * table (`prepared`, `pairs`, `buckets`, `labels`, `vecindex`), with the
  * exact [[CorpusPipeline.CorpusState]] columns. Every SNAPSHOT commit
  * (a [[write]], a [[compact]], each [[appendBatch]]'s labels flip) is
  * copy-on-write: it lands in a fresh `<table>-<n+1>` and readers resolve
  * the highest generation whose `_SUCCESS` marker exists (Spark's output
  * committer creates it only after every part file is in place). So
  *
  *   - a writer killed MID-COMMIT leaves a marker-less torn directory
  *     that [[read]] skips — the previous generation keeps serving, and
  *     the next successful commit garbage-collects the wreck;
  *   - [[compact]] never deletes the only copy: the new generation is
  *     written while the old one stays intact and readable (no
  *     materialization needed — the rewrite streams straight from the old
  *     generation's files), and GC happens only after the new `_SUCCESS`
  *     exists;
  *   - [[appendBatch]] appends INTO the current generation of the three
  *     append-only tables (O(batch) files; a crash loses at most the
  *     in-flight batch's files, never existing data — the one window a
  *     file-listing layout cannot close without a log-structured table
  *     format, which this API deliberately mirrors in shape otherwise);
  *   - pre-round-9 flat stores (`<dir>/<table>`) still read, and migrate
  *     to generations on their next snapshot commit.
  *
  * Every mutator also drops the session's plan-keyed preflight memos
  * ([[Blocking.clearAutoCapMemo]] and the PPJoin collapse memo): a memo
  * entry resolved against the pre-mutation store would otherwise serve a
  * one-batch-stale cap to the next query over the same path (plan-shape
  * staleness only — results stay correct — but the guard's whole point is
  * reacting to what just got appended, e.g. a boilerplate pile).
  */
object CorpusStore {

  /** Persist every state table under `dir` as a fresh committed generation
    * (the old generations stay readable until the new markers exist).
    * Tables are materialized by the write itself, so the returned state
    * can be [[read]] back even if `state` held lazy micro-batch lineage —
    * and a state whose lineage reads THIS store's current generations is
    * safe too: copy-on-write never overwrites what it is reading.
    */
  def write(state: CorpusPipeline.CorpusState, dir: String): Unit = {
    // stage every table's new generation BEFORE any GC: a later table's
    // lineage may lazily scan an earlier table's current generation (in
    // the steady state `pairs` derives from `prepared` joins inside the
    // same ingest), so deleting per-table would yank files out from under
    // a sibling's write
    val gcs = Seq(
      stageTable(state.prepared, dir, "prepared"),
      stageTable(state.pairs, dir, "pairs"),
      stageTable(state.buckets, dir, "buckets"),
      stageTable(state.labels, dir, "labels"))
    gcs.foreach(_.apply())
    clearPlanMemos()
  }

  /** APPEND-ONLY batch commit — the deployment write path: each batch
    * lands as its own parquet files inside the CURRENT generation of
    * `prepared`/`buckets`/`pairs` (O(|batch|) write volume; the heavy
    * tables are exactly the append-only ones), while the labels SNAPSHOT
    * — a (doc, group) pair per corpus doc, the smallest table and the
    * only one that mutates on group merges — flips to a new committed
    * generation (crash-safe: see object doc). Pairs appended across
    * batches are duplicate-free by the
    * [[graft.ops.TextDedup.minhashIncrement]] contract (a pair is
    * reported exactly when its newer member arrives). Crash between the
    * appends and the labels commit loses only the labels delta, which
    * [[graft.ops.DedupGroups.resolveFromPairs]] rebuilds from the
    * appended pairs. Run [[compact]] periodically to bound file counts
    * and GC folded pairs.
    */
  def appendBatch(r: CorpusPipeline.BatchResult, dir: String): Unit = {
    val spark = r.state.labels.sparkSession
    r.deltaPrepared.write.mode("append").parquet(tablePath(spark, dir, "prepared"))
    r.deltaBuckets.write.mode("append").parquet(tablePath(spark, dir, "buckets"))
    r.newPairs.write.mode("append").parquet(tablePath(spark, dir, "pairs"))
    // materialize before the generation flip: when the ingest ran off a
    // store-READ state (the steady-state shape), the new labels' lineage
    // lazily scans the generation being superseded
    commitTable(r.state.labels.localCheckpoint(), dir, "labels")
    clearPlanMemos()
  }

  /** Periodic store maintenance after a run of [[appendBatch]] commits:
    * coalesce the per-batch file fragments of `prepared`/`buckets` down to
    * `targetFiles`, and GC the accumulated pair history to the SPANNING
    * STAR FOREST the labeling already encodes — one (group root, member)
    * edge per non-root doc. Components — the thing any rebuild
    * ([[graft.ops.DedupGroups.resolveFromPairs]]) consumes — are exactly
    * preserved (StoreAppendSpec asserts rebuild-equality), while pairs
    * shrink from the O(edges) history to O(grouped docs). Each rewrite
    * streams from the current generation into the next (no checkpoint,
    * no window where the only copy is gone) and GCs the old one only
    * after the new `_SUCCESS` exists, so a kill at ANY point leaves a
    * readable store.
    */
  def compact(spark: SparkSession, dir: String, idCol: String,
              targetFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val s = read(spark, dir)
    val starPairs = s.labels.filter(col(idCol) =!= col("group_id"))
      .select(least(col("group_id"), col(idCol)).as("id_a"),
        greatest(col("group_id"), col(idCol)).as("id_b"))
    val gcs = Seq(
      stageTable(s.prepared.coalesce(targetFiles), dir, "prepared"),
      stageTable(s.buckets.coalesce(targetFiles), dir, "buckets"),
      stageTable(starPairs.coalesce(targetFiles), dir, "pairs"))
    gcs.foreach(_.apply())
    clearPlanMemos()
  }

  /** Re-open a stored state (lazy scans; hand to [[CorpusPipeline.ingest]]
    * as the corpus for the next batch). Every table resolves to its newest
    * COMMITTED generation — a torn directory from a crashed writer is
    * never scanned.
    */
  def read(spark: SparkSession, dir: String): CorpusPipeline.CorpusState =
    CorpusPipeline.CorpusState(
      prepared = spark.read.parquet(tablePath(spark, dir, "prepared")),
      pairs = spark.read.parquet(tablePath(spark, dir, "pairs")),
      labels = spark.read.parquet(tablePath(spark, dir, "labels")),
      buckets = spark.read.parquet(tablePath(spark, dir, "buckets")))

  /** The latency tier's view: a [[LshStream.ServedIndex]] over the stored
    * `prepared` table, persisted and materialized (prefer
    * [[refreshServedIndex]] for the steady-state swap; call `.unpersist()`
    * when retiring one by hand). `bands × rowsPerBand` must equal the
    * store's signature width (the ingest tier's `numHashes`). `collapse =
    * true` serves the pile-safe rep-collapsed form
    * ([[LshStream.serveCollapsed]]).
    */
  def servedIndex(spark: SparkSession, dir: String, idCol: String,
                  bands: Int = 16, rowsPerBand: Int = 4,
                  collapse: Boolean = false): LshStream.ServedIndex = {
    val idx = LshStream.corpusIndex(
      spark.read.parquet(tablePath(spark, dir, "prepared")),
      idCol, bands, rowsPerBand)
    (if (collapse) LshStream.serveCollapsed(idx, idCol)
     else LshStream.serve(idx, idCol)).persist()
  }

  /** Steady-state index swap for the latency tier — one call per store
    * commit (or per refresh interval): release `previous`, then build and
    * MATERIALIZE the index over the store's current state. Ordering
    * matters and is the point of the helper: Spark's CacheManager keys
    * cache entries by canonicalized PLAN, and two reads of the same store
    * path canonicalize equal (file listings are not part of relation
    * equality) — so persisting the new index while the old one is still
    * cached silently ALIASES the old snapshot's cache ("Asked to cache
    * already cached data", and the refresh becomes a no-op serving stale
    * data), after which unpersisting the old handle would evict the new
    * index's cache out from under the tagger. Releasing first costs a
    * brief cold window (the swap call itself re-materializes before
    * returning), which is the correct trade against serving a stale
    * snapshot forever. StoreDurabilitySpec drives ingest → refresh → tag
    * on the round trip.
    */
  def refreshServedIndex(spark: SparkSession, dir: String, idCol: String,
                         previous: Option[LshStream.ServedIndex],
                         bands: Int = 16, rowsPerBand: Int = 4,
                         collapse: Boolean = false): LshStream.ServedIndex = {
    previous.foreach(_.unpersist())
    servedIndex(spark, dir, idCol, bands, rowsPerBand, collapse)
  }

  /** Embedding-tier counterpart: persist a [[VecStream.corpusIndex]]
    * (id, vec, __bucket) as a committed `vecindex` generation, signed once
    * at write time with `planes` — the tagger and any batch reader share
    * the one signing pass. `collapse = true` stores the rep-collapsed form
    * ([[VecStream.corpusIndexCollapsed]] — one row per distinct vector
    * with `__members`), the pile-safe serving for the latency tier.
    */
  def writeVecIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    planes: Seq[Array[Double]], dir: String,
                    collapse: Boolean = false): Unit =
    commitTable(
      if (collapse) VecStream.corpusIndexCollapsed(corpus, idCol, vecCol, planes)
      else VecStream.corpusIndex(corpus, idCol, vecCol, planes),
      dir, "vecindex")

  /** Re-open the stored embedding index for
    * [[VecStream.nearDupTagStream]] (persist if tagging many batches).
    */
  def readVecIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(tablePath(spark, dir, "vecindex"))

  // ---- generational table commit -----------------------------------------

  /** Resolve the directory [[read]] should scan for `table`: the highest
    * `<table>-<n>` carrying a `_SUCCESS` commit marker; falls back to the
    * legacy flat `<dir>/<table>` directory (pre-round-9 stores, and the
    * append-created initial layout) when no generation has committed.
    * Exposed for tests and store tooling.
    */
  def tablePath(spark: SparkSession, dir: String, table: String): String =
    tableGens(spark, dir, table)
      .filter(_._3)
      .sortBy(_._1).lastOption
      .map(_._2.toString)
      .getOrElse(s"$dir/$table")

  /** Back-compat alias used by the labels-specific round-9 tests. */
  def labelsPath(spark: SparkSession, dir: String): String =
    tablePath(spark, dir, "labels")

  /** (generation, path, committed?) for every `<table>-<n>` directory
    * under `dir`, committed meaning the Spark output committer's
    * `_SUCCESS` marker exists (created atomically, after every part file
    * is in place — the property the crash-safety argument rests on).
    */
  private def tableGens(spark: SparkSession, dir: String, table: String)
      : Seq[(Long, Path, Boolean)] = {
    val genRe = ("^" + java.util.regex.Pattern.quote(table) + "-([0-9]+)$").r
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case genRe(n) if st.isDirectory =>
          Some((n.toLong, st.getPath,
            fs.exists(new Path(st.getPath, "_SUCCESS"))))
        case _ => None
      }
    }
  }

  /** Copy-on-write table commit: write generation max+1 (counting torn,
    * uncommitted directories too, so a crashed writer's generation number
    * is never reused), then best-effort GC every older generation and the
    * legacy flat directory. Deletion AFTER the new marker exists keeps
    * the crash window clean: die during the write and the old generation
    * still resolves; die during GC and [[tablePath]] still picks the new
    * maximum — the leftovers go on the next commit's GC. The written
    * frame may lazily read the CURRENT generation (compaction does):
    * copy-on-write never overwrites its own input.
    */
  private def commitTable(df: DataFrame, dir: String, table: String): Unit =
    stageTable(df, dir, table)()

  /** [[commitTable]] with the GC deferred: writes the new committed
    * generation and returns the GC thunk, for multi-table commits where a
    * sibling's write may still lazily read this table's old generation.
    */
  private def stageTable(df: DataFrame, dir: String, table: String)
      : () => Unit = {
    val spark = df.sparkSession
    val gens = tableGens(spark, dir, table)
    val next = gens.map(_._1).maxOption.getOrElse(0L) + 1
    df.write.mode("overwrite").parquet(s"$dir/$table-$next")
    () => {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      gens.foreach { case (_, p, _) =>
        try fs.delete(p, true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      try fs.delete(new Path(root, table), true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Drop the session's plan-keyed guard memos after a store mutation —
    * see object doc. Cheap (two map clears), so every mutator calls it
    * unconditionally rather than tracking which paths were resolved.
    */
  private def clearPlanMemos(): Unit = {
    Blocking.clearAutoCapMemo()
    TextDedup.clearDupHeavyMemo()
  }
}
