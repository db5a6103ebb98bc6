package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Sequence packing: assign documents to fixed-token-budget training
  * sequences — the step between a filtered corpus and a tokenized batch
  * (training consumes dense sequences of ~budget tokens, not ragged docs).
  *
  * This is OFFSET packing: docs line up in a deterministic order, and a
  * doc's sequence is `floor(tokens_before_it / budget)` — a document may
  * straddle a boundary and continue into the next sequence ("pack then
  * split at token level", the common pretraining layout). Exact greedy
  * no-straddle packing is a prefix-dependent sequential recurrence —
  * not expressible as a window function; its streaming counterpart is a
  * mapGroupsWithState fold. Offset packing is the relational, shuffle-
  * bounded form: one window per partition key.
  *
  * Scale posture: `partitionBy` keys the window — pack per shard/language
  * (as real pipelines do) and each partition sorts independently; an empty
  * `partitionBy` means one global sort, fine for a bounded corpus slice,
  * wrong for 100 TB.
  */
object Packing {

  /** Adds `n_tokens`, `seq_id` (sequence index within the partition), and
    * `seq_offset` (token offset of this doc within its sequence) under a
    * deterministic `orderBy` within each `partitionBy` group.
    */
  def packOffsets(df: DataFrame, tokens: Column, budget: Long,
                  partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", tokens)
      .withColumn("__before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", floor(col("__before") / budget))
      .withColumn("seq_offset", col("__before") % budget)
      .drop("__before")
  }

  /** Power-of-2 upper bound of a positive count: 1, 2, 4, 8, … — the
    * standard length-bucketing grid for padded batching. Integer-only
    * (`length(bin(n-1))` bits, then a shift): a float `ceil(log2 n)`
    * rounds differently across engines at exact powers of two.
    */
  def pow2Bucket(n: Column): Column =
    when(n <= 1, n.cast("long"))
      .otherwise(call_function("shiftleft", lit(1L),
        length(bin(n - 1)).cast("int")))

  /** Length-bucket histogram with padding-waste accounting: batch shapes
    * are chosen per bucket, every doc pads to its bucket's upper bound,
    * and `waste_pct` is the fraction of padded slots that are padding —
    * the measure that decides bucket granularity vs. [[packOffsets]]-style
    * concat packing. One groupBy on a derived integer key; all-integer
    * aggregates plus one IEEE division per bucket.
    */
  def lengthBuckets(df: DataFrame, tokens: Column): DataFrame =
    df.select(tokens.cast("long").as("__n"))
      .groupBy(pow2Bucket(col("__n")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("__n").as("sum_tokens"),
        max("__n").as("max_tokens"))
      // no row filter anywhere: a `tokens > 0` predicate — pre-agg, or
      // post-agg on the grouping key (the optimizer pushes it back
      // through the aggregate) — puts size(split(...)) in a Filter that
      // re-evaluates the tokenization per row (the genfilters recompute
      // trap PlanInvariantsSpec locks out). Degenerate docs (n <= 0)
      // surface as their own bucket == n rows with null waste; callers
      // that want them gone filter the AGGREGATED output themselves.
      .withColumn("padded_tokens", col("n_docs") * col("bucket"))
      .withColumn("waste_pct", when(col("bucket") > 0,
        round((col("padded_tokens") - col("sum_tokens")).cast("double")
          / col("padded_tokens") * 100, 4)))

  /** Per-sequence summary of [[packOffsets]] output: how full each packed
    * sequence is (the utilization metric a packing job reports).
    */
  def sequenceStats(packed: DataFrame, partitionBy: Seq[Column]): DataFrame =
    packed.groupBy(partitionBy :+ col("seq_id"): _*)
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))

  /** Input/output rows of [[packGreedy]]. `id` is the within-shard order. */
  final case class Doc(shard: String, id: Long, n_tokens: Long)
  final case class Packed(shard: String, id: Long, n_tokens: Long,
                          seq_id: Long, seq_offset: Long)
  /** Per-shard fold state: the currently-filling sequence. */
  final case class BinState(seqId: Long, fill: Long)

  /** EXACT greedy no-straddle packing — the prefix-dependent recurrence
    * [[packOffsets]] can't express relationally: a doc that would overflow
    * the current sequence starts a new one, so no document straddles a
    * boundary (sequences may under-fill instead). Implemented as the
    * stateful per-shard fold it is, via flatMapGroupsWithState — works on
    * a batch Dataset (one fold per shard) and on an unbounded stream,
    * where the bin state carries across micro-batches. Docs longer than
    * `budget` get a sequence to themselves.
    *
    * Measured on the sf0.01 documents corpus (the probe is in git at
    * ac4574e; 512-token
    * budget, per-lang shards): offset packing fills 98.3% of sequence
    * capacity, greedy 89.9% — the ~8-point under-fill is the price of
    * never splitting a document across sequences.
    *
    * Within a batch/micro-batch, docs process in ascending `id` order;
    * streams must deliver shard-contiguous ids in order across batches
    * for exact parity with the batch fold (the packing analogue of
    * [[graft.streaming.AsofStream.asofStream]]'s ordering contract).
    */
  def packGreedy(docs: Dataset[Doc], budget: Long): Dataset[Packed] = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[BinState, Packed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state) =>
          var s = state.getOption.getOrElse(BinState(0L, 0L))
          val out = rows.toSeq.sortBy(_.id).map { d =>
            if (s.fill > 0 && s.fill + d.n_tokens > budget)
              s = BinState(s.seqId + 1, 0L)
            val packed = Packed(shard, d.id, d.n_tokens, s.seqId, s.fill)
            s = BinState(s.seqId, s.fill + d.n_tokens)
            packed
          }
          state.update(s)
          out.iterator
      }
  }
}
