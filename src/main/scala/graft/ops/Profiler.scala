package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generic column-level data profiling — the corpus-intake generalization
  * of the reference's inline validation checks (null counts, ranges,
  * row-count guards, `etl_payroll_pipeline_demo.py:495-512,:686-691`):
  * one summary row per column.
  *
  * Two execution shapes by distinct-count mode:
  *
  *  - **HLL (default)**: ALL metrics for ALL columns ride a single
  *    aggregation (one pass, constant memory via approx_count_distinct);
  *    the one aggregated row is reshaped driver-side. Right for wide
  *    tables and routine intake audits.
  *  - **exact**: one narrow aggregation per column — scan pruned to that
  *    column, shuffle carries only its distinct values — unioned into one
  *    lazy frame. Spark's multi-distinct-in-one-agg EXPAND path multiplies
  *    every row by (columns+1) and measured 3.9s where the per-column
  *    shape takes a fraction; per-column also never collects.
  */
object Profiler {

  private val outSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_nulls", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true)))

  /** One row per column: (column, dtype, n_rows, n_nulls, n_distinct,
    * min, max) with min/max rendered as strings (profile output is for
    * humans and drift checks, not arithmetic).
    */
  def profile(df: DataFrame, exactDistinct: Boolean = false): DataFrame =
    if (exactDistinct) profileExact(df) else profileHll(df)

  private def profileExact(df: DataFrame): DataFrame =
    df.schema.fields.map { f =>
      df.select(col(f.name).as("__v"))
        .groupBy("__v").agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum("__cnt"), lit(0L)).as("__n"),
          coalesce(sum(when(col("__v").isNull, col("__cnt"))
            .otherwise(0L)), lit(0L)).as("__nulls"),
          count(when(col("__v").isNotNull, lit(1))).as("__distinct"),
          min(col("__v")).cast("string").as("__min"),
          max(col("__v")).cast("string").as("__max"))
        .select(lit(f.name).as("column"),
          lit(f.dataType.simpleString).as("dtype"),
          col("__n").as("n_rows"), col("__nulls").as("n_nulls"),
          col("__distinct").as("n_distinct"),
          col("__min").as("min"), col("__max").as("max"))
    }.reduce(_ unionByName _)

  /** Per-column quantiles for the numeric columns of `df` — the
    * distribution half of intake profiling (drift checks need medians and
    * tails, not just min/max). One row per column: (column, then one
    * `q<prob>` column per requested probability).
    *
    * Two modes, like [[profile]]:
    *
    *  - **approximate (default)**: `approx_percentile` (KLL-style sketch) —
    *    ALL columns ride ONE aggregation, constant memory, the everyday
    *    100 TB shape.
    *  - **exact**: distributed rank-select ([[exactQuantiles]]) — linear
    *    interpolation over the truly sorted column, value-identical to
    *    DuckDB `quantile_cont` (oracle-checkable), one narrow pipeline per
    *    column. NOT Spark's built-in `percentile` aggregate: that merges
    *    every partition's value->count map on a single reducer, so its
    *    memory and merge time scale with the column's distinct count
    *    (measured 2.3 s on 3 columns of 600 k-row lineitem where the
    *    distributed form takes a fraction; at corpus scale it OOMs).
    */
  /** Stable quantile column name for a probability: decimal (not double)
    * scaling, so 0.05 * 100 names "p5", not "p5_000..01"; non-integer
    * percents replace the point ("p2_5"). Shared with the streaming
    * quantile monitor ([[graft.streaming.DriftStream.windowQuantiles]]).
    */
  /** Per-value counts of low-cardinality `cols`: (column, value, n) with
    * values rendered as strings (the [[profile]] convention — one frame
    * carries any column type). The categorical leg of a blessed intake
    * snapshot: [[graft.streaming.DriftStream.categoryDrift]] compares a
    * window's value mix against this by total-variation distance, which
    * catches a source silently flipping its `lang`/`source` mix INSIDE
    * fixed bounds — invisible to the null/extrema/distinct rules.
    *
    * One distributed pass for all columns (stack column/value pairs, one
    * groupBy); NULLs are excluded — null-share drift is the null-fraction
    * rule's jurisdiction, and the frequencies here are over PRESENT values
    * so the two rules stay independent. Output size is Σ per-column
    * cardinality — use on genuinely low-cardinality columns.
    */
  def categories(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "categories: name at least one column")
    val stacked = cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value")))
    df.select(explode(array(stacked: _*)).as("s"))
      .select(col("s.column").as("column"), col("s.value").as("value"))
      .filter(col("value").isNotNull)
      .groupBy("column", "value").agg(count(lit(1)).as("n"))
  }

  def probName(p: Double): String = {
    val pct = BigDecimal(p.toString) * 100
    if (pct.isWhole) s"p${pct.toBigInt}"
    else s"p${pct.bigDecimal.stripTrailingZeros.toPlainString.replace('.', '_')}"
  }

  def quantiles(df: DataFrame, cols: Seq[String],
                probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
                exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty && probs.nonEmpty, "need at least one column and prob")
    require(probs.forall(p => p >= 0 && p <= 1), s"probs must be in [0,1]: $probs")
    val perCol: Seq[Seq[Any]] =
      if (exact) exactQuantilesMulti(df, cols, probs)
      else {
        val probsArr = array(probs.map(lit): _*)
        val aggs = cols.map(c =>
          percentile_approx(col(c).cast("double"), probsArr, lit(10000))
            .as(s"__q_$c"))
        val row = df.agg(aggs.head, aggs.tail: _*).collect().head
        cols.indices.map(i =>
          // percentile over an empty / all-null column yields a null array
          Option(row.getSeq[Double](i))
            .map(_.map(q => q: Any)).getOrElse(probs.map(_ => null)))
      }
    val probNames = probs.map(probName)
    val schema = StructType(
      StructField("column", StringType, nullable = false) +:
        probNames.map(StructField(_, DoubleType, nullable = true)))
    val out = cols.zip(perCol).map { case (c, qs) => Row.fromSeq(c +: qs) }
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out, 1), schema)
  }

  /** Drift report between two profile snapshots ([[profile]] outputs of
    * the same table at different times): one row per column present in
    * either snapshot, with old/new null fractions, distinct counts, and
    * range bounds side by side plus a `drift` flag — the intake check that
    * turns "the generator/upstream changed" into a diff instead of a
    * silent breakage (the round-9 events.ts drift was exactly this class).
    *
    * Pure frame algebra over two tiny profile outputs (one row per
    * column), so cost is nil; thresholds: a column counts as drifted when
    * it appears/disappears, its dtype changes, its null fraction moves by
    * more than `nullFracTol`, or its min/max strings change.
    */
  def drift(oldProfile: DataFrame, newProfile: DataFrame,
            nullFracTol: Double = 0.01): DataFrame = {
    require(nullFracTol >= 0, s"nullFracTol must be >= 0: $nullFracTol")
    def side(p: DataFrame, tag: String) = p.select(
      col("column"),
      col("dtype").as(s"${tag}_dtype"),
      when(col("n_rows") > 0, col("n_nulls").cast("double") / col("n_rows"))
        .otherwise(lit(0.0)).as(s"${tag}_null_frac"),
      col("n_distinct").as(s"${tag}_distinct"),
      col("min").as(s"${tag}_min"), col("max").as(s"${tag}_max"))
    side(oldProfile, "old").join(side(newProfile, "new"), Seq("column"), "full_outer")
      .withColumn("drift",
        col("old_dtype").isNull || col("new_dtype").isNull ||
          col("old_dtype") =!= col("new_dtype") ||
          abs(col("old_null_frac") - col("new_null_frac")) > nullFracTol ||
          (col("old_min") <=> col("new_min")) === false ||
          (col("old_max") <=> col("new_max")) === false)
  }

  /** Exact interpolated quantiles of ONE value column WITHIN each group —
    * per-stratum drift checks ("median doc length per language"). Uses the
    * built-in `percentile` aggregate, which is the RIGHT tool in this
    * regime and the wrong one in [[quantiles]]' whole-column regime: its
    * per-group merge memory scales with the group's distinct-value count,
    * intolerable when the "group" is the whole 100 TB column but bounded
    * and embarrassingly parallel when the corpus shards into many strata
    * (each group's map merges on its own reducer; a skewed stratum bounds
    * memory — cap it upstream with [[Curation.capPerGroup]] or sampling if
    * a stratum's distinct count is corpus-sized). Same two-sided linear
    * interpolation as DuckDB `quantile_cont`, so oracle-exact.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1]: $probs")
    val pct = percentile(col(valueCol).cast("double"),
      array(probs.map(lit): _*)).as("__q")
    val probNames = probs.map { p =>
      val s = BigDecimal(p.toString) * 100
      if (s.isWhole) s"p${s.toBigInt}"
      else s"p${s.bigDecimal.stripTrailingZeros.toPlainString.replace('.', '_')}"
    }
    df.groupBy(groupCol).agg(pct)
      .select(col(groupCol) +:
        probNames.zipWithIndex.map { case (nm, i) =>
          col("__q").getItem(i).as(nm)
        }: _*)
  }

  /** Exact interpolated quantiles of ALL requested columns in ONE
    * distributed rank-select pipeline (per-column pipelines would pay the
    * job-launch and shuffle overhead once per column — a wide-table exact
    * profile serializes; this shape is constant in column count):
    *
    *   1. explode to (columnIdx, value) rows and range-partition on
    *      (columnIdx, value) — the only full-data shuffle, the canonical
    *      distributed-sort cost of any exact quantile;
    *   2. aggregate to (columnIdx, value, count) — exchange-free, because
    *      range partitioning already co-locates equal keys — and sort
    *      locally: every partition now holds a contiguous (column, value)
    *      range in order, so each column's values are globally sorted;
    *   3. one tiny job collects per-partition PER-COLUMN count totals;
    *      their per-column prefix sums give each partition its rank offset
    *      within each column (the zipWithIndex pattern — no
    *      single-partition window, no single-reducer map merge);
    *   4. one `mapPartitions` pass emits only the values whose rank span
    *      covers a requested rank (<= 2 per probability per column),
    *      collected to the driver for the final interpolation.
    *
    * Interpolation is `lower*(1-frac) + higher*frac` at rank (n-1)*p —
    * the same two-sided form Spark's and DuckDB's continuous percentiles
    * use, so results are bit-stable across engines (and identical to the
    * previous one-column-at-a-time implementation).
    */
  private def exactQuantilesMulti(df: DataFrame, cols: Seq[String],
                                  probs: Seq[Double]): Seq[Seq[Any]] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // NOT persisted: the range partitioner samples its child, so the
    // scan+explode runs twice (sampling pass + shuffle write) — but that
    // recompute is a columnar scan plus a cheap Generate, measured faster
    // than writing |rows|×|cols| exploded rows through the block store
    // just to read them back once
    // NOT spread: repartitioning a 600 k-row single-split input pays a
    // serial sortBeforeRepartition that exceeds the parallelism win
    // (round-19 A/B: q_dedup_business_key 0.3 s -> 1.1 s under the same
    // treatment); this pipeline is bounded by its five serialized jobs,
    // not map compute
    val exploded = df
      .select(posexplode(array(cols.map(c => col(c).cast("double")): _*))
        .as(Seq("__ci", "__v")))
      .filter(col("__v").isNotNull)
    // Range-partition FIRST, then aggregate: RangePartitioning(ci, v)
    // co-locates equal keys, so it satisfies the aggregate's clustered
    // distribution and the groupBy plans WITHOUT a second exchange — the
    // whole pipeline is one range shuffle (the canonical distributed-sort
    // cost any exact quantile pays), where hash-grouping first would add a
    // second exchange of the distinct table plus an extra persist to guard
    // the range sampler's recompute (sampling here re-runs only the cheap
    // scan+explode). The local sort after the aggregate restores value
    // order within each partition.
    //
    // Round-20 A/B (warm minima over 5 reps at sf0.1, OPTIMIZATION_r20.md
    // "VERDICT #1"):
    // this form 1.60 s; hash-agg-first + persist + range over the
    // aggregate (the round-19 verdict's candidate) 1.82 s — the distinct
    // table is 583 k of 1.8 M exploded rows (l_extendedprice is
    // near-unique), so pre-aggregation shrinks little and its extra
    // exchange + larger sampler recompute cost more than they save;
    // dropping the persist (shuffle-reuse pays re-agg+re-sort on the
    // second job) 2.18 s. Both rejected on measurement.
    val counts = exploded
      .repartitionByRange(col("__ci"), col("__v"))
      .groupBy("__ci", "__v").agg(count(lit(1)).as("__cnt"))
      .sortWithinPartitions("__ci", "__v")
      .persist(lvl) // read twice: partition totals, then rank hits
    try {
      val partTotals: Array[Map[Int, Long]] = counts.rdd.mapPartitions { it =>
        val m = scala.collection.mutable.Map.empty[Int, Long]
        it.foreach(r => m.update(r.getInt(0), m.getOrElse(r.getInt(0), 0L) + r.getLong(2)))
        Iterator.single(m.toMap)
      }.collect()
      val nByCol: Map[Int, Long] = partTotals.flatten
        .groupMapReduce(_._1)(_._2)(_ + _)
      // per-partition, per-column rank offset = counts in earlier partitions
      val offsets: Array[Map[Int, Long]] =
        partTotals.scanLeft(Map.empty[Int, Long]) { (acc, m) =>
          (acc.keySet ++ m.keySet).iterator
            .map(ci => ci -> (acc.getOrElse(ci, 0L) + m.getOrElse(ci, 0L))).toMap
        }
      val ranksByCol: Map[Int, Array[Long]] = nByCol.map { case (ci, n) =>
        ci -> probs.iterator.flatMap { p =>
          val r = p * (n - 1)
          Seq(math.floor(r).toLong, math.ceil(r).toLong)
        }.toArray.distinct.sorted
      }
      val hits = counts.rdd.mapPartitionsWithIndex { case (i, it) =>
        val cum = scala.collection.mutable.Map.empty[Int, Long] ++ offsets(i)
        it.flatMap { r =>
          val ci = r.getInt(0)
          val lo = cum.getOrElse(ci, 0L)
          cum.update(ci, lo + r.getLong(2)) // value spans 0-based ranks [lo, cum)
          ranksByCol(ci).filter(k => k >= lo && k < lo + r.getLong(2))
            .map(k => ((ci, k), r.getDouble(1)))
        }
      }.collect().toMap
      cols.indices.map { ci =>
        nByCol.get(ci) match {
          case None => probs.map(_ => null)
          case Some(n) => probs.map { p =>
            val r = p * (n - 1)
            val (lo, hi) = (hits((ci, math.floor(r).toLong)), hits((ci, math.ceil(r).toLong)))
            val frac = r - math.floor(r)
            (lo * (1.0 - frac) + hi * frac): Any
          }
        }
      }
    } finally {
      counts.unpersist(false)
    }
  }

  private def profileHll(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        // coalesce: sum over zero rows is null, and getLong would NPE on
        // an empty input table (approx_count_distinct already yields 0)
        coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"${f.name} nulls"),
        approx_count_distinct(c).as(s"${f.name} distinct"),
        min(c).cast("string").as(s"${f.name} min"),
        max(c).cast("string").as(s"${f.name} max"))
    }
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).collect().head
    val n = row.getLong(0)
    val out = fields.zipWithIndex.map { case (f, i) =>
      val base = 1 + i * 4
      Row(f.name, f.dataType.simpleString, n,
        row.getLong(base), row.getLong(base + 1),
        row.getString(base + 2), row.getString(base + 3))
    }
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), outSchema)
  }
}
