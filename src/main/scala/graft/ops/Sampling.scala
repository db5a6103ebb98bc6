package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and dataset splitting.
  *
  * Training pipelines need samples and train/validation/test splits that
  * are (1) reproducible run-over-run, (2) stable under repartitioning and
  * cluster-size changes, and (3) consistent across engines auditing the
  * same data. Spark's `sample()`/`randomSplit()` give none of these — they
  * are seeded per-partition, so adding an executor reshuffles the split.
  * Hashing a stable row key instead makes membership a pure function of
  * the data: the md5 family here ([[TextDedup.md5Hash60]]-style) is
  * bit-reproducible in any engine with md5, so splits are oracle-checkable
  * and survive re-ingestion.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from the row key — the md5 prefix as an
    * integer, mod buckets. `salt` decorrelates different samples over the
    * same keys.
    */
  def hashBucket(key: Column, buckets: Int, salt: String = ""): Column =
    pmod(conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(buckets.toLong))

  /** Keep ~`pct` percent of rows, deterministically by key. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int,
                 salt: String = ""): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(keyCol), 100, salt) < pct)
  }

  /** Stratified deterministic sampling: keep a per-stratum percentage of
    * rows (strata absent from `pctByStratum` fall back to `defaultPct`).
    * Same md5-bucket membership as [[hashSample]] — reproducible across
    * runs, repartitions, and engines — but with per-group quotas (e.g.
    * downsample dominant languages, keep all of a rare one).
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           pctByStratum: Map[String, Int], defaultPct: Int,
                           salt: String = ""): DataFrame = {
    (pctByStratum.values.toSeq :+ defaultPct).foreach(p =>
      require(p >= 0 && p <= 100, s"pct must be in [0,100], got $p"))
    val pct = pctByStratum.foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) =>
        when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 100, salt) < pct)
  }

  /** Deterministic shuffle key: md5 of (salt, key) — a stable pseudo-random
    * total order. Training pipelines need the corpus globally shuffled
    * (decorrelate document order from crawl/source order) but REPRODUCIBLY:
    * `orderBy(shuffleKey(...))` is a pure function of the data, unlike
    * `rand()`, so the epoch-0 data order is identical run-over-run and
    * auditable cross-engine.
    */
  def shuffleKey(key: Column, salt: String = ""): Column =
    md5(concat(lit(salt), key.cast("string")))

  /** Globally shuffle a corpus deterministically: range-partition by the
    * md5 shuffle key and sort within partitions. At 100 TB this is one
    * range exchange (same geometry as any global sort) and the output is
    * ready for a sharded sequential write — partition i holds the i-th
    * contiguous slice of the shuffled order. Ties (duplicate keys) are
    * broken by the key column itself, making the order total.
    */
  def deterministicShuffle(df: DataFrame, keyCol: String,
                           salt: String = ""): DataFrame =
    df.withColumn("__shuffle_key", shuffleKey(col(keyCol), salt))
      .repartitionByRange(col("__shuffle_key"), col(keyCol))
      .sortWithinPartitions(col("__shuffle_key"), col(keyCol))

  /** Systematic weighted sampling: ~`k` draws with inclusion probability
    * proportional to an integer weight (token count, byte length — the
    * natural corpus weights), by walking the cumulative-weight line in
    * ascending id order with stride W/k. Row i is drawn
    * `floor(cum_i*k/W) - floor(cum_{i-1}*k/W)` times (`copies` — a row
    * heavier than W/k oversamples, explicitly). Output: (idCol, weight,
    * copies) for drawn rows, ascending id.
    *
    * Everything is EXACT integer arithmetic — long prefix sums, 128-bit
    * products — so the sample is a pure function of the data, independent
    * of partitioning, and bit-reproducible in any engine with 128-bit
    * integers (DuckDB: HUGEINT), unlike exponential-keys weighted sampling
    * (Efraimidis-Spirakis), whose pow/log draws are not portably rounded.
    *
    * Scale posture: one range exchange (ascending id — usually the
    * ingest order, so often already clustered), then a two-pass
    * distributed prefix sum: pass 1 reduces each partition to ONE long
    * (collected — partition-count-bounded, like the IVF centroid pull),
    * pass 2 walks each partition with its exclusive offset. No global
    * single-partition window, no driver row traffic. `mapPartitions` is
    * justified here: a running prefix walk is genuinely per-partition
    * imperative state with no Column-algebra form that avoids the
    * one-partition global window.
    *
    * Weights must be non-negative (zero-weight rows are never drawn;
    * negative weights would corrupt the walk and throw).
    */
  def systematicWeighted(df: DataFrame, idCol: String, weightCol: String,
                         k: Long): DataFrame =
    systematicWeightedManaged(df, idCol, weightCol, k).df

  /** [[systematicWeighted]] with cache-lifecycle control. The sorted frame
    * carries its own partition index (`__pid`, stamped before it is
    * persisted), and both passes key their offsets by that column, not by
    * the running task's partition id: a coalesce above the operator (a
    * single-file sink, a one-task root sort) runs pass 2 over several
    * stored partitions in one task. The sorted frame MUST stay persisted
    * until the result is consumed: an unpersisted recompute could
    * re-sample different range boundaries.
    */
  def systematicWeightedManaged(df: DataFrame, idCol: String,
                                weightCol: String, k: Long): Managed = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df
      .select(col(idCol).cast("long").as("__id"), col(weightCol).cast("long").as("__w"))
      .repartitionByRange(col("__id"))
      .sortWithinPartitions("__id")
      .withColumn("__pid", spark_partition_id())
      .as[(Long, Long, Int)]
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // pass 1: one (__pid, sum) pair per stored partition
    val partTotals = sorted.mapPartitions { it =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      it.foreach { case (_, w, pid) =>
        require(w >= 0, s"negative weight $w")
        sums(pid) = Math.addExact(sums.getOrElse(pid, 0L), w)
      }
      sums.iterator
    }.collect().sortBy(_._1)
    val total = partTotals.map(_._2).sum
    val result =
      if (total == 0L)
        spark.emptyDataset[(Long, Long, Long)].toDF(idCol, "weight", "copies")
      else {
        val offsets = partTotals.map(_._1)
          .zip(partTotals.scanLeft(0L)(_ + _._2)).toMap
        val bigK = BigInt(k); val bigW = BigInt(total)
        // pass 2: walk each partition from its exclusive offset
        sorted.mapPartitions { it =>
          var curPid = -1
          var cum = 0L
          it.flatMap { case (id, w, pid) =>
            if (pid != curPid) { curPid = pid; cum = offsets(pid) }
            val lo = BigInt(cum) * bigK / bigW
            cum += w
            val copies = (BigInt(cum) * bigK / bigW - lo).toLong
            if (copies > 0) Iterator.single((id, w, copies)) else Iterator.empty
          }
        }.toDF(idCol, "weight", "copies")
      }
    new Managed(result, Seq(sorted.toDF()))
  }

  /** Per-group [[systematicWeighted]]: an independent stride walk per
    * stratum (~`kFor(group)` draws within each group, proportional to the
    * integer weight) — the realization step for per-group quotas such as
    * [[Curation.sqrtTemperatureWeights]] rates × a draw budget. Output:
    * (groupCol, idCol, weight, copies), drawn rows only.
    *
    * Same exactness and partitioning-independence as the global form; the
    * two-pass prefix sum generalizes with per-(partition, group) offsets
    * (rows are range-partitioned and sorted by (group, id), so each
    * group's walk is contiguous across partitions). Driver state is
    * O(groups × partitions) longs — strata-scale (languages, domains),
    * not key-scale. Groups absent from `kByGroup` use `defaultK`; groups
    * with k <= 0 are never drawn; `groupCol` values must be non-null.
    */
  def systematicWeightedPerGroup(df: DataFrame, groupCol: String,
                                 idCol: String, weightCol: String,
                                 kByGroup: Map[String, Long],
                                 defaultK: Long): DataFrame =
    systematicWeightedPerGroupManaged(df, groupCol, idCol, weightCol,
      kByGroup, defaultK).df

  /** Exclusive per-(partition, group) offsets from per-(partition, group)
    * sums: for each entry, the total weight of the SAME group in
    * lower-numbered partitions. One sort by (group, pid) then a single
    * running-sum scan — O(E log E) for E = partitions × groups entries,
    * so the driver step stays linear-ish even at 10⁴ partitions × 10³
    * strata (10⁷ entries), where the naive per-entry filter-and-sum would
    * be O(E²) ≈ 10¹⁴ comparisons.
    */
  private[graft] def exclusiveOffsets(
      partTotals: Array[(Int, String, Long)])
      : collection.Map[(Int, String), Long] = {
    // field-comparing Ordering (sortBy would allocate a key tuple per
    // COMPARISON — n log n allocations at the 10^7-entry shape)
    val sorted = partTotals.clone()
    java.util.Arrays.sort(sorted,
      new java.util.Comparator[(Int, String, Long)] {
        def compare(a: (Int, String, Long), b: (Int, String, Long)): Int = {
          val c = a._2.compareTo(b._2)
          if (c != 0) c else Integer.compare(a._1, b._1)
        }
      })
    val out = new scala.collection.mutable.HashMap[(Int, String), Long](
      initialCapacity = partTotals.length * 2, loadFactor = 0.75)
    var runG: String = null
    var run = 0L
    var i = 0
    while (i < sorted.length) {
      val (pid, g, s) = sorted(i)
      if (g != runG) { runG = g; run = 0L }
      out((pid, g)) = run
      run = Math.addExact(run, s)
      i += 1
    }
    out
  }

  /** [[systematicWeightedPerGroup]] with cache-lifecycle control (same
    * `__pid` keying and persistence requirement as the global form).
    */
  def systematicWeightedPerGroupManaged(df: DataFrame, groupCol: String,
                                        idCol: String, weightCol: String,
                                        kByGroup: Map[String, Long],
                                        defaultK: Long): Managed = {
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df
      .select(col(groupCol).cast("string").as("__g"),
        col(idCol).cast("long").as("__id"),
        col(weightCol).cast("long").as("__w"))
      .repartitionByRange(col("__g"), col("__id"))
      .sortWithinPartitions("__g", "__id")
      .withColumn("__pid", spark_partition_id())
      .as[(String, Long, Long, Int)]
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // pass 1: per-(__pid, group) sums — groups are contiguous within
    // a sorted partition, so this is a streaming fold
    val partTotals = sorted.mapPartitions { it =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[(Int, String), Long]
      it.foreach { case (g, _, w, pid) =>
        require(g != null, "null group in systematicWeightedPerGroup")
        require(w >= 0, s"negative weight $w")
        sums((pid, g)) = Math.addExact(sums.getOrElse((pid, g), 0L), w)
      }
      sums.iterator.map { case ((pid, g), s) => (pid, g, s) }
    }.collect()
    val totals = partTotals.groupBy(_._2)
      .map { case (g, xs) => g -> xs.map(_._3).sum }
    val offsets = exclusiveOffsets(partTotals)
    val ks = totals.keys.map(g =>
      g -> kByGroup.getOrElse(g, defaultK)).toMap
    val result = sorted.mapPartitions { it =>
      var curPid = -1
      var curG: String = null
      var cum = 0L
      it.flatMap { case (g, id, w, pid) =>
        if (pid != curPid || g != curG) {
          curPid = pid; curG = g; cum = offsets((pid, g))
        }
        val kg = ks(g); val wg = totals(g)
        if (kg <= 0 || wg == 0) { cum += w; Iterator.empty }
        else {
          val lo = BigInt(cum) * kg / wg
          cum += w
          val copies = (BigInt(cum) * kg / wg - lo).toLong
          if (copies > 0) Iterator.single((g, id, w, copies))
          else Iterator.empty
        }
      }
    }.toDF(groupCol, idCol, "weight", "copies")
    new Managed(result, Seq(sorted.toDF()))
  }

  /** Label each row train/val/test by key hash: test gets `testPct`
    * buckets, validation the next `valPct`, train the rest.
    */
  def trainValTestSplit(df: DataFrame, keyCol: String, testPct: Int,
                        valPct: Int, salt: String = ""): DataFrame = {
    require(testPct >= 0 && valPct >= 0 && testPct + valPct <= 100,
      s"invalid split: test=$testPct val=$valPct")
    val b = hashBucket(col(keyCol), 100, salt)
    df.withColumn("split",
      when(b < testPct, lit("test"))
        .when(b < testPct + valPct, lit("val"))
        .otherwise(lit("train")))
  }
}
