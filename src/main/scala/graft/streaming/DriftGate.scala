package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass fused form of the micro-batch drift gate (round-18 verdict
  * item 1): ONE aggregation over the batch computes every input of the
  * three rules — the [[DriftStream.drift]] profile escapes
  * (nulls/extrema/distincts), the [[DriftStream.quantileDrift]] median
  * band, and the [[DriftStream.categoryDrift]] total-variation mix — and
  * the verdicts are arithmetic over the collected row against reference
  * snapshots gathered ONCE per query.
  *
  * Why: the r18 fused-healthy-path measurement (SCALE.md "Round-18
  * continuation: gate cost measured, fused") showed the gate's residual
  * ~2.3 s per healthy batch was per-rule DAG depth — three aggregation
  * subtrees plus a union materialization and a count, each a
  * driver-scheduled job — while the data volume (one micro-batch) was
  * noise. One job, one collected row, driver arithmetic.
  *
  * Exactness: every aggregate is the SAME expression the per-rule
  * DataFrame forms use — `approx_count_distinct` for distincts,
  * `percentile_approx(..., 10000)` ([[graft.ops.Profiler.quantiles]]'
  * accuracy) for the median, `min/max cast string` (plus a `try_cast` to
  * double evaluated in-plan, so numeric-vs-string extrema comparison
  * follows Spark's cast semantics bit-for-bit) — and the TV distance is
  * computed from exact per-reference-value counts: for v ∈ ref the batch
  * frequency p_v comes from a codegen'd count-if, and the window-only
  * mass is 1 − Σ_{v∈ref} p_v, so the union-of-value-sets sum needs no
  * groupBy and no sketch. [[graft.pipelines.CorpusPrepStream]]'s
  * quarantine REPORTS still come from the per-rule DataFrame functions on
  * the (rare) poisoned path; DriftGateSpec asserts verdict parity between
  * this pass and those functions on every edge case.
  *
  * Scale shape: the aggregation is one map-side-combinable pass over the
  * batch, O(profile cols + quantile sketches + Σ reference cardinality)
  * state per partition; the driver receives one row.
  */
object DriftGate {

  /** One column of the blessed profile snapshot, driver-side: reference
    * null fraction (0 when the snapshot saw no rows — the
    * [[DriftStream.drift]] convention), extrema as strings plus their
    * Spark-cast double forms, and the distinct count (None when the
    * snapshot carries null — SQL-null comparison semantics preserved).
    */
  final case class ProfileRef(nullFrac: Double, min: String, max: String,
                              minD: Option[Double], maxD: Option[Double],
                              nDistinct: Option[Long])

  final case class QuantileRef(lo: Option[Double], mid: Option[Double],
                               hi: Option[Double])

  final case class ProfileRule(cols: Seq[String], by: Map[String, ProfileRef],
                               nullFracTol: Double, distinctTol: Double)
  final case class QuantileRule(cols: Seq[String], by: Map[String, QuantileRef],
                                bandTol: Double)
  /** `by`: per column, the reference's (value, q) list — q normalized to
    * sum to 1 over the column's reference rows.
    */
  final case class CategoryRule(cols: Seq[String],
                                by: Map[String, Seq[(String, Double)]],
                                tvTol: Double)

  final case class Refs(profile: Option[ProfileRule],
                        quantile: Option[QuantileRule],
                        category: Option[CategoryRule]) {
    def enabled: Boolean =
      profile.nonEmpty || quantile.nonEmpty || category.nonEmpty
  }

  final case class Verdict(rule: String, column: String, drift: Boolean)

  /** The gate's output: the batch row count (free — the fused pass counts
    * anyway, so the poisoned path's report recompute never re-counts) and
    * one verdict per (rule, monitored column), rule order
    * profile → quantile → category, column order as configured.
    */
  final case class GateResult(nRows: Long, verdicts: Seq[Verdict]) {
    def poisoned: Boolean = verdicts.exists(_.drift)
    def flagged: Seq[Verdict] = verdicts.filter(_.drift)
  }

  /** Gather the blessed snapshots driver-side, once per streaming query.
    * Column defaults and tolerance validation mirror the per-rule
    * DataFrame functions ([[graft.pipelines.CorpusPrepStream.batchDrift]]
    * and friends) exactly.
    */
  def collect(profileRef: Option[DataFrame], profileCols: Seq[String],
              nullFracTol: Double, distinctTol: Double,
              quantileRef: Option[DataFrame], quantileCols: Seq[String],
              bandTol: Double,
              categoryRef: Option[DataFrame], categoryCols: Seq[String],
              tvTol: Double): Refs = {
    val profile = profileRef.map { ref =>
      require(nullFracTol >= 0, s"nullFracTol must be >= 0: $nullFracTol")
      require(distinctTol >= 1, s"distinctTol must be >= 1: $distinctTol")
      val rows = ref.select(col("column"),
          when(col("n_rows") > 0,
            col("n_nulls").cast("double") / col("n_rows"))
            .otherwise(lit(0.0)).as("__nf"),
          col("min").cast("string").as("__mn"),
          col("max").cast("string").as("__mx"),
          col("n_distinct").cast("long").as("__nd"))
        .withColumn("__mnd", expr("try_cast(__mn as double)"))
        .withColumn("__mxd", expr("try_cast(__mx as double)"))
        .collect()
      val by = rows.map { r =>
        r.getString(0) -> ProfileRef(r.getDouble(1), r.getString(2),
          r.getString(3),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toMap
      val cols = if (profileCols.nonEmpty) profileCols
                 else rows.map(_.getString(0)).toSeq.distinct
      require(cols.nonEmpty,
        "drift gate: nothing to monitor (empty reference and cols)")
      ProfileRule(cols, by, nullFracTol, distinctTol)
    }
    val quantile = quantileRef.map { ref =>
      require(bandTol >= 0, s"bandTol must be >= 0: $bandTol")
      require(quantileCols.nonEmpty,
        "drift gate: name the quantile-monitored numeric columns")
      val by = ref.select(col("column"), col("p25").cast("double"),
          col("p50").cast("double"), col("p75").cast("double"))
        .collect()
        .map { r =>
          def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          r.getString(0) -> QuantileRef(d(1), d(2), d(3))
        }.toMap
      QuantileRule(quantileCols, by, bandTol)
    }
    val category = categoryRef.map { ref =>
      require(tvTol >= 0 && tvTol < 1,
        s"tvTol must be in [0,1) — at 1 a reference-missing column would " +
          s"pass: $tvTol")
      val rows = ref.select(col("column"),
          col("value").cast("string").as("__v"),
          col("n").cast("double").as("__rn"))
        .collect()
      val by = rows.groupBy(_.getString(0)).map { case (c, rs) =>
        val tot = rs.map(_.getDouble(2)).sum
        c -> rs.map(r =>
          (if (r.isNullAt(1)) null else r.getString(1),
            r.getDouble(2) / tot)).toSeq
      }
      val cols = if (categoryCols.nonEmpty) categoryCols
                 else rows.map(_.getString(0)).toSeq.distinct
      require(cols.nonEmpty, "drift gate: nothing to monitor (categories)")
      CategoryRule(cols, by, tvTol)
    }
    Refs(profile, quantile, category)
  }

  /** Spark-order string comparison (binary UTF-8, what `<`/`>` on string
    * columns compile to) — `String.compareTo` is UTF-16 code-unit order,
    * which differs on supplementary characters.
    */
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** SQL-parity extrema escape: numeric when BOTH sides cast to double,
    * string order otherwise, unknown (None — never flags on its own) when
    * either side is null. Mirrors [[DriftStream.drift]]'s `outside`.
    */
  private def outside(v: String, vD: Option[Double], bound: String,
                      bD: Option[Double], below: Boolean): Option[Boolean] =
    (vD, bD) match {
      case (Some(x), Some(y)) => Some(if (below) x < y else x > y)
      case _ if v == null || bound == null => None
      case _ =>
        Some(if (below) utf8Cmp(v, bound) < 0 else utf8Cmp(v, bound) > 0)
    }

  /** Run the fused gate: one aggregation job over `batch`, verdicts
    * driver-side. A monitored column absent from the batch schema flags
    * (upstream schema change); so does an all-null category column and a
    * column missing from its rule's reference — the per-rule functions'
    * conventions, asserted by DriftGateSpec.
    */
  def check(batch: DataFrame, refs: Refs): GateResult = {
    val present = batch.columns.toSet
    val pCols = refs.profile.map(_.cols).getOrElse(Nil)
    val qCols = refs.quantile.map(_.cols).getOrElse(Nil)
    val cCols = refs.category.map(_.cols).getOrElse(Nil)

    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    pCols.zipWithIndex.foreach { case (c, i) =>
      if (present(c)) aggs ++= Seq(
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__p${i}_nulls"),
        approx_count_distinct(col(c)).as(s"__p${i}_nd"),
        min(col(c)).cast("string").as(s"__p${i}_min"),
        max(col(c)).cast("string").as(s"__p${i}_max"),
        expr(s"try_cast(cast(min(`$c`) as string) as double)")
          .as(s"__p${i}_mind"),
        expr(s"try_cast(cast(max(`$c`) as string) as double)")
          .as(s"__p${i}_maxd"))
    }
    qCols.zipWithIndex.foreach { case (c, i) =>
      if (present(c)) aggs += percentile_approx(col(c).cast("double"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as(s"__q$i")
    }
    cCols.zipWithIndex.foreach { case (c, i) =>
      if (present(c)) {
        aggs += count(col(c)).as(s"__c${i}_nn")
        refs.category.get.by.getOrElse(c, Nil).zipWithIndex.foreach {
          case ((v, _), j) =>
            aggs += coalesce(sum(when(col(c).cast("string") === lit(v), 1L)
              .otherwise(0L)), lit(0L)).as(s"__c${i}_$j")
        }
      }
    }
    val row = batch.agg(count(lit(1)).as("__n"), aggs.toSeq: _*).head()
    def at(n: String) = row.fieldIndex(n)
    val nRows = row.getLong(at("__n"))

    val profileVs = refs.profile.toSeq.flatMap { rule =>
      rule.cols.zipWithIndex.map { case (c, i) =>
        val drift =
          if (!present(c)) true
          else rule.by.get(c) match {
            case None => true // no reference row: unadjudicable column
            case Some(r) =>
              val nulls = row.getLong(at(s"__p${i}_nulls"))
              val nf = if (nRows > 0) nulls.toDouble / nRows else 0.0
              val nd = row.getLong(at(s"__p${i}_nd"))
              def s(n: String) =
                if (row.isNullAt(at(n))) null else row.getString(at(n))
              def d(n: String) =
                if (row.isNullAt(at(n))) None else Some(row.getDouble(at(n)))
              Seq(
                Some(math.abs(nf - r.nullFrac) > rule.nullFracTol),
                outside(s(s"__p${i}_min"), d(s"__p${i}_mind"),
                  r.min, r.minD, below = true),
                outside(s(s"__p${i}_max"), d(s"__p${i}_maxd"),
                  r.max, r.maxD, below = false),
                r.nDistinct.map(rd => nd.toDouble > rd.toDouble * rule.distinctTol)
              ).exists(_.contains(true))
          }
        Verdict("profile", c, drift)
      }
    }
    val quantileVs = refs.quantile.toSeq.flatMap { rule =>
      rule.cols.zipWithIndex.map { case (c, i) =>
        val drift =
          if (!present(c)) true
          else {
            val mid =
              if (row.isNullAt(at(s"__q$i"))) None
              else Some(row.getSeq[Double](at(s"__q$i"))(1))
            rule.by.get(c) match {
              case None => true
              case Some(r) =>
                (for { m <- mid; l <- r.lo; h <- r.hi } yield {
                  val band = (h - l) * rule.bandTol
                  m < l - band || m > h + band
                }).getOrElse(true) // null anywhere → flagged (SQL coalesce)
            }
          }
        Verdict("quantile", c, drift)
      }
    }
    val categoryVs = refs.category.toSeq.flatMap { rule =>
      rule.cols.zipWithIndex.map { case (c, i) =>
        val drift =
          if (!present(c)) true
          else {
            val nn = row.getLong(at(s"__c${i}_nn"))
            if (nn == 0) true // zero category rows: unadjudicable column
            else rule.by.get(c) match {
              case None => true // reference-missing column: TV = 1 > tvTol
              case Some(vals) =>
                val counts = vals.indices
                  .map(j => row.getLong(at(s"__c${i}_$j")))
                val l1 = vals.zip(counts).map { case ((_, q), n) =>
                  math.abs(n.toDouble / nn - q) }.sum
                val matched = counts.sum.toDouble / nn
                val tv = (l1 + math.max(0.0, 1.0 - matched)) / 2.0
                tv > rule.tvTol
            }
          }
        Verdict("category", c, drift)
      }
    }
    GateResult(nRows, profileVs ++ quantileVs ++ categoryVs)
  }
}
