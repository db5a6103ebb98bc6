package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Guarded dim-lookup left joins (SURVEY §2.5 J1-J8, §2.7 D1).
  *
  * Every reference join is a left equi-join against a small, pre-deduplicated
  * lookup table (reference etl_payroll_pipeline_demo.py:289-308,:598-658), with
  * a warn-only row-count fan-out guard (`safe_merge_left`, :233-240).
  *
  * Scale posture (SURVEY §4.2): with `hint = true` (the default) the dim
  * gets an explicit `broadcast()` hint, which Spark honours whatever the
  * dim's size (up to its hard broadcast limit) —
  * `spark.sql.autoBroadcastJoinThreshold` does not apply to a hinted side,
  * and AQE does not demote it to sort-merge. A hinted dim is
  * therefore collected whole to the driver, and its dedup runs inside that
  * broadcast job as ONE task (`coalesce(1)` ahead of the aggregate: a
  * single partition already satisfies the aggregate's distribution, so no
  * exchange and no extra job is planned). A dim too large for one task is
  * too large to broadcast: pass `hint = false` for a planner-chosen join
  * (shuffled dedup, sort-merge when the dim outgrows the threshold). The
  * fact side is never shuffled by the hinted joins.
  */
object LookupJoin {

  /** Dedup the dim's projected columns (D1, reference
    * etl_payroll_pipeline_demo.py:290,:294,:305,...) and broadcast-left-join on
    * shared key names. Join keys are emitted once (USING-style).
    */
  def lookupLeft(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 dimCols: Seq[String] = Nil, hint: Boolean = true,
                 dimUnique: Boolean = false): DataFrame = {
    val projected = if (dimCols.isEmpty) dim else dim.select((keys ++ dimCols).distinct.map(col): _*)
    // dimUnique: the caller KNOWS the dim is key-unique (a primary-keyed
    // dimension table) — the defensive dropDuplicates is then a no-op
    // semantically but costs aggregate passes and, hinted, funnels the
    // dim's scan into one task (unhinted, a full hash exchange; round 20,
    // when the hinted dedup still shuffled: two of q_pipeline_pretam's ten
    // serialized stage waves). Knowledge the optimizer doesn't have,
    // guide §8; the oracle replay proves result equality.
    val dimSide =
      if (!dimUnique) dedupDim(projected, hint)
      else if (hint) broadcast(projected) else projected
    fact.join(dimSide, keys, "left")
  }

  /** Asymmetric-key variant (J3/J6: `left_on != right_on`, reference
    * etl_payroll_pipeline_demo.py:293-302). Caller supplies the join condition;
    * the right key column is dropped after the join (pandas `merge` keeps both,
    * the reference then drops/ignores it, :308).
    */
  def lookupLeftOn(fact: DataFrame, dim: DataFrame, cond: Column,
                   dropRight: Seq[String] = Nil, hint: Boolean = true): DataFrame = {
    val joined = fact.join(dedupDim(dim, hint), cond, "left")
    dropRight.foldLeft(joined)(_.drop(_))
  }

  /** The deduplicated dim side of a lookup. Hinted: deduped in one
    * partition and broadcast, so the broadcast job does the dedup with no
    * exchange (see the object doc). Unhinted: a plain `dropDuplicates`,
    * planned like any aggregate.
    */
  private def dedupDim(dim: DataFrame, hint: Boolean): DataFrame =
    if (hint) broadcast(dim.coalesce(1).dropDuplicates()) else dim.dropDuplicates()

  /** Post-join fallback (J3: `fillna(Department Name)`, reference
    * etl_payroll_pipeline_demo.py:297-302): prefer the dim's value, fall back
    * to the fact's own column when the lookup missed.
    */
  def withFallback(df: DataFrame, outCol: String, primary: Column, fallback: Column): DataFrame =
    df.withColumn(outCol, coalesce(primary, fallback))

  /** Allowlist filter: keep fact rows whose `keys` appear in `list` (LEFT
    * SEMI — no fact columns duplicated, no fan-out possible regardless of
    * list duplicates). The corpus-curation shape: keep only documents on a
    * vetted source/id list.
    *
    * Scale posture: same as [[lookupLeft]] — the list is projected to the
    * keys and deduped like a dim (hinted: inside its broadcast job, no
    * exchange); the fact side never shuffles.
    */
  def semiJoin(fact: DataFrame, list: DataFrame, keys: Seq[String],
               hint: Boolean = true): DataFrame =
    fact.join(dedupDim(list.select(keys.map(col): _*), hint), keys, "left_semi")

  /** Blocklist filter: drop fact rows whose `keys` appear in `list` (LEFT
    * ANTI). The other half of corpus curation: remove documents whose
    * content hash / id / source is on a takedown, opt-out, or
    * contamination list. Null-key fact rows are KEPT (an equi-join never
    * matches null — unlike SQL `NOT IN`, which nulls out the whole
    * predicate; the oracle form is NOT EXISTS).
    */
  def antiJoin(fact: DataFrame, list: DataFrame, keys: Seq[String],
               hint: Boolean = true): DataFrame =
    fact.join(dedupDim(list.select(keys.map(col): _*), hint), keys, "left_anti")

  /** Dim keys that would fan out a left join (J1 guard, reference
    * etl_payroll_pipeline_demo.py:233-240). Cheaper than the reference's
    * before/after full-fact counts: only the dim is aggregated.
    */
  def keyViolations(dim: DataFrame, keys: Seq[String]): DataFrame =
    dim.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** Reference-shaped guard: (before, after) row counts around a join as a
    * 1-row DataFrame — lazy, so Verify/Bench can recompute it.
    */
  def rowcountGuard(fact: DataFrame, joined: DataFrame): DataFrame =
    fact.agg(count(lit(1)).as("before_cnt"))
      .crossJoin(joined.agg(count(lit(1)).as("after_cnt")))
      .withColumn("fanout", col("after_cnt") - col("before_cnt"))
}
