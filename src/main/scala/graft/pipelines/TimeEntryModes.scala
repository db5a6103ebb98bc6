package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ModeMap, Normalize}

/** The per-code Time Entry mode map both payroll pipelines join back
  * (reference etl_payroll_pipeline_demo.py:310-324,:617-650): each `TE M`
  * code → its most frequent `Time Entry Method`, ties to the smallest, as a
  * broadcast (`__te_key`, `__te_mode`) frame.
  *
  * The TE lookup is a dim, so the map is computed in ONE partition: the
  * count aggregate and the `row_number` window of [[ModeMap.modePerKey]]
  * then plan no exchange, and the broadcast job builds the whole map, like
  * the reference's in-memory dict.
  */
private[pipelines] object TimeEntryModes {

  def apply(teM: DataFrame): DataFrame = {
    val te = teM.coalesce(1)
      .select(Normalize.ensureString(col("TE M")).as("TE M"),
        Normalize.ensureString(col("Time Entry Method")).as("Time Entry Method"))
      .filter(col("TE M").isNotNull && col("Time Entry Method").isNotNull)
    broadcast(ModeMap.modePerKey(te, "TE M", "Time Entry Method", modeCol = "__te_mode")
      .select(col("TE M").as("__te_key"), col("__te_mode")))
  }
}
