package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops._

/** The PUA batch pipeline (reference etl_payroll_pipeline_demo.py:206-479),
  * re-expressed as one lazy Spark logical plan.
  *
  * Shape: derive concat/strip key columns → rename variants → three deduped
  * broadcast lookup joins (org title, dept title + fallback, overtime) →
  * per-code mode fill of Time Entry → business-key dedup → type normalize →
  * default fill → ordered PreTAM projection → header harmonization.
  *
  * Catalyst collapses the long rename/projection chain into a single codegen
  * stage; the three dims and the TE mode map broadcast, each deduped or
  * aggregated inside its own broadcast job; the only exchange is the dedup
  * window shuffle on the business key (SURVEY §3.2, §4.2).
  *
  * Determinism: pandas keeps the FIRST duplicate in incidental frame order
  * (reference :339-343); the engine demands an explicit `dedupOrder`
  * (SURVEY §7.6 risk 1).
  */
object Pua {

  final case class Lookups(tsOrg: DataFrame, tsDept: DataFrame,
                           overtime: DataFrame, teM: DataFrame)

  /** Header-variant normalization (reference :281-286). */
  val adjReasonRenames: Map[String, String] = Map(
    "ADj Reason Code" -> "ADJ Reason Code",
    "Adj Reason Code" -> "ADJ Reason Code",
    "Adj Reason" -> "ADJ Reason DESC")

  /** Pre-dedup source projection (reference :327-337). */
  val sourceFields: Seq[String] = Seq(
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College",
    "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "DEPT Code", "TS-Org Dept Code", "TS-Org Department Code", "TS-Org Dept Title",
    "ECLS", "ECLS DESC", "E-Class", "TE M", "Time Entry", "Overtime",
    "Earn Code", "DESCRIPTION", "ADJ Reason Code", "ADJ Reason DESC",
    "Calc Date", "Pay Event", "POSN", "SUFF")

  /** PreTAM output layout: (output name, source name), order-sensitive
    * (reference :362-389), post-:416-420 header harmonization applied.
    */
  val preTamLayout: Seq[(String, String)] = Seq(
    "UIN" -> "UIN",
    "Pay ID" -> "Pay ID",
    "Year" -> "Year",
    "Pay #" -> "Pay #",
    "Seq #" -> "Seq #",
    "Job Number" -> "Job Number",
    "College Code" -> "College Code",
    "College Name" -> "College Name",
    "College" -> "College",
    "TS COA" -> "TS COA",
    "TS ORG" -> "TS ORG", // "TS Org" pre-harmonization (:417)
    "TS-Org Code" -> "TS-Org Code",
    "TS-Org Title" -> "TS-Org Title",
    "Dept Code" -> "DEPT Code",
    "TS-Org Dept Code" -> "TS-Org Dept Code",
    "TS-Org Dept Title" -> "TS-Org Dept Title",
    "E-Class Code" -> "ECLS",
    "E-Class" -> "ECLS DESC",
    "TE M" -> "TE M",
    "Time Entry" -> "Time Entry",
    "Overtime" -> "Overtime",
    "Earn Code" -> "Earn Code",
    "Earn Code Description" -> "DESCRIPTION",
    "Adjustment Reason Code" -> "ADJ Reason Code",
    "Adjustment Reason Description" -> "ADJ Reason DESC", // "Adjustment Reason" pre-harmonization (:418)
    "Calc Date" -> "Calc Date")

  def run(pua: DataFrame, lookups: Lookups, dedupOrder: Seq[Column]): DataFrame = {
    // --- derived fields & cleaning (reference :252-278) ---
    val derived = pua
      .withColumn("TS COA", Normalize.ensureString(col("TS COA")))
      .withColumn("TS ORG", Normalize.ensureString(col("TS ORG")))
      .withColumn("TS-Org Code", Derive.concatKey("-", col("TS COA"), col("TS ORG")))
      .withColumn("DEPT Code", Normalize.stripDecimalNan(col("DEPT Code")))
      .withColumn("TS-Org Department Code",
        Derive.concatKey("-", col("TS COA"), col("DEPT Code")))
      .withColumn("Department Name", Normalize.ensureString(col("Department Name")))
      .withColumn("E-Class", trim(Normalize.astypeStr(col("ECLS DESC"))))
      .withColumn("Year", Normalize.ensureString(col("Year")))
      .withColumn("Pay ID", Normalize.ensureString(col("Pay ID")))
      .withColumn("Pay #", Normalize.ensureString(col("Pay #")))
      .withColumn("Seq #", Normalize.ensureString(col("Seq #")))
      .withColumn("Pay Event", Derive.concatAll(
        col("Year"), col("Pay ID"), col("Pay #"), col("Seq #")))
      .withColumn("POSN", Normalize.stripDecimalNan(col("POSN")))
      .withColumn("SUFF", Normalize.stripDecimalNan(col("SUFF")))
      .withColumn("Job Number", Derive.concatKey("-", col("POSN"), col("SUFF")))
      .withColumn("College Code", Normalize.ensureString(col("College Code")))
      .withColumn("College Name", Normalize.ensureString(col("College Name")))
      .withColumn("College", Derive.concatKey("-", col("College Code"), col("College Name")))

    val renamed = Reshape.renameAll(derived, adjReasonRenames)

    // --- lookups (reference :289-308) ---
    val withOrg = LookupJoin.lookupLeft(renamed, lookups.tsOrg,
      keys = Seq("TS-Org Code"), dimCols = Seq("TS-Org Title"))

    val deptDim = lookups.tsDept.select("TS-Org Dept Code", "TS-Org Dept Title")
    val withDeptRaw = LookupJoin.lookupLeftOn(withOrg, deptDim,
      withOrg("TS-Org Department Code") === deptDim("TS-Org Dept Code"))
    val withDept = LookupJoin.withFallback(withDeptRaw, "TS-Org Dept Title",
      col("TS-Org Dept Title"), col("Department Name"))

    val otDim = lookups.overtime.select("Job Eclass", "Overtime FLSA")
    val withOt = LookupJoin.lookupLeftOn(withDept, otDim,
        withDept("ECLS") === otDim("Job Eclass"), dropRight = Seq("Job Eclass"))
      .withColumnRenamed("Overtime FLSA", "Overtime")

    // --- Time Entry via per-code mode (reference :310-324) ---
    val teModes = TimeEntryModes(lookups.teM)
    val withTeKey = withOt.withColumn("TE M", trim(Normalize.astypeStr(col("TE M"))))
    val hasTimeEntry = withTeKey.columns.contains("Time Entry")
    val withExisting =
      if (hasTimeEntry) withTeKey.withColumn("Time Entry", Normalize.ensureString(col("Time Entry")))
      else withTeKey.withColumn("Time Entry", lit(null).cast("string"))
    val withTimeEntry = withExisting
      .join(teModes, withExisting("TE M") === teModes("__te_key"), "left")
      .withColumn("Time Entry",
        when(col("Time Entry").isNotNull && col("Time Entry") =!= "", col("Time Entry"))
          .otherwise(col("__te_mode")))
      .drop("__te_key", "__te_mode")

    // --- final selection + business-key dedup (reference :327-343) ---
    val selected = Reshape.selectExisting(withTimeEntry, sourceFields)
    val deduped = Dedup.keepFirst(selected,
      keys = Seq("UIN", "Pay Event", "Job Number").filter(selected.columns.contains),
      order = dedupOrder)

    // --- types + default fill (reference :346-357) ---
    val stringified = Normalize.ensureStringCols(deduped,
      deduped.columns.toSeq.filterNot(_ == "Calc Date"))
    val typed =
      if (stringified.columns.contains("Calc Date"))
        stringified.withColumn("Calc Date", Temporal.coerceTimestamp(col("Calc Date")))
      else stringified

    // DESC is reset only where the CODE was blank (reference :352-357) — the
    // mask is computed once, before the code column is overwritten.
    val filled = if (typed.columns.contains("ADJ Reason Code")) {
      val base = typed.withColumn("__adj_blank", Normalize.isBlank(col("ADJ Reason Code")))
        .withColumn("ADJ Reason Code",
          when(col("__adj_blank"), lit("INT")).otherwise(col("ADJ Reason Code")))
      val withDesc =
        if (base.columns.contains("ADJ Reason DESC"))
          base.withColumn("ADJ Reason DESC",
            when(col("__adj_blank"), lit("Internal")).otherwise(col("ADJ Reason DESC")))
        else base
      withDesc.drop("__adj_blank")
    } else typed

    // --- PreTAM layout + final typing (reference :362-420) ---
    val out = Reshape.orderedProjectWithNulls(filled, preTamLayout)
    val outStrings = Normalize.ensureStringCols(out, out.columns.toSeq.filterNot(_ == "Calc Date"))
    outStrings.withColumn("Calc Date", Temporal.coerceTimestamp(col("Calc Date")))
  }
}
