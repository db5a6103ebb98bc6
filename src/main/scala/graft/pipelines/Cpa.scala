package graft.pipelines

import java.time.LocalDate

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops._

/** The CPA batch pipeline (reference etl_payroll_pipeline_demo.py:482-799).
  *
  * Shape: header trim → BW+MN union → date coercion → staleness abort (the
  * reference's ONLY hard failure, :507-512) → fiscal-year filter → schema
  * check → derived codes + format validation → four lookup joins (org, dept,
  * TE-row, overtime-composite) → mode-mapped Time Entry → ACTION filter →
  * keep-first per UIN Job → int-normalize all columns → date re-coercion →
  * keep-first per TRAN_ID (the reference's full-row dedup ahead of each
  * keyed one is subsumed, see [[dedupNormalize]]) → college split →
  * 20-column rename projection.
  *
  * The mid-pipeline min-date check is an action (one extra Spark job on the
  * pre-filter plan), matching the reference's eager min() — the unioned input
  * is cached around it when `validate` is on, and handed to the caller in
  * [[Result.cachedInput]] to release (dropped here if the check aborts).
  */
object Cpa {

  final case class Lookups(tsOrg: DataFrame, tsDept: DataFrame,
                           overtime: DataFrame, teM: DataFrame)

  /** Structured result: the output plus the reference's print-only check
    * results, surfaced as data (SURVEY §2.10). `cachedInput` is the BW+MN
    * union pinned for the staleness check when `validate` is on; the
    * caller [[release]]s it once it has run its actions on the output.
    */
  final case class Result(output: DataFrame,
                          schemaIssues: Seq[Validate.SchemaIssue],
                          invalidTsOrgCode: DataFrame,
                          invalidDeptTsOrg: DataFrame,
                          cachedInput: Option[DataFrame] = None) {
    def release(): Unit = cachedInput.foreach(_.unpersist(blocking = true))
  }

  /** Expected 34-column raw layout, order-sensitive (reference :521-532). */
  val expectedColumns: Seq[String] = Seq(
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT",
    "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "OWNING_UIN",
    "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE",
    "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION",
    "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME")

  /** Final 20-column rename (reference :711-732) and selection (:735-738). */
  val finalRenames: Map[String, String] = Map(
    "PAY_ID" -> "Pay ID", "PAY_YEAR" -> "Year", "PAY_NBR" -> "Pay #",
    "PAY_SEQ" -> "Seq #", "JOB" -> "Job Number", "COLLEGE" -> "College",
    "JOB_TS_COAS" -> "TS COA", "JOB_TS_ORGN" -> "TS Org",
    "TS-Org Name" -> "TS-Org Title", "TS-Org Department Name" -> "TS-Org Dept Title",
    "JOB_ECLS" -> "E-Class Code", "E-Class Description" -> "E-Class",
    "Overtime FLSA" -> "Overtime")

  val finalColumns: Seq[String] = Seq(
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS Org", "TS-Org Code",
    "TS-Org Title", "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code",
    "E-Class", "TE M", "Time Entry", "Overtime")

  val tsOrgCodePattern = "^[0-9]-[0-9]{6}$"
  val deptTsOrgPattern = "^[0-9]-[0-9]{3}$"

  def run(certBw: DataFrame, certMn: DataFrame, lookups: Lookups,
          runDate: LocalDate, dedupOrder: Seq[Column],
          validate: Boolean = true): Result = {
    // --- union + date parse (reference :487-494) ---
    val unioned = Reshape.unionHarmonize(
        Seq(Reshape.trimHeaders(certBw), Reshape.trimHeaders(certMn)))
      .withColumn("TRAN_CREATE_DT", Temporal.coerceTimestamp(col("TRAN_CREATE_DT")))
    // the staleness check below is an action on this frame; cache so the
    // main output plan doesn't re-read + re-union the inputs
    val combined = if (validate) unioned.cache() else unioned

    // --- fiscal window + staleness abort (reference :495-518) ---
    val (fyStart, fyEnd) = Temporal.calendarFiscalYearBounds(runDate)
    if (validate)
      try {
        val minDate = combined.agg(min(col("TRAN_CREATE_DT"))).collect().head.getTimestamp(0)
        if (minDate != null) Temporal.requireFresh(minDate, fyStart)
      } catch { case NonFatal(e) => combined.unpersist(); throw e }
    val inFy = combined.filter(
      Temporal.betweenDates(col("TRAN_CREATE_DT"), fyStart, fyEnd))

    // --- schema check (print-only in the reference, :521-554) ---
    val schemaIssues = Validate.schemaCheck(inFy, expectedColumns)

    // --- derived codes + format validation (reference :557-581) ---
    val derived = inFy
      .withColumn("TS-Org Code", Derive.concatKey("-",
        trim(Normalize.astypeStr(col("JOB_TS_COAS"))),
        trim(Normalize.astypeStr(col("JOB_TS_ORGN")))))
      .withColumn("Dept TS-Org", Derive.prefix(col("TS-Org Code"), 5))

    val invalidOrg = Validate.formatViolations(derived, col("TS-Org Code"), tsOrgCodePattern)
      .select("JOB_TS_COAS", "JOB_TS_ORGN", "TS-Org Code")
    val invalidDept = Validate.formatViolations(derived, col("Dept TS-Org"), deptTsOrgPattern)
      .select("TS-Org Code", "Dept TS-Org")

    // --- key standardization (reference :584-594) ---
    val keyed = derived
      .withColumn("JOB_ECLS", trim(Normalize.astypeStr(col("JOB_ECLS"))))
      .withColumn("PAY_ID", trim(Normalize.astypeStr(col("PAY_ID"))))
      .withColumn("UIN Job", Derive.concatKey("-",
        trim(Normalize.astypeStr(col("UIN"))), trim(Normalize.astypeStr(col("JOB")))))

    // --- lookups (reference :598-658) ---
    val withOrg = LookupJoin.lookupLeft(keyed, lookups.tsOrg,
        keys = Seq("TS-Org Code"), dimCols = Seq("TS-Org Title"))
      .withColumnRenamed("TS-Org Title", "TS-Org Name")

    val deptDim = lookups.tsDept.select("TS-Org Dept Code", "TS-Org Dept Title")
    val withDept = LookupJoin.lookupLeftOn(withOrg, deptDim,
        withOrg("Dept TS-Org") === deptDim("TS-Org Dept Code"))
      .withColumnRenamed("TS-Org Dept Title", "TS-Org Department Name")

    val teRow = lookups.teM.select("UIN Job", "TE M", "Time Entry Method", "Time Entry Type")
    val withTe = LookupJoin.lookupLeft(withDept, teRow, keys = Seq("UIN Job"))

    // Time Entry from per-code mode of the lookup (reference :617-650)
    val teModes = TimeEntryModes(lookups.teM)

    val withTeKey = withTe.withColumn("TE M", trim(Normalize.astypeStr(col("TE M"))))
    val withTimeEntry = withTeKey
      .join(teModes, withTeKey("TE M") === teModes("__te_key"), "left")
      .withColumn("Time Entry", col("__te_mode"))
      .drop("__te_key", "__te_mode")

    // Overtime on the composite key; pandas keeps both key columns then drops
    // the duplicate-named right one (reference :653-658,:741) — here the right
    // keys are dropped at join time.
    val otDim = lookups.overtime.select(
      col("Job Eclass"), col("Pay ID"),
      col("Overtime FLSA"), col("Job Detail E-Class Long Desc"))
    val withOt = LookupJoin.lookupLeftOn(withTimeEntry, otDim,
        withTimeEntry("JOB_ECLS") === trim(Normalize.astypeStr(otDim("Job Eclass"))) &&
          withTimeEntry("PAY_ID") === trim(Normalize.astypeStr(otDim("Pay ID"))),
        dropRight = Seq("Job Eclass", "Pay ID"))
      .withColumnRenamed("Job Detail E-Class Long Desc", "E-Class Description")

    // --- filter + dedups + int-normalize (reference :666-695) ---
    val applied = withOt.filter(col("ACTION") === "3 - Apply")
    val deduped = dedupNormalize(applied, dedupOrder)

    // --- college split (reference :698-706, the Python row loop, vectorized) ---
    val (ccode, cname) = Derive.splitOnce(Normalize.astypeStr(col("COLLEGE")), "-")
    val withCollege = deduped
      .withColumn("College Code", trim(ccode))
      .withColumn("College Name", trim(cname))

    // --- final rename + 20-column projection (reference :711-741) ---
    val renamed = Reshape.renameAll(withCollege, finalRenames)
    Result(Reshape.selectExisting(renamed, finalColumns),
      schemaIssues, invalidOrg, invalidDept,
      cachedInput = if (validate) Some(combined) else None)
  }

  /** The dedup segment (reference :666-695): keep-first per `UIN Job` →
    * int-normalize every column → re-coerce the two dates → keep-first per
    * `TRAN_ID`.
    *
    * The reference also drops full-row duplicates right before each keyed
    * dedup (:667, :693). Both are subsumed: identical rows share every key,
    * so keep-first per key already keeps only one of them, with the same
    * values whichever wins the order; and removing an identical copy never
    * changes which distinct row comes first. The same holds for pandas'
    * `drop_duplicates(keep="first")`. Leaving them out saves two of the
    * four serial fact shuffles.
    */
  private[pipelines] def dedupNormalize(applied: DataFrame,
                                        dedupOrder: Seq[Column]): DataFrame = {
    val byUinJob = Dedup.keepFirst(applied, Seq("UIN Job"), dedupOrder)

    // --- int-normalize every column (reference :673-682) ---
    val normalized = byUinJob.select(byUinJob.columns.map(c =>
      Normalize.stripDecimalNan(col(c)).as(c)): _*)

    // --- date re-coercion (+ null counts V6 available via Validate.nullCount)
    val redated = normalized
      .withColumn("TRAN_CREATE_DT", Temporal.coerceTimestamp(col("TRAN_CREATE_DT")))
      .withColumn("TRAN_CLOSED_DT", Temporal.coerceTimestamp(col("TRAN_CLOSED_DT")))

    Dedup.keepFirst(redated, Seq("TRAN_ID"), dedupOrder)
  }
}
