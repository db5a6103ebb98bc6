package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.{Dedup, Normalize, Temporal}

/** Golden end-to-end test of the CPA pipeline over FIXTURES.md A2/A3-shaped
  * fixtures: union, FY filter, staleness abort, nan-nan derived codes, format
  * validation, composite-key overtime join, ACTION filter, the three dedups,
  * int-normalization, college split, and the 20-column layout.
  */
class CpaSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Cpa.expectedColumns

  // (UIN, TRAN_ID, create, closed, JOB, coas, orgn, ecls, college, action, payId)
  private def row(uin: String, tranId: String, create: String, closed: String,
                  job: String, coas: String, orgn: String, ecls: String,
                  college: String, action: String, payId: String): Map[String, String] = Map(
    "UIN" -> uin, "PAY_YEAR" -> "2026", "PAY_ID" -> payId, "PAY_NBR" -> "7",
    "PAY_SEQ" -> "1.0", "TRAN_ID" -> tranId, "TRAN_COMPNT" -> "C",
    "ADJ_REASON" -> "R", "TRAN_CREATE_DT" -> create, "TRAN_CLOSED_DT" -> closed,
    "JOB" -> job, "JOB_TITLE" -> "T", "JOB_TS_COAS" -> coas,
    "JOB_TS_ORGN" -> orgn, "JOB_ECLS" -> ecls, "COLLEGE" -> college,
    "OWNING_UIN" -> "O", "LAST_NAME" -> "L", "FIRST_NAME" -> "F",
    "UI_ENTERPRISE_ID" -> "E", "EMAIL_ADDR" -> "e@x", "HRLY_RATE" -> "10.5",
    "RT_LEAVE_DT" -> "", "RT_ENTER_DT" -> "", "RT_CREATE_DT" -> "",
    "LVL" -> "1", "ROLE" -> "R", "ACTION" -> action, "ROUTED_BY_UIN" -> "RB",
    "RETURNED_FLAG" -> "N", "TRAN_ROUTE_DT" -> "", "ELAPSED_WORK_TIME" -> "1",
    "ROUTE_STOP_TIME" -> "2", "ELAPSED_TRAN_TIME" -> "3")

  private def toDf(rows: Seq[Map[String, String]]): DataFrame = {
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(cols.map(T.StructField(_, T.StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(m => Row.fromSeq(cols.map(m(_)))), 2),
      schema)
  }

  private val runDate = LocalDate.of(2026, 8, 12) // FY window 2025-07-01..2026-06-30

  private def bw = toDf(Seq(
    // in-window, applied; dup TRAN_ID later; college with dash; POSN-ish .0 codes
    row("100", "T1", "2025-09-01", "2025-09-02", "101.0", "1", "602000", "CA", "KL-Engineering", "3 - Apply", "BW"),
    // duplicate full row
    row("100", "T1", "2025-09-01", "2025-09-02", "101.0", "1", "602000", "CA", "KL-Engineering", "3 - Apply", "BW"),
    // same UIN Job, different TRAN_ID → dropped by UIN-Job keep-first (order: TRAN_ID)
    row("100", "T2", "2025-10-01", "2025-10-02", "101.0", "1", "602000", "CA", "KL-Engineering", "3 - Apply", "BW"),
    // out-of-window (before FY) → filtered
    row("200", "T3", "2025-06-30", "2025-07-01", "102", "1", "602000", "CA", "KL-Engineering", "3 - Apply", "BW"),
    // not applied → filtered
    row("300", "T4", "2025-09-05", "2025-09-06", "103", "1", "602000", "CA", "KL-Engineering", "1 - Route", "BW")))

  private def mn = toDf(Seq(
    // null-ish coas/orgn → nan-nan code (invalid format); college without dash
    row("400", "T5", "2026-01-10", "2026-01-11", "201", "nan", "nan", "AB", "LAW", "3 - Apply", "MN"),
    // invalid create date → NaT; still in? NaT fails between → filtered
    row("500", "T6", "garbage", "", "301", "2", "100000", "AB", "LP-Arts", "3 - Apply", "MN")))

  private def lookups = Cpa.Lookups(
    tsOrg = Seq(("1-602000", "Engineering Org")).toDF("TS-Org Code", "TS-Org Title"),
    tsDept = Seq(("1-602", "Engineering Dept")).toDF("TS-Org Dept Code", "TS-Org Dept Title"),
    overtime = Seq(("CA", "BW", "Eligible", "Civil Service Long"),
      ("CA", "MN", "Exempt", "Should Not Match"),
      ("AB", "MN", "Exempt", "Academic Long")).toDF(
      "Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"),
    // UIN Job is derived BEFORE the .0 int-normalize pass, so "101.0" survives
    // in the key (reference :591 vs :673-682)
    teM = Seq(("100-101.0", "W", "Web", "T1"), ("400-201", "P", "Positive", "T2"))
      .toDF("UIN Job", "TE M", "Time Entry Method", "Time Entry Type"))

  private lazy val result = Cpa.run(bw, mn, lookups, runDate,
    dedupOrder = Seq(col("TRAN_ID")))
  private lazy val out = result.output.cache()

  "Cpa.run" should "emit the 20-column layout" in {
    out.columns shouldBe Cpa.finalColumns.toArray
  }

  it should "apply FY filter, ACTION filter, and all three dedups" in {
    // T1 (first per UIN Job 100-101), T5 survive; T2 deduped; T3 out-of-FY;
    // T4 not applied; T6 unparseable date
    out.count() shouldBe 2
    out.select("UIN").as[String].collect().sorted shouldBe Array("100", "400")
  }

  it should "derive TS-Org Code with astype(str) nan-nan semantics" in {
    val r400 = out.filter($"UIN" === "400").collect().head
    r400.getAs[String]("TS-Org Code") shouldBe "nan-nan"
    result.invalidTsOrgCode.filter($"TS-Org Code" === "nan-nan").count() should be >= 1L
  }

  it should "resolve lookups including the composite-key overtime join" in {
    val r100 = out.filter($"UIN" === "100").collect().head
    r100.getAs[String]("TS-Org Title") shouldBe "Engineering Org"
    r100.getAs[String]("TS-Org Dept Title") shouldBe "Engineering Dept"
    r100.getAs[String]("Overtime") shouldBe "Eligible" // (CA, BW), not (CA, MN)
    r100.getAs[String]("E-Class") shouldBe "Civil Service Long"
    r100.getAs[String]("Time Entry") shouldBe "Web"
  }

  it should "int-normalize codes and split college" in {
    val r100 = out.filter($"UIN" === "100").collect().head
    r100.getAs[String]("Job Number") shouldBe "101" // "101.0" normalized
    r100.getAs[String]("College Code") shouldBe "KL"
    r100.getAs[String]("College Name") shouldBe "Engineering"
    val r400 = out.filter($"UIN" === "400").collect().head
    r400.getAs[String]("College Code") shouldBe "LAW"
    // split miss → null tail (the reference's Python loop appends None)
    r400.getAs[String]("College Name") shouldBe null
  }

  it should "pass the schema check on conforming input" in {
    result.schemaIssues shouldBe empty
  }

  it should "abort on stale data (V3) when validation is on" in {
    val stale = toDf(Seq(
      row("900", "T9", "2024-06-01", "", "1", "1", "602000", "CA", "X-Y", "3 - Apply", "BW")))
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    an[IllegalArgumentException] should be thrownBy
      Cpa.run(stale, mn, lookups, runDate, Seq(col("TRAN_ID")))
    // the abort drops the union pin the check filled, leaving none behind
    spark.sparkContext.getPersistentRDDs.keySet.toSet shouldBe pinned
  }

  "Cpa.dedupNormalize" should "equal the reference's composition with its full-row dedups" in {
    // the reference form: full-row dedup ahead of each keyed keep-first
    // (reference :667-668, :693-695)
    def reference(applied: DataFrame, order: Seq[Column]): DataFrame = {
      val byUinJob = Dedup.keepFirst(applied.distinct(), Seq("UIN Job"), order)
      val normalized = byUinJob.select(byUinJob.columns.map(c =>
        Normalize.stripDecimalNan(col(c)).as(c)): _*)
      val redated = normalized
        .withColumn("TRAN_CREATE_DT", Temporal.coerceTimestamp(col("TRAN_CREATE_DT")))
        .withColumn("TRAN_CLOSED_DT", Temporal.coerceTimestamp(col("TRAN_CLOSED_DT")))
      Dedup.keepFirst(redated.distinct(), Seq("TRAN_ID"), order)
    }
    def appliedRow(uin: String, tran: String, job: String) =
      row(uin, tran, "2025-09-01", "2025-09-02", job, "1", "602000", "CA",
        "KL-Engineering", "3 - Apply", "BW")
    // shaped like the pipeline's input to the dedups: UIN Job derived
    // before the int-normalize pass, the create date already coerced
    val applied = toDf(Seq(
        appliedRow("100", "T1", "101"), appliedRow("100", "T1", "101"), // raw full duplicates
        appliedRow("100", "T2", "101"),       // UIN-Job collision, differs only in TRAN_ID
        appliedRow("400", "T5", "201.0"),     // identical to the next row only after
        appliedRow("400", "T5", "201"),       // stripDecimalNan ("201.0" vs "201")
        appliedRow("500", "T5", "301"),       // TRAN_ID collision after normalize
        appliedRow("600", "T7", "601.0")))
      .withColumn("UIN Job", concat_ws("-", col("UIN"), col("JOB")))
      .withColumn("TRAN_CREATE_DT", Temporal.coerceTimestamp(col("TRAN_CREATE_DT")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
    // an order that ranks every distinct row, so both forms are deterministic
    val order = Seq(col("TRAN_ID"), col("UIN"), col("JOB"))
    val got = rows(Cpa.dedupNormalize(applied, order))
    got shouldBe rows(reference(applied, order))
    got.map(r => (r(0), r(5))) shouldBe Seq(("100", "T1"), ("400", "T5"), ("600", "T7"))
  }
}
