package graft.pipelines

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.{JobCounter, SparkSpec}
import graft.ExecutedPlan.nodes

/** End-to-end Runner spec: a temp storage root with reference-shaped CSVs →
  * discovery → pick → both pipelines → stamped outputs + V1 load summary.
  */
class RunnerSpec extends SparkSpec {

  import spark.implicits._

  /** Spark jobs in one [[Runner.run]] with outputs over this fixture. */
  private val RunnerJobBudget = 21

  private def write(dir: java.io.File, name: String, lines: Seq[String]): Unit =
    Files.writeString(new java.io.File(dir, name).toPath, lines.mkString("\n"))

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_runner").toFile
    write(dir, "monthly_PUA_file.csv", Seq(
      "UIN,Pay ID,Year,Pay #,Seq #,POSN,SUFF,College Code,College Name,TS COA,TS ORG,DEPT Code,Department Name,ECLS,ECLS DESC,TE M,Earn Code,DESCRIPTION,ADJ Reason Code,ADJ Reason DESC,Calc Date",
      "U1,BW,2026,7,1,123.0,0,KL,Engineering,1,602000,604.0,CS Dept,CA,Civil Service,W,RGS,Regular,,,2026-01-15"))
    val certHeader = Cpa.expectedColumns.mkString(",")
    def certRow(uin: String, tran: String, dt: String, job: String, payId: String) =
      s"$uin,2026,$payId,7,1,$tran,C,R,$dt,$dt,$job,T,1,602000,CA,KL-Engineering,O,L,F,E,e@x,10.5,,,,1,R,3 - Apply,RB,N,,1,2,3"
    write(dir, "cert_BW_2026.csv", Seq(certHeader, certRow("100", "T1", "2025-09-01", "101", "BW")))
    write(dir, "cert_MN_2026.csv", Seq(certHeader, certRow("400", "T5", "2026-01-10", "201", "MN")))
    write(dir, "TS_Org.csv", Seq("TS-Org Code,TS-Org Title", "1-602000,Engineering Org"))
    write(dir, "TS_Dept.csv", Seq("TS-Org Dept Code,TS-Org Dept Title", "1-604,Engineering Dept"))
    write(dir, "Overtime_E_Class.csv", Seq(
      "Job Eclass,Pay ID,Overtime FLSA,Job Detail E-Class Long Desc",
      "CA,BW,Eligible,Civil Service Long"))
    write(dir, "TE_M.csv", Seq("UIN Job,TE M,Time Entry Method,Time Entry Type",
      "100-101,W,Web,T1"))
    // the overtime lookup ALSO exists as a legacy .xls — the CSV wins the
    // deterministic by-path pick ("Overtime_E_Class.csv" < "..._old.xls"),
    // and the .xls ingest path is covered by the dedicated test below
    graft.io.Xls.write(
      Seq(("CA", "BW", "Eligible", "Civil Service Long"))
        .toDF("Job Eclass", "Pay ID", "Overtime FLSA",
          "Job Detail E-Class Long Desc"),
      new java.io.File(dir, "Overtime_old.xls").getAbsolutePath)
    // note: no Feeder_List, no YTD file → load summary must flag them
    dir.getAbsolutePath
  }

  private lazy val outDir = Files.createTempDirectory("graft_runner_out").toString

  private lazy val result = Runner.run(spark, root, Some(outDir),
    runDate = LocalDate.of(2026, 8, 12), dedupOrder = Seq(col("UIN")))

  "Runner" should "report the load summary including missing unused inputs (V1)" in {
    val byName = result.loadSummary.map(s => s.name -> s).toMap
    byName("pua").found shouldBe true
    byName("cert_bw").path.get should endWith("cert_BW_2026.csv")
    byName("feeder").found shouldBe false
    byName("pua_ytd").found shouldBe false
    byName("feeder").used shouldBe false
  }

  it should "run the PUA pipeline off discovered files" in {
    val pua = result.pua.get
    pua.count() shouldBe 1
    val r = pua.collect().head
    r.getAs[String]("TS-Org Title") shouldBe "Engineering Org"
    r.getAs[String]("Adjustment Reason Code") shouldBe "INT"
  }

  it should "run the CPA pipeline off discovered files" in {
    val cpa = result.cpa.get.output
    cpa.count() shouldBe 2
    result.cpa.get.schemaIssues shouldBe empty
  }

  it should "write stamped single-file CSV outputs (S5/S7)" in {
    new java.io.File(s"$outDir/PreTAM_PUA_08122026").exists() shouldBe true
    new java.io.File(s"$outDir/CPA_Final_08122026").exists() shouldBe true
  }

  it should "run the whole discover→pick→ingest chain through a Storage adapter (S1)" in {
    // the same fixture as BYTES behind the in-memory Storage double — the
    // exact boundary a SaaS connector implements (list from an API,
    // download to staging, hand Spark the staged path). Results must match
    // the LocalFs run row-for-row.
    val rootDir = new java.io.File(root)
    val files = rootDir.listFiles().filter(_.isFile).map { f =>
      s"drive/payroll/${f.getName}" -> java.nio.file.Files.readAllBytes(f.toPath)
    }.toMap
    val mem = new graft.io.Storage.InMemory(files, modifiedAtMs = 1700000000000L)
    val memResult = Runner.run(spark, mem, outDir = None,
      runDate = LocalDate.of(2026, 8, 12), dedupOrder = Seq(col("UIN")),
      validate = true)
    val byName = memResult.loadSummary.map(s => s.name -> s).toMap
    byName("pua").found shouldBe true
    byName("pua").path.get shouldBe "drive/payroll/monthly_PUA_file.csv"
    byName("feeder").found shouldBe false
    memResult.pua.get.collect().map(_.toSeq) shouldBe
      result.pua.get.collect().map(_.toSeq)
    memResult.cpa.get.output.count() shouldBe result.cpa.get.output.count()
  }

  it should "ingest a lookup that exists ONLY as legacy .xls (round 16)" in {
    // a storage root where the overtime lookup is a BIFF8 binary — the
    // reference's mixed Excel/CSV drive, no pre-conversion step
    val dir = Files.createTempDirectory("graft_runner_xls").toFile
    Seq("monthly_PUA_file.csv", "cert_BW_2026.csv", "cert_MN_2026.csv",
      "TS_Org.csv", "TS_Dept.csv", "TE_M.csv").foreach { n =>
      Files.copy(new java.io.File(root, n).toPath,
        new java.io.File(dir, n).toPath)
    }
    graft.io.Xls.write(
      Seq(("CA", "BW", "Eligible", "Civil Service Long"))
        .toDF("Job Eclass", "Pay ID", "Overtime FLSA",
          "Job Detail E-Class Long Desc"),
      new java.io.File(dir, "Overtime_E_Class.xls").getAbsolutePath)
    val r = Runner.run(spark, dir.getAbsolutePath, None,
      runDate = LocalDate.of(2026, 8, 12), dedupOrder = Seq(col("UIN")))
    r.loadSummary.find(_.name == "overtime").get.path.get should
      endWith(".xls")
    // the PUA pipeline's overtime join resolved through the .xls lookup
    r.pua.get.collect().head.getAs[String]("Overtime") shouldBe "Eligible"
  }

  it should "parse date-FORMATTED Calc Date cells from a PUA .xls workbook (r17 date parity)" in {
    // the last pd.read_excel behavior gap (round-16 verdict item 3): a
    // payroll workbook whose Calc Date column is date-formatted numerics.
    // Pre-parity those cells reached the pipeline as raw serial strings
    // ("46037") and E7 coercion silently nulled them; now the adapter
    // renders ISO and the PreTAM output carries the real timestamp.
    val dir = Files.createTempDirectory("graft_runner_xlsdate").toFile
    Seq("cert_BW_2026.csv", "cert_MN_2026.csv", "TS_Org.csv", "TS_Dept.csv",
      "Overtime_E_Class.csv", "TE_M.csv").foreach { n =>
      Files.copy(new java.io.File(root, n).toPath,
        new java.io.File(dir, n).toPath)
    }
    val puaDf = spark.read.option("header", "true")
      .csv(new java.io.File(root, "monthly_PUA_file.csv").getAbsolutePath)
    graft.io.Xls.write(puaDf,
      new java.io.File(dir, "monthly_PUA_file.xls").getAbsolutePath,
      dateColumns = Set("Calc Date"))
    val r = Runner.run(spark, dir.getAbsolutePath, None,
      runDate = LocalDate.of(2026, 8, 12), dedupOrder = Seq(col("UIN")))
    r.loadSummary.find(_.name == "pua").get.path.get should endWith(".xls")
    val row = r.pua.get.collect().head
    row.getAs[java.sql.Timestamp]("Calc Date") shouldBe
      java.sql.Timestamp.valueOf("2026-01-15 00:00:00")
    // and the rest of the pipeline is untouched by the adapter change
    row.getAs[String]("TS-Org Title") shouldBe "Engineering Org"
  }

  it should "pick identically through the distributed catalog and the Storage listing" in {
    // pickFile (DataFrame rlike, the lake-scale form) and Storage.pickFirst
    // (driver regex find, the SaaS-listing form) implement ONE operator:
    // lock their agreement on every input spec over the same fixture
    val catalog = graft.io.Sources.catalog(spark, root)
    val entries = new graft.io.Storage.LocalFs(spark, root).list()
    Runner.inputSpecs.foreach { s =>
      val viaDf = Runner.pickFile(catalog, s.pattern)
      val viaTrait = graft.io.Storage.pickFirst(entries, s.pattern).map(_.path)
      withClue(s"${s.name}: ") { viaTrait shouldBe viaDf }
    }
  }

  // ---- compute-once contract: one read per input, one materialization per
  // output for both sinks, no cache left behind ----

  /** The fixture as bytes behind [[graft.io.Storage.InMemory]], counting
    * every fetch per entry path.
    */
  private final class CountingStorage extends graft.io.Storage {
    private val inner = new graft.io.Storage.InMemory(
      new java.io.File(root).listFiles().filter(_.isFile).map { f =>
        s"drive/payroll/${f.getName}" -> Files.readAllBytes(f.toPath)
      }.toMap)
    val fetches = scala.collection.mutable.Map.empty[String, Int]
    override def list(): Seq[graft.io.Storage.Entry] = inner.list()
    override def fetch(e: graft.io.Storage.Entry): String = synchronized {
      fetches(e.path) = fetches.getOrElse(e.path, 0) + 1
      inner.fetch(e)
    }
  }

  private val runDate = LocalDate.of(2026, 8, 12)

  it should "leave no cache behind after a run with outputs" in {
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Files.createTempDirectory("graft_runner_once").toString
    val r = Runner.run(spark, root, Some(out), runDate,
      dedupOrder = Seq(col("UIN")))
    spark.sharedState.cacheManager.isEmpty shouldBe true
    spark.sparkContext.getPersistentRDDs.keySet.toSet shouldBe rddsBefore
    // the returned frames are lazy plans: running them pins nothing either
    r.pua.get.collect()
    r.cpa.get.output.collect()
    spark.sharedState.cacheManager.isEmpty shouldBe true
    spark.sparkContext.getPersistentRDDs.keySet.toSet shouldBe rddsBefore
  }

  it should "write the same rows to the stamped CSV and XLSX as the returned frames" in {
    val stamp = "08122026"
    def typed(df: org.apache.spark.sql.DataFrame,
              like: org.apache.spark.sql.DataFrame) =
      df.select(like.schema.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
    Seq("PreTAM_PUA" -> result.pua.get,
        "CPA_Final" -> result.cpa.get.output).foreach { case (name, expected) =>
      withClue(s"$name: ") {
        val csv = spark.read.option("header", "true")
          .csv(s"$outDir/${name}_$stamp")
        val xlsx = graft.io.Xlsx.read(spark, s"$outDir/${name}_$stamp.xlsx")
        csv.columns.toSeq shouldBe expected.columns.toSeq
        xlsx.columns.toSeq shouldBe expected.columns.toSeq
        val want = rows(expected)
        want should not be empty
        rows(typed(csv, expected)) shouldBe want
        rows(typed(xlsx, expected)) shouldBe want
      }
    }
  }

  it should "fetch each picked input exactly once per run" in {
    val storage = new CountingStorage
    val r = Runner.run(spark, storage,
      outDir = Some(Files.createTempDirectory("graft_runner_fetch").toString),
      runDate, dedupOrder = Seq(col("UIN")), validate = true)
    val picked = r.loadSummary.filter(s => s.found && s.used).flatMap(_.path)
    picked should have size 7
    storage.fetches.toMap shouldBe picked.map(_ -> 1).toMap
  }

  // ---- job budget: the Spark jobs one run with outputs schedules ----

  it should "run one Runner.run with outputs within its Spark job budget" in {
    // staleness check + the two outputs' sinks: the listing walks the
    // filesystem on the driver, the CSV headers are read on the driver,
    // every hinted dim is deduped inside its broadcast job, and CPA keeps
    // only its two keyed dedup shuffles
    val dir = root
    val (_, tagged, all) = JobCounter.withAll(spark) {
      Runner.run(spark, dir, Some(Files.createTempDirectory("graft_runner_jobs").toString),
        runDate, dedupOrder = Seq(col("UIN")))
    }
    tagged should be <= RunnerJobBudget
    // the PUA branch's thread inherits the caller's local properties, so
    // every job of the run carries the caller's job tag
    all shouldBe tagged
  }

  // ---- overlap contract: both branches run to the end, the run throws
  // only after both, and nothing stays cached ----

  /** The fixture's files in a new root, with `replace` swapping some out
    * (name -> bytes; the old name is dropped when the new one differs).
    */
  private def rootWith(replace: (String, String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("graft_runner_variant").toFile
    val dropped = replace.map(_._1).toSet
    new java.io.File(root).listFiles().filter(f => f.isFile && !dropped(f.getName))
      .foreach(f => Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath))
    replace.foreach { case (_, name, bytes) =>
      Files.write(new java.io.File(dir, name).toPath, bytes)
    }
    dir.getAbsolutePath
  }

  private def staleBw: (String, String, Array[Byte]) = {
    val lines = Files.readAllLines(new java.io.File(root, "cert_BW_2026.csv").toPath)
    ("cert_BW_2026.csv", "cert_BW_2026.csv",
      (lines.get(0) + "\n" + lines.get(1).replace("2025-09-01", "2024-06-01"))
        .getBytes("UTF-8"))
  }

  private val staleMessage = "requirement failed: stale input: min date " +
    "2024-06-01 00:00:00.0 predates fiscal-year floor 2024-07-01 00:00:00.0"

  private val unreadablePua =
    ("monthly_PUA_file.csv", "monthly_PUA_file.xlsx", "not a workbook".getBytes("UTF-8"))

  private def assertNothingCached(rddsBefore: Set[Int]): Unit = {
    spark.sharedState.cacheManager.isEmpty shouldBe true
    spark.sparkContext.getPersistentRDDs.keySet.toSet shouldBe rddsBefore
  }

  it should "write both PUA outputs and rethrow the CPA staleness abort unchanged" in {
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Files.createTempDirectory("graft_runner_stale").toString
    val e = intercept[IllegalArgumentException] {
      Runner.run(spark, rootWith(staleBw), Some(out), runDate,
        dedupOrder = Seq(col("UIN")))
    }
    e.getMessage shouldBe staleMessage
    e.getSuppressed shouldBe empty
    new java.io.File(s"$out/PreTAM_PUA_08122026").isDirectory shouldBe true
    new java.io.File(s"$out/PreTAM_PUA_08122026.xlsx").isFile shouldBe true
    new java.io.File(s"$out/CPA_Final_08122026").exists() shouldBe false
    assertNothingCached(rddsBefore)
  }

  it should "rethrow an unreadable PUA workbook after the CPA branch has finished and released its union" in {
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Files.createTempDirectory("graft_runner_badpua").toString
    val e = intercept[Exception] {
      Runner.run(spark, rootWith(unreadablePua), Some(out), runDate,
        dedupOrder = Seq(col("UIN")))
    }
    e.getSuppressed shouldBe empty
    new java.io.File(s"$out/CPA_Final_08122026").isDirectory shouldBe true
    new java.io.File(s"$out/CPA_Final_08122026.xlsx").isFile shouldBe true
    new java.io.File(s"$out/PreTAM_PUA_08122026").exists() shouldBe false
    assertNothingCached(rddsBefore)
  }

  it should "throw PUA's exception with CPA's suppressed when both branches fail" in {
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val puaOnly = intercept[Exception] {
      Runner.run(spark, rootWith(unreadablePua), None, runDate,
        dedupOrder = Seq(col("UIN")))
    }
    val e = intercept[Exception] {
      Runner.run(spark, rootWith(unreadablePua, staleBw), None, runDate,
        dedupOrder = Seq(col("UIN")))
    }
    e.getClass shouldBe puaOnly.getClass
    e.getMessage shouldBe puaOnly.getMessage
    e.getSuppressed.toSeq.map(_.getMessage) shouldBe Seq(staleMessage)
    assertNothingCached(rddsBefore)
  }

  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  it should "dedup every broadcast dim without a shuffle and shuffle CPA's facts only on its two keys" in {
    val r = Runner.run(spark, root, None, runDate, dedupOrder = Seq(col("UIN")))
    val pua = finalPlan(r.pua.get)
    val cpa = finalPlan(r.cpa.get.output)
    Seq("PUA" -> pua, "CPA" -> cpa).foreach { case (name, plan) =>
      withClue(s"$name: ") {
        val builds = plan.collect { case b: BroadcastExchangeExec => b }
        builds should not be empty
        builds.flatMap(b => nodes(b.child)).collect { case s: ShuffleExchangeExec => s } shouldBe empty
      }
    }
    val shuffleKeys = cpa.collect { case s: ShuffleExchangeExec => s }.distinct
      .map(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      })
    shuffleKeys should contain theSameElementsAs Seq(Seq("UIN Job"), Seq("TRAN_ID"))
  }
}
