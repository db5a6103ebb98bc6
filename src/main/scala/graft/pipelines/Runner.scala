package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Sinks, Sources, Storage}

/** The reference's whole-program composition (etl_payroll_pipeline_demo.py
  * top-to-bottom): discover inputs in a storage root by filename regex, pick
  * the first match deterministically, ingest, run both pipelines, write
  * date-stamped outputs.
  *
  * Differences by design (SURVEY §7.5/§7.6): storage is any Hadoop-visible
  * filesystem instead of Box (S1 is an I/O adapter, not a query operator);
  * the first-match pick orders by path explicitly instead of relying on
  * listing order; the run date is injected; and the two pipelines, which
  * the reference runs one after the other, run at the same time (see
  * [[run]]) — they share only the four lookups, read once up front.
  */
object Runner {

  /** What the reference looks for (file-pick regexes,
    * etl_payroll_pipeline_demo.py:77-85,:123-142,:155-183). `used = false`
    * inputs are loaded-but-never-consumed in the reference (SURVEY §7.6
    * risk 6) — tracked for the load summary only.
    */
  final case class InputSpec(name: String, pattern: String, used: Boolean = true)

  val inputSpecs: Seq[InputSpec] = Seq(
    InputSpec("pua", "(?i)(^|[\\s_])PUA([\\s_]|$)"),
    InputSpec("cert_bw", "(?i)(^|[\\s_])BW([\\s_.]|$)"),
    InputSpec("cert_mn", "(?i)(^|[\\s_])MN([\\s_.]|$)"),
    InputSpec("ts_org", "(?i)^TS_Org\\."),
    InputSpec("ts_dept", "(?i)^TS_Dept\\."),
    InputSpec("overtime", "(?i)Overtime"),
    InputSpec("te_m", "(?i)^TE_M\\."),
    InputSpec("feeder", "(?i)Feeder", used = false),
    InputSpec("pua_ytd", "(?i)YTD", used = false))

  /** V1 load summary row: input name, whether a file was found, its path. */
  final case class LoadStatus(name: String, found: Boolean, path: Option[String], used: Boolean)

  /** First-match file pick (O1): regex on file name, deterministic order by
    * path, limit 1.
    */
  def pickFile(catalog: DataFrame, pattern: String): Option[String] =
    catalog.filter(col("file_name").rlike(pattern))
      .orderBy("path").limit(1)
      .select("path").collect().headOption.map(_.getString(0))

  /** All-string headered ingest — deterministic (no inference); the
    * pipelines stringify everything anyway, like the reference's astype
    * passes. Dispatches on extension: CSV ([[graft.io.Csv]]: the header is
    * read on the driver, so ingest starts no Spark job), .xlsx
    * ([[graft.io.Xlsx]]) and legacy .xls ([[graft.io.Xls]], BIFF8 —
    * round 16) all land as the same all-string frame, so the reference's
    * mixed Excel/CSV storage roots ingest without a pre-conversion step.
    */
  private def readAny(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    // the Excel readers are driver-side java.nio/ZipFile consumers: strip
    // the file: scheme Storage.fetch staging returns (CSV goes through
    // Hadoop's FileSystem and Spark's reader, which take the URI as-is)
    def localPath: String =
      if (lower.startsWith("file:")) new java.net.URI(path).getPath else path
    if (lower.endsWith(".xlsx")) graft.io.Xlsx.read(spark, localPath)
    else if (lower.endsWith(".xls")) graft.io.Xls.read(spark, localPath)
    else graft.io.Csv.read(spark, path)
  }

  final case class RunResult(loadSummary: Seq[LoadStatus],
                             pua: Option[DataFrame],
                             cpa: Option[Cpa.Result])

  /** Discover, load, and run both pipelines off any Hadoop-visible storage
    * root. Outputs are written as stamped single CSVs and XLSX workbooks
    * under `outDir` when it is non-empty (S5-S7 parity). Delegates to the
    * [[Storage]]-trait form — the whole discover→pick→ingest chain runs
    * through the S1 adapter boundary regardless of entry point.
    */
  def run(spark: SparkSession, root: String, outDir: Option[String],
          runDate: LocalDate, dedupOrder: Seq[Column],
          validate: Boolean = true): RunResult =
    run(spark, new Storage.LocalFs(spark, root), outDir, runDate, dedupOrder,
      validate)

  /** [[run]] through an explicit [[Storage]] adapter — the S1 boundary of
    * the reference (authenticate → list → pick → download → ingest,
    * etl_payroll_pipeline_demo.py:9-61,:77-85) with the service swapped
    * for the trait: a SaaS connector implements list/fetch and this
    * composition is unchanged.
    *
    * Compute-once contract: each picked input is fetched and read once, and
    * the four lookups are shared by PUA and CPA; with `outDir` set, each
    * pipeline output is materialized once and that one materialization
    * feeds both its CSV and its XLSX sink.
    *
    * Overlap contract: the lookups and the two certification inputs are
    * read on the calling thread (header reads, no Spark job). The PUA
    * branch — workbook ingest, [[Pua.run]], its two sinks — then runs on a
    * thread created for this call, so it inherits the caller's Spark local
    * properties (job group, job tags, scheduler pool), while the caller runs
    * the CPA branch — [[Cpa.run]] with its staleness job, its two sinks.
    * Both branches always run to the end: a CPA staleness abort still
    * leaves the PUA outputs written. The call returns or throws only after
    * both have finished; when both fail, PUA's exception is thrown with
    * CPA's attached as suppressed. No cache outlives the call either way —
    * the sink pins and CPA's staleness-check pin are released first, so the
    * frames in the [[RunResult]] are lazy plans over the ingested inputs.
    */
  def run(spark: SparkSession, storage: Storage, outDir: Option[String],
          runDate: LocalDate, dedupOrder: Seq[Column],
          validate: Boolean): RunResult = {
    val entries = storage.list()
    val picked: Map[String, Option[Storage.Entry]] =
      inputSpecs.map(s => s.name -> Storage.pickFirst(entries, s.pattern)).toMap
    val summary = inputSpecs.map(s =>
      LoadStatus(s.name, picked(s.name).isDefined, picked(s.name).map(_.path),
        s.used))

    def load(name: String): Option[DataFrame] =
      picked(name).map(e => readAny(spark, storage.fetch(e)))
    val lookups = for {
      tsOrg <- load("ts_org"); tsDept <- load("ts_dept")
      ot <- load("overtime"); teM <- load("te_m")
    } yield (tsOrg, tsDept, ot, teM)
    val certs = for (bw <- load("cert_bw"); mn <- load("cert_mn")) yield (bw, mn)

    // the reference computes each dataset once and writes that one frame as
    // CSV + XLSX (S5 + S6, :438-439): the output is persisted for its two
    // sinks and released after them (both sinks already require dim-scale
    // outputs: coalesce(1) and a driver collect)
    def sink(df: DataFrame, prefix: String): Unit = outDir.foreach { dir =>
      val out = df.persist()
      try {
        Sinks.singleCsv(out,
          s"$dir/${Sinks.stampedName(prefix, runDate, "csv").stripSuffix(".csv")}")
        graft.io.Xlsx.write(out, s"$dir/${Sinks.stampedName(prefix, runDate, "xlsx")}")
      } finally out.unpersist(blocking = true)
    }
    outDir.foreach(new java.io.File(_).mkdirs())

    var puaOutcome: Either[Throwable, Option[DataFrame]] = null
    val puaBranch = new Thread(() => puaOutcome = attempt {
      for {
        (tsOrg, tsDept, ot, teM) <- lookups; pua <- load("pua")
      } yield {
        val out = Pua.run(pua, Pua.Lookups(tsOrg, tsDept, ot, teM), dedupOrder)
        sink(out, "PreTAM_PUA")
        out
      }
    }, "graft-runner-pua")
    puaBranch.setDaemon(true)
    puaBranch.start()

    val cpaOutcome = attempt {
      val cpa = for {
        (tsOrg, tsDept, ot, teM) <- lookups; (bw, mn) <- certs
      } yield Cpa.run(bw, mn, Cpa.Lookups(tsOrg, tsDept, ot, teM),
        runDate, dedupOrder, validate)
      try cpa.foreach(r => sink(r.output, "CPA_Final"))
      finally cpa.foreach(_.release())
      cpa
    }
    puaBranch.join()

    (puaOutcome, cpaOutcome) match {
      case (Right(pua), Right(cpa)) => RunResult(summary, pua, cpa)
      case (Left(pua), Left(cpa)) => pua.addSuppressed(cpa); throw pua
      case (Left(pua), _) => throw pua
      case (_, Left(cpa)) => throw cpa
    }
  }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }
}
