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
  * Excel inputs arrive pre-converted to CSV at the adapter boundary; the
  * first-match pick orders by path explicitly instead of relying on listing
  * order; the run date is injected.
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
    * Compute-once contract: each picked input is fetched and read once and
    * shared by PUA and CPA; with `outDir` set, each pipeline output is
    * materialized once and that one materialization feeds both its CSV and
    * its XLSX sink. No cache outlives the call — the sink pins and CPA's
    * staleness-check pin are released before it returns, so the frames in
    * the [[RunResult]] are lazy plans over the ingested inputs.
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

    // one fetch and one read per picked input: the four lookups feed both
    // pipelines, and each pipeline's plan reuses the same ingested frame
    val loaded = scala.collection.mutable.Map.empty[String, Option[DataFrame]]
    def load(name: String): Option[DataFrame] =
      loaded.getOrElseUpdate(name,
        picked(name).map(e => readAny(spark, storage.fetch(e))))

    val puaOut = for {
      pua <- load("pua"); tsOrg <- load("ts_org"); tsDept <- load("ts_dept")
      ot <- load("overtime"); teM <- load("te_m")
    } yield Pua.run(pua, Pua.Lookups(tsOrg, tsDept, ot, teM), dedupOrder)

    val cpaOut = for {
      bw <- load("cert_bw"); mn <- load("cert_mn")
      tsOrg <- load("ts_org"); tsDept <- load("ts_dept")
      ot <- load("overtime"); teM <- load("te_m")
    } yield Cpa.run(bw, mn, Cpa.Lookups(tsOrg, tsDept, ot, teM),
      runDate, dedupOrder, validate)

    // the reference computes each dataset once and writes that one frame as
    // CSV + XLSX (S5 + S6, :438-439): the output is persisted for its two
    // sinks and released after them (both sinks already require dim-scale
    // outputs: coalesce(1) and a driver collect)
    def sink(df: DataFrame, dir: String, prefix: String): Unit = {
      val out = df.persist()
      try {
        Sinks.singleCsv(out,
          s"$dir/${Sinks.stampedName(prefix, runDate, "csv").stripSuffix(".csv")}")
        graft.io.Xlsx.write(out, s"$dir/${Sinks.stampedName(prefix, runDate, "xlsx")}")
      } finally out.unpersist(blocking = true)
    }
    try outDir.foreach { dir =>
      new java.io.File(dir).mkdirs()
      puaOut.foreach(sink(_, dir, "PreTAM_PUA"))
      cpaOut.foreach(r => sink(r.output, dir, "CPA_Final"))
    } finally cpaOut.foreach(_.release())
    RunResult(summary, puaOut, cpaOut)
  }
}
