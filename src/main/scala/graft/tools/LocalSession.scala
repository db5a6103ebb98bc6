package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the dev mains (Smoke, PipelineDemo,
  * Explain, TimeOne, SchemaDump, ScaleGen, WriteAudit, BenchWarm,
  * RecallReport, PqClusteredRecall, TwsProbe) and perfbench's harness —
  * one place for the UTC/nanosAsLong/partition settings.
  */
object LocalSession {
  def apply(cores: Int = 4, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // one shuffle partition per core: right for the test scale factors
      // (SCALE.md, "Shuffle-parallelism sweep at 100×", for larger data)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The engine's typed aggregates (top_k_by, mrl_quantiles,
      // misra_gries) have BOUNDED per-group buffers by design, so the
      // ObjectHashAggregate sort-based fallback (default: 128 distinct
      // keys per task!) only costs — measured 5.4s -> 0.5s on the
      // 100x top-k-per-group (SCALE.md round 10, "ObjectHashAggregate
      // sort-based fallback").
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
