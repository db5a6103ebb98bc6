package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session builder: `graft.Bench`, `graft.Verify`, the test
  * suite's shared session (`SparkSpec`), the dev mains (Smoke,
  * PipelineDemo, Explain, TimeOne, SchemaDump, ScaleGen, WriteAudit,
  * BenchWarm, RecallReport, PqClusteredRecall, TwsProbe) and perfbench's
  * harness all build through it, so every session runs with the same
  * settings and the same optimizer rules.
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
      // Generator drift guard: events.ts has been INT64 epoch-nanos (rounds
      // 1-8; Spark rejects TIMESTAMP(NANOS) without nanosAsLong) and
      // TIMESTAMP_MICROS (round 9+; nanosAsLong is then inert). Keep the
      // config AND read adaptively (graft.io.Sources.eventTs inspects the
      // arrived type) so either generator output analyzes.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The engine's typed aggregates (top_k_by, mrl_quantiles,
      // misra_gries) have BOUNDED per-group buffers by design, so the
      // ObjectHashAggregate sort-based fallback (default: 128 distinct
      // keys per task!) only costs — measured 5.4s -> 0.5s on the
      // 100x top-k-per-group (SCALE.md round 10, "ObjectHashAggregate
      // sort-based fallback").
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
      // One pass over the 142-query registry generates 1 421 classes at
      // sf0.01; Spark's default cache of 100 thrashes on that working set
      // and compiles ~1 800 classes again every warm pass (SCALE.md,
      // "Codegen cache and one-task root sorts"). A static conf: it is read
      // once, when the JVM generates its first class.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.OneTaskSort.install(spark)
    spark
  }
}
