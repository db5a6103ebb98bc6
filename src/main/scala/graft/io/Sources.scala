package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources + file catalog (SURVEY §2.1 S2-S4).
  *
  * The reference walks a Box folder tree into a file-catalog DataFrame
  * (etl_payroll_pipeline_demo.py:40-61,:67-74,:110-117) and then regex-picks
  * inputs from it. Storage here is any Hadoop-visible filesystem; Box/Excel
  * are adapter-boundary concerns (SURVEY §7.5), not engine core.
  */
object Sources {

  /** Read one named testdata table (`<dir>/<name>.parquet`).
    *
    * The resolved relation is memoized PER (session, path) — the catalog
    * behaviour `spark.table` gives over a metastore, hand-rolled for bare
    * paths. Measured round-20 (OPTIMIZATION_r20.md, "Table resolution
    * memo"): every
    * `spark.read.parquet` costs ~90 ms of warm driver time (footer
    * schema read + relation construction), and the 142-query registry
    * re-resolved each table on every query build of every bench pass —
    * tens of seconds per run of pure re-resolution (guide §5: the driver
    * should do almost no data work). The memo holds the UNEXECUTED
    * logical relation only — schema + file index, no rows, no results;
    * every action still computes from the parquet files. Keyed weakly by
    * session (dead sessions GC their entries) and by path; sound because
    * source tables are immutable within a session — the engine never
    * writes into a table dir it reads through here (self-joins of the
    * shared relation are what DeduplicateRelations exists for).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    pathTable(spark, s"$dir/$name.parquet")

  /** [[table]]'s memo for non-catalog parquet paths (the per-JVM index
    * stores: BM25 postings, minhash signatures). Same unexecuted-relation
    * semantics; the CALLER asserts the path is write-once-then-read for
    * the session's lifetime — never re-resolve through this for a path
    * that is rewritten.
    */
  def pathTable(spark: SparkSession, path: String): DataFrame = {
    val perSession = tableMemo.synchronized {
      var m = tableMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        tableMemo.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate(path, spark.read.parquet(path))
  }

  private val tableMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, DataFrame]]

  /** Epoch-micros BIGINT view of an event-time column, adaptive to the
    * physical type the testdata generator has used across rounds:
    *
    *  - INT64 epoch-nanos, surfaced as BIGINT via
    *    `spark.sql.legacy.parquet.nanosAsLong` (rounds 1-8): `ts div 1000`;
    *  - parquet TIMESTAMP_MICROS with isAdjustedToUTC=false, surfaced as
    *    TIMESTAMP_NTZ (round 9+): wall-clock interpreted as UTC;
    *  - plain TIMESTAMP (isAdjustedToUTC=true), for completeness.
    *
    * Both directions are handled so a generator change can never again break
    * analysis silently. The NTZ→timestamp cast interprets the wall clock in
    * the session time zone — every engine session pins
    * `spark.sql.session.timeZone=UTC` (Verify/Bench/LocalSession/SparkSpec),
    * which matches the DuckDB oracle's `epoch_ns(ts)` view of the same file.
    */
  def eventTsMicros(df: DataFrame, colName: String = "ts"): org.apache.spark.sql.Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"`$colName` div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(colName).cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(colName))
      case other => throw new IllegalArgumentException(
        s"unsupported event-time physical type for `$colName`: $other " +
          "(expected BIGINT epoch-nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  /** Timestamp view of the same column — see [[eventTsMicros]] for the
    * type-adaptivity contract. DuckDB equivalent on every physical variant:
    * `make_timestamp(epoch_ns(ts) // 1000)`.
    */
  def eventTs(df: DataFrame, colName: String = "ts"): org.apache.spark.sql.Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"`$colName` div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(colName).cast(org.apache.spark.sql.types.TimestampType)
      case org.apache.spark.sql.types.TimestampType =>
        col(colName)
      case other => throw new IllegalArgumentException(
        s"unsupported event-time physical type for `$colName`: $other " +
          "(expected BIGINT epoch-nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  /** Recursive file catalog (S2): one row per file with name, path, extension,
    * size, modification time — the engine-side equivalent of
    * `list_files_recursive` (reference etl_payroll_pipeline_demo.py:40-61).
    * Uses the binaryFile source's metadata columns; `content` is never
    * selected, so only footers/listings are touched.
    */
  def catalog(spark: SparkSession, root: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("path"),
        lower(regexp_extract(col("path"), "(\\.[^./]+)$", 1)).as("extension"),
        col("length").as("size"),
        col("modificationTime").as("modified_at"))

  /** Headered CSV with an explicit schema (S4 — inference is nondeterministic
    * at scale; SURVEY §1.4 mandates explicit StructTypes).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines with an explicit schema (same no-inference rule as [[csv]]:
    * schema inference reads the data twice and is corpus-dependent at
    * scale). Malformed lines land in `_corrupt_record` when the schema
    * declares it, instead of failing the job (PERMISSIVE).
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** ORC source — columnar like parquet (predicate pushdown, column
    * pruning, vectorized read all apply), the interchange format for
    * Hive-ecosystem corpora. Schema is read from the ORC footer (columnar
    * self-description, not data inference — the no-inference rule targets
    * row formats).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Line-oriented text corpus: one row per line, `value` string column —
    * the rawest ingest shape (one doc per line). `wholetext=true` flips to
    * one row per FILE (doc-per-file corpora); whole files are
    * unsplittable, so pair it with many small-to-medium files, never one
    * giant file.
    */
  def text(spark: SparkSession, path: String,
           wholetext: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholetext.toString)
      .option("recursiveFileLookup", "true").text(path)
}
