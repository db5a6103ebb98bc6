package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.LocalSession(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // A failed query must be LOUD: round 9 lost 5 queries silently because a
    // stderr line was the only signal and the driver's correctness JSON just
    // omitted the missing outputs. Collect failures, emit a machine-readable
    // line, and exit nonzero so no harness can mistake partial for green.
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // Local-iteration subset: SPARK_GRAFT_ONLY=q_a,q_b runs just those
    // queries (the driver never sets it — full registry by default).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (n, _) => s(n) })
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      val line = failed.map { case (n, m) => s"${q(n)}: ${q(m)}" }
        .mkString("{\"verify_failed\": {", ",", "}}")
      println(line)
      Files.writeString(Paths.get(s"$outDir/verify_failed.json"), line)
      spark.stop()
      sys.exit(1)
    }
    println(s"""{"verify_ok": ${selected.size}}""")
    spark.stop()
  }
}
