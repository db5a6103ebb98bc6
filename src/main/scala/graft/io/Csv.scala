package graft.io

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headered, all-string CSV source (`header=true`, no type inference) whose
  * schema step runs no Spark job.
  *
  * `spark.read.option("header", "true").csv(path)` starts a `head` job on
  * the file just to learn the column names. Here the driver reads the
  * first non-blank line through the Hadoop `FileSystem` API (decompressed
  * by the codec the file's suffix names, e.g. `.csv.gz`, and without a
  * leading UTF-8 BOM, like Hadoop's line reader), and Spark's own CSV
  * reader turns that one in-memory line into the schema — so Spark's
  * header rules still apply: quoting, `_c<i>` for empty names, index
  * suffixes for duplicate names. The data is then read with that schema
  * and `header=true`, which skips the header line exactly as the
  * schema-inferring read does.
  */
object Csv {

  /** Same rows and schema as `spark.read.option("header", "true")
    * .option("inferSchema", "false").csv(path)` for a single file.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    headerLine(spark, path) match {
      case Some(line) =>
        import spark.implicits._
        val schema = spark.read.option("header", "true")
          .csv(Seq(line).toDS()).schema
        spark.read.schema(schema).option("header", "true").csv(path)
      // no header at all (empty or all-blank file): the schema-inferring
      // read's own answer, an empty frame with no columns
      case None =>
        spark.read.option("header", "true").option("inferSchema", "false").csv(path)
    }

  /** The file's first line that is not blank after trimming (Spark's own
    * header pick), or None when there is none.
    */
  def headerLine(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val raw = p.getFileSystem(conf).open(p)
    val codec = new CompressionCodecFactory(conf).getCodec(p)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      lines.nextOption().map(_.stripPrefix("\uFEFF")).iterator.concat(lines)
        .find(_.trim.nonEmpty)
    } finally reader.close()
  }
}
