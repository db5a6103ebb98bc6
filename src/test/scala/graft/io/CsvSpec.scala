package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.{JobCounter, SparkSpec}

/** [[Csv.read]] against Spark's own headered reader, which it replaces on
  * the ingest path: the same schema and rows on the header shapes Spark
  * handles specially, with a schema step that starts no Spark job.
  */
class CsvSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_csv").toFile

  private def write(name: String, text: String): String = {
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
    f.getAbsolutePath
  }

  private def sparkRead(path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))

  private def sameAsSpark(path: String): DataFrame = {
    val (df, jobs) = JobCounter(spark)(Csv.read(spark, path))
    jobs shouldBe 0
    val want = sparkRead(path)
    df.schema shouldBe want.schema
    rows(df) shouldBe rows(want)
    rows(df) should not be empty
    df
  }

  // (file, content, the column names Spark's header rules give)
  private val fixtures: Seq[(String, String, Seq[String])] = Seq(
    ("quoted_comma.csv", "\"last, first\",id\n\"Doe, J\",1\n\"Roe, K\",2\n",
      Seq("last, first", "id")),
    ("empty_name.csv", "a,,c\n1,2,3\n4,5,6\n", Seq("a", "_c1", "c")),
    ("duplicate_names.csv", "id,name,ID,name\n1,x,2,y\n3,z,4,w\n",
      Seq("id0", "name1", "ID2", "name3")),
    ("bom.csv", "\uFEFFUIN,Pay ID\n100,BW\n200,MN\n", Seq("UIN", "Pay ID")),
    ("leading_blanks.csv", "\n   \n\nUIN,Job\n100,101\n\n200,201\n", Seq("UIN", "Job")),
    ("crlf.csv", "UIN,Job\r\n100,101\r\n200,201\r\n", Seq("UIN", "Job")))

  "Csv.read" should "match Spark's headered reader and start no job" in {
    fixtures.foreach { case (name, text, columns) =>
      withClue(s"$name: ") {
        sameAsSpark(write(name, text)).columns.toSeq shouldBe columns
      }
    }
  }

  it should "read a gzip-compressed file through its codec" in {
    val f = new java.io.File(dir, "cert.csv.gz")
    val gz = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    try gz.write("\uFEFF\nUIN,Job\r\n100,101\r\n200,201\r\n".getBytes(StandardCharsets.UTF_8))
    finally gz.close()
    Csv.headerLine(spark, f.getAbsolutePath) shouldBe Some("UIN,Job")
    sameAsSpark(f.getAbsolutePath).columns shouldBe Array("UIN", "Job")
  }

  it should "fall back to Spark's answer for a file with no header line" in {
    val path = write("blank.csv", "\n  \n")
    Csv.headerLine(spark, path) shouldBe None
    val df = Csv.read(spark, path)
    df.schema shouldBe sparkRead(path).schema
    df.count() shouldBe 0
  }
}
