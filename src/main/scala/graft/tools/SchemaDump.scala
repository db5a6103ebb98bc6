package graft.tools

/** Prints the sf0.01 testdata table schemas in the literal form of
  * `TestdataDriftSpec`'s baseline map, to regenerate it after a deliberate
  * testdata change. Usage: `sbt "runMain graft.tools.SchemaDump"`.
  */
object SchemaDump {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(cores = 2, logLevel = "ERROR")
    Seq("region","nation","customer","supplier","part","orders","lineitem",
        "events","documents","embeddings").foreach { t =>
      val fs = spark.read.parquet(s"/root/testdata/sf0.01/$t.parquet")
        .schema.fields.map(f => s""""${f.name}" -> "${f.dataType.simpleString}"""")
      println(s""""$t" -> Seq(${fs.mkString(", ")}),""")
    }
    spark.stop()
  }
}
