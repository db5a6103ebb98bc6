package graft.io

import java.nio.file.Files

import graft.{JobCounter, SparkSpec}

/** [[Storage.LocalFs]]'s driver-side listing against the [[Sources.catalog]]
  * scan it replaces on the pick path: the same entries over a tree with
  * nested directories, URI-special names and every kind of name Spark's
  * file index hides, and no Spark job.
  */
class StorageSpec extends SparkSpec {

  private lazy val root: java.io.File = {
    val dir = Files.createTempDirectory("graft_storage").toFile
    def file(rel: String, text: String = "x"): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      Files.writeString(f.toPath, text)
    }
    file("PUA_2026.xlsx", "aaa")
    file("nested/deeper/cert_BW.csv", "bbbb")
    file("nested/with space.csv")
    file("hash#name.csv")
    file("literal%20name.csv")
    file("k=2/part.csv")
    file("_k=1/part.csv")
    file("_metadata_dir/inner.csv")
    file("_common_metadata/inner.csv")
    file(".dir/hidden.csv")
    file("_tmp/staged.csv")
    file("_SUCCESS")
    file(".x.crc")
    file("_metadata")
    file("nested/upload.csv._COPYING_")
    file("empty.csv", "")
    dir
  }

  private def catalogEntries: Seq[Storage.Entry] =
    Sources.catalog(spark, root.getAbsolutePath)
      .select("file_name", "path", "size", "modified_at")
      .collect()
      .map(r => Storage.Entry(r.getString(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime))
      .toSeq.sortBy(_.path)

  "Storage.LocalFs.list" should "return exactly the entries of the catalog scan" in {
    val listed = new Storage.LocalFs(spark, root.getAbsolutePath).list().sortBy(_.path)
    listed shouldBe catalogEntries
    // the data files only: hidden names are skipped at every level, `_*`
    // and `.*` files (even under a kept `_metadata*` name) and empty files
    // are not data
    listed.map(_.path.stripPrefix(s"file:${root.getAbsolutePath}/")) should
      contain theSameElementsAs Seq("PUA_2026.xlsx", "nested/deeper/cert_BW.csv",
        "nested/with space.csv", "hash#name.csv", "literal%20name.csv",
        "k=2/part.csv", "_k=1/part.csv", "_metadata_dir/inner.csv",
        "_common_metadata/inner.csv")
    listed.find(_.fileName == "PUA_2026.xlsx").get.size shouldBe 3L
  }

  it should "list the same entries for a root given as a file: URI" in {
    new Storage.LocalFs(spark, root.toURI.toString).list().sortBy(_.path) shouldBe
      catalogEntries
  }

  it should "start no Spark job" in {
    val (entries, jobs) =
      JobCounter(spark)(new Storage.LocalFs(spark, root.getAbsolutePath).list())
    entries should not be empty
    jobs shouldBe 0
  }
}
