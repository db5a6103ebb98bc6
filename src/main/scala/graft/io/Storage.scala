package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Remote-storage adapter boundary — the S1 seam. The reference
  * authenticates to a SaaS drive, recursively lists a folder tree, and
  * downloads each picked file to local staging before ingest
  * (etl_payroll_pipeline_demo.py:9-61). The engine models exactly that
  * surface and nothing more: LIST the tree (names + metadata) and FETCH an
  * entry to a Spark-readable URI. Everything downstream — the regex pick,
  * CSV/XLSX ingest, both pipelines, the stamped sinks — is
  * storage-agnostic, so a real connector (OAuth client + list endpoint +
  * content download) slots in behind this trait without touching pipeline
  * code. No proprietary service is named or assumed; the two shipped
  * implementations are the local filesystem (production-on-cluster: any
  * Hadoop-visible FS) and an in-memory double (tests, and the staging
  * template a download-based connector would follow).
  */
trait Storage {

  /** Every file under the storage root, recursive — the
    * `list_files_recursive` surface. Driver-side by design: this models a
    * SaaS drive's listing API (thousands of entries), not a data lake;
    * lake-scale catalogs stay on the distributed [[Sources.catalog]].
    */
  def list(): Seq[Storage.Entry]

  /** A Spark-readable path/URI for the entry's CONTENT — remote
    * implementations download/stage here (the reference's
    * `download_file_to` step); local ones hand back the path itself.
    */
  def fetch(entry: Storage.Entry): String
}

object Storage {

  /** One listed file: leaf name (what the pick regexes match), full path
    * (the deterministic pick order + fetch key), size and mtime (the V1
    * load-summary metadata).
    */
  final case class Entry(fileName: String, path: String, size: Long,
                         modifiedAtMs: Long)

  /** First-match pick over a listing (O1): regex FIND on the leaf name
    * (the `rlike` contains-semantics of the catalog form), deterministic
    * order by full path. The reference trusts SaaS listing order
    * (:77-85); ordering explicitly is the documented difference.
    */
  def pickFirst(entries: Seq[Entry], pattern: String): Option[Entry] = {
    val p = java.util.regex.Pattern.compile(pattern)
    entries.filter(e => p.matcher(e.fileName).find())
      .sortBy(_.path).headOption
  }

  /** Any Hadoop-visible filesystem rooted at `root` (a directory path, not
    * a glob): list by walking the Hadoop `FileSystem` on the driver with the
    * session's Hadoop conf — no Spark job — and return exactly the files the
    * [[Sources.catalog]] scan returns; fetch in place (Spark reads the
    * original path — no staging copy).
    *
    * Spark's file index skips a hidden name at every level of the walk
    * (`_*` unless it contains `=`, `.*`, `*._COPYING_`; `_metadata*` and
    * `_common_metadata*` are kept), and its scan then keeps only non-empty
    * data files, which drops every `_*` and `.*` file name even where the
    * walk kept it.
    */
  final class LocalFs(spark: SparkSession, root: String) extends Storage {
    override def list(): Seq[Entry] = {
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      def walk(dir: Path): Seq[FileStatus] =
        fs.listStatus(dir).toSeq
          .filterNot(s => LocalFs.hidden(s.getPath.getName))
          .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
      walk(fs.makeQualified(rootPath))
        .filter(s => s.getLen > 0 && LocalFs.dataFile(s.getPath.getName))
        .map { s =>
          val path = s.getPath.toString
          Entry(path.substring(path.lastIndexOf('/') + 1), path, s.getLen,
            s.getModificationTime)
        }
    }
    override def fetch(entry: Entry): String = entry.path
  }

  private object LocalFs {
    /** Spark's `HadoopFSUtils.shouldFilterOutPathName`. */
    def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

    /** Spark's `PartitioningAwareFileIndex.isDataPath`. */
    def dataFile(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
  }

  /** In-memory double: `files` maps relative paths to raw bytes; fetch
    * stages the bytes to a temp file exactly once (memoized) — the shape a
    * download-based connector follows (list from an API, download to
    * local staging, hand Spark the staged path).
    */
  final class InMemory(files: Map[String, Array[Byte]],
                       modifiedAtMs: Long = 0L) extends Storage {
    private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def list(): Seq[Entry] =
      files.toSeq.sortBy(_._1).map { case (path, bytes) =>
        Entry(path.split('/').last, path, bytes.length.toLong, modifiedAtMs)
      }
    override def fetch(entry: Entry): String =
      staged.computeIfAbsent(entry.path, { _ =>
        val suffix = entry.fileName.reverse.takeWhile(_ != '.').reverse match {
          case s if s.nonEmpty && s != entry.fileName => "." + s
          case _ => ""
        }
        val f = java.nio.file.Files.createTempFile("graft_storage_", suffix)
        java.nio.file.Files.write(f, files(entry.path))
        f.toFile.deleteOnExit()
        f.toString
      })
  }
}
