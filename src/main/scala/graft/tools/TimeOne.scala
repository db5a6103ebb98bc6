package graft.tools

/** Per-query timer: one `count()` per named registry query (all of them
  * when none is named) in one warm local[32] session, printing wall time
  * and row count. A query that throws prints `rows=-1`.
  *
  * Usage: `sbt "runMain graft.tools.TimeOne <sfDir> [query ...] [-Dk=v ...]"`.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    // -Dk=v args become system properties (sbt's `run` forks with fixed
    // javaOptions, so command-line -D flags don't otherwise reach the app —
    // this is how ad-hoc runs pin regime levers like
    // graft.graph.localEdgesMax)
    val (propArgs, rest) = args.partition(_.startsWith("-D"))
    propArgs.foreach { a =>
      val kv = a.stripPrefix("-D").split("=", 2)
      if (kv.length == 2) sys.props(kv(0)) = kv(1)
    }
    val sfDir = rest(0)
    val spark = LocalSession(cores = 32, logLevel = "ERROR")
    val names = if (rest.length > 1) rest.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val t0 = System.nanoTime()
      val c = try graft.SparkEntry.queries(n)(spark, sfDir).count() catch { case e: Throwable => -1L }
      println(f"[time] $n%-28s ${(System.nanoTime()-t0)/1e9}%8.2fs rows=$c")
    }
    spark.stop()
  }
}
