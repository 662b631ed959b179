package graft

/** Run named SparkEntry queries against a data dir and PRINT the rows —
  * the measurement-harness runner for queries whose ANSWER is the
  * deliverable (recall grades, drift diagnostics) at scales the timed
  * bench never visits. Usage:
  *   runMain graft.ShowQuery <sfDir> <query...>
  * Driver heap for decade-2 runs comes from the JVM flags (the sf10
  * sampled ER grade needs -Xmx64g; see BASELINE.md).
  */
object ShowQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShowQuery <sfDir> <query...>")
    val sfDir = args(0)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"=== $name @ $sfDir ===")
      df.show(50, truncate = false)
      println(f"[${(System.nanoTime() - t0) / 1e9}%.1f s]")
      Caches.releaseAll()
    }
    spark.stop()
  }
}
