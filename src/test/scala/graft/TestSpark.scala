package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks a single test JVM;
  * re-creating sessions per suite dominates test wall-clock otherwise).
  */
object TestSpark {

  /** Orderly end-of-run teardown: stop any still-active streaming
    * query (their micro-batch threads submit jobs asynchronously),
    * then the session. Without this the JVM's shutdown hook stops the
    * scheduler while a leftover stream's task is in flight, and the
    * task's result lands on TaskResultGetter's already-terminated
    * pool — a RejectedExecutionException AFTER all suites passed,
    * which turned round 17's `sbt test` exit code red on a teardown
    * race. Registered on Hadoop's ShutdownHookManager at priority 100
    * — ABOVE SparkContext's own stop hook (priority 50) in the same
    * manager, so ordering is guaranteed, unlike a raw Runtime hook
    * which would race Spark's.
    */
  private def shutdown(): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop()
      catch { case _: Throwable => () }
    }
    spark.stop()
  }

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable { override def run(): Unit = shutdown() }, 100)
    s
  }
}
