package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for every suite (sbt forks a single test JVM;
  * re-creating sessions per suite dominates test wall-clock otherwise).
  */
object TestSpark {

  /** Stop every still-active streaming query (their micro-batch
    * threads submit jobs asynchronously), then wait until no job is
    * running. Fails loudly if jobs are still running after a minute:
    * silently moving on would hand the race to the next suite or to
    * the JVM's shutdown.
    */
  private[graft] def quiesce(): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop()
      catch { case _: Throwable => () }
    }
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (tracker.getActiveJobIds().nonEmpty) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("Spark jobs still running a " +
          s"minute after the streams stopped: " +
          tracker.getActiveJobIds().mkString(", "))
      Thread.sleep(20)
    }
  }

  /** End-of-run backstop behind [[StopsStreams]]: quiesce, then stop
    * the session. Without an orderly stop the JVM's shutdown hook stops
    * the scheduler while a leftover stream's task is in flight, and the
    * task's result lands on TaskResultGetter's already-terminated pool
    * — a RejectedExecutionException AFTER all suites passed. Registered
    * on Hadoop's ShutdownHookManager at priority 100 — ABOVE
    * SparkContext's own stop hook (priority 50) in the same manager, so
    * ordering is guaranteed, unlike a raw Runtime hook which would race
    * Spark's.
    */
  private def shutdown(): Unit = {
    try quiesce()
    catch { case _: Throwable => () }
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

/** For suites that start streams or background jobs: when the suite
  * ends, its queries are stopped and its jobs drained inside the test
  * lifecycle (see [[TestSpark.quiesce]]), so nothing is in flight when
  * the next suite or the JVM's shutdown begins.
  */
trait StopsStreams extends BeforeAndAfterAll { this: Suite =>
  override def afterAll(): Unit =
    try TestSpark.quiesce() finally super.afterAll()
}
