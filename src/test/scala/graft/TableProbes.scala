package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.Assertions._

import graft.sources.AtomicTable

/** Probes for the table format's read path: how many Spark jobs a
  * piece of code submits, how many classes Spark compiles for it, and
  * whether a table reads the same through its `_schema` sidecars as
  * through footer inference.
  */
object TableProbes {

  /** Run `body` and count the Spark jobs it submitted from this
    * thread. Jobs are tagged by a fresh job group; a fence job in a
    * second group runs afterwards, and since listener events arrive in
    * order, seeing the fence's start means every earlier start was
    * seen too.
    */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"probe-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(started.put)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      val out = body
      sc.setJobGroup(fence, "fence")
      sc.parallelize(Seq(1), 1).count()
      var jobs = 0
      var done = false
      while (!done) {
        val g = started.poll(60, TimeUnit.SECONDS)
        assert(g != null, "fence job start never reached the listener")
        if (g == fence) done = true
        else if (g == group) jobs += 1
      }
      (out, jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` and count the classes Spark's code generator compiled
    * meanwhile (a hit in its compiled-class cache counts none). The
    * counter is JVM-wide: nothing else may plan concurrently.
    */
  def compilesDuring[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** The parquet scans `df` plans (before adaptive execution). */
  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  /** Assert `tbl` reads exactly as it would by footer inference: same
    * schema (column order, types, nullability) and same rows as a copy
    * of the table with every `_schema` sidecar deleted — which is also
    * how a table committed before the sidecars existed looks. Every
    * non-empty data dir must carry a sidecar, so the comparison is
    * never inference against inference.
    */
  def assertReadsAsInferred(tbl: AtomicTable): Unit = {
    val src = Path.of(tbl.root)
    val copy = Files.createTempDirectory("graft_no_sidecars")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val to = copy.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    val dataDirs = Option(src.resolve("data").toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => Option(d.listFiles()).exists(
        _.exists(_.getName.startsWith(s"${tbl.partCol}="))))
    assert(dataDirs.nonEmpty, s"no data dirs under ${tbl.root}")
    dataDirs.foreach(d =>
      assert(new java.io.File(d, "_schema").isFile, s"$d has no _schema"))
    Files.walk(copy).iterator().asScala.toSeq
      .filter(_.getFileName.toString == "_schema")
      .foreach(Files.delete)
    val recorded = tbl.read()
    val inferred = tbl.copy(root = copy.toString).read()
    assert(recorded.schema === inferred.schema)
    def rows(df: DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(recorded) === rows(inferred))
  }
}
