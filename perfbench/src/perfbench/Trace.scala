package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `op` groups the spans
  * of one top-level operation; `parent` is the enclosing span (0 at the
  * top).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (or, for the totals, to the whole
  * traced window).
  */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var shuffleBytes = 0L; var inputBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's tracer. Off, every method is a plain call. On, it
  * keeps spans in memory, tags every Spark job with the innermost open
  * span through a thread-local job property, and counts jobs, stages,
  * tasks and task metrics per span from its own listener. Planning time
  * comes from each query's `QueryPlanningTracker`, codegen from
  * Spark's codegen counters, stream batches from the stream's progress
  * events.
  */
final class Trace(spark: SparkSession) {
  import Trace.SpanProp

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val curOp = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val ops = new AtomicLong(0L)

  private val lock = new Object
  private val bySpan = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]
  val total = new Work
  private var planNs = 0L
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      total.jobs += 1; work(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val s = stageSpan.getOrElse(e.stageInfo.stageId, 0L)
        total.stages += 1; work(s).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stageSpan.getOrElse(e.stageId, 0L)
      val m = e.taskMetrics
      for (w <- Seq(total, work(s))) {
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.inputBytes += m.inputMetrics.bytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ph = qe.tracker.phases
      val ns = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
      lock.synchronized { planNs += ns }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var codegenNs0 = 0L
  private var codegenN0 = 0L
  private var startNs = 0L
  private var stopNs = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegenNs0 = Trace.codegenNs
    codegenN0 = Trace.codegenClasses
    startNs = System.nanoTime()
    on = true
  }

  /** Stop recording and wait until every event posted so far has been
    * delivered to the listeners.
    */
  def stop(): Unit = {
    on = false
    stopNs = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def windowMs: Double = (stopNs - startNs) / 1e6
  def codegenCompileMs: Double = (Trace.codegenNs - codegenNs0) / 1e6
  def codegenClasses: Long = Trace.codegenClasses - codegenN0
  def planMs: Double = lock.synchronized(planNs / 1e6)
  def opCount: Long = ops.get()

  /** A top-level operation: its spans share one op id. */
  def op[A](body: => A): A =
    if (!on) body
    else {
      curOp.set(ops.incrementAndGet())
      try body finally curOp.set(0L)
    }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(SpanProp,
          if (parent == 0L) null else parent.toString)
        spans.add(Span(id, parent, curOp.get(), name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spark work tagged with any span of this name (jobs run by a child
    * span are the child's).
    */
  def workIn(name: String): Work = lock.synchronized {
    val w = new Work
    named(name).flatMap(s => bySpan.get(s.id)).foreach { x =>
      w.jobs += x.jobs; w.stages += x.stages; w.tasks += x.tasks
      w.runMs += x.runMs; w.shuffleBytes += x.shuffleBytes
      w.inputBytes += x.inputBytes; w.spillBytes += x.spillBytes
    }
    w
  }

  /** Write every span as one JSON line, with its self time: its duration
    * minus the part of it its child spans cover.
    */
  def write(path: String): Unit = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    def selfNs(s: Span): Long = {
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          val lo = math.max(a, end)
          (if (b > lo) sum + (b - lo) else sum, math.max(end, b))
        }._1
      s.endNs - s.startNs - covered
    }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val w = lock.synchronized(bySpan.get(s.id))
      out.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s),
        "jobs" -> w.map(_.jobs).getOrElse(0L),
        "tasks" -> w.map(_.tasks).getOrElse(0L))))
    } finally out.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
