package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Latency samples of one kind, in milliseconds. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms }
  def values: Vector[Double] = synchronized(buf.toVector)
  def size: Int = synchronized(buf.size)
  def pct(p: Double): Double = Samples.pct(values, p)
}

object Samples {
  /** Nearest-rank percentile; a failed operation is recorded as +inf, so
    * it counts as missing every latency bound.
    */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** What one measured window recorded. */
final class Recorder {
  val reads = new Samples
  val steps = new Samples
  val byType = mutable.LinkedHashMap.empty[String, Samples]
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  @volatile var windowS = 0.0
  @volatile var userBytes = 0L
  @volatile var rows = 0L

  def kind(k: String): Samples = synchronized(byType.getOrElseUpdate(k, new Samples))

  /** Run one operation, record its latency in `into`; a throw counts as
    * a failed operation. Returns None on failure.
    */
  def timed[A](into: Samples)(f: => A): Option[A] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val a = f
      into.add((System.nanoTime() - t0) / 1e6)
      Some(a)
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        into.add(Double.PositiveInfinity)
        System.err.println(s"perfbench: operation failed: $e")
        None
    }
  }

  /** Time one part of an operation under its request kind. */
  def timedKind[A](k: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    kind(k).add((System.nanoTime() - t0) / 1e6)
    a
  }

  /** An answer found wrong after it returned. */
  def wrong(what: String): Unit = {
    failed.incrementAndGet()
    System.err.println(s"perfbench: wrong answer: $what")
  }

  /** A correctness check outside the timed window. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    val good = try ok catch {
      case e: Exception =>
        System.err.println(s"perfbench: check raised: $e"); false
    }
    if (!good) wrong(what)
  }
}

/** One benchmark workload: a seeded setup, a closed-loop timed window,
  * and the correctness checks that follow it.
  */
trait Workload {
  /** Traffic parameters, stamped on every result. */
  def params: Seq[(String, Any)]
  /** Create and seed the tables (and index, stream) under `dir`. */
  def setup(spark: SparkSession, dir: String): Unit
  /** One untimed round of the workload's operations, the last part of
    * set-up; its correctness checks count into `rec`.
    */
  def warmUp(rec: Recorder): Unit
  /** Run the closed loop: a fixed amount of work per second asked for,
    * so every run ends with tables of the same shape.
    */
  def run(seconds: Double, rec: Recorder, trace: Trace): Unit
  /** Correctness checks outside the timed window. */
  def check(rec: Recorder): Unit
  /** Stop anything `setup` started. */
  def close(): Unit
  /** Bytes on disk under the workload's table, view and index roots. */
  def diskBytes: Long
  /** Bytes of generated input the engine received so far. */
  def inputBytes: Long
  /** Per-layer numbers only this workload can give. */
  def layers(trace: Trace, rec: Recorder): Map[String, Double]
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0Ms = System.currentTimeMillis()
  /** A progress note on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1fs: $msg")

  def treeBytes(path: String): Long = {
    val p = java.nio.file.Path.of(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally w.close()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = workload match {
      case "ingest"    => new Ingest(seed)
      case "curate"    => new Curate(seed)
      case other       => sys.error(s"unknown workload $other")
    }
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, as a user meets it: from JVM start through session
    // creation, seeding and warm-up, up to the first timed operation.
    val spark = session(cores, work)
    note("session ready")
    wl.setup(spark, s"$work/tables")
    note("seeded")
    val rec = new Recorder
    wl.warmUp(rec)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note("warm")

    // a traced run traces its whole window; its end-to-end numbers are
    // not reported (tracing slows the calls it wraps)
    val trace = new Trace(spark)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) wl.run(seconds, rec, trace)
    else {
      val disk0 = wl.diskBytes
      trace.start()
      wl.run(seconds, rec, trace)
      trace.stop()
      metrics ++= layerMetrics(wl, trace, rec, cores, wl.diskBytes - disk0)
      trace.write(s"$work/spans.jsonl")
    }
    note("measured")
    wl.check(rec)
    note("checked")
    val attempted = rec.attempted.get()
    val failed = rec.failed.get()

    val reads = rec.reads.values
    val steps = rec.steps.values
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "read_p50_ms" -> (Samples.median(reads), "ms"),
      // a closed-loop client's request rate: reads per second spent reading
      "read_ops_per_s" -> (reads.size / (reads.sum / 1000.0), "1/s"),
      "step_p50_ms" -> (Samples.median(steps), "ms"),
      "rows_per_s" -> (rec.rows / rec.windowS, "1/s"),
      "space_amp" -> (wl.diskBytes.toDouble / wl.inputBytes, "ratio"))
    if (!traced) metrics ++= e2e

    val detail = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> cores,
      "spark_version" -> spark.version,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "params" -> wl.params.toMap,
      "read_samples" -> reads.size, "step_samples" -> steps.size,
      "window_s" -> rec.windowS,
      "rss_peak_mb" -> rssPeakMb,
      "read_p90_ms" -> Samples.pct(reads, 0.9),
      "step_p90_ms" -> Samples.pct(steps, 0.9),
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
      "failed_ops_frac" -> failed.toDouble / math.max(1L, attempted))

    wl.close()
    spark.stop()
    println("PERFBENCH " + Json.obj(Seq(
      "correct" -> (failed == 0L),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail.toMap)))
  }

  /** Every per-layer metric; a layer a workload does not drive reads 0. */
  def layerMetrics(wl: Workload, t: Trace, rec: Recorder, cores: Int,
                   bytesWritten: Long)
      : Seq[(String, (Double, String))] = {
    val ops = math.max(1L, t.opCount).toDouble
    def meanMs(name: String): Double = {
      val s = t.named(name)
      if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
    }
    val readBuild = t.named("sources.read_build")
    val tot = t.total
    val generic = Map(
      "spark.jobs_per_op" -> tot.jobs / ops,
      "spark.stages_per_op" -> tot.stages / ops,
      "spark.tasks_per_op" -> tot.tasks / ops,
      "spark.plan_ms_per_op" -> t.planMs / ops,
      "spark.codegen_compile_ms" -> t.codegenCompileMs,
      "spark.codegen_classes" -> t.codegenClasses.toDouble,
      "spark.busy_frac" -> tot.runMs / (t.windowMs * cores),
      "spark.shuffle_bytes_per_op" -> tot.shuffleBytes / ops,
      "spark.spill_bytes" -> tot.spillBytes.toDouble,
      "spark.input_bytes_per_op" -> tot.inputBytes / ops,
      "sources.read_build_ms" -> meanMs("sources.read_build"),
      "sources.probe_jobs" ->
        (if (readBuild.isEmpty) 0.0
         else t.workIn("sources.read_build").jobs.toDouble / readBuild.size),
      "sources.commit_ms" -> meanMs("sources.commit"),
      "sources.sync_ms" -> meanMs("sources.sync"),
      "sources.bytes_written_per_user_byte" ->
        (if (rec.userBytes == 0L) 0.0 else bytesWritten.toDouble / rec.userBytes),
      "operators.build_ms" -> meanMs("operators.build"),
      "pipelines.quality_ms" -> meanMs("pipelines.quality"),
      "pipelines.dedup_ms" -> meanMs("pipelines.dedup"),
      "pipelines.ann_serve_ms" -> meanMs("pipelines.ann_serve"),
      // minus read_p50_ms of the untraced run with the same seed, this
      // is the tracing overhead
      "trace.read_p50_ms" -> Samples.median(rec.reads.values)) ++
      ReadKinds.map(r => s"operators.${r}_p50_ms" ->
        rec.byType.get(r).map(k => Samples.median(k.values)).getOrElse(0.0))
    val all = generic ++ wl.layers(t, rec)
    PerLayer.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }
  }

  /** Request kinds with their own latency metric. */
  val ReadKinds: Seq[String] = Seq("totals", "latest")

  /** The per-layer metric names and units, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.plan_ms_per_op" -> "ms",
    "spark.codegen_compile_ms" -> "ms", "spark.codegen_classes" -> "count",
    "spark.busy_frac" -> "ratio", "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes_per_op" -> "bytes",
    "sources.read_build_ms" -> "ms", "sources.probe_jobs" -> "count",
    "sources.commit_ms" -> "ms", "sources.sync_ms" -> "ms",
    "sources.bytes_written_per_user_byte" -> "ratio",
    "sources.data_dirs" -> "count",
    "sources.insert_ignore_drop_ratio" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms", "streaming.queue_ms" -> "ms",
    "streaming.batches_per_step" -> "count",
    "streaming.refresh_full_share" -> "ratio") ++
    ReadKinds.map(r => s"operators.${r}_p50_ms" -> "ms") ++ Seq(
    "operators.build_ms" -> "ms",
    "pipelines.quality_ms" -> "ms", "pipelines.dedup_ms" -> "ms",
    "pipelines.ann_serve_ms" -> "ms",
    "pipelines.dedup_survivor_ratio" -> "ratio",
    "pipelines.ann_recall_at_10" -> "ratio",
    "caches.active_after_op" -> "count",
    "trace.read_p50_ms" -> "ms")
}
