package graft.sources

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path,
  SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive planning mode for maintenance commits (guide §2:
  * partitioning/planning should follow DATA SIZE, not a constant).
  *
  * AQE buys runtime re-optimization — partition coalescing, skew
  * splits, join rewrites — by materializing every exchange as its own
  * query stage: one extra job submission plus a driver re-optimization
  * pass PER SHUFFLE. On a multi-GB shuffle that overhead is noise; on
  * the KB-to-MB batches the table/index maintenance verbs commit
  * (a CDC window, a tombstone batch, one micro-batch's delta shard),
  * the per-stage round-trips dominate the verb's wall clock while AQE
  * has nothing to re-optimize — every shuffle is already a handful of
  * in-memory rows. Measured on st19_cdc_stream's heaviest tick at
  * sf0.1: 31.3 s with AQE on vs 16.9 s off, identical answers.
  *
  * [[withTinyPlan]] therefore disables AQE around a verb's plan
  * executions ONLY when the bytes the verb can possibly touch are
  * provably under [[MinBytes]] (256 MB): the on-disk size of the
  * table or index tree it reads (short-circuit-walked, so a 100 TB
  * tree stops at the cap instead of listing it) plus Catalyst's size
  * estimate of the caller's batch plan. Above the threshold nothing
  * changes — big commits keep AQE and all its protections, so this is
  * a small-input fast path, not a local-mode tuning.
  */
object Adaptive {

  /** Byte threshold below which a maintenance verb's plans run
    * without AQE. 256 MB: below one advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`-scale), every
    * shuffle inside the verb fits a single post-coalesce partition —
    * exactly the regime where AQE's per-stage jobs buy nothing.
    */
  private[sources] val MinBytes: Long = 256L * 1024 * 1024

  /** Recursive on-disk byte size of `path`, short-circuited once the
    * running sum crosses `cap` — the gate only needs "tiny or not",
    * never an exact total, so a huge tree costs a bounded walk.
    * Missing paths count 0 (an uninitialized table is tiny), and so
    * does an entry a concurrent sweep, reaper or compaction removes
    * mid-walk: it holds no bytes any more, and the walk goes on.
    */
  def dirBytesAtMost(path: String, cap: Long): Long = {
    val p = Path.of(path)
    if (!Files.isDirectory(p)) return 0L
    var sum = 0L
    def vanished(e: IOException): FileVisitResult = e match {
      case null | _: NoSuchFileException => FileVisitResult.CONTINUE
      case _ => throw e
    }
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path,
                             a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) sum += a.size
        if (sum > cap) FileVisitResult.TERMINATE
        else FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path,
                                   e: IOException): FileVisitResult =
        vanished(e)
      override def postVisitDirectory(d: Path,
                                      e: IOException): FileVisitResult =
        vanished(e)
    })
    sum
  }

  /** Catalyst's size estimate of `df`'s optimized plan — no job runs;
    * for parquet scans this is file-size based, for persisted frames
    * the cache estimate. Conservative fallback to Long.MaxValue when
    * the estimate does not fit a Long (estimates can be astronomically
    * pessimistic after joins — such a plan is simply never gated
    * tiny).
    */
  def planBytes(df: DataFrame): Long = {
    val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (b.isValidLong) b.toLong else Long.MaxValue
  }

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Target bytes per shuffle partition for stateful streams (state
    * stores scale 1:1 with shuffle partitions). 64 MB — the
    * AQE advisory-partition scale AQE itself cannot apply here,
    * because stateful streaming disables it.
    */
  private val StreamPartitionBytes: Long = 64L * 1024 * 1024

  /** Session for a stateful micro-batch stream reading a landing
    * DIRECTORY: `spark.sql.shuffle.partitions` — which for a stateful
    * operator is also the STATE STORE count, each store paying a
    * per-micro-batch checkpoint commit — derived from the landing's
    * on-disk bytes instead of the session constant (guide §2:
    * partition count follows data size; AQE cannot do this for
    * stateful streams, where it is disabled). A KB-scale landing gets
    * 1 store instead of one per core (measured: st1_stream_ingest ran
    * 2.2× FASTER on 8 cores than 32 purely from 8 vs 32 state-store
    * commits); a landing big enough to fill the session's partition
    * count keeps the session untouched. Child session: same
    * SparkContext and builder confs, so the tuning never leaks into
    * the caller's session, and a resumed checkpoint keeps its own
    * pinned count regardless.
    */
  def streamSession(spark: SparkSession, landingDir: String): SparkSession = {
    val cur = spark.sessionState.conf.numShufflePartitions
    val per = StreamPartitionBytes
    val bytes = dirBytesAtMost(landingDir, per.toLong * cur)
    val k = math.max(1L, math.min(cur.toLong, (bytes + per - 1) / per)).toInt
    if (k >= cur) spark
    else {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", k.toString)
      ss
    }
  }

  private val ShufKey = "spark.sql.shuffle.partitions"

  /** Run `f` with AQE disabled and `spark.sql.shuffle.partitions`
    * scaled to the input (one partition per 32 MB, floor 1) iff
    * `approxBytes` (evaluated lazily — skipped entirely when AQE is
    * already off, e.g. a verb nested inside an already-gated sync)
    * stays under [[MinBytes]]. Both knobs follow the same guide-§2
    * rule — partitioning follows DATA SIZE: below the threshold every
    * shuffle inside the verb fits a handful of in-memory partitions,
    * so per-stage jobs (AQE) and per-task dispatch (a full session's
    * worth of shuffle tasks per exchange) are pure overhead. The conf
    * flips are undone in a finally (a key the session had not set is
    * unset again, never pinned to its default); plans executed inside
    * `f` read the session conf at execution time, so frames BUILT
    * outside and run inside are covered too.
    */
  def withTinyPlan[A](spark: SparkSession, approxBytes: => Long)(f: => A): A = {
    // explicitly set values only (getOption answers a registered key's
    // default even when it is unset)
    val prevAqe = spark.conf.getAll.get(AqeKey)
    val bytes =
      if (spark.conf.get(AqeKey) == "false") Long.MaxValue else approxBytes
    if (bytes >= MinBytes) f
    else {
      val prevShuf = spark.conf.getAll.get(ShufKey)
      val k = math.max(1L, bytes / (32L * 1024 * 1024) + 1)
        .min(spark.conf.get(ShufKey).toLong)
      spark.conf.set(AqeKey, "false")
      spark.conf.set(ShufKey, k.toString)
      def restore(key: String, prev: Option[String]): Unit =
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try f finally {
        restore(AqeKey, prevAqe)
        restore(ShufKey, prevShuf)
      }
    }
  }
}
