package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Aggregates
import graft.sources.{AtomicTable, MaterializedAgg}
import graft.streaming.ViewStream

/** Streamed quote ingest with a concurrent dashboard reader. One
  * long-lived `ViewStream` query (processing-time trigger) appends each
  * micro-batch to the quote store and folds it into a per-symbol
  * materialized aggregate, both txn-fenced. A writer lands one seeded
  * batch at a time and waits until the stream has taken it; a reader on
  * the same session serves the aggregate and one symbol's latest quote in
  * a closed loop. Tiny commits make trigger and commit-protocol overhead
  * dominant, and the shared session shows what a write-side session
  * change costs the reads.
  */
final class Ingest(seed: Long) extends Workload {
  import Ingest._

  val params: Seq[(String, Any)] = Seq(
    "symbols" -> Symbols, "symbol_skew" -> Skew, "seed_rows" -> SeedRows,
    "batch_rows" -> BatchSizes.mkString(","),
    "seconds_per_deal" -> SecondsPerDeal, "trigger_ms" -> TriggerMs,
    "writers" -> 1, "readers" -> 1)

  private var spark: SparkSession = _
  private var dir: String = _
  private var feed: Gen.QuoteFeed = _
  private var sizes: Gen.Deck[Int] = _
  private var readerFeed: java.util.SplittableRandom = _
  private var query: StreamingQuery = _
  private var base: AtomicTable = _
  private var view: MaterializedAgg = _
  // every quote whose landing began, in id order from 1 (guarded by itself)
  private val landed = scala.collection.mutable.ArrayBuffer.empty[Gen.Quote]
  private val landedBytes = new AtomicLong(0L)
  // quotes in batches the stream has fully taken
  private val visible = new AtomicLong(0L)
  // epoch ms at which each landed batch was in place, for the queue wait
  private val landTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  @volatile private var lastTotal = 0L

  private def baseRoot = s"$dir/base"
  private def viewRoot = s"$dir/view"
  private def landing = s"$dir/landing"
  private def landedCount: Long = landed.synchronized(landed.size.toLong)

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    feed = new Gen.QuoteFeed(seed, "ingest", Symbols, Skew)
    sizes = new Gen.Deck(seed, "ingest-batch-sizes", BatchSizes)
    readerFeed = Gen.rng(seed, "ingest-reader")
    base = ViewStream.baseTable(spark, baseRoot)
    val seedRows = feed.take(SeedRows)
    base.init(frame(spark, seedRows).coalesce(1))
    landed.synchronized(landed ++= seedRows)
    landedBytes.addAndGet(bytes(seedRows))
    visible.set(SeedRows)
    view = ViewStream.view(spark, baseRoot, viewRoot, Dims, ValCol)
    view.refresh()
    new java.io.File(landing).mkdirs()
    query = ViewStream.start(spark, landing, Schema, baseRoot, viewRoot,
      Dims, ValCol, s"$dir/checkpoint", Trigger.ProcessingTime(TriggerMs))
  }

  def warmUp(rec: Recorder): Unit = {
    val sink = new Recorder
    // one whole deal of batch sizes, so the window starts at a deal
    BatchSizes.foreach(_ => land(sink))
    for (_ <- 0 until WarmReads) read(sink, new Trace(spark))
    rec.failed.addAndGet(sink.failed.get())
  }

  private def bytes(qs: Seq[Gen.Quote]): Long =
    qs.map(q => 8L * 3 + q.symbol.length + q.source.length).sum

  /** One writer step: land a seeded batch as one file, then wait until
    * the stream has taken everything.
    */
  private def land(rec: Recorder): Unit = {
    val n = sizes.next()
    val batch = feed.take(n)
    landed.synchronized(landed ++= batch)
    landedBytes.addAndGet(bytes(batch))
    rec.userBytes += bytes(batch)
    rec.timed(rec.steps) {
      frame(spark, batch).coalesce(1).write.mode("append").parquet(landing)
      landTimes.add(System.currentTimeMillis())
      query.processAllAvailable()
    }.foreach { _ =>
      rec.rows += n
      visible.set(batch.last.id)
    }
  }

  /** One reader request: a dashboard refresh, the view's total over all
    * symbols and then the latest quote of one Zipf-drawn symbol, timed as
    * one read (the two parts are timed by kind too). Both answers must
    * lie between what was fully visible before the part began and what
    * had begun landing after it: totals never decrease, and the latest
    * quote is never older than one already visible.
    */
  private def read(rec: Recorder, t: Trace): Unit = {
    val floor = visible.get()
    val sym = Gen.symbol(zipf.draw(readerFeed))
    rec.timed(rec.reads)(t.op {
      val totals = rec.timedKind("totals")(t.span("operators.totals") {
        val v = t.span("sources.read_build")(view.serve())
        t.span("operators.build")(v.agg(sum("n_rows"))).collect()
      })
      val floor2 = visible.get()
      val latest = rec.timedKind("latest")(t.span("operators.latest") {
        val b = t.span("sources.read_build")(base.read())
        t.span("operators.build")(Aggregates.latestPerKey(
          b.filter(col("symbol") === sym), "symbol", col("as_of"),
          col("doc_id"), col("price"))).collect()
      })
      (totals, floor2, latest)
    }).foreach { case (totals, floor2, latest) =>
      val seen = totals(0).getLong(0)
      val bound = landedCount
      if (seen < math.max(lastTotal, floor) || seen > bound)
        rec.wrong(s"view total $seen: before $lastTotal/$floor, landed $bound")
      lastTotal = math.max(lastTotal, seen)
      val ok = landed.synchronized {
        val atFloor = (floor2 - 1 to 0L by -1L).iterator
          .map(i => landed(i.toInt)).find(_.symbol == sym)
        if (latest.isEmpty) atFloor.isEmpty
        else {
          val asOf = latest(0).getTimestamp(2).getTime / 1000L
          latest.length == 1 && asOf >= atFloor.map(_.asOfSec).getOrElse(0L) &&
            landed.exists(q => q.id <= bound && q.symbol == sym &&
              q.asOfSec == asOf && q.price == latest(0).getDouble(1))
        }
      }
      if (!ok) rec.wrong(s"latest $sym: ${latest.mkString(",")}")
    }
  }

  private val zipf = new Gen.Zipf(Symbols, Skew)

  /** The writer owns the window: it lands whole deals of batch sizes, one
    * deal per [[SecondsPerDeal]] of `seconds`, so every run lands the same
    * batches into tables of the same shape however fast the engine is; the
    * reader reads until the writer is done.
    */
  def run(seconds: Double, rec: Recorder, trace: Trace): Unit = {
    @volatile var stop = false
    val reader = new Thread(() => while (!stop) read(rec, trace),
      "perfbench-reader")
    val steps = BatchSizes.size * math.max(1L, math.round(seconds / SecondsPerDeal))
    val t0 = System.nanoTime()
    reader.start()
    try for (_ <- 0L until steps)
      trace.op(trace.span("streaming.commit")(land(rec)))
    finally { stop = true; rec.windowS = (System.nanoTime() - t0) / 1e9 }
    reader.join()
  }

  def check(rec: Recorder): Unit = {
    query.processAllAvailable()
    val all = landed.synchronized(landed.toVector)
    rec.check("every landed quote is in the base exactly once") {
      val ids = base.read().select("doc_id").collect().map(_.getLong(0))
      ids.length == all.size && ids.toSet == all.map(_.id).toSet
    }
    rec.check("the served aggregate equals a plain group-by of the base") {
      val served = view.serve().collect().map(r =>
        r.getAs[String]("symbol") -> ((r.getAs[Long]("n_rows"),
          r.getAs[Double]("sum_val"), r.getAs[Double]("min_val"),
          r.getAs[Double]("max_val")))).toMap
      val plain = base.read().groupBy("symbol").agg(count(lit(1)),
          sum(ValCol), min(ValCol), max(ValCol)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))).toMap
      served.keySet == plain.keySet && served.forall { case (k, (n, s, lo, hi)) =>
        val (n2, s2, lo2, hi2) = plain(k)
        n == n2 && math.abs(s - s2) <= 1e-6 * math.max(1.0, math.abs(s2)) &&
          lo == lo2 && hi == hi2
      }
    }
  }

  def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
    query = null
  }

  def diskBytes: Long = Seq(baseRoot, viewRoot).map(Main.treeBytes).sum

  def inputBytes: Long = landedBytes.get()

  def layers(t: Trace, rec: Recorder): Map[String, Double] = {
    val mine = t.progress.asScala.map(_.progress)
      .filter(p => p.id == query.id && p.numInputRows > 0).toVector
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Samples.median(xs)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lands = landTimes.asScala.toVector.sorted
    val queue = mine.flatMap { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      lands.filter(_ <= startMs).lastOption.map(l => (startMs - l).toDouble)
    }
    val commits = t.named("streaming.commit").size
    val hist = view.table.history()
    Map(
      "streaming.trigger_ms" -> med(mine.map(dur(_, "triggerExecution"))),
      "streaming.add_batch_ms" -> med(mine.map(dur(_, "addBatch"))),
      "streaming.overhead_ms" ->
        med(mine.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "streaming.queue_ms" -> med(queue),
      "streaming.batches_per_step" ->
        (if (commits == 0) 0.0 else mine.size.toDouble / commits),
      "streaming.refresh_full_share" ->
        hist.count(_._2 == "init").toDouble / math.max(1, hist.size),
      "sources.data_dirs" -> (base.dataDirCount + view.table.dataDirCount).toDouble,
      "caches.active_after_op" -> graft.Caches.activeCount.toDouble)
  }
}

object Ingest {
  /** The reference's seed symbol count; the skew, the store size and the
    * batch sizes are assumptions (README, "Traffic").
    */
  val Symbols = 7
  val Skew = 1.1
  val SeedRows = 4000
  /** Batch sizes, dealt in a seeded order: every run lands the same mix
    * of small and large batches.
    */
  val BatchSizes: Seq[Int] = Seq(40, 120, 200, 280)
  /** Run length: one deal of batches per this many seconds asked for;
    * three deals at `--seconds 10` (about 14 s on a 4-core box) give
    * the reader five to six refreshes.
    */
  val SecondsPerDeal = 3.3
  val TriggerMs = 100L
  val WarmReads = 1
  val Dims = Seq("symbol")
  val ValCol = "price"

  /** Quote rows as base-corpus documents: doc_id = quote id, source =
    * provider.
    */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("symbol", StringType), StructField("price", DoubleType),
    StructField("as_of", TimestampType)))

  def frame(spark: SparkSession, qs: Seq[Gen.Quote]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.map(q =>
      Row(q.id, q.source, q.symbol, q.price,
        new Timestamp(q.asOfSec * 1000L))): _*), Schema)
}
