package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.Multimodal
import graft.streaming.PriceStream

/** ST1–ST3 streaming semantics (micro-batch dedup-by-key as the late-data
  * policy) and the multimodal partition-local decode plumbing.
  */
class StreamingSpec extends AnyFunSuite with StopsStreams {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("stream dedupe drops late duplicates on (symbol, as_of, source)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double, java.sql.Timestamp,
      String, String)]
    val df = input.toDF()
      .toDF("id", "symbol", "price", "as_of", "currency", "source")
    val q = PriceStream.dedupe(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "EURUSD", 1.08, ts("2024-01-01 10:00:00"), "USD", "s1"))
      q.processAllAvailable()
      // same unique key arrives again in a later batch → dropped (ST3)
      input.addData(
        (2L, "EURUSD", 1.09, ts("2024-01-01 10:00:00"), "USD", "s1"),
        (3L, "EURUSD", 1.10, ts("2024-01-01 10:01:00"), "USD", "s1"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").orderBy("id")
        .select("id").as[Long].collect()
      assert(got.toSeq === Seq(1L, 3L))
    } finally q.stop()
  }

  test("windowedQuotes over a stream matches quotesAgg over the batch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "EURUSD", 1.08, ts("2024-01-01 10:05:00"), "USD", "s1"),
      (2L, "EURUSD", 1.10, ts("2024-01-01 10:20:00"), "USD", "s1"),
      (3L, "EURUSD", 1.06, ts("2024-01-01 11:05:00"), "USD", "s1"),
      (4L, "AAPL", 190.0, ts("2024-01-01 10:30:00"), "USD", "s1"))
    val input = MemoryStream[(Long, String, Double, java.sql.Timestamp,
      String, String)]
    val df = input.toDF()
      .toDF("id", "symbol", "price", "as_of", "currency", "source")
    val q = PriceStream.windowedQuotes(df)
      .writeStream.format("memory").queryName("quotes_out")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("quotes_out")
        .select($"window.start".as("ws"), $"symbol", $"open", $"close",
          $"high", $"low", $"n")
        .orderBy("ws", "symbol").collect().toSeq
      val batch = PriceStream.quotesAgg(
          rows.toDF("id", "symbol", "price", "as_of", "currency", "source"))
        .select($"window.start".as("ws"), $"symbol", $"open", $"close",
          $"high", $"low", $"n")
        .orderBy("ws", "symbol").collect().toSeq
      assert(stream === batch) // batch/stream unification
      val eur10 = stream.find(r => r.getString(1) == "EURUSD" &&
        r.getTimestamp(0).toString.startsWith("2024-01-01 10")).get
      assert(eur10.getDouble(2) === 1.08 && eur10.getDouble(3) === 1.10)
    } finally q.stop()
  }

  test("file-source micro-batch ingest end-to-end (ST1)") {
    val landing = Files.createTempDirectory("graft_landing").toString
    val table = Files.createTempDirectory("graft_table").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val batch = Seq(
      (1L, "EURUSD", 1.08, ts("2024-01-01 10:00:00"), "USD", "s1"),
      (2L, "EURUSD", 1.08, ts("2024-01-01 10:00:00"), "USD", "s1"))
      .toDF("id", "symbol", "price", "as_of", "currency", "source")
    batch.write.mode("overwrite").parquet(landing)
    val q = PriceStream.start(spark, landing, table, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val got = spark.read.parquet(table)
    assert(got.count() === 1) // in-batch duplicate key collapsed
  }

  test("stream-stream interval join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val priceRows = Seq(
      (1L, "EURUSD", 1.08, ts("2024-01-01 10:00:00")),
      (2L, "EURUSD", 1.09, ts("2024-01-01 12:00:00")),
      (3L, "AAPL", 190.0, ts("2024-01-01 10:30:00")))
    val newsRows = Seq(
      ("EURUSD", "ecb", ts("2024-01-01 09:30:00")),  // in 10:00's window
      ("EURUSD", "cpi", ts("2024-01-01 11:45:00")),  // in 12:00's window
      ("AAPL", "earnings", ts("2024-01-01 08:00:00"))) // too old for 10:30
    val pIn = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val nIn = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = PriceStream.newsForTicks(
        pIn.toDF().toDF("id", "symbol", "price", "as_of"),
        nIn.toDF().toDF("symbol", "headline", "published"))
      .select("id", "headline")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      pIn.addData(priceRows: _*)
      nIn.addData(newsRows: _*)
      q.processAllAvailable()
      val stream = spark.table("ssj_out").as[(Long, String)]
        .collect().toSet
      val batch = PriceStream.newsForTicks(
          priceRows.toDF("id", "symbol", "price", "as_of"),
          newsRows.toDF("symbol", "headline", "published"))
        .select("id", "headline").as[(Long, String)].collect().toSet
      assert(stream === batch)
      assert(stream === Set((1L, "ecb"), (2L, "cpi")))
    } finally q.stop()
  }

  test("doc stream content-dedup keeps one row per (lang, source, text)") {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val in = MemoryStream[(Long, String, String, String,
      java.sql.Timestamp)]
    val docs = in.toDF()
      .toDF("doc_id", "text", "lang", "source", "ts")
    val q = graft.streaming.DocStream.dedupeByContent(docs, "10 days")
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (1L, "Hello  World", "en", "crawl", ts),
      (2L, "hello world", "en", "crawl", ts),   // dup of 1 (normalized)
      (3L, "hello world", "de", "crawl", ts),   // different stratum: kept
      (4L, "fresh text", "en", "crawl", ts))
    q.processAllAvailable()
    in.addData((5L, "HELLO   world", "en", "crawl", ts)) // cross-batch dup
    q.processAllAvailable()
    val kept = spark.table("doc_dedup").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(kept === Set(1L, 3L, 4L))
  }

  test("curated stream: content dedup composes with the stateless quality gate") {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = ts("2024-01-01 10:00:00")
    val goodA = "the cat sat on a warm mat and it did like that spot " +
      "for one lazy day in the afternoon sun"
    val goodB = "a big dog came to rest close by and all was good in " +
      "the garden for the rest of it"
    val in = MemoryStream[(Long, String, String, String,
      java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "lang", "source", "ts")
    val q = graft.streaming.DocStream
      .curate(docs, "10 days", minWords = 10, minStopHits = 2)
      .writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (1L, goodA, "en", "crawl", t0),
      (2L, goodA, "en", "crawl", t0),  // exact dup → dropped by state
      (3L, "too short", "en", "crawl", t0), // fails the gate, stateless
      (4L, goodB, "en", "crawl", t0))
    q.processAllAvailable()
    in.addData((5L, goodB, "en", "crawl", t0)) // cross-batch dup
    q.processAllAvailable()
    val kept = spark.table("curated").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(kept === Set(1L, 4L))
    // the audit columns survive into the curated table
    assert(spark.table("curated").columns.contains("pass_words"))
  }

  test("exactly-once doc-table commit: a replayed batch cannot double-commit") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.pipelines.TextAnalysis
    val landing = Files.createTempDirectory("st_tbl_landing").toString
    val ckpt = Files.createTempDirectory("st_tbl_ckpt").toString
    val root = Files.createTempDirectory("st_tbl_root").toString
    val t0 = ts("2024-01-01 10:00:00")
    val prose = "the cat sat on a warm mat and it did like that spot " +
      "for one lazy day in the afternoon sun"
    def docs(ids: Seq[Long], source: String) = ids
      .map(i => (i, s"$prose v$i", "en", source, t0))
      .toDF("doc_id", "text", "lang", "source", "ts")
    // seed commit: the table needs one init with the curated schema
    // (qualityRules over a fingerprinted frame = curate's output shape)
    def curatedShape(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.qualityRules(
          df.withColumn("fp", TextAnalysis.fingerprint($"text")),
          $"text", minWords = 10, minStopHits = 2)
        .filter($"keep")
    val tbl = graft.sources.DocTable(spark, root)
    tbl.init(curatedShape(docs(Seq(100L), "seed")))
    // batch 1 lands and commits; note the recorded high-water mark
    docs(Seq(1L, 2L), "crawl").coalesce(1)
      .write.mode("append").parquet(landing)
    val q1 = graft.streaming.DocStream.startCuratedCommit(spark, landing,
      tbl, ckpt, watermark = "10 days", minWords = 10, minStopHits = 2)
    q1.awaitTermination(120000)
    val afterB1 = tbl.read().select("doc_id").as[Long].collect().toSet
    assert(afterB1 === Set(100L, 1L, 2L))
    val mark = tbl.lastCommittedBatch("curate").get
    val v1 = tbl.version
    // simulate foreachBatch's at-least-once replay (crash after sink
    // commit, before the checkpoint advanced): re-delivering the SAME
    // batch id must be fenced before any work — zero rows, no version
    assert(tbl.insertIgnore(curatedShape(docs(Seq(1L, 2L), "crawl")),
      txn = Some(("curate", mark))) === 0L)
    assert(tbl.version === v1)
    // restart from the checkpoint with no new input: no commit either
    val q2 = graft.streaming.DocStream.startCuratedCommit(spark, landing,
      tbl, ckpt, watermark = "10 days", minWords = 10, minStopHits = 2)
    q2.awaitTermination(120000)
    assert(tbl.version === v1)
    // new data after the restart commits exactly once, mark advances
    docs(Seq(3L), "crawl").coalesce(1)
      .write.mode("append").parquet(landing)
    val q3 = graft.streaming.DocStream.startCuratedCommit(spark, landing,
      tbl, ckpt, watermark = "10 days", minWords = 10, minStopHits = 2)
    q3.awaitTermination(120000)
    val finalIds = tbl.read().select("doc_id").as[Long].collect().toSeq
    assert(finalIds.sorted === Seq(1L, 2L, 3L, 100L))
    assert(tbl.lastCommittedBatch("curate").get > mark)
  }

  test("streaming domain cap: state spans batches and restarts; parity with batch cap") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.pipelines.Web
    val landing = Files.createTempDirectory("st_cap_landing").toString
    val table = Files.createTempDirectory("st_cap_table").toString
    val ckpt = Files.createTempDirectory("st_cap_ckpt").toString
    val ts0 = ts("2024-01-01 10:00:00")
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "domain")
      .withColumn("lang", lit("en")).withColumn("source", lit("crawl"))
      .withColumn("ts", lit(ts0))
      .select("doc_id", "lang", "source", "ts", "domain")
    // batch 1: a.com lands 6 docs (cap 4 admits the 4 lowest), b.com 2
    val b1 = docs(Seq(1L -> "a.com", 2L -> "a.com", 3L -> "a.com",
      4L -> "a.com", 5L -> "a.com", 6L -> "a.com", 7L -> "b.com",
      8L -> "b.com"))
    b1.coalesce(1).write.mode("append").parquet(landing)
    val q1 = graft.streaming.DocStream.startDomainCap(spark, landing,
      table, ckpt, maxDocs = 4, trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    // restart from the checkpoint: a.com is already full (its count
    // must survive), b.com has room for 2 of 3, c.com is fresh
    val b2 = docs(Seq(11L -> "a.com", 12L -> "b.com", 13L -> "b.com",
      14L -> "b.com", 15L -> "c.com"))
    b2.coalesce(1).write.mode("append").parquet(landing)
    val q2 = graft.streaming.DocStream.startDomainCap(spark, landing,
      table, ckpt, maxDocs = 4, trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val got = spark.read.parquet(table).select("doc_id")
      .as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L, 4L, 7L, 8L, 12L, 13L, 15L))
    // arrival order equals doc_id order here, so the streaming result
    // must equal the batch cap over the full union
    val expected = Web.capPerDomain(b1.unionByName(b2), col("domain"),
        Seq(col("doc_id").asc), maxDocs = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got === expected)
  }

  test("streaming heavy hitters: deltas merge across batches and a restart") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.HeavyHitters
    val landing = Files.createTempDirectory("st_hh_landing").toString
    val sink = Files.createTempDirectory("st_hh_sink").toString
    val ckpt = Files.createTempDirectory("st_hh_ckpt").toString
    def land(items: Seq[String]): Unit =
      items.toDF("item").coalesce(1).write.mode("append").parquet(landing)
    val b1 = Seq.fill(30)("apple") ++ Seq.fill(20)("pear") ++
      Seq.fill(5)("plum") ++ Seq("kiwi", "lime")
    val b2 = Seq.fill(25)("pear") ++ Seq.fill(10)("plum") ++
      Seq.fill(3)("kiwi") ++ Seq("apple")
    land(b1)
    HeavyHitters.start(spark, landing, sink, ckpt, shards = 4, cap = 16,
      d = 4, w = 64, trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    // restart from the checkpoint: candidate counts and grid deltas
    // must continue, not reset
    land(b2)
    HeavyHitters.start(spark, landing, sink, ckpt, shards = 4, cap = 16,
      d = 4, w = 64, trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    val got = HeavyHitters.topK(spark.read.parquet(sink), k = 3,
        d = 4, w = 64)
      .select("item", "ss_count", "cms_est")
      .as[(String, Long, Long)].collect().toSet
    // expected: exact counts of the union (cap never evicts here) and
    // estimates from the same grid math, merged over both batches
    val trueCounts: Map[String, Long] = (b1 ++ b2).groupBy(identity)
      .map { case (it, xs) => it -> xs.size.toLong }
    val cellPairs: Seq[((Int, Long), Long)] = trueCounts.toSeq
      .flatMap { case (it, n) =>
        (0 until 4).map(i => (i, HeavyHitters.cellOf(i, it, 64)) -> n)
      }
    val cells: Map[(Int, Long), Long] = cellPairs.groupBy(_._1)
      .map { case (kk, xs) => kk -> xs.map(_._2).sum }
    def est(it: String): Long =
      (0 until 4).map(i =>
        cells((i, HeavyHitters.cellOf(i, it, 64)))).min
    val expected = trueCounts.toSeq
      .map { case (it, n) => (it, n, est(it)) }
      .sortBy { case (it, _, e) => (-e, it) }.take(3).toSet
    assert(got === expected)
    // the sketch never undercounts
    assert(got.forall { case (it, n, e) => e >= n })
  }

  test("streaming HLL: registers rise monotonically across batches and a restart") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.HllStream
    val landing = Files.createTempDirectory("st_hll_landing").toString
    val sink = Files.createTempDirectory("st_hll_sink").toString
    val ckpt = Files.createTempDirectory("st_hll_ckpt").toString
    def land(items: Seq[String]): Unit =
      items.toDF("item").coalesce(1).write.mode("append").parquet(landing)
    val b1 = (1 to 300).map(i => s"url-$i") ++ Seq.fill(50)("url-1")
    val b2 = (200 to 500).map(i => s"url-$i") // 200-300 are re-sights
    land(b1)
    HllStream.start(spark, landing, sink, ckpt, shards = 4, p = 8,
      trigger = Trigger.AvailableNow()).awaitTermination(120000)
    // restart from the checkpoint: registers must continue, not reset,
    // and re-sighted items must emit nothing new (their rho is held)
    land(b2)
    HllStream.start(spark, landing, sink, ckpt, shards = 4, p = 8,
      trigger = Trigger.AvailableNow()).awaitTermination(120000)
    val streamed = HllStream.estimate(spark.read.parquet(sink), p = 8)
      .as[Double].head()
    // the delta log must reconstruct the batch sketch's registers
    // exactly → identical estimate on the union of the two batches
    val batchEst = graft.operators.Aggregates.approxCountDistinctHll(
        (b1 ++ b2).toDF("item"), col("item"), p = 8)
      .as[Double].head()
    assert(streamed === batchEst)
    // and the estimate tracks the truth within HLL's error band
    val exact = (b1 ++ b2).distinct.size
    assert(math.abs(streamed - exact) / exact < 0.25,
      s"estimate $streamed too far from exact $exact")
    // delta emission: the log stays register-sized, not stream-sized
    val logRows = spark.read.parquet(sink).count()
    assert(logRows <= 512, s"delta log too large: $logRows rows")
  }

  test("streaming sessions: state merges across batches and a restart; sentinel closes") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.SessionStream
    val landing = Files.createTempDirectory("st_sess_landing").toString
    val sink = Files.createTempDirectory("st_sess_sink").toString
    val ckpt = Files.createTempDirectory("st_sess_ckpt").toString
    val t0 = ts("2024-01-01 10:00:00")
    def at(h: Int) = java.sql.Timestamp.from(
      t0.toInstant.plusSeconds(h * 3600L))
    def land(rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit =
      rows.toDF("user_id", "ts", "event_id").coalesce(1)
        .write.mode("append").parquet(landing)
    // batch 1: user 1's session opens (2 events, 1h apart; gap 6h)
    land(Seq((1L, at(0), 1L), (1L, at(1), 2L)))
    SessionStream.start(spark, landing, sink, ckpt, gapSec = 21600,
      trigger = Trigger.AvailableNow()).awaitTermination(120000)
    // nothing can close yet: the watermark sits at the newest event
    assert(spark.read.parquet(sink).count() === 0)
    // batch 2 after a restart: one more event EXTENDS the open session
    // (state survives the checkpoint); user 2 opens a far-future
    // session that doubles as the closing punctuation for user 1
    land(Seq((1L, at(2), 3L), (2L, at(20), 4L)))
    SessionStream.start(spark, landing, sink, ckpt, gapSec = 21600,
      trigger = Trigger.AvailableNow()).awaitTermination(120000)
    val got = spark.read.parquet(sink)
      .select("user_id", "n", "start_us", "end_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // ONE session of 3 events — not a 2-event session plus a 1-event
    // session, which is what a state reset would produce
    assert(got === Seq((1L,
      3L,
      at(0).toInstant.toEpochMilli * 1000L,
      at(2).toInstant.toEpochMilli * 1000L)))
  }

  test("streaming histogram: window counts merge across batches and a restart") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.HistStream
    val landing = Files.createTempDirectory("st_hist_landing").toString
    val sink = Files.createTempDirectory("st_hist_sink").toString
    val ckpt = Files.createTempDirectory("st_hist_ckpt").toString
    val t0 = ts("2024-01-01 10:00:00")
    def at(h: Int) = java.sql.Timestamp.from(
      t0.toInstant.plusSeconds(h * 3600L))
    def land(rows: Seq[(java.sql.Timestamp, Double)]): Unit =
      rows.toDF("ts", "value").coalesce(1)
        .write.mode("append").parquet(landing)
    // batch 1: three day-1 values — the day-1 window stays open (the
    // watermark sits at the newest event), nothing in the sink yet
    land(Seq((at(0), 5.0), (at(1), 15.0), (at(2), 15.0)))
    HistStream.start(spark, landing, sink, ckpt, lo = 0.0, hi = 100.0,
      bins = 10, trigger = Trigger.AvailableNow()).awaitTermination(120000)
    assert(spark.read.parquet(sink).count() === 0)
    // batch 2 after a restart: one more day-1 value must MERGE into the
    // held window (state survives the checkpoint), and a far-future row
    // closes the books on day 1
    land(Seq((at(3), 15.0), (at(72), 99.0)))
    HistStream.start(spark, landing, sink, ckpt, lo = 0.0, hi = 100.0,
      bins = 10, trigger = Trigger.AvailableNow()).awaitTermination(120000)
    val got = spark.read.parquet(sink)
      .select("bin", "cnt").as[(Int, Long)].collect().toSeq.sorted
    // bin 0 (value 5) once, bin 1 (value 15) THREE times — a state
    // reset would have emitted a 2-count day-1 fragment plus a 1-count
    // one; the far-future row's own window stays open and unemitted
    assert(got === Seq((0, 1L), (1, 3L)))
    // read-out equals the batch fixed-bin fold over the same values
    val est = HistStream.estimate(spark.read.parquet(sink),
        lo = 0.0, hi = 100.0, bins = 10, ps = Seq(0.5))
      .as[(Double, Double)].collect().toSeq
    // n=4, target=2, first bin with cdf>=2 is bin 1 (cdf 4):
    // est = 0 + (1 + (2-1)/3) * 10 = 13.333333
    assert(est === Seq((0.5, 13.333333)))
  }

  test("stream-stream join: impulse state survives a restart; tight watermark evicts") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.IntervalJoinStream
    val t0 = ts("2024-01-01 10:00:00")
    def at(min: Int) = java.sql.Timestamp.from(
      t0.toInstant.plusSeconds(min * 60L))
    def run(evDir: String, ivDir: String, sink: String, ckpt: String,
            delay: String): Unit =
      IntervalJoinStream.start(spark, evDir, ivDir, sink, ckpt,
        windowSec = 7200, watermarkDelay = delay,
        trigger = Trigger.AvailableNow()).awaitTermination(120000)
    def land(dir: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(dir)

    // wide delay: an impulse landed in batch 1 still matches an event
    // arriving after a stop/restart (buffered side rode the checkpoint)
    locally {
      val ev = Files.createTempDirectory("st7_ev").toString
      val iv = Files.createTempDirectory("st7_iv").toString
      val sink = Files.createTempDirectory("st7_sink").toString
      val ckpt = Files.createTempDirectory("st7_ckpt").toString
      land(iv, Seq((900L, "A", at(0))).toDF("iv_id", "i_type", "i_ts"))
      // schema-complete empty events side so batch 1 plans both sources
      land(ev, Seq.empty[(Long, String, java.sql.Timestamp, Double)]
        .toDF("event_id", "event_type", "ts", "value"))
      run(ev, iv, sink, ckpt, "30 days")
      assert(spark.read.parquet(sink).count() === 0)
      land(ev, Seq((1L, "A", at(60), 1.0), (2L, "B", at(60), 1.0),
        (3L, "A", at(200), 1.0)).toDF("event_id", "event_type", "ts", "value"))
      run(ev, iv, sink, ckpt, "30 days")
      // only the same-type in-window event joins: not B, not t0+200min
      val got = spark.read.parquet(sink)
        .select("iv_id", "event_id").as[(Long, Long)].collect().toSeq
      assert(got === Seq((900L, 1L)))
    }

    // tight delay: batch 1 lands a far-future row on BOTH sides (the
    // global watermark is the MIN of the two input watermarks — an
    // idle side holds everything back), dragging the watermark past
    // the first impulse's window, so its state EVICTS when the next
    // batch's cleanup runs. Spark processes a batch's input against
    // existing state BEFORE cleanup, so batch 2's late event may still
    // match (allowed; not guaranteed) — but batch 3's identical-window
    // event MUST find nothing: if state had survived, it would match
    // exactly as the wide-delay block proved.
    locally {
      val ev = Files.createTempDirectory("st7t_ev").toString
      val iv = Files.createTempDirectory("st7t_iv").toString
      val sink = Files.createTempDirectory("st7t_sink").toString
      val ckpt = Files.createTempDirectory("st7t_ckpt").toString
      land(iv, Seq((900L, "A", at(0)), (901L, "Z2", at(600)))
        .toDF("iv_id", "i_type", "i_ts"))
      land(ev, Seq((99L, "Z", at(600), 1.0))
        .toDF("event_id", "event_type", "ts", "value"))
      run(ev, iv, sink, ckpt, "0 seconds")
      land(ev, Seq((1L, "A", at(60), 1.0))
        .toDF("event_id", "event_type", "ts", "value"))
      run(ev, iv, sink, ckpt, "0 seconds")
      val afterB2 = spark.read.parquet(sink).count()
      assert(afterB2 <= 1)
      land(ev, Seq((2L, "A", at(61), 1.0))
        .toDF("event_id", "event_type", "ts", "value"))
      run(ev, iv, sink, ckpt, "0 seconds")
      assert(spark.read.parquet(sink).count() === afterB2,
        "impulse state was not evicted by the watermark")
    }
  }

  test("space-saving fold: order-free, deterministic eviction, MG bound") {
    import graft.streaming.HeavyHitters.ssFold
    val batch = Seq("a" -> 50L, "b" -> 30L, "c" -> 20L, "d" -> 2L,
      "e" -> 1L, "f" -> 1L)
    // input order must not matter (the fold sorts per batch)
    val (m1, ev1) = ssFold(Map.empty[String, Long], batch, cap = 4)
    val (m2, ev2) = ssFold(Map.empty[String, Long],
      scala.util.Random.shuffle(batch), cap = 4)
    assert(m1 === m2)
    assert(ev1 === ev2 && ev1 === 2L) // e and f each displaced a minimum
    assert(m1.size === 4)
    // Misra–Gries guarantee: any item with true count > total/cap is a
    // candidate, and candidate counts never undercount the truth
    val total = batch.map(_._2).sum // 104; threshold = 26
    val truth = batch.toMap
    truth.filter(_._2 > total / 4).keys
      .foreach(it => assert(m1.contains(it), s"$it must survive"))
    m1.foreach { case (it, c) => assert(c >= truth.getOrElse(it, 0L)) }
    // folding a second batch accumulates, evicts the minimum, and the
    // newcomer inherits min + n (the space-saving overestimate)
    val (m3, ev3) = ssFold(m1, Seq("z" -> 5L), cap = 4)
    assert(m3.size === 4)
    assert(ev3 === 1L)
    assert(m3.contains("z") && m3("z") === m1.values.min + 5L)
  }

  test("multimodal: partition-local decode, null payload passthrough") {
    val media = Multimodal.syntheticMedia(spark, 21)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === 21)
    val nulls = feats.filter($"payload".isNull)
    assert(nulls.count() === 3) // ids 0, 7, 14
    assert(nulls.filter($"features".isNotNull).count() === 0)
    val nonNull = feats.filter($"payload".isNotNull)
    assert(nonNull.filter(size($"features") =!= 8).count() === 0)
    // deterministic across runs
    val again = Multimodal.extractFeatures(media)
      .filter($"media_id" === 1).select("features")
      .as[Seq[Float]].collect().head
    val first = feats.filter($"media_id" === 1).select("features")
      .as[Seq[Float]].collect().head
    assert(again === first)
  }

  test("streaming true-EMA: recursion continues across a restart; late rows drop") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.IndicatorStream
    val landing = Files.createTempDirectory("st_ema_landing").toString
    val sink = Files.createTempDirectory("st_ema_sink").toString
    val ckpt = Files.createTempDirectory("st_ema_ckpt").toString
    def tick(id: Long, t: String, v: Double) =
      ("X", ts(t), id, v)
    // batch 1: two full hours (bars close 10.0 then 20.0) + the first
    // tick of hour 3
    val b1 = Seq(
      tick(1, "2024-01-01 00:10:00", 5.0),
      tick(2, "2024-01-01 00:40:00", 10.0),
      tick(3, "2024-01-01 01:20:00", 20.0),
      tick(4, "2024-01-01 02:05:00", 7.0))
      .toDF("symbol", "ts", "event_id", "value")
    b1.coalesce(1).write.mode("append").parquet(landing)
    IndicatorStream.start(spark, landing, sink, ckpt, span = 3,
        barSec = 3600L, trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    // batch 2 (after restart): a LATE row inside hour 2 (must drop —
    // hour-2 close stays 7.0), hour 3 closes hour 2, sentinel closes
    // hour 3
    val b2 = Seq(
      tick(5, "2024-01-01 01:30:00", 999.0), // late: before last (ts,id)
      tick(6, "2024-01-01 02:30:00", 30.0),
      tick(7, "2024-01-01 03:10:00", 40.0),
      tick(-1, "2024-01-01 05:00:00", 0.0))
      .toDF("symbol", "ts", "event_id", "value")
    b2.coalesce(1).write.mode("append").parquet(landing)
    IndicatorStream.start(spark, landing, sink, ckpt, span = 3,
        barSec = 3600L, trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    val got = spark.read.parquet(sink)
      .orderBy("bar_us").select("close", "ema")
      .as[(Double, Double)].collect().toSeq
    // span 3 → α = 0.5: seed 10; then 15, 22.5, and the sentinel
    // closes hour 3: 22.5 + 0.5·(40 − 22.5) = 31.25
    assert(got === Seq((10.0, 10.0), (20.0, 15.0), (30.0, 22.5),
      (40.0, 31.25)))
    // the silent drop is not silent: the monotone gate counted it
    assert(graft.streaming.StreamMetrics.lateRows(spark, ckpt)
      .value === 1L)
    // single-pass replay of the IN-ORDER history must agree (the late
    // row is excluded: within one sorted batch nothing is late, so it
    // would legitimately land in its bar there — the equivalence claim
    // is for in-order splits)
    val landing2 = Files.createTempDirectory("st_ema_landing2").toString
    val sink2 = Files.createTempDirectory("st_ema_sink2").toString
    val ckpt2 = Files.createTempDirectory("st_ema_ckpt2").toString
    b1.unionByName(b2.filter($"event_id" =!= 5L)).coalesce(1)
      .write.mode("overwrite").parquet(landing2)
    IndicatorStream.start(spark, landing2, sink2, ckpt2, span = 3,
        barSec = 3600L, trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    val onePass = spark.read.parquet(sink2)
      .orderBy("bar_us").select("close", "ema")
      .as[(Double, Double)].collect().toSeq
    assert(onePass === got)
    // the in-order replay dropped nothing, and its counter shows it
    assert(graft.streaming.StreamMetrics.lateRows(spark, ckpt2)
      .value === 0L)
  }

  test("streaming EWMA anomaly: causal z, warm-up null, spike flags; split parity") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.AnomalyStream
    val landing = Files.createTempDirectory("st_anom_landing").toString
    val sink = Files.createTempDirectory("st_anom_sink").toString
    val ckpt = Files.createTempDirectory("st_anom_ckpt").toString
    def tick(id: Long, t: String, v: Double) = ("X", ts(t), id, v)
    // hourly closes 10, 12, 10, 12, 30 with α = 0.5, minBars = 2,
    // k = 2 — hand recursion: (ema, evar) after each bar =
    // (10, 0) (11, 1) (10.5, 0.75) (11.25, 0.9375); z per close =
    // null (seed), null (warm-up), 1.0, 1.5/√0.75 = 1.732051,
    // 18.75/√0.9375 = 19.364917 → only the spike crosses k
    val b1 = Seq(
      tick(1, "2024-01-01 00:10:00", 10.0),
      tick(2, "2024-01-01 01:10:00", 12.0),
      tick(3, "2024-01-01 02:10:00", 10.0))
      .toDF("symbol", "ts", "event_id", "value")
    val b2 = Seq(
      tick(4, "2024-01-01 03:10:00", 12.0),
      tick(5, "2024-01-01 04:10:00", 30.0),
      tick(-1, "2024-01-01 06:00:00", 0.0)) // sentinel closes bar 5
      .toDF("symbol", "ts", "event_id", "value")
    b1.coalesce(1).write.mode("append").parquet(landing)
    AnomalyStream.start(spark, landing, sink, ckpt, alpha = 0.5,
        k = 2.0, minBars = 2, barSec = 3600L,
        trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    b2.coalesce(1).write.mode("append").parquet(landing)
    AnomalyStream.start(spark, landing, sink, ckpt, alpha = 0.5,
        k = 2.0, minBars = 2, barSec = 3600L,
        trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    val got = spark.read.parquet(sink)
      .orderBy("bar_us").select("close", "z", "anom")
      .as[(Double, Option[Double], Boolean)].collect().toSeq
    assert(got === Seq(
      (10.0, None, false), (12.0, None, false),
      (10.0, Some(1.0), false), (12.0, Some(1.732051), false),
      (30.0, Some(19.364917), true)))
    // one-pass replay of the same in-order history must agree
    val landing2 = Files.createTempDirectory("st_anom_landing2").toString
    val sink2 = Files.createTempDirectory("st_anom_sink2").toString
    val ckpt2 = Files.createTempDirectory("st_anom_ckpt2").toString
    b1.unionByName(b2).coalesce(1).write.mode("overwrite").parquet(landing2)
    AnomalyStream.start(spark, landing2, sink2, ckpt2, alpha = 0.5,
        k = 2.0, minBars = 2, barSec = 3600L,
        trigger = Trigger.AvailableNow())
      .awaitTermination(120000)
    val onePass = spark.read.parquet(sink2)
      .orderBy("bar_us").select("close", "z", "anom")
      .as[(Double, Option[Double], Boolean)].collect().toSeq
    assert(onePass === got)
  }

  test("incremental dedup stream: state accretes across batches; replay fenced") {
    import graft.streaming.DocStream
    val state = Files.createTempDirectory("st12_state").toString
    val landing = Files.createTempDirectory("st12_land").toString
    val ckpt = Files.createTempDirectory("st12_ck").toString
    def doc(id: Long, text: String) =
      (id, text, "en", "web", ts("2024-01-01 00:00:00"))
    def frame(rows: (Long, String, String, String, java.sql.Timestamp)*) =
      rows.toDF("doc_id", "text", "lang", "source", "ts")
    DocStream.seedDedup(spark, state,
      frame(doc(1, "alpha beta gamma delta")))
    val table = DocStream.dedupTable(spark, state)
    val baseV = table.version
    // the seed stored its dedup keys — the corpus is merge-ready
    assert(table.read().columns.toSet.intersect(Set("_fp", "_sig"))
      === Set("_fp", "_sig"))
    def keptIds: Set[Long] = DocStream.dedupTable(spark, state)
      .addedSince(baseV)
      .map(_.select("doc_id").as[Long].collect().toSet)
      .getOrElse(Set.empty)
    // batch 1: one new doc survives, one exact copy of the BASE drops
    frame(doc(10, "epsilon zeta eta theta"),
        doc(11, "alpha beta gamma delta"))
      .coalesce(1).write.mode("append").parquet(landing)
    DocStream.startIncremental(spark, landing, state, ckpt)
      .awaitTermination(120000)
    assert(keptIds === Set(10L))
    // batch 2: a copy of batch 1's SURVIVOR must drop against the
    // accreted state (not just the base); a fresh doc survives
    frame(doc(20, "epsilon zeta eta theta"),
        doc(21, "iota kappa lambda mu"))
      .coalesce(1).write.mode("append").parquet(landing)
    DocStream.startIncremental(spark, landing, state, ckpt)
      .awaitTermination(120000)
    assert(keptIds === Set(10L, 21L))
    // at-least-once replay of a committed batch id: the txn mark
    // (committed atomically with the survivors) fences a clean skip
    DocStream.incrementalRefresh(spark, state,
      frame(doc(20, "epsilon zeta eta theta"),
        doc(21, "iota kappa lambda mu")), 1L)
    assert(keptIds === Set(10L, 21L))
    assert(table.lastCommittedBatch("incdedup") === Some(1L))
  }

  test("view stream: each micro-batch folds the view forward; a full " +
    "re-delivery under a fresh checkpoint changes nothing") {
    import graft.streaming.ViewStream
    val baseRoot = Files.createTempDirectory("st13_base").toString
    val viewRoot = Files.createTempDirectory("st13_view").toString
    val landing = Files.createTempDirectory("st13_land").toString
    val ckpt = Files.createTempDirectory("st13_ck").toString
    def frame(rows: (Long, String, String, String, Long)*) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dims = Seq("source", "lang")
    val schema = frame().schema
    def serveMap: Map[(String, String), (Long, Long)] =
      ViewStream.view(spark, baseRoot, viewRoot, dims, "n_chars")
        .serve().collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_val")))).toMap
    def run(): Unit = {
      val q = ViewStream.start(spark, landing, schema, baseRoot,
        viewRoot, dims, "n_chars", ckpt)
      assert(q.awaitTermination(120000))
    }
    frame((1L, "a", "en", "web", 10L), (2L, "b", "en", "web", 20L),
        (3L, "c", "de", "web", 5L))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    assert(serveMap === Map(("web", "en") -> ((2L, 30L)),
      ("web", "de") -> ((1L, 5L))))
    // second micro-batch folds incrementally (the view's history shows
    // no full recompute after the seed fold)
    frame((4L, "d", "en", "web", 7L), (5L, "e", "en", "cc", 1L))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    assert(serveMap === Map(("web", "en") -> ((3L, 37L)),
      ("web", "de") -> ((1L, 5L)), ("cc", "en") -> ((1L, 1L))))
    val mv = ViewStream.view(spark, baseRoot, viewRoot, dims, "n_chars")
    assert(mv.table.history().count(_._2 == "init") === 1,
      "only the first fold recomputes; later folds are deltas")
    val baseV = ViewStream.baseTable(spark, baseRoot).version
    val viewV = mv.table.version
    // full re-delivery under a FRESH checkpoint: batch ids restart at
    // zero, the base fence skips the append, the version-gated refresh
    // no-ops — neither table advances and the serve is unchanged
    val ckpt2 = Files.createTempDirectory("st13_ck2").toString
    val q2 = ViewStream.start(spark, landing, schema, baseRoot,
      viewRoot, dims, "n_chars", ckpt2)
    assert(q2.awaitTermination(120000))
    assert(ViewStream.baseTable(spark, baseRoot).version === baseV)
    assert(mv.table.version === viewV)
    assert(serveMap === Map(("web", "en") -> ((3L, 37L)),
      ("web", "de") -> ((1L, 5L)), ("cc", "en") -> ((1L, 1L))))
  }

  test("quarantine gate: clean rows accrete the corpus, rejects keep " +
    "ordered violation tags, re-delivery advances neither table") {
    import graft.streaming.QuarantineStream
    import org.apache.spark.sql.Column
    val corpusRoot = Files.createTempDirectory("st14_corpus").toString
    val quarRoot = Files.createTempDirectory("st14_quar").toString
    val landing = Files.createTempDirectory("st14_land").toString
    val ckpt = Files.createTempDirectory("st14_ck").toString
    def frame(rows: (Long, String, String, Long)*) =
      rows.toDF("doc_id", "lang", "source", "n_chars")
    val rules: Seq[(String, Column)] = Seq(
      "short_text" -> ($"n_chars" >= 10L),
      "allowed_lang" -> $"lang".isin("en", "de"))
    val schema = frame().schema
    def run(): Unit = {
      val q = QuarantineStream.start(spark, landing, schema,
        corpusRoot, quarRoot, rules, ckpt)
      assert(q.awaitTermination(120000))
    }
    // batch 1: one clean, one short, one double-fail (tags in declared
    // rule order), one with a NULL predicate input (must fail closed)
    frame((1L, "en", "web", 50L), (2L, "en", "web", 3L),
        (3L, "zh", "web", 4L), (4L, null, "web", 50L))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    val quar = QuarantineStream.quarantineTable(spark, quarRoot)
    val corpus = QuarantineStream.corpusTable(spark, corpusRoot)
    assert(corpus.read().select("doc_id").as[Long].collect().toSet
      === Set(1L))
    val tags = quar.read().select("doc_id", "violations")
      .as[(Long, String)].collect().toMap
    assert(tags === Map(2L -> "short_text",
      3L -> "short_text,allowed_lang", 4L -> "allowed_lang"))
    // batch 2 accretes both sides
    frame((5L, "de", "web", 60L), (6L, "fr", "web", 70L))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    assert(corpus.read().count() === 2)
    assert(quar.read().count() === 4)
    // full re-delivery under a fresh checkpoint: both fences hold
    val (cv, qv) = (corpus.version, quar.version)
    val q2 = QuarantineStream.start(spark, landing, schema,
      corpusRoot, quarRoot, rules,
      Files.createTempDirectory("st14_ck2").toString)
    assert(q2.awaitTermination(120000))
    assert(corpus.version === cv && quar.version === qv)
  }

  test("quarantine re-ingest: a relaxed rule recovers held rows with " +
    "refreshed tags; a second pass is a no-op") {
    import graft.streaming.QuarantineStream
    import org.apache.spark.sql.Column
    val corpusRoot = Files.createTempDirectory("st14r_corpus").toString
    val quarRoot = Files.createTempDirectory("st14r_quar").toString
    def frame(rows: (Long, String, String, Long)*) =
      rows.toDF("doc_id", "lang", "source", "n_chars")
    val strict: Seq[(String, Column)] = Seq(
      "short_text" -> ($"n_chars" >= 10L),
      "allowed_lang" -> $"lang".isin("en", "de"))
    QuarantineStream.commitBatch(spark, corpusRoot, quarRoot, strict,
      frame((1L, "en", "web", 50L), (2L, "en", "web", 3L),
        (3L, "zh", "web", 4L), (4L, "zh", "cc", 50L)), 0L)
    val corpus = QuarantineStream.corpusTable(spark, corpusRoot)
    val quar = QuarantineStream.quarantineTable(spark, quarRoot)
    assert(corpus.read().count() === 1)
    assert(quar.read().count() === 3)
    // the parser gets fixed: short text is acceptable now
    val relaxed: Seq[(String, Column)] =
      Seq("allowed_lang" -> $"lang".isin("en", "de"))
    assert(QuarantineStream.reingest(spark, corpusRoot, quarRoot,
      relaxed) === 1L)
    assert(corpus.read().select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L))
    val tags = quar.read().select("doc_id", "violations")
      .as[(Long, String)].collect().toMap
    // still-failing rows keep fresh tags for the CURRENT rules (3's
    // old short_text tag is gone), and untouched partitions survive
    assert(tags === Map(3L -> "allowed_lang", 4L -> "allowed_lang"))
    // nothing newly passes: no commit on either table
    val (cv, qv) = (corpus.version, quar.version)
    assert(QuarantineStream.reingest(spark, corpusRoot, quarRoot,
      relaxed) === 0L)
    assert(corpus.version === cv && quar.version === qv)
  }

  test("re-ingest maintenance stream: a tick recovers newly-passing " +
    "rows; fresh-checkpoint replay recovers nothing twice") {
    import graft.streaming.QuarantineStream
    import org.apache.spark.sql.Column
    val corpusRoot = Files.createTempDirectory("st16_corpus").toString
    val quarRoot = Files.createTempDirectory("st16_quar").toString
    val tickDir = Files.createTempDirectory("st16_ticks").toString
    def frame(rows: (Long, String, String, Long)*) =
      rows.toDF("doc_id", "lang", "source", "n_chars")
    val strict: Seq[(String, Column)] = Seq(
      "short_text" -> ($"n_chars" >= 10L),
      "allowed_lang" -> $"lang".isin("en", "de"))
    QuarantineStream.commitBatch(spark, corpusRoot, quarRoot, strict,
      frame((1L, "en", "web", 50L), (2L, "en", "web", 3L),
        (3L, "zh", "web", 4L), (4L, "zh", "cc", 50L)), 0L)
    val corpus = QuarantineStream.corpusTable(spark, corpusRoot)
    val quar = QuarantineStream.quarantineTable(spark, quarRoot)
    assert(corpus.read().count() === 1)
    // the parser fix ships; the maintenance stream ticks and recovers
    val relaxed: Seq[(String, Column)] =
      Seq("allowed_lang" -> $"lang".isin("en", "de"))
    def tick(n: Long): Unit = Seq(n).toDF("tick")
      .coalesce(1).write.mode("append").parquet(tickDir)
    def run(ckpt: String): Unit = {
      val q = QuarantineStream.startReingest(spark, tickDir,
        corpusRoot, quarRoot, relaxed, ckpt)
      assert(q.awaitTermination(180000))
    }
    tick(1L)
    val ckpt = Files.createTempDirectory("st16_ck").toString
    run(ckpt)
    assert(corpus.read().select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L))
    assert(quar.read().select("doc_id").as[Long].collect().toSet
      === Set(3L, 4L))
    val (cv, qv) = (corpus.version, quar.version)
    // an idle tick on the SAME checkpoint: nothing newly passes, no
    // commit on either table
    tick(2L)
    run(ckpt)
    assert(corpus.version === cv && quar.version === qv)
    // a FRESH checkpoint replays EVERY tick — the quarantine-version
    // fence (not the batch id) is what prevents double recovery
    run(Files.createTempDirectory("st16_ck2").toString)
    assert(corpus.version === cv && quar.version === qv)
    assert(corpus.read().count() === 2)
    // rules relax further: the next tick recovers the rest exactly
    val open: Seq[(String, Column)] =
      Seq("any" -> lit(true))
    tick(3L)
    val q3 = QuarantineStream.startReingest(spark, tickDir, corpusRoot,
      quarRoot, open, Files.createTempDirectory("st16_ck3").toString)
    assert(q3.awaitTermination(180000))
    // every partition of the quarantine emptied: the manifest holds
    // nothing (read() on a no-data table is the usual hard error)
    assert(corpus.read().count() === 4 && !quar.hasData)
  }

  test("index stream: a vector is searchable one micro-batch after arrival") {
    import graft.sources.Warehouse
    import graft.pipelines.Similarity
    import graft.streaming.IndexStream
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val root = Files.createTempDirectory("st11_idx").toString
    val landing = Files.createTempDirectory("st11_land").toString
    val ckpt = Files.createTempDirectory("st11_ck").toString
    Warehouse.writePqIndex(emb.filter(col("vec_id") =!= 3L), root,
      k = 8, dim = 64, m = 8, ks = 16,
      centroids = Some(Similarity.seedCentroids(8, 64)),
      codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
    val q = emb.filter(col("vec_id") === 3L).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    def served(): Seq[Long] =
      Warehouse.ivfPqServe(spark, root, q, topK = 5, nprobe = 2,
        cand = 20).select("vec_id").as[Long].collect().toSeq
    assert(!served().contains(3L), "not indexed yet")
    emb.filter(col("vec_id") === 3L).coalesce(1)
      .write.mode("append").parquet(landing)
    IndexStream.start(spark, landing, root, ckpt)
      .awaitTermination(120000)
    // self-query: the streamed vector is its own exact-cosine top hit
    assert(served().head === 3L, "streamed vector must serve immediately")
  }

  test("st10 backfill parity at sf0.1: stream == batch bars + recursion") {
    // threshold edges differ between SFs (round-cadence rule), so the
    // anomaly stream gets a parity check against REAL sf0.1 data too:
    // the streamed (close, z, anom) per bar must equal a recursion
    // over the BATCH bar operator's closes — this cross-checks bar
    // assembly, state folding, and sentinel close-out at full corpus
    // shape, not just on the 5-bar fixture above.
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{AnomalyStream, IndicatorStream}
    import graft.operators.Series
    val sf = "/root/testdata/sf0.1"
    val events = graft.Tables(spark, sf).events
    val alpha = IndicatorStream.alphaFor(14)
    val (k, minBars) = (3.0, 12)
    // batch twin: ohlcBars closes + an independent driver-side
    // recursion (bar count is key-bounded: |symbols|·hours, tiny)
    val bars = Series.ohlcBars(events, "event_type", col("ts"),
        col("event_id"), col("value"), "1 hour")
      .select(col("event_type"), unix_micros(col("bar")).as("bar_us"),
        col("close"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val expect = bars.toSeq.flatMap { case (sym, rows) =>
      var (ema, evar, n) = (0.0, 0.0, 0L)
      rows.map { case (_, barUs, close) =>
        val zRaw = if (n >= minBars && evar > 0)
          Some(math.abs(close - ema) / math.sqrt(evar)) else None
        val out = ((sym, barUs),
          (close, zRaw.map(IndicatorStream.round6), zRaw.exists(_ > k)))
        if (n == 0L) { ema = close; evar = 0.0; n = 1L }
        else {
          val diff = close - ema
          ema += alpha * diff
          evar = (1.0 - alpha) * (evar + alpha * diff * diff)
          n += 1L
        }
        out
      }
    }.toMap
    // streamed: the st10 landing prep (per-symbol close-out sentinels)
    val landing = Files.createTempDirectory("st10_sf01_landing").toString
    val sink = Files.createTempDirectory("st10_sf01_sink").toString
    val ckpt = Files.createTempDirectory("st10_sf01_ckpt").toString
    val ticks = events.select(col("event_type").as("symbol"), col("ts"),
      col("event_id"), col("value"))
    val horizon = ticks.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val sentinels = ticks.select("symbol").distinct()
      .withColumn("ts", lit(java.sql.Timestamp.from(
        horizon.toInstant.plusSeconds(7200))))
      .withColumn("event_id", lit(-1L))
      .withColumn("value", lit(0.0))
    ticks.unionByName(sentinels).write.mode("overwrite").parquet(landing)
    AnomalyStream.start(spark, landing, sink, ckpt, alpha = alpha,
        k = k, minBars = minBars, barSec = 3600L,
        trigger = Trigger.AvailableNow())
      .awaitTermination(180000)
    val got = spark.read.parquet(sink)
      .select(col("symbol"), col("bar_us"), col("close"), col("z"),
        col("anom"))
      .as[(String, Long, Double, Option[Double], Boolean)].collect()
    assert(got.length === expect.size, "bar count mismatch vs batch bars")
    got.foreach { case (sym, barUs, close, z, anom) =>
      assert(expect((sym, barUs)) === ((close, z, anom)),
        s"divergence at ($sym, $barUs)")
    }
  }
}
