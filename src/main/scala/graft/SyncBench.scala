package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.{AtomicTable, Warehouse}
import graft.pipelines.Similarity

/** Evidence harness for the CDC-sync scale claim: one
  * [[Warehouse.syncIndexFromTable]] call is O(feed) against the index
  * — the change feed is manifest-diff-priced and every index-sized
  * view the verbs read is semi-join-pruned by the feed's ids BELOW
  * the liveness join (structural since r16). Two measured axes:
  *
  *  - **feed axis** (fixed index): sync wall for update feeds of
  *    growing size against one index — the curve should be a fixed
  *    commit overhead plus a term linear in the feed, NOT in the
  *    index;
  *  - **index axis** (fixed feed): the SAME feed (ids < 500, vectors
  *    reversed) synced into indexes built at three corpus scales —
  *    the wall should track the feed, not the 16× corpus spread.
  *
  * Prints one JSON line and writes it to the out file:
  * `{"feed_axis":{"<rows>":sec,...},"index_rows":n,
  *   "index_axis":{"<corpusRows>":sec,...},"fixed_feed_rows":500}`
  *
  * Usage: `runMain graft.SyncBench [sfDir] [outFile]` — `sfDir` is the
  * feed-axis corpus (default derived sf1.0); the index axis reads
  * testdata sf0.1 and derived sf1.0/sf10 when present.
  */
object SyncBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(".scaledata/sf1.0")
    val out = args.lift(1).getOrElse("SYNC_BENCH.json")
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    try {
      // one lived-in (table, index) pair per measured scale
      def build(dir: String): (AtomicTable, String, Long) = {
        val emb = Tables(spark, dir).embeddings
        val root = Files.createTempDirectory("graft_sync_bench").toString
        val src = AtomicTable(spark, s"$root/table", partCol = "label",
          defaultKeys = Seq("vec_id"), partType = _.toInt)
        src.init(emb)
        Warehouse.writePqIndex(emb, s"$root/idx", k = 8, dim = 64,
          m = 8, ks = 16,
          centroids = Some(Similarity.seedCentroids(8, 64)),
          codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
        // absorb the seed so later windows are pure change feeds
        Warehouse.syncIndexFromTable(spark, src, s"$root/idx")
        (src, s"$root/idx", emb.count())
      }
      // sync wall for ONE window that updates `feedRows` ids — each
      // step uses a DISJOINT residue class so every window updates
      // previously-untouched ids (fresh generations, and the four
      // measured points are independent feeds)
      def measure(src: AtomicTable, idx: String, pred: Column): (Long, Double) = {
        val emb = src.read()
        val feed = emb.filter(pred)
          .withColumn("embedding", reverse(col("embedding")))
        val n = feed.count()
        src.upsert(feed)
        val t0 = System.nanoTime()
        val stats = Warehouse.syncIndexFromTable(spark, src, idx)
        val sec = (System.nanoTime() - t0) / 1e9
        require(stats.updated == n,
          s"window must land exactly the feed: $stats vs $n")
        (n, sec)
      }
      val (src1, idx1, n1) = build(sfDir)
      // feed axis: ~n/128, n/32, n/8, n/2 via DISJOINT residue sets
      // mod 128 — {0}, {1..4}, {5..20}, {21..84}. The r16 version used
      // %128==127 / %32==31 / %8==7 / %2==1, which NEST (each later
      // class contains every earlier one), so later windows silently
      // re-landed the earlier windows' ids as extra generations.
      val feedAxis = Seq((1, 0), (4, 1), (16, 5), (64, 21)).map {
        case (nres, lo) =>
          val res = col("vec_id") % 128
          val (n, sec) = measure(src1, idx1,
            res >= lit(lo) && res < lit(lo + nres))
          System.err.println(f"[sync-bench] feed=$n%6d  ${sec}%.2fs")
          n -> sec
      }
      // index axis: same 500-id feed across corpus scales
      val scales = Seq("/root/testdata/sf0.1", ".scaledata/sf1.0",
          ".scaledata/sf10")
        .filter(d => Files.exists(Paths.get(d)))
      val indexAxis = scales.map { d =>
        val (src, idx, n) = build(d)
        val (fn, sec) = measure(src, idx, col("vec_id") < 500)
        require(fn == 500L, s"fixed feed must be 500 rows, got $fn")
        System.err.println(f"[sync-bench] corpus=$n%6d feed=500  ${sec}%.2fs")
        n -> sec
      }
      def jmap(es: Seq[(Long, Double)]): String =
        es.map { case (k, v) => "\"" + k + "\":" + num(v) }
          .mkString("{", ",", "}")
      val json =
        s"""{"feed_axis":${jmap(feedAxis)},"index_rows":$n1,""" +
        s""""index_axis":${jmap(indexAxis)},"fixed_feed_rows":500,""" +
        s""""sf":"$sfDir"}"""
      Files.write(Paths.get(out),
        (json + "\n").getBytes(StandardCharsets.UTF_8))
      println(json)
    } finally spark.stop()
  }
}
