package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.sources.Warehouse
import graft.pipelines.Similarity

/** Evidence harness for the index-compaction claim: serve cost under
  * STACKED UPDATE GENERATIONS, before and after
  * [[Warehouse.compactPqIndex]]. Every update leaves its superseded
  * delta rows physically present (dead under the id's tombstone mark),
  * so the serve's candidate scan and mark join grow with generations;
  * compaction re-ingests the live view under the frozen model and the
  * answer must stay BIT-IDENTICAL while the cost profile returns to
  * the fresh-index one. Prints one JSON line:
  * `{"gens":{"0":sec,"1":sec,...},"compacted":sec,"dead_rows":n,
  * "answers_equal":bool}` and writes the same to the out file.
  *
  * Usage: `runMain graft.CompactBench [sfDir] [outFile] [gens]`.
  */
object CompactBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("COMPACT_BENCH.json")
    val gens = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val emb = Tables(spark, sfDir).embeddings
      val root = Files.createTempDirectory("graft_compact_bench").toString
      Warehouse.writePqIndex(emb, root, k = 8, dim = 64, m = 8, ks = 16,
        centroids = Some(Similarity.seedCentroids(8, 64)),
        codebooks = Some(Similarity.pqSeedCodebooks(8, 16, 8)))
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      def serveOnce(): Seq[(Long, Double)] = {
        import spark.implicits._
        Warehouse.ivfPqServe(spark, root, q, topK = 10, nprobe = 2,
            cand = 50)
          .orderBy(col("cosine").desc, col("vec_id"))
          .as[(Long, Double)].collect().toSeq
      }
      // median-of-5 serve wall seconds (first call after a structure
      // change pays planning; the median is the steady-state claim)
      def serveSec(): Double = {
        val times = (1 to 5).map { _ =>
          val t0 = System.nanoTime(); serveOnce()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        times(2)
      }
      // one generation = update ~1/31 of the corpus (alternating
      // reversed/original so chained generations really stack)
      val slice = emb.filter(col("vec_id") % 31 === 5)
      def update(g: Int): Unit = {
        val batch = if (g % 2 == 0)
          slice.withColumn("embedding", reverse(col("embedding")))
        else slice
        Warehouse.updateInPqIndex(spark, root, batch)
        ()
      }
      val measured = scala.collection.mutable.LinkedHashMap[Int, Double]()
      measured(0) = serveSec()
      (1 to gens).foreach { g =>
        update(g)
        if (Seq(1, 2, 4, 8, 16).contains(g) || g == gens)
          measured(g) = serveSec()
      }
      val before = serveOnce()
      // physical accretion: committed delta-code rows minus live ones
      val allRows = Warehouse.pqDeltaCodeTable(spark, root).read().count()
      val liveRows = Warehouse.readPqCodesLive(spark, root)
        .join(slice.select("vec_id"), "vec_id").count()
      Warehouse.compactPqIndex(spark, root)
      val after = serveOnce()
      val compactedSec = serveSec()
      val gensJson = measured.map { case (g, s) =>
        s""""$g":${f"$s%.4f"}""" }.mkString(",")
      val line = s"""{"gens":{$gensJson},""" +
        s""""compacted":${f"$compactedSec%.4f"},""" +
        s""""dead_rows":${allRows - liveRows},""" +
        s""""answers_equal":${before == after},"sf":"$sfDir"}"""
      println(line)
      Files.writeString(Paths.get(out), line + "\n")
      require(before == after,
        "compaction under the frozen model must not change answers")
    } finally spark.stop()
  }
}
