package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Scale-slope bench: run the PLANS.md scale exemplars at sf0.1 AND the
  * derived sf1.0 ([[ScaleUp]]) and record the per-query runtime ratio.
  * A plan that is honestly linear in the data lands near 10× (plus a
  * fixed-overhead discount that flatters small queries); anything
  * clearly super-linear at 10× means a corpus-sized constant or an
  * accidentally quadratic stage — found HERE, not on the cluster.
  * Writes BENCH_SF1.json: per-query sf0.1 s / sf1.0 s / ratio, plus
  * each input's row-growth factor for context.
  *
  * Usage: `runMain graft.BenchScale [sf01Dir] [sf10Dir] [outJson]` —
  * the third arg lets a SECOND decade (sf1.0 → sf10, both derived)
  * land in its own artifact (BENCH_SF10.json) instead of overwriting
  * the first decade's.
  */
object BenchScale {

  /** The scale exemplars (VERDICT r10 §next-round list): star-schema
    * heads, dedup pipelines, ANN serving, text curation, graph —
    * widened in r12 with one exemplar per remaining family: as-of
    * join, window indicators, manifest-table writes (incl. schema
    * evolution), TF-IDF's doc×term shuffle, hybrid retrieval fusion,
    * a stateful streaming pipeline, the decorrelated-subquery star
    * (q17), and train-slice LM scoring (t38) — and again later in r12
    * with the table-lifecycle family: zone-map range reads over an
    * accreted corpus (u18), incremental materialized-view maintenance
    * (u20), the manifest-diffed change feed (u21), and OPTIMIZE-style
    * re-clustering (u22). The lifecycle exemplars are write-dominated
    * by design: their slope measures the manifest protocol's commit
    * path, not just the read side. r13 closes the last evidence gaps
    * (VERDICT r12 §missing-2): the change-feed-driven derived table
    * (u23 — the most expensive bench query, previously argued linear
    * by analogy), the streaming MV (st13), the expectation-gated
    * quarantine stream (st14), and the triangle-salted fuzzy-match
    * join (t39). r15 adds the ANN index-lifecycle writers: frozen-
    * model compaction (n29 — O(live index) by definition), the
    * cross-cluster snapshot handoff (n30 — export + verify + rebuild,
    * O(corpus)), the self-compacting update stream (st18 —
    * per-batch O(batch) commits plus one θ-triggered reclaim), and
    * the CDC-driven index sync (n31 — feed-pruned against the index,
    * O(feed) steady state; the exemplar pays one whole-table
    * first-sync reconcile plus the index build, both O(corpus)).
    */
  private val exemplars = Seq(
    "q1_lineitem_agg", "q3_shipping_priority", "q5_star_revenue",
    "q5b_star_bucketed", "d3_minhash_pairs", "d6_dedup_clusters",
    "d15_span_dedup", "n6_ivf_partitioned", "n13_ivfpq_topk",
    "t15_quality_rules", "p8_curation_pipeline", "g1_pagerank",
    "j6_asof_join", "w18_macd", "u1b_warehouse_upsert",
    "u16_schema_evolution", "t12_tfidf", "n10_hybrid_rrf",
    "st2_doc_stream_dedup", "q17_small_qty_revenue",
    "t38_backoff_logprob", "u18_zone_map_skip",
    "u20_materialized_agg", "u21_change_feed", "u22_cluster_optimize",
    "u23_derived_sync", "st13_view_stream", "st14_quarantine_gate",
    "t39_fuzzy_match", "n29_index_compact", "n30_index_ship",
    "st18_auto_compact", "n31_index_cdc_sync")

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val sf10 = args.lift(1).getOrElse(".scaledata/sf1.0")
    require(Files.exists(Paths.get(s"$sf10/_SUCCESS_SCALEUP")),
      s"run `runMain graft.ScaleUp` first — no derived dataset at $sf10")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // warm both datasets' footers + codegen before timing anything
    Seq(sf01, sf10).foreach { d =>
      Tables(spark, d).events.count(); Tables(spark, d).documents.count()
      SparkEntry.prepareBucketed(spark, d)
    }
    val rows = exemplars.map { name =>
      val fn = SparkEntry.queries(name)
      def run(dir: String): Double =
        Bench.timeQuery(spark, dir, fn, reps) match {
          case Right(t) => t
          case Left(e)  => sys.error(s"$name failed at $dir: $e")
        }
      val a = run(sf01)
      val b = run(sf10)
      System.err.println(s"[bench-scale] $name sf0.1=${num(a)}s " +
        s"sf1.0=${num(b)}s ratio=${num(b / a)}")
      name -> (a, b)
    }
    val growth = Seq("lineitem", "orders", "events", "documents",
      "embeddings").map { t =>
      val a = spark.read.parquet(s"$sf01/$t.parquet").count()
      val b = spark.read.parquet(s"$sf10/$t.parquet").count()
      s""""$t":${num(b.toDouble / a)}"""
    }.mkString("{", ",", "}")
    val qjson = rows.map { case (n, (a, b)) =>
      s""""$n":{"sf01_sec":${num(a)},"sf10_sec":${num(b)},""" +
        s""""ratio":${num(b / a)}}"""
    }.mkString("{", ",", "}")
    val worst = rows.maxBy { case (_, (a, b)) => b / a }
    val out =
      s"""{"metric":"sf_slope","reps":$reps,"queries":$qjson,""" +
      s""""row_growth":$growth,""" +
      s""""worst":{"query":"${worst._1}",""" +
      s""""ratio":${num(worst._2._2 / worst._2._1)}},""" +
      s""""sf01":"$sf01","sf10":"$sf10"}"""
    val outPath = args.lift(2).getOrElse("BENCH_SF1.json")
    val tmp = Paths.get(outPath + ".tmp")
    Files.write(tmp, (out + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(outPath),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    println(out)
    spark.stop()
  }
}
