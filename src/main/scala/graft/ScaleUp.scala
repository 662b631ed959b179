package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Derive an sf1.0 dataset from the driver's sf0.1 parquet — the 10×
  * datapoint the scale-slope bench ([[BenchScale]]) measures against.
  * The driver ships sf{0.001,0.01,0.1} only; every 100 TB claim in
  * PLANS.md is design-argued at a single measured scale factor until a
  * second, larger factor exists. This generator manufactures that
  * factor by key-shifted replication that PRESERVES each table's
  * workload characteristics, so the sf0.1→sf1.0 runtime ratio
  * measures the ENGINE's scaling, not an artifact of the data:
  *
  *  - Facts and their dimensions replicate by each table's own
  *    sf0.01→sf0.1 growth (10×; embeddings 4×), with every key — and
  *    every foreign key — shifted by copy·(max+1), so join fan-outs,
  *    group cardinalities per key, and per-user event structure are
  *    IDENTICAL per copy (the TPC-H scaling discipline: dims grow with
  *    SF, `nation`/`region` stay fixed, `l_returnflag`-style group
  *    counts stay constant while rows per group grow 10×).
  *  - `documents` copies beyond the first suffix every word of ≥ 4
  *    letters with a copy tag. Within a copy, exact and near
  *    duplicates survive verbatim (the same transform applies to
  *    both sides), so the corpus duplication RATE holds and dedup
  *    candidate pairs grow ~10× — while across copies no shingle of
  *    ≥ 4-letter words survives, so MinHash/SimHash do not pair the
  *    replicas themselves (which would quadratically inflate the
  *    pair space and measure the data, not the engine). Every
  *    stopword the quality gates count is ≤ 3 letters, so
  *    length/stopword/punctuation statistics are untouched.
  *  - `embeddings` replicates vectors verbatim (ties broken by the
  *    shifted ids keep every top-k deterministic).
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [dstDir]` (defaults
  * /root/testdata/sf0.1 → .scaledata/sf1.0; skips work if the dst has
  * a `_SUCCESS_SCALEUP` marker).
  */
object ScaleUp {

  private def shifted(df: DataFrame, copies: Int,
                      keyShifts: Map[String, Long]): DataFrame =
    (0 until copies).map { k =>
      keyShifts.foldLeft(df) { case (d, (c, m)) =>
        d.withColumn(c, col(c) + lit(k * m))
      }
    }.reduce(_.unionByName(_))

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect()(0).getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse(".scaledata/sf1.0")
    val marker = java.nio.file.Paths.get(s"$dst/_SUCCESS_SCALEUP")
    if (java.nio.file.Files.exists(marker)) {
      println(s"""{"scaleup":"cached","dst":"$dst"}""")
      return
    }
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, src)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    // fixed dims copy through untouched (TPC-H: nation/region are
    // scale-invariant)
    write(t.region, "region", 1)
    write(t.nation, "nation", 1)

    val cMax = maxOf(t.customer, "c_custkey")
    val sMax = maxOf(t.supplier, "s_suppkey")
    val pMax = maxOf(t.part, "p_partkey")
    val oMax = maxOf(t.orders, "o_orderkey")
    write(shifted(t.customer, 10, Map("c_custkey" -> cMax)), "customer", 4)
    write(shifted(t.supplier, 10, Map("s_suppkey" -> sMax)), "supplier", 1)
    write(shifted(t.part, 10, Map("p_partkey" -> pMax)), "part", 4)
    write(shifted(t.orders, 10,
      Map("o_orderkey" -> oMax, "o_custkey" -> cMax)), "orders", 8)
    write(shifted(t.lineitem, 10,
      Map("l_orderkey" -> oMax, "l_partkey" -> pMax,
        "l_suppkey" -> sMax)), "lineitem", 16)

    // events: users shift with their events, so each copy adds NEW
    // users with the original per-user session/transition structure
    // (g1's graph gets 10× edge mass over the same node set)
    val eMax = maxOf(t.events, "event_id")
    val uMax = maxOf(t.events, "user_id")
    write(shifted(t.events, 10,
      Map("event_id" -> eMax, "user_id" -> uMax)), "events", 8)

    // documents: suffix ≥4-letter words per copy (see scaladoc)
    val dMax = maxOf(t.documents, "doc_id")
    val docs = (0 until 10).map { k =>
      val base = t.documents.withColumn("doc_id", col("doc_id") + lit(k * dMax))
      val text =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z]{4,})", s"$$1z$k")
      base.withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionByName(_))
    write(docs, "documents", 8)

    // embeddings grow 4× between driver SFs; mirror that ratio
    val vMax = maxOf(t.embeddings, "vec_id")
    write(shifted(t.embeddings, 4, Map("vec_id" -> vMax)), "embeddings", 4)

    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker, "ok")
    println(s"""{"scaleup":"done","dst":"$dst"}""")
    spark.stop()
  }
}
