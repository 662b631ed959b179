package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.streaming.QuoteState
import graft.streaming.QuoteState.Quote

/** Salted skew join correctness + stateful streaming delta tracking. */
class SkewAndStateSpec extends AnyFunSuite with StopsStreams {
  import TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals the plain join (inner and left)") {
    val fact = (1 to 200).map(i =>
      (i.toLong, if (i % 10 == 0) "COLD" else "HOT", i * 1.0))
      .toDF("id", "k", "v") // 90% of rows on one key: skewed
    val dim = Seq(("HOT", 1), ("COLD", 2), ("ABSENT", 3)).toDF("k", "w")
    for (jt <- Seq("inner", "left")) {
      val plain = fact.join(dim, Seq("k"), jt)
        .select("id", "k", "v", "w").orderBy("id").collect().toSeq
      val salted = Skew.saltedJoin(fact, dim, Seq("k"), $"id", 8, jt)
        .select("id", "k", "v", "w").orderBy("id").collect().toSeq
      assert(salted === plain, s"join type $jt")
    }
  }

  test("saltedSum equals the plain grouped sum") {
    val df = (1 to 500).map(i => (i.toLong, s"k${i % 3}", i * 0.5))
      .toDF("id", "k", "v")
    val plain = df.groupBy("k").agg(sum($"v").as("s"))
      .as[(String, Double)].collect().toMap
    val salted = Skew.saltedSum(df, Seq("k"), $"v", $"id", 16, "s")
      .as[(String, Double)].collect().toMap
    assert(plain.keySet === salted.keySet)
    plain.foreach { case (k, v) => assert(math.abs(salted(k) - v) < 1e-9) }
  }

  test("stateful quote deltas carry state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[Quote]
    val q = QuoteState.deltaStream(input.toDS())
      .writeStream.format("memory").queryName("quote_state_out")
      .outputMode(QuoteState.outputMode).start()
    try {
      input.addData(Quote("EURUSD", 1.08, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // second batch: delta must be computed against the STORED state
      input.addData(
        Quote("EURUSD", 1.10, ts("2024-01-01 10:01:00")),
        Quote("AAPL", 190.0, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val rows = spark.table("quote_state_out")
        .as[(String, Double, Option[Double], Long)].collect()
      val eur = rows.filter(_._1 == "EURUSD")
      assert(eur.head._3 === None)             // first observation
      assert(eur.last._2 === 1.10)
      assert(math.abs(eur.last._3.get - 0.02) < 1e-9) // vs stored 1.08
      val aapl = rows.filter(_._1 == "AAPL").head
      assert(aapl._3 === None && aapl._4 === 1L)
    } finally q.stop()
  }
}
