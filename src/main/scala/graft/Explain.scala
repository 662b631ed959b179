package graft

/** Dump formatted physical plans for the headline queries — the
  * shuffle/broadcast/pushdown review loop (run after operator changes).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("f1_range_filter", "q5_star_revenue", "j1_positions",
        "q1_lineitem_agg", "w1_sma5")
    val dir = "/root/testdata/sf0.001"
    names.foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
