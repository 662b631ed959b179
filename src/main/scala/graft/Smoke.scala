package graft

import org.apache.spark.sql.SparkSession

/** Mimics the driver's t1 smoke check: a *plain* SparkSession (no
  * nanos-as-long conf — Tables must set it defensively), run
  * `SparkEntry.entry` on sf0.001, require rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // deliberately not GraftSession: a plain session without
    // nanosAsLong is what proves Tables sets it defensively
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      // plan-string rendering is billed on EVERY action (the SQL
      // listener event; AQE re-posts per stage): "simple" renders the
      // bare tree instead of formatted per-node detail — observed 18
      // driver-minutes of tree-regex rendering at sf10 without it
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
