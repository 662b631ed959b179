package graft

import org.apache.spark.sql.SparkSession

/** The one local session set-up shared by the bench, verify and
  * measurement tools and the test suites. Callers add their own
  * settings (app name, warehouse dir) on the returned builder.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // plan-string rendering is billed on EVERY action (the SQL
      // listener event; AQE re-posts per stage): "simple" renders the
      // bare tree instead of formatted per-node detail — observed 18
      // driver-minutes of tree-regex rendering at sf10 without it
      .config("spark.sql.ui.explainMode", "simple")
      // one index update plans ~80 generated classes; at Spark's default
      // of 100 cached classes, back-to-back verbs evict each other's
      // classes and every update and serve recompiles them all
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
