package graft

/** Ad-hoc per-query timer: run named SparkEntry queries N times in one
  * JVM (default 3) to separate real cost from JIT/GC/page-cache noise in
  * the single-shot bench. Usage:
  *   runMain graft.QueryTime <sfDir> <reps> <query...>
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, sfDir).events.count()
    Tables(spark, sfDir).documents.count()
    SparkEntry.prepareBucketed(spark, sfDir)
    names.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Caches.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-24s ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
