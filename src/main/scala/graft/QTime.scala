package graft

/** Dev tool: time named registry queries standalone, one noop-sink write
  * each (the Bench basis), after the same `prepare` warmup Bench runs. */
object QTime {
  def main(args: Array[String]): Unit = {
    // same dataset-selection contract as Bench/Verify — a standalone
    // timing must never silently run against a different SF than the
    // bench being debugged
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.requireKnown(args)
    val spark = LocalSession()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // same warmup contract as Bench: index builds are one-time setup, so
    // index-serving queries time the serve path here too — otherwise a
    // "standalone" reading would include the build the bench amortizes
    SparkEntry.prepare(spark, sfDir)
    for (name <- args) {
      spark.sharedState.cacheManager.clearCache()
      // timed action = noop-sink write (the Bench basis: count() lets
      // Catalyst prune narrow scoring projections to a metadata count)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      println(f"QTIME $name $el%8.2f s")
    }
    spark.stop()
  }
}
