package graft

/** Dev tool: dump every registry query's NORMALIZED optimized-plan text
  * (the [[Bench.normalizePlan]] form whose md5 is the carry-forward
  * fingerprint) to one file per query under args(1), for cross-JVM
  * diffing — run twice into two dirs and `diff -r` to find any
  * JVM-volatile token class the normalizer misses. args(0) = sf dir;
  * optional args(2) = comma-separated query names. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    only.foreach(SparkEntry.requireKnown)
    val spark = LocalSession()
    SparkEntry.prepare(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      val (raw, txt, fpFresh, fpExec) = try {
        val df = fn(spark, sfDir)
        val fresh = Bench.planFingerprint(df, "X")
        df.write.format("noop").mode("overwrite").save()
        val execd = Bench.planFingerprint(df, "X")
        val r = df.queryExecution.optimizedPlan.toString
        (r, Bench.normalizePlan(r), fresh, execd)
      } catch { case t: Throwable => (s"ERROR ${t.getMessage}", s"ERROR ${t.getMessage}", "", "") }
      println(s"FP $name fresh=$fpFresh exec=$fpExec same=${fpFresh == fpExec}")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name.txt"),
        txt.getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name.raw.txt"),
        raw.getBytes("UTF-8"))
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
