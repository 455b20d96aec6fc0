package graft
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Dev tool: dump `explain("formatted")` for named registry queries to
  * one file per query under args(1) — the optimization-round plan
  * evidence (plans/rNN/<query>_{before,after}.txt). Each query's own plan
  * runs once first (rows discarded on the executors), so the dump is the
  * FINAL adaptive plan: stage statistics, the join strategies AQE chose
  * and every `ReusedExchange` are visible. A noop write would not do: it
  * plans a new execution and leaves this one's plan initial.
  * args(0) = sf dir; args(2) = comma-separated query names (required —
  * formatted plans of all 237 queries are noise); optional args(3) =
  * filename suffix (default none), e.g. `_before`. */
object PlanFormat {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = args(2).split(',').toSeq
    val suffix = args.lift(3).getOrElse("")
    SparkEntry.requireKnown(names)
    val spark = LocalSession()
    SparkEntry.prepare(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val txt = try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(s"planformat $name"))(qe.toRdd.foreach(_ => ()))
        qe.explainString(FormattedMode)
      } catch { case t: Throwable => s"ERROR ${t.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"WROTE $outDir/$name$suffix.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
