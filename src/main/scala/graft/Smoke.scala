package graft

/** Dev utility: smoke-run `SparkEntry.entry` exactly as the driver's t1
  * gate does (sf0.001, rows>0), printing the plan head and row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, truncate = false)
    spark.stop()
  }
}
