package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built: every dev `main` and the test
  * suites get the same settings, so a reading from one tool describes the
  * same engine as a reading from another. `CollocationsCli` keeps its own
  * builder because spark-submit sets its master. */
object LocalSession {

  /** Core count from `SPARK_GRAFT_CPUS`, default 4. Kept as the string
    * the setting holds: Bench keys its carried floors by it. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * TIMESTAMP(NANOS) parquet columns read as epoch-nanos longs (see
    * `Events.tsMicros`), the UI off, and WARN logging. */
  def apply(cpus: String = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
