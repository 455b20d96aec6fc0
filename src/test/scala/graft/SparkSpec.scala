package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite via lazy val; JVM-wide reuse through
  * getOrCreate keeps the whole test run on a single SparkContext). Four
  * cores always, whatever `SPARK_GRAFT_CPUS` says, so plan-shape tests do
  * not depend on the box. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession("4")

  /** Runs `body` with the given session confs, then restores each one's
    * previous value (or unsets it): the session is shared by every suite. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Physical plan with AQE wrappers unwrapped, so node-level assertions
    * (`plan.collect { case j: ...Exec => }`) see the real operators. */
  def physicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def strip(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match {
        case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
        case other                    => other
      }
    strip(df.queryExecution.executedPlan)
  }
}
