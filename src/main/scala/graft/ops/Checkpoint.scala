package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager local checkpoints whose cached blocks are always released. */
object Checkpoint {

  /** `df.localCheckpoint()` plus the checkpoint's cached RDD, the handle
    * that releases it (`null` if the checkpoint is not a `LogicalRDD`):
    * the blocks are a raw RDD persist, not a cacheManager entry, so
    * `clearCache()` cannot free them. A checkpoint whose job fails is
    * already registered as persisted but never returned, so it is found by
    * the unique call site its RDD is created under (`what` names it) and
    * released before the failure propagates. */
  def local(df: DataFrame, what: String): (DataFrame, RDD[_]) = {
    val sc = df.sparkSession.sparkContext
    val site = s"$what checkpoint ${java.util.UUID.randomUUID()}"
    val prevSite = sc.getLocalProperty("callSite.short")
    sc.setCallSite(site)
    val ck = try df.localCheckpoint()
      catch { case t: Throwable =>
        sc.getPersistentRDDs.values.filter(_.toString.endsWith(s" at $site"))
          .foreach(_.unpersist(blocking = false))
        throw t
      } finally sc.setLocalProperty("callSite.short", prevSite)
    (ck, ck.queryExecution.logical match {
      case l: LogicalRDD => l.rdd
      case _ => null
    })
  }
}
