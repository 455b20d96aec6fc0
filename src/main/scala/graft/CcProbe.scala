// scratch: A/B harness for connected-components round variants on the
// REAL image/video pair graphs — label signatures must match exactly.
package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object CcProbe {

  /** (n, sum(component)) — the exact-label signature both variants must
    * share (sum is exact DECIMAL, the CC convergence metric itself). */
  private def sig(labels: DataFrame): (Long, java.math.BigDecimal) = {
    val r = labels.agg(count(lit(1)), sum(col("component").cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** The shipped loop with k neighbor-min hops fused into each round's
    * single checkpointed execution (k=1 == shipped shape). Pointer jump
    * once per round after the hops. */
  private def ccKHop(pairs: DataFrame, hops: Int, maxIters: Int = 40): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ckN = 0
    def cut(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_], java.math.BigDecimal) = {
      ckN += 1
      val obs = new org.apache.spark.sql.Observation(s"ccp_${hops}_$ckN")
      val ck = df.observe(obs, sum(col("component").cast("decimal(38,0)")).as("s")).localCheckpoint()
      val s = Option(obs.get("s")).map(_.asInstanceOf[java.math.BigDecimal].stripTrailingZeros)
        .getOrElse(java.math.BigDecimal.ZERO)
      val internal = ck.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        case _ => null
      }
      (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), internal, s)
    }
    def rel(r: org.apache.spark.rdd.RDD[_]): Unit = if (r != null) { r.unpersist(false); () }
    var (labels, ck0, sum0) = cut(
      edges.select(col("src").as("doc_id")).distinct().withColumn("component", col("doc_id")))
    var labelsCk = ck0
    var prev = sum0
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val t0 = System.nanoTime()
      var cur = labels
      for (_ <- 0 until hops) {
        val nm = edges
          .join(cur.withColumnRenamed("doc_id", "dst").withColumnRenamed("component", "n_comp"), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(min(col("n_comp")).as("n_comp"))
        cur = cur.join(nm, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
      }
      val jumped = cur.as("s")
        .join(cur.select(col("doc_id").as("p_id"), col("component").as("p_comp")),
          col("s.component") === col("p_id"), "left")
        .select(col("s.doc_id").as("doc_id"),
          least(col("s.component"), coalesce(col("p_comp"), col("s.component"))).as("component"))
      val (upd, updCk, ns) = cut(jumped)
      rel(labelsCk)
      labels = upd; labelsCk = updCk
      converged = prev.compareTo(ns) == 0
      prev = ns
      it += 1
      println(f"CCP hops=$hops iter=$it sum=$ns ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    val out = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    rel(labelsCk)
    edges.unpersist()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("ccprobe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.collocations.Collocations.documents(spark, sfDir)
    val pairs = graft.dedup.Dedup.fingerprintPairs(graft.multimodal.Modality.Image, docs)
    val reps = pairs.filter(col("hamming") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"rep-graph pairs=${reps.count()}")
    for (hops <- args.map(_.toInt)) {
      spark.sparkContext.setJobDescription(s"ccprobe hops=$hops")
      val t0 = System.nanoTime()
      val l = ccKHop(reps, hops)
      val el = (System.nanoTime() - t0) / 1e9
      println(f"CCPROBE hops=$hops total $el%6.2f s sig=${sig(l)}")
      l.unpersist()
    }
    spark.stop()
  }
}
