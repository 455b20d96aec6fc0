package graft

import org.apache.spark.sql.functions.abs

/** Results must not depend on the physical join strategy: at small SF the
  * vocabulary joins broadcast, at 100 TB they sort-merge — this pins that
  * both plans compute identical bytes (the flagship's correctness is
  * structural, not an artifact of the broadcast path the gate happens to
  * take locally).
  *
  * The flagship builder is one lazy plan that caches nothing
  * (`Collocations.withN` included), so the join operators sit in the
  * executed plan itself. The session cache is still cleared before each
  * strategy run, so a table another suite left cached cannot stand in for
  * the joins. */
class JoinStrategySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("flagship results are identical under broadcast and sort-merge strategies") {
    def run(): (Seq[String], String) = {
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries("collocations_e2e")(spark, sf)
      val plan = physicalPlan(df).toString
      (df.collect().map(_.mkString("|")).sorted.toSeq, plan)
    }
    val (broadcastRows, broadcastPlan) = run()
    assert(broadcastPlan.contains("BroadcastHashJoin"),
      s"expected broadcast vocabulary joins at small SF:\n$broadcastPlan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val (smjRows, smjPlan) = run()
      assert(smjPlan.contains("SortMergeJoin"),
        s"expected sort-merge under disabled broadcast:\n$smjPlan")
      assert(smjRows == broadcastRows, "join strategy changed the result")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("band join matches the naive quadratic semantics, including across bucket boundaries") {
    import spark.implicits._
    val df = Seq(
      ("k1", 1L, 0.019), // bucket 1 at eps=0.01
      ("k1", 2L, 0.021), // bucket 2 — within eps of row 1 only via neighbor probe
      ("k1", 3L, 0.05),  // isolated
      ("k1", 4L, 0.06),  // exactly eps from row 3 (0.06-0.05 == 0.01 in binary? filter decides; both paths agree)
      ("k2", 5L, 0.019)  // same value as row 1, different key: never pairs
    ).toDF("k", "id", "v")
    val got = graft.ops.BandJoin.bandJoin(df, Seq("k"), "id", "v", eps = 0.01)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: the naive cross-product semantics on the same tiny input
    val want = df.as("l").join(df.as("r"),
        $"l.k" === $"r.k" && $"l.id" < $"r.id" && abs($"l.v" - $"r.v") <= 0.01)
      .select($"l.id", $"r.id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"grid join must equal naive semantics: got $got want $want")
    assert(got.contains((1L, 2L)), "cross-bucket-boundary pair must be found")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L), "keys must partition the band")
  }

  test("bandJoin rejects non-positive eps at plan time") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0)).toDF("id", "k", "v")
    // eps = 0 would make floor(v/eps) infinite and the ANSI long cast throw
    // CAST_OVERFLOW mid-job; negative eps would silently return garbage
    val e0 = intercept[IllegalArgumentException] {
      graft.ops.BandJoin.bandJoin(df, Seq("k"), "id", "v", eps = 0.0)
    }
    assert(e0.getMessage.contains("eps"))
    intercept[IllegalArgumentException] {
      graft.ops.BandJoin.bandJoin(df, Seq("k"), "id", "v", eps = -0.5)
    }
  }
}
