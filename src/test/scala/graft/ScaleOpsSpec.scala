package graft

import org.apache.spark.sql.functions._
import graft.ops.Salt
import graft.sources.Sinks

/** Scale-mechanics operators: salted aggregation equivalence, sink
  * round-trips, bucketed co-located joins, and the composed clean-corpus
  * pipeline. */
class ScaleOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("salted sum equals direct sum on every key") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy("l_returnflag").agg(sum("l_quantity").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Salt.saltedSum(li, Seq("l_returnflag"), "l_quantity", buckets = 16).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-6, k) }
  }

  test("salted count equals direct count") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val direct = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedCount(ev, Seq("event_type"), buckets = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("jsonl documents round-trip and malformed lines drop, not abort") {
    import graft.sources.DocumentSource
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    DocumentSource.writeJsonl(docs, s"$dir/docs")
    val back = DocumentSource.readJsonl(spark, s"$dir/docs")
      .select(docs.columns.map(col): _*)
    assert(back.except(docs).isEmpty && docs.except(back).isEmpty)
    // a corrupt shard costs rows, never the job
    val broken = s"$dir/broken.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(broken),
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}
        |this line is not json at all
        |{"doc_id": 2, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}
        |""".stripMargin.getBytes("UTF-8"))
    val kept = DocumentSource.readJsonl(spark, broken)
    assert(kept.count() == 2)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("salted join is row-identical to the plain join") {
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    val plain = ord.join(cust, Seq("c_custkey"))
    val salted = Salt.saltedJoin(ord, cust, "c_custkey", buckets = 8)
      .select(plain.columns.map(col): _*)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    assert(salted.count() == plain.count())   // except() dedups; counts pin multiplicity
  }

  test("asof fixture carries no duplicate (user_id, ts) purchases at any sf") {
    // AsOfJoin breaks right-side (key, time) ties deterministically
    // (greatest payload wins), but DuckDB's ASOF JOIN leaves the choice
    // unspecified — the oracle gate is only sound while the fixture has no
    // such ties. Pin that precondition so a regenerated fixture that gains
    // one fails HERE with a clear message, not as a flaky hash mismatch.
    Seq("sf0.001", "sf0.01").foreach { s =>
      val dups = graft.events.Events.events(spark, s"/root/testdata/$s")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").count().filter(col("count") > 1).count()
      assert(dups == 0L, s"$s: duplicate (user_id, ts) purchase rows make the asof oracle ambiguous")
    }
  }

  test("orc sink round-trips with predicate pushdown at the scan") {
    import graft.collocations.Collocations
    val out = java.nio.file.Files.createTempDirectory("orc_test").toString
    val docs = Collocations.documents(spark, sf)
    Sinks.writeOrc(docs, out)
    val back = spark.read.orc(out)
    // row-identical round trip
    assert(back.count() == docs.count())
    val a = docs.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet
    val b = back.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet
    assert(a == b)
    // the pushdown contract: the doc_id filter must reach the ORC scan
    val q = back.filter(col("doc_id") < 10).select("doc_id")
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters") && scan.contains("LessThan(doc_id,10)"),
      s"ORC scan must carry the pushed filter:\n$scan")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("collocation sinks release their count cache when a write fails") {
    import graft.collocations.Collocations
    spark.sharedState.cacheManager.clearCache()
    intercept[Exception] {
      Sinks.writeCollocationOutputs(Collocations.documents(spark, sf), "nosuchscheme://sink/out")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "the count table is still cached")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("tsv sink round-trips the reference intermediate format") {
    import graft.collocations.Collocations
    val out = java.nio.file.Files.createTempDirectory("sink_test").toString
    val docs = Collocations.documents(spark, sf)
    Sinks.writeCollocationOutputs(docs, out)
    val data = spark.read.option("sep", "\t")
      .schema("lang STRING, w STRING, c LONG").csv(s"$out/data")
    val n = spark.read.option("sep", "\t")
      .schema("lang STRING, n LONG").csv(s"$out/n")
    val expectU = Collocations.unigramCounts(docs).count()
    assert(data.count() == expectU)
    // N read back equals sum of counts per lang
    val nMap = n.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromData = data.groupBy("lang").agg(sum("c").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nMap == fromData)
  }

  test("bucketed tables sort-merge join without a shuffle exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("bucketed").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val or = spark.read.parquet(s"$sf/orders.parquet")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$tmp/li_b").saveAsTable("li_b")
    or.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$tmp/o_b").saveAsTable("o_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_b").join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed join must not shuffle:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("partitioned writes prune partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("part_write").toString + "/docs"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Sinks.writePartitioned(docs, out, "lang")
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters: [") && scan.contains("lang"),
      s"expected partition pruning:\n$scan")
    assert(back.count() == docs.filter(col("lang") === "en").count())
  }

  test("clean corpus pipeline: survivors pass quality, no exact dups, no lsh b-side") {
    import graft.collocations.Collocations
    val docs = Collocations.documents(spark, sf)
    val out = graft.pipelines.CleanCorpus.clean(docs, minQuality = 0.80)
    val ids = out.collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.size < docs.count())
    // no surviving doc shares an exact text with a smaller surviving id
    val texts = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val byText = texts.groupBy(_._2)
    assert(byText.values.forall(_.length == 1), "exact dups survived")
  }

  test("histogram bins fixed-width with exact bounds; below-range lands in negative bins") {
    import spark.implicits._
    val df = Seq(-5.0, 0.0, 3.0, 9.99, 10.0, 25.0).toDF("x")
    val bins = graft.ops.TableProfile.histogram(df, "x", lo = 0.0, width = 10.0).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(bins(-1L) == ((-10.0, 1L, -5.0, -5.0)), "below-range must surface, not drop")
    assert(bins(0L) == ((0.0, 3L, 0.0, 9.99)))
    assert(bins(1L) == ((10.0, 1L, 10.0, 10.0)), "bin edges are [lo, hi)")
    assert(bins(2L) == ((20.0, 1L, 25.0, 25.0)))
  }

  test("hourly gap fill densifies each type's grid with zero rows, preserving real buckets") {
    import spark.implicits._
    val hourUs = 3600000000L
    // realistic 2023 base (the BIGINT branch's epoch-nanos magnitude guard
    // rejects near-epoch-zero values by design), rounded to an hour edge
    val baseHour = 1700000000L * 1000 * 1000 / hourUs + 1
    // type A: baseHour+10 and +13 (gap at +11, +12); type B: +20 only
    val ev = Seq(
      (1L, (baseHour + 10) * hourUs * 1000, 1L, "A", 5.0, "{}"),
      (2L, (baseHour + 13) * hourUs * 1000, 1L, "A", 7.0, "{}"),
      (3L, (baseHour + 20) * hourUs * 1000, 2L, "B", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = graft.events.Events.hourlyGapFill(ev).collect()
      .map(r => (r.getString(1), r.getLong(0) - baseHour) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set(("A", 10L), ("A", 11L), ("A", 12L), ("A", 13L), ("B", 20L)),
      s"grid must span each type's own bounds only, got ${rows.keySet}")
    assert(rows(("A", 10L)) == ((1L, 5.0)) && rows(("A", 13L)) == ((1L, 7.0)))
    assert(rows(("A", 11L)) == ((0L, 0.0)) && rows(("A", 12L)) == ((0L, 0.0)))
    assert(rows(("B", 20L)) == ((1L, 1.0)))
  }

  test("merge upsert classifies by side presence, not value nullness") {
    import spark.implicits._
    val base = Seq[(Long, java.lang.Double)]((1L, 10.0), (2L, null), (3L, 30.0))
      .toDF("k", "v")
    val upd = Seq[(Long, java.lang.Double)]((2L, null), (3L, 33.0), (9L, 90.0))
      .toDF("k", "v")
    val out = graft.ops.Merge.upsert(base, upd, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getString(2)))).toMap
    // k=2: matched with a NULL update value — still an update, value NULL
    assert(out == Map(
      1L -> ((Some(10.0), "keep")),
      2L -> ((None, "update")),
      3L -> ((Some(33.0), "update")),
      9L -> ((Some(90.0), "insert"))))
  }

  test("merge upsert refuses inputs colliding with its reserved action/marker names") {
    import spark.implicits._
    // an input 'action' column would silently duplicate the output's
    // attribution column; '__b_*'/'__u_*' would collide with the renames
    for (reserved <- Seq("action", "__b_present", "__u_present", "__b_v", "__u_x")) {
      val df = Seq((1L, "a")).toDF("k", reserved)
      val e = intercept[IllegalArgumentException](graft.ops.Merge.upsert(df, df, Seq("k")))
      assert(e.getMessage.contains(reserved), s"error must name the offender: ${e.getMessage}")
    }
  }

  test("table profile counts nulls, distincts and native-typed min/max in one pass") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "b"), (2L, null), (2L, "a"), (null, "a"), (9L, "c")
    ).toDF("k", "s")
    val rows = graft.ops.TableProfile.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(rows("k") == ((5L, 1L, 3L, "1", "9")))
    assert(rows("s") == ((5L, 1L, 3L, "a", "c")))
    // numeric min-then-cast, never lexicographic: "9" > "10" as strings
    val wide = Seq[java.lang.Long](9L, 10L).toDF("k")
    val r2 = graft.ops.TableProfile.profile(wide, Seq("k")).collect().head
    assert(r2.getString(4) == "9" && r2.getString(5) == "10")
  }

  test("profile sketch twin matches exact columns and proves the HLL in-bound") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "b"), (2L, null), (2L, "a"), (null, "a"), (9L, "c")
    ).toDF("k", "s")
    val rows = graft.ops.TableProfile.profileApprox(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getString(5), r.getString(6))))
      .toMap
    // exact columns identical to profile(); nd_within_rsd true (HLL is
    // exact at this cardinality, and 4·rsd is the documented bound)
    assert(rows("k") == ((5L, 1L, 3L, true, "1", "9")))
    assert(rows("s") == ((5L, 1L, 3L, true, "a", "c")))
  }

  test("mad outliers: approx default tracks the exact boundary within sketch wobble") {
    import graft.collocations.Collocations
    val docs = Collocations.documents(spark, sf)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(graft.ops.TableProfile.madOutliers(docs, "n_chars", z = 1.2, exact = true))
    // library default (approx_percentile sketch): rank error is < 1 at
    // n << accuracy, but the sketch returns an ACTUAL data value where
    // exact percentile interpolates between order stats — the boundary
    // can wobble by the interpolation gap, flipping only rows sitting on
    // it. The flag sets must agree except for a small boundary fringe.
    val approx = ids(graft.ops.TableProfile.madOutliers(docs, "n_chars", z = 1.2))
    val symdiff = (exact diff approx) ++ (approx diff exact)
    assert(exact.nonEmpty && approx.nonEmpty)
    assert(symdiff.size <= math.max(2, exact.size / 10),
      s"approx boundary drifted: ${symdiff.size} of ${exact.size} flags differ")
    // checked twin: exactly the exact-boundary rows, envelope booleans true
    val checked = graft.ops.TableProfile.madOutliersChecked(docs, "n_chars", z = 1.2)
    assert(ids(checked) == exact)
    assert(checked.select("med_ok", "mad_ok").collect()
      .forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("corpus shuffle is a deterministic content-keyed permutation") {
    import graft.collocations.Collocations
    val docs = Collocations.documents(spark, sf)
    val n = docs.count()
    val pos = graft.pipelines.CleanCorpus.corpusShuffle(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a permutation: every doc placed, positions exactly 1..N
    assert(pos.size == n && pos.values.toSeq.sorted == (1L to n).toSeq)
    // content-keyed: NOT doc_id order (the permutation actually shuffles)
    val byId = pos.toSeq.sortBy(_._1).map(_._2)
    assert(byId != byId.sorted, "positions followed doc_id order — no shuffle happened")
    // deterministic: a second run reproduces every position bit-for-bit
    val again = graft.pipelines.CleanCorpus.corpusShuffle(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == pos)
  }

  test("drift PSI: an in-distribution group scores near zero, a shifted group scores high") {
    import spark.implicits._
    // "flat" mirrors the pooled reference; "shifted" concentrates all its
    // mass in the top bin the others barely touch
    val rows =
      (0 until 100).map(i => ("flat_a", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(i => ("flat_b", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(_ => ("shifted", 480.0))
    val df = rows.toDF("source", "n_chars")
    val psi = graft.ops.TableProfile.driftPsi(df, "n_chars", "source", lo = 0.0, width = 50.0)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("psi")).toMap
    assert(psi.keySet == Set("flat_a", "flat_b", "shifted"))
    // the two flat sources differ from the pooled reference only through
    // the shifted source's contribution to it
    assert(psi("flat_a") == psi("flat_b"), "identical distributions must score identically")
    assert(psi("shifted") > 1.0, s"concentrated shift must dominate: ${psi("shifted")}")
    assert(psi("flat_a") < psi("shifted") / 4, s"flat ${psi("flat_a")} should be far below shifted")
    // PSI is non-negative by construction (it is a symmetrized KL form)
    psi.values.foreach(v => assert(v >= 0.0, s"PSI must be non-negative: $v"))
  }

  test("quantile-bin PSI: approx default tracks exact edges; shifted group still dominates") {
    import spark.implicits._
    val rows =
      (0 until 100).map(i => ("flat_a", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(i => ("flat_b", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(_ => ("shifted", 480.0))
    val df = rows.toDF("source", "n_chars")
    def scores(exact: Boolean) =
      graft.ops.TableProfile.driftPsiQuantile(df, "n_chars", "source", nBins = 5, exact = exact)
        .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("psi")).toMap
    val ex = scores(exact = true)
    assert(ex("flat_a") == ex("flat_b"), "identical distributions must score identically")
    assert(ex("shifted") > ex("flat_a"), s"shift must dominate: $ex")
    ex.values.foreach(v => assert(v >= 0.0, s"PSI must be non-negative: $v"))
    // the sketch-edged default stays ordered the same way (values may
    // differ slightly when an approx edge lands on a duplicate-heavy
    // point, but the drift signal must survive the sketch)
    val ap = scores(exact = false)
    assert(ap("shifted") > ap("flat_a"), s"approx edges must preserve the drift signal: $ap")
  }

  test("KS drift: bounded in [0,1], zero-gap for a proportional group, max for a disjoint shift") {
    import spark.implicits._
    val rows =
      (0 until 100).map(i => ("flat_a", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(i => ("flat_b", (i % 10) * 50.0 + 10)) ++
      (0 until 100).map(_ => ("shifted", 2000.0)) // entirely above every flat bin
    val ks = graft.ops.TableProfile.driftKs(rows.toDF("source", "n_chars"), "n_chars", "source")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("ks")).toMap
    ks.values.foreach(v => assert(v >= 0.0 && v <= 1.0, s"KS must be a probability gap: $v"))
    assert(ks("flat_a") == ks("flat_b"))
    // the shifted group's CDF stays 0 until the last bin while the
    // reference has accumulated the two flat groups' 2/3 of the mass
    assert(math.abs(ks("shifted") - 2.0 / 3) < 1e-6, s"disjoint shift: ${ks("shifted")}")
    // each flat group's CDF reaches 1 while the reference still holds
    // the shifted third back: gap = 1/3
    assert(math.abs(ks("flat_a") - 1.0 / 3) < 1e-6, s"flat gap: ${ks("flat_a")}")
  }

  test("key skew profile surfaces the hot key with its share and hot ratio") {
    import spark.implicits._
    // one key holds 90 of 100 rows across 11 keys
    val rows = Seq.fill(90)(7L) ++ (10L until 20L)
    val prof = graft.ops.TableProfile.keySkewProfile(rows.toDF("k"), "k", topK = 3)
      .orderBy("rank").collect()
    assert(prof.length == 3)
    val hot = prof.head
    assert(hot.getAs[Long]("key") == 7L && hot.getAs[Long]("cnt") == 90L)
    assert(hot.getAs[Double]("share") == 0.9)
    // 90 rows vs a uniform 100/11 per key
    assert(math.abs(hot.getAs[Double]("hot_ratio") - 90.0 * 11 / 100) < 1e-6)
    // cumulative share is monotone and rank 2/3 are the tied singletons in key order
    assert(prof.map(_.getAs[Double]("cum_share")).toSeq == Seq(0.9, 0.91, 0.92))
    assert(prof(1).getAs[Long]("key") == 10L && prof(2).getAs[Long]("key") == 11L)
    assert(prof.forall(r => r.getAs[Long]("n_keys") == 11L && r.getAs[Long]("n_rows") == 100L))
  }
}
