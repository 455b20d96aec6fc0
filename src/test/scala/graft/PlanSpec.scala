package graft

import org.apache.spark.sql.functions._
import graft.collocations.Collocations

/** Physical-plan assertions (SURVEY §4): the scale story depends on
  * specific Catalyst behaviors — these tests pin them so a refactor that
  * silently loses a broadcast or the window-group-limit rewrite fails CI,
  * not production. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("registry: 237 distinct names, the multimodal family and every ladder rung present") {
    assert(SparkEntry.queries.size == 237, s"registry size ${SparkEntry.queries.size}")
    val multimodal = Seq("dedup_image_phash", "dedup_image_indexed", "dedup_image_incremental",
      "dedup_audio_fingerprint", "dedup_audio_indexed", "dedup_audio_incremental",
      "dedup_video_fingerprint", "dedup_video_indexed", "dedup_video_incremental",
      "dedup_image_stream_gate", "dedup_audio_stream_gate", "dedup_video_stream_gate")
    val ladder = Seq("", "_v2", "_v3", "_v4").flatMap(v =>
      Seq(s"pipeline_pretrain_corpus$v", s"pipeline_pretrain_report$v"))
    val missing = (multimodal ++ ladder).filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"missing registry entries: $missing")
    assert(SparkEntry.oracleSql.keySet.intersect(multimodal.toSet) == multimodal.toSet,
      "every multimodal entry carries its static oracle")
  }

  test("top-k window rewrites to partial+final WindowGroupLimit") {
    val p = plan(SparkEntry.queries("topk_window")(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit rewrite:\n$p")
    // partial (map-side) + final occurrences, mirroring the reference's
    // combiner heap (Job3.java:83-93)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, s"expected partial+final:\n$p")
  }

  /** Stopwords are a literal set tested inside the row: no join filters
    * them, a filter holds the `InSet` probe, and no broadcast ships a
    * driver-local table. */
  private def assertStopwordsInRow(exec: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val aqe = new AdaptiveSparkPlanHelper {}
    assert(aqe.collect(exec) { case j: BaseJoinExec if j.joinType == LeftAnti => j }.isEmpty,
      s"no join filters stopwords:\n$exec")
    assert(aqe.collect(exec) { case f: FilterExec if f.condition.exists(_.isInstanceOf[InSet]) => f }
      .nonEmpty, s"expected an InSet stopword probe in a filter:\n$exec")
    assert(aqe.collect(exec) {
      case b: BroadcastExchangeLike if b.child.exists(_.isInstanceOf[LocalTableScanExec]) => b
    }.isEmpty, s"no broadcast of a local table:\n$exec")
  }

  private val ngramPaths = {
    val dir = OracleSqlExt.ngramFixtureDir
    (Seq(s"$dir/eng-1gram.tsv", s"$dir/heb-1gram.tsv"), Seq(s"$dir/eng-2gram.tsv", s"$dir/heb-2gram.tsv"))
  }

  test("flagship pipeline broadcasts N and tests stopwords in the row") {
    val top = Collocations.topCollocations(Collocations.documents(spark, sf))
    val p = plan(top)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins:\n$p")
    assertStopwordsInRow(top.queryExecution.executedPlan)
  }

  test("flagship text plan shares the count table through exchange reuse, not a cache") {
    // why the text path needs no cache: in the final adaptive plan one
    // count side's broadcast reuses the other's, N's aggregation reads the
    // unigram shuffle, and the corpus is scanned once per aggregation
    // (unigram and bigram), not once per join side. Which side is built
    // and which reuses it depends on which stage AQE plans first.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    spark.sharedState.cacheManager.clearCache()
    val top = Collocations.topCollocations(Collocations.documents(spark, sf))
    top.collect()
    val exec = top.queryExecution.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val broadcasts = aqe.collect(exec) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.size == 2, s"expected 2 broadcasts (unigram counts and N), got ${broadcasts.size}:\n$exec")
    val reused = aqe.collect(exec) { case r: ReusedExchangeExec => r }
    val sides = Set(Seq("lang", "w1", "c1"), Seq("lang", "w2", "c2"))
    assert(reused.exists(r => r.child.isInstanceOf[BroadcastExchangeLike] && sides(r.output.map(_.name))),
      s"one count side must reuse the other's broadcast:\n$exec")
    assert(reused.exists(r => r.child.isInstanceOf[ShuffleExchangeLike] &&
      r.output.map(_.name) == Seq("lang", "w", "count")), s"N must reuse the unigram shuffle:\n$exec")
    val scans = aqe.collect(exec) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => s
    }
    assert(scans.size <= 2, s"documents.parquet scanned ${scans.size} times:\n$exec")
  }

  test("scan_project pushes predicates and prunes columns at the parquet scan") {
    val df = SparkEntry.queries("scan_project")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters: ["), s"no pushdown:\n$scan")
    assert(scan.contains("GreaterThan(l_quantity") , s"quantity filter not pushed:\n$scan")
    // ReadSchema must not include unused columns like l_comment/l_tax
    assert(!scan.contains("l_tax"), s"column pruning failed:\n$scan")
  }

  test("count aggregations run partial then final (map-side combine)") {
    val p = plan(Collocations.unigramCounts(Collocations.documents(spark, sf)))
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("codegen dot product stays inside whole-stage codegen") {
    import spark.implicits._
    // a file source keeps the projection lazy (a local relation would be
    // constant-folded into a LocalTableScan before physical planning)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = emb.select(graft.functions.VectorFunctions.dot(
      col("embedding").cast("array<double>"), col("embedding").cast("array<double>")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan(df).linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")),
      s"expected graft_dot inside a codegen stage:\n${plan(df)}")
    // and the tiny local case still evaluates correctly (interpreted path)
    val local = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.dot(
        col("embedding").cast("array<double>"), col("embedding").cast("array<double>")).as("d"))
    assert(local.collect().map(_.getDouble(0)).toSeq == Seq(5.0, 25.0))
  }

  test("lsh bucket self-join is an equi join on (band, sig), not a cross product") {
    val p = plan(graft.dedup.Dedup.lshCandidates(Collocations.documents(spark, sf)))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH join:\n$p")
  }

  test("capped LSH bucket cache feeds the self-join pre-partitioned — one exchange total") {
    // The scale contract on Dedup.lshCandidates: capBuckets' count-over-
    // window partitions on the SAME (band, sig) key the candidate
    // self-join shuffles on, and the persist between them preserves that
    // hash partitioning — so the join consumes both cached sides with NO
    // exchange of its own. The only shuffle in the whole candidate plan is
    // the trailing distinct on (a, b). A refactor that caps on the cache
    // READ side (the r10 shape), or re-keys the window, silently doubles
    // the shuffle at 100 TB; this pins it to exactly one.
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    // force the sort-merge form: at test SF the capped table is broadcast-
    // small, which would skip the partitioning-reuse path this test pins
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // drop caches left by other suites: a previously-cached lshCandidates
    // result canonicalizes equal to the plan built here and would swallow
    // the whole subtree into one InMemoryTableScan leaf
    spark.sharedState.cacheManager.clearCache()
    val docs = Collocations.documents(spark, sf)
    val capped = Dedup.capBuckets(Dedup.lshBuckets(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      capped.count() // materialize: fixes the cache's output partitioning
      val cand = Dedup.candidatesFromBuckets(capped, maxBucketSize = 0)
      cand.count()   // let AQE finalize before walking the plan
      // node-level walk, NOT a plan-string regex: InMemoryRelation prints
      // its (already-paid) build plan inline, which would double-count
      val shuffles = physicalPlan(cand).collect {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeLike   => e
      }
      assert(shuffles.size == 1,
        s"candidate plan should shuffle once (the distinct), saw ${shuffles.size}:\n${physicalPlan(cand)}")
    } finally {
      capped.unpersist()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("guarded hamming band join: capped cache feeds the self-join pre-partitioned — one pair-plan exchange") {
    // The scale contract on Dedup.bandedHammingPairs: the hot-bucket
    // count-over-window partitions on the SAME (band, bits) key the
    // representative self-join shuffles on, and the materialized persist
    // preserves that partitioning — so the pair plan's ONLY shuffle is
    // the trailing distinct, with the star side riding the cached rep
    // table shuffle-free. The builder materializes internally, so the
    // pinned plan is read back off the result's InMemoryRelation.
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sharedState.cacheManager.clearCache()
    try {
      // 40 docs over 10 distinct fingerprints: identical groups (stars)
      // AND cross-fingerprint band agreements both present in the plan
      val fps = (1L to 40L).map(i => (i, (i % 10) * 3L)).toDF("doc_id", "simhash")
      val out = Dedup.bandedHammingPairs(fps, "simhash", maxHamming = 3)
      // descend through AQE wrappers and query stages (leaves to
      // `collect`), but NOT into InMemoryTableScan build plans — only the
      // pair plan's own shuffles count (each cached intermediate pays its
      // one window exchange in its own build, pinned by eye above)
      def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => countShuffles(q.plan)
        case e: ShuffleExchangeLike => 1 + e.children.map(countShuffles).sum
        case other => other.children.map(countShuffles).sum
      }
      val build = physicalPlan(out).collectFirst { case s: InMemoryTableScanExec => s } match {
        case Some(s) => s.relation.cachedPlan
        case None    => fail(s"result must be persisted:\n${physicalPlan(out)}")
      }
      val n = countShuffles(build)
      assert(n == 1, s"pair plan should shuffle once (the distinct), saw $n:\n$build")
      out.unpersist(blocking = true)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("capped winnow posting cache feeds the fp self-join pre-partitioned — one exchange total") {
    // Same contract as the capped LSH bucket cache, on the fp key: the
    // posting-cap window partitions on fp, the persist preserves that
    // partitioning, and the overlap self-join consumes both cached sides
    // with no exchange of its own — the only shuffle after the cache is
    // the final (a, b) pair aggregation.
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sharedState.cacheManager.clearCache()
    val capped = Dedup.cappedPostings(
        Dedup.winnowFingerprints(Collocations.documents(spark, sf)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      capped.count()
      val pairs = capped.select(col("fp"), col("doc_id").as("a"))
        .join(capped.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      pairs.count()
      val shuffles = physicalPlan(pairs).collect {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeLike   => e
      }
      assert(shuffles.size == 1,
        s"overlap plan should shuffle once (the pair agg), saw ${shuffles.size}:\n${physicalPlan(pairs)}")
    } finally {
      capped.unpersist()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("substring anchor cache feeds the pair self-join pre-partitioned — no join-side exchange") {
    // substringMatchesFrom's contract: ONE hash-repartition on `h` before
    // the persist, then the guard aggregation and both self-join sides
    // consume that partitioning with no exchange of their own.
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sharedState.cacheManager.clearCache()
    val width = spark.sessionState.conf.numShufflePartitions
    val an = Dedup.substringAnchors(Collocations.documents(spark, sf), 24, 7)
      .repartition(width, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      an.count()
      val guard = an.groupBy("h").agg(count(lit(1)).as("pn")).agg(max(col("pn")))
      guard.collect()
      val guardShuffles = physicalPlan(guard).collect {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeLike   => e
      }
      // the h-keyed partial/final agg reuses the cache's partitioning; the
      // only exchange is the 1-row global max (metadata-sized)
      assert(guardShuffles.size <= 1,
        s"guard agg should reuse the h partitioning, saw ${guardShuffles.size}:\n${physicalPlan(guard)}")
      val pairs = an.select(col("h"), col("doc_id").as("a"), col("pos").as("pa"))
        .join(an.select(col("h"), col("doc_id").as("b"), col("pos").as("pb")), Seq("h"))
        .filter(col("a") < col("b"))
        .select("a", "pa", "b", "pb")
      pairs.count()
      val joinShuffles = physicalPlan(pairs).collect {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeLike   => e
      }
      assert(joinShuffles.isEmpty,
        s"pair self-join must read both cached sides pre-partitioned, saw ${joinShuffles.size}:\n${physicalPlan(pairs)}")
    } finally {
      an.unpersist()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("sketch twins aggregate partial then final (mergeable partials)") {
    Seq("percentiles_approx", "approx_distinct").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("ObjectHashAggregate|HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must ship mergeable partials, not a global collect:\n$p")
    }
  }

  test("decontamination joins buckets cross-set, never all-pairs") {
    val p = plan(SparkEntry.queries("decontaminate")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in decontaminate plan:\n$p")
    assert(p.contains("array_intersect"), s"expected containment verify:\n$p")
  }

  test("embedding LSH pair-dedup never falls back to an all-pairs join") {
    val p = plan(SparkEntry.queries("dedup_embedding_lsh")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in embedding LSH plan:\n$p")
  }

  test("shuffle budgets hold for the one-exchange operators") {
    // queries whose scale story is "exactly one shuffle" — a refactor
    // that adds an exchange fails here before it costs anything at scale
    // pack_sequences: 3 = the globalCumSum rewrite's fixed budget — ONE
    // repartition of data rows on the content-derived bucket (the bucket
    // window rides it exchange-free), plus the per-bucket-totals agg and
    // single-partition offsets window that only move ≤ bucket-count
    // metadata rows
    // dedup_passages: 2 = hash-of-passage window + per-doc aggregation;
    // at this SF the short-doc pass-through join broadcasts the
    // doc-count-sized stats table (BroadcastExchange, not counted here —
    // the sort-merge form is pinned separately below); the passage
    // explode itself is array-local (shuffle-free)
    // budgets are EXACT, not upper bounds: `n <= budget` would let the
    // documented exchange-reuse properties regress silently (e.g. the
    // dedup_passages stats side growing its own doc_id shuffle would still
    // land under a loose bound) — fewer exchanges than documented is also
    // a plan change worth re-auditing, so equality it is
    Seq("events_hourly" -> 1, "sessionize" -> 1, "dedup_exact" -> 1,
        "agg_unigrams" -> 1, "pack_sequences" -> 3,
        "dedup_passages" -> 2).foreach { case (q, budget) =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      val n = "Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
        .findAllIn(p).size
      assert(n == budget, s"$q: $n exchanges (documented $budget):\n$p")
    }
  }

  test("passage-dedup pass-through join reuses the stats-side doc_id partitioning") {
    // the 100 TB shape: stats are doc-count-sized, so the pass-through
    // join sort-merges. The per-doc aggregation already hash-partitions
    // its output on doc_id, so the stats side of the join must add NO
    // exchange of its own — exactly 3 total: passage-hash window, per-doc
    // agg, and the doc-id-list side of the join. A 4th exchange means the
    // reuse property regressed.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("dedup_passages")(spark, sf)
      val p = plan(df)
      assert(p.contains("SortMergeJoin"), s"expected sort-merge pass-through:\n$p")
      val n = "Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
        .findAllIn(p).size
      assert(n == 3, s"dedup_passages (no broadcast): $n exchanges (documented 3):\n$p")
      // the reuse property asserted DIRECTLY, not inferred from the count:
      // the stats side must feed the join straight from its final
      // HashAggregate — the agg's own hash output partitioning satisfies
      // the join's requirement, so ANY shuffle between the join and the
      // aggregate is the regression this pins out. (It surfaces as
      // partitioning pass-through, not a ReusedExchange node — the agg's
      // exchange is below the final agg, shared by construction.)
      // Executed first so AQE's final stages are what gets walked.
      df.count()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
      val smj = physicalPlan(df).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected sort-merge join:\n${physicalPlan(df)}")
      def shuffleAboveAgg(p: SparkPlan): Boolean = p match {
        case _: BaseAggregateExec    => false
        case _: ShuffleExchangeLike  => true
        case _: ShuffleQueryStageExec => true
        case other => other.children.exists(shuffleAboveAgg)
      }
      val aggSides = Seq(smj.head.left, smj.head.right)
        .filter(s => s.collectFirst { case a: BaseAggregateExec => a }.isDefined)
      assert(aggSides.nonEmpty, s"no aggregated stats side under the join:\n${smj.head}")
      aggSides.foreach(s => assert(!shuffleAboveAgg(s),
        s"stats side grew its own exchange above the per-doc agg:\n$s"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("salted aggregation runs two aggregation phases, no extra exchange") {
    val p = plan(SparkEntry.queries("salted_agg")(spark, sf))
    // two groupBys (salted + final), each partial+final = 4 HashAggregates,
    // and exactly the two shuffles the rewrite implies
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"expected two-phase agg:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
  }

  test("ngram decade e2e keeps the reference plan shape: broadcasts + window group limit") {
    val df = SparkEntry.queries("ngram_decade_e2e")(spark, sf)
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"), s"expected top-k rewrite:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast count joins:\n$p")
    assertStopwordsInRow(df.queryExecution.executedPlan)
  }

  test("n-gram plan builds each small table once: the c1 and c2 sides share one broadcast") {
    // the n-gram twin of the text test above: the c1 and c2 sides project
    // the one unigram table the same way, so the final adaptive plan
    // broadcasts two tables (unigram counts and N), not four. Which side
    // is built and which reuses it depends on which stage AQE plans first.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    import graft.collocations.NGramCollocations
    val top = NGramCollocations.fromPaths(spark, ngramPaths._1, ngramPaths._2)
    top.collect()
    val exec = top.queryExecution.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val broadcasts = aqe.collect(exec) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.size == 2, s"expected 2 broadcasts, got ${broadcasts.size}:\n$exec")
    val reused = aqe.collect(exec) { case r: ReusedExchangeExec => r }
    val sides = Set(Seq("lang", "decade", "w1", "c1"), Seq("lang", "decade", "w2", "c2"))
    assert(reused.exists(r => r.child.isInstanceOf[BroadcastExchangeLike] && sides(r.output.map(_.name))),
      s"one count side must reuse the other's broadcast:\n$exec")
  }

  test("n-gram path evaluates each per-row expression once, in one lazy plan small enough to JIT") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Log, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.collocations.NGramCollocations
    import graft.functions.CleanToken
    import graft.sources.NGramSource
    val (uniPaths, bgPaths) = ngramPaths
    def in(p: LogicalPlan): Seq[Expression] = p.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    def splits(p: LogicalPlan, re: String) =
      in(p).count { case StringSplit(_, Literal(r, _), _) => r.toString == re; case _ => false }
    def cleans(p: LogicalPlan) = in(p).count(_.isInstanceOf[CleanToken])

    // a filter on a projected alias would be pushed down as a second copy
    val bg = NGramSource.bigrams(NGramSource.read(spark, bgPaths: _*)).queryExecution.optimizedPlan
    assert(splits(bg, "\t") == 1 && splits(bg, "\\s+") == 1, s"one split per line and ngram:\n$bg")
    assert(cleans(bg) == 2, s"one clean per token, two tokens:\n$bg")
    val uni = NGramSource.unigrams(NGramSource.read(spark, uniPaths: _*)).queryExecution.optimizedPlan
    assert(splits(uni, "\t") == 1 && cleans(uni) == 1, s"one split, one clean:\n$uni")

    val before = spark.sparkContext.getPersistentRDDs.keySet
    val top = NGramCollocations.fromPaths(spark, uniPaths, bgPaths)
    assert(top.collect().length == 4)
    val exec = physicalPlan(top)
    val aqe = new AdaptiveSparkPlanHelper {}
    val logs = aqe.flatMap(exec)(_.expressions.flatMap(_.collect { case l: Log => l }))
    assert(logs.size == 4, s"one LLR (four ln terms):\n$exec")
    // HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
    // (DontCompileHugeMethods), so such a stage runs interpreted
    val huge = org.apache.spark.sql.execution.debug.codegenStringSeq(top.queryExecution.executedPlan)
      .collect { case (stage, _, stats) if stats.maxMethodCodeSize > 8000 => s"${stats.maxMethodCodeSize} B: $stage" }
    assert(huge.isEmpty, s"generated methods too large to JIT:\n${huge.mkString("\n")}")
    assert(aqe.collect(exec) { case m: InMemoryTableScanExec => m }.isEmpty, s"no cached table:\n$exec")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty, "nothing left persisted")
  }

  /** Expressions of every plan fragment that reads a file, a fragment
    * being the operators between exchanges; descends through AQE stages,
    * reused exchanges and cached relations. */
  private def scanStageExpressions(exec: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    // (operators of the fragment rooted at p, roots of the fragments below)
    def fragment(p: SparkPlan): (Seq[SparkPlan], Seq[SparkPlan]) = p match {
      case a: AdaptiveSparkPlanExec  => (Nil, Seq(a.executedPlan))
      case q: QueryStageExec         => (Nil, Seq(q.plan))
      case r: ReusedExchangeExec     => (Nil, Seq(r.child))
      case e: Exchange               => (Nil, Seq(e.child))
      case m: InMemoryTableScanExec  => (Seq(m), Seq(m.relation.cachedPlan))
      case other =>
        val kids = other.children.map(fragment)
        (other +: kids.flatMap(_._1), kids.flatMap(_._2))
    }
    def all(roots: Seq[SparkPlan]): Seq[Seq[SparkPlan]] = roots.flatMap { r =>
      val (ops, below) = fragment(r)
      ops +: all(below)
    }
    all(Seq(exec)).filter(_.exists(_.isInstanceOf[DataSourceScanExec]))
      .flatMap(_.flatMap(_.expressions.flatMap(_.collect { case e => e })))
  }

  test("flagship scan stages run compiled: no higher-order function, regex or other interpreted expression") {
    // higher-order-function lambdas and regexp_replace evaluate interpreted
    // or through a String round-trip once per array element; the scan
    // stages are the critical path of both flagships
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, RegExpReplace}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.collocations.NGramCollocations
    spark.sharedState.cacheManager.clearCache()
    val text = Collocations.topCollocations(Collocations.documents(spark, sf))
    val ngram = NGramCollocations.fromPaths(spark, ngramPaths._1, ngramPaths._2)
    Seq("text" -> text, "n-gram" -> ngram).foreach { case (name, df) =>
      df.collect()
      val exprs = scanStageExpressions(df.queryExecution.executedPlan)
      assert(exprs.exists(_.isInstanceOf[graft.functions.CleanToken]) ||
        exprs.exists(_.isInstanceOf[graft.functions.Tokens]), s"$name: scan stages not found")
      val interpreted = exprs.filter {
        case _: HigherOrderFunction | _: RegExpReplace | _: CodegenFallback => true
        case _ => false
      }
      assert(interpreted.isEmpty,
        s"$name scan stages evaluate interpreted: ${interpreted.map(_.prettyName).distinct.mkString(", ")}\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("document scans prune to the columns the operator touches") {
    // text ops must not drag lang/source/n_chars through a 100 TB scan
    Seq("text_rolling_hash", "multimodal_resize", "text_token_stats").foreach { q =>
      val scan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
      assert(scan.contains("ReadSchema") && !scan.contains("source") && !scan.contains("n_chars"),
        s"$q reads more than it needs:\n$scan")
    }
  }

  test("round-6 operators keep their scale shapes") {
    // chunking, z-order values, and the Gopher rule battery are
    // array-local scan -> project / generate pipelines: zero exchanges at
    // any corpus size
    Seq("chunk_documents", "zorder_layout", "quality_gopher_rules").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Exchange"), s"$q should be shuffle-free:\n$p")
    }
    // PQ scores the corpus against LITERAL probe/codebook models — no join
    // anywhere; the only wide op is the per-query top-k, which must take
    // the partial+final WindowGroupLimit rewrite
    val p = plan(SparkEntry.queries("ann_pq_topk")(spark, sf))
    assert(!p.contains("Join"), s"pq scoring must not join:\n$p")
    assert(p.contains("WindowGroupLimit"), s"pq top-k should group-limit:\n$p")
  }

  test("per-document text operators stay shuffle-free scans") {
    Seq("scrub_pii", "sample_stratified", "text_token_stats").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Exchange"), s"$q should be a pure scan+project:\n$p")
    }
  }

  test("count-min sketch build is one bounded aggregation") {
    // the CMS contract: explode(depth probes) is array-local, so the whole
    // build is exactly ONE hash-partitioned exchange on (rw, bkt) —
    // depth×width-bounded however large the corpus
    val p = plan(SparkEntry.queries("cms_sketch_bigrams")(spark, sf))
    val n = "Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
      .findAllIn(p).size
    assert(n == 1, s"cms_sketch_bigrams: $n exchanges (documented 1):\n$p")
    // drift_psi's single-corpus-scan property (ref proportions derived
    // from the cached group×bin table, never a second scan) is NOT
    // plan-assertable here: the builder releases the cache after
    // materializing, and CacheManager recompiles the released reference
    // into a plain scan in the inspected plan — the execution that
    // mattered read parquet once, but the post-hoc plan no longer shows
    // it. The property is structural (TableProfile.driftPsi derives
    // `ref` by re-aggregating `cur`) and covered by the oracle gate.
  }

  test("single-relation eval queries never join — the label/metric rides the projection") {
    // The r17 eval-shape sweep: an eval whose inputs are ONE relation
    // plus a driver-side model must attach its label/metric inside the
    // scoring projection itself — a scan-then-self-join-on-doc_id (or
    // on any carried key) re-shuffles and often RE-SCANS the corpus to
    // re-attach a column the projection already holds (measured on
    // text_langid_trained_eval: 12.7 s vs 0.12 s for its predict twin
    // before the fix; tokenizer_eval rescanned+re-tokenized the corpus
    // through an occ⋈occ-derived join). The multi-relation evals
    // (ann_*_recall_eval, dedup_blocking_eval) legitimately join two
    // DIFFERENT derivations (approximate vs exact) and are exempt.
    Seq("quality_classifier_eval", "text_langid_confusion",
        "text_langid_trained_eval", "tokenizer_eval").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("join"),
        s"$q must be projection + aggregate, never a join:\n$p")
    }
  }

  test("per-doc token statistics are one grouped pass — scalars ride the exploded rows") {
    // The r18 fold of the second-pass-join shape: a per-doc constant
    // (total_chars, n_tokens, n_distinct) rides the exploded gram/token
    // rows (max-folded through both grouped passes) instead of a second
    // corpus pass joined back on doc_id (measured r17 on
    // text_repetition_ngrams: the join-back form floored at 5.6 s vs
    // ~4 s folded, and it re-tokenized the corpus). The passage/line
    // scrub rebuilders keep their docs⋈agg recover join by design: an
    // all-duplicate/all-boilerplate doc has NO surviving exploded row to
    // carry anything on, so the single-pruned-column recover join is the
    // only way it re-enters the output.
    // node-name match, not bare "join": the gram builders legitimately
    // print array_join inside their Generate expressions
    val joinNode =
      "(?i)(sortmergejoin|broadcasthashjoin|shuffledhashjoin|broadcastnestedloop|cartesianproduct)".r
    Seq("text_repetition_ngrams", "text_repetition", "text_entropy").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(joinNode.findFirstIn(p).isEmpty,
        s"$q must be explode + grouped passes, never a join:\n$p")
    }
  }

  test("no registry query plans a cartesian product, BNLJ, or global window over data") {
    // The absolute scale invariant, swept over EVERY shipped query: no
    // unbounded×unbounded join node anywhere (a BNLJ passes only with a
    // plan-provable single-row build side), and any
    // empty-partition window must consume aggregated metadata (≤ partition
    // count rows), never raw table rows. Baselines that genuinely need an
    // all-pairs plan (closestEmbeddingPairs) live in tests, not here.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // a BNLJ build side provably emits ≤ 1 row only if, after stripping
    // row-preserving wrappers, its ROOT is a grouping-free aggregate —
    // an aggregate merely somewhere below (e.g. under a join that fans
    // back out) proves nothing
    @annotation.tailrec
    def singleRowRoot(p: SparkPlan): Boolean = p match {
      case e: BroadcastExchangeExec => singleRowRoot(e.child)
      case e: ReusedExchangeExec    => singleRowRoot(e.child)
      case w: WholeStageCodegenExec => singleRowRoot(w.child)
      case i: InputAdapter          => singleRowRoot(i.child)
      case r: AQEShuffleReadExec    => singleRowRoot(r.child)
      case s: QueryStageExec        => singleRowRoot(s.plan)
      case pr: ProjectExec          => singleRowRoot(pr.child)
      // a filter can only REDUCE rows, so ≤1 in implies ≤1 out — Catalyst
      // inserts inferred isnotnull(thr) filters above single-row
      // threshold aggregates (quality_gate_quantile)
      case f: org.apache.spark.sql.execution.FilterExec => singleRowRoot(f.child)
      case a: BaseAggregateExec     => a.groupingExpressions.isEmpty
      // a local (driver-materialized) relation with ≤ 1 row is bounded by
      // construction — the broadcast-a-model idiom (decontaminate_bloom's
      // bit-string row); the row count is known at plan time, which is an
      // even stronger proof than the grouping-free aggregate case
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l.rows.length <= 1
      case _                        => false
    }
    // `collect` does not descend into InMemoryRelation.cachedPlan (cached
    // subtrees are innerChildren, display-only), so a scale-unsafe join
    // hidden under a builder-persisted intermediate or materialized result
    // would escape the sweep — expand every cached plan and sweep those too
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def stripAqe(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => stripAqe(a.executedPlan)
      case other                    => other
    }
    def expandCached(p: SparkPlan): Seq[SparkPlan] =
      p +: p.collect { case s: InMemoryTableScanExec => stripAqe(s.relation.cachedPlan) }
        .flatMap(expandCached).toSeq
    // structural row-count boundedness: limits and aggregates bound their
    // output, a multi-child node is bounded only if every child is, narrow
    // unary nodes inherit from their child, and leaf scans are unbounded
    def bounded(p: SparkPlan): Boolean = stripAqe(p) match {
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.CollectLimitExec => true
      case _: BaseAggregateExec => true
      case s: InMemoryTableScanExec => bounded(stripAqe(s.relation.cachedPlan))
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val bad = expandCached(physicalPlan(q(spark, sf))).flatMap { p =>
        p.collect { case _: CartesianProductExec => "CartesianProduct" }.toSeq ++
        p.collect {
          // a BNLJ is tolerable ONLY when the plan itself proves the build
          // side is a single row (the crossJoin(broadcast(globalTotal))
          // idiom)
          case j: BroadcastNestedLoopJoinExec
            if !singleRowRoot(j.buildSide match {
                 case BuildLeft => j.left; case BuildRight => j.right }) =>
            "BroadcastNestedLoopJoin with unbounded build side"
        } ++
        p.collect {
          // a partition-less window is bounded iff its input provably is.
          // `bounded` walks the subtree STRUCTURALLY: limits and
          // aggregates bound their output; a join/union is bounded only
          // if EVERY child is (a limit on one side of a join must not
          // exempt a window whose other side is the raw corpus); narrow
          // nodes inherit; leaf scans never qualify. The hybrid-RRF rank
          // windows (over a join/union of two top-N lists) stay legal;
          // a window over `50-row list JOIN corpus` is flagged.
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
            "global Window over raw rows"
        }
      }
      bad.map(b => s"$name: $b")
    }
    assert(offenders.isEmpty, s"scale-unsafe plans:\n${offenders.mkString("\n")}")
  }

  test("build-once artifacts: one table of distinct keys, and a second prepare runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val keys = SparkEntry.artifacts.map(_.key)
    assert(keys.distinct.size == keys.size, s"duplicate artifact keys: ${keys.diff(keys.distinct)}")
    SparkEntry.prepare(spark, sf)
    // job starts reach the listener in order, so once the sentinel job is
    // seen every job the second prepare started has been seen too
    val (group, sentinel) = ("artifacts-second-prepare", "artifacts-sentinel")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.add(g -> e.stageInfos.map(_.name).mkString("; "))
        if (g == sentinel) sentinelSeen.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val dirs = try {
      sc.setJobGroup(group, "second prepare")
      SparkEntry.prepare(spark, sf)
      val dirs = SparkEntry.artifacts.map(_.dir(spark, sf))
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never reached the listener")
      dirs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val rebuilt = jobs.asScala.collect { case (`group`, stages) => stages }.toSeq
    assert(rebuilt.isEmpty, s"second prepare ran ${rebuilt.size} Spark jobs: ${rebuilt.mkString(" | ")}")
    assert(dirs.distinct.size == dirs.size, s"artifacts share a dir: $dirs")
    val missing = SparkEntry.artifacts.map(_.key).zip(dirs)
      .filterNot { case (_, d) => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)) }
    assert(missing.isEmpty, s"artifact dirs missing after prepare: $missing")
  }

  test("the LSH bucket-size cap adds no exchange to the candidate self-join") {
    // capBuckets is a count-over-window partitioned on the SAME (band, sig)
    // key the candidate self-join shuffles on — in the at-scale (sort-merge)
    // regime the join rides the window's exchange, so the cap adds at most
    // a sort. Pinned by counting shuffles with the cap on vs off under
    // broadcast-disabled planning (a 100 TB bucket table never
    // broadcasts): a refactor that re-keys the window (or swaps it for a
    // counts-aggregate join without partitioning reuse) doubles the
    // dominant shuffle at corpus scale and fails here first.
    // clean slate: earlier tests' registry executions leave caller-owned
    // caches (e.g. lshCandidates' capped bucket table) whose logical plans
    // MATCH the subtrees built here — cache substitution would splice an
    // InMemoryRelation whose display string carries its own exchanges and
    // skew the counts; this test is about the RAW plan shape
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val buckets = graft.dedup.Dedup.lshBuckets(Collocations.documents(spark, sf))
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
          .findAllIn(plan(df)).size
      val capped = exchanges(graft.dedup.Dedup.candidatesFromBuckets(buckets))
      val uncapped = exchanges(graft.dedup.Dedup.candidatesFromBuckets(buckets, maxBucketSize = 0))
      assert(capped == uncapped,
        s"bucket cap added ${capped - uncapped} exchange(s): $capped capped vs $uncapped uncapped")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("candidate-restricted jaccard joins shingle SETS, not posting lists") {
    val p = plan(graft.dedup.Dedup.jaccardVerify(Collocations.documents(spark, sf)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in jaccard verify plan:\n$p")
    // the exact-intersection stage must be the array-local expression, not
    // a shingle-keyed self-join aggregation
    assert(p.contains("array_intersect"), s"expected array_intersect verify:\n$p")
  }
}
