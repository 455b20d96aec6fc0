package graft

import org.apache.spark.sql.functions._
import graft.collocations.Collocations

/** Golden end-to-end on a hand-computable corpus (SURVEY §5.4). Exercises:
  * POS stripping, stopwords in w1/w2 position, cross-document summation of
  * the same bigram (the reference's A3 quirk, implemented with intended
  * semantics), per-lang grouping, and the inner-join drop of pairs whose
  * word is a stopword. */
class CollocationsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "en", "big data_NOUN makes big data useful"),
      (2L, "en", "the big data (pipeline)"),
      (3L, "he", "שלום עולם")
    ).toDF("doc_id", "lang", "text")
  }

  // en tokens after clean: d1: big data makes big data useful
  //                        d2: the big data pipeline   ("the" is a stopword)
  // en unigram counts (stopwords removed): big=3, data=3, makes=1, useful=1, pipeline=1  -> N_en=9
  // en pairs (formed incl. stopwords, then stop-filtered):
  //   d1: big-data, data-makes, makes-big, big-data, data-useful
  //   d2: the-big (dropped), big-data, data-pipeline
  //   => big-data=3, data-makes=1, makes-big=1, data-useful=1, data-pipeline=1
  test("counts match hand computation") {
    val uni = Collocations.unigramCounts(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(uni(("en", "big")) == 3L && uni(("en", "data")) == 3L && uni(("en", "pipeline")) == 1L)
    assert(uni(("he", "שלום")) == 1L && uni(("he", "עולם")) == 1L)

    val n = Collocations.grandTotalN(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("en" -> 9L, "he" -> 2L))

    val bg = Collocations.bigramCounts(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(bg(("en", "big", "data")) == 3L)
    assert(bg(("en", "data", "pipeline")) == 1L)
    assert(!bg.contains(("en", "the", "big")), "stopword bigram must be dropped")
    assert(bg.size == 6) // 5 en + 1 he
  }

  test("top collocations ranked by llr desc with deterministic ties") {
    val top = Collocations.topCollocations(docs, k = 3).filter(col("lang") === "en").collect()
    assert(top.length == 3)
    val scores = top.map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(top.head.getString(1) == "big" && top.head.getString(2) == "data",
      "big-data (c12=3) must be the strongest en collocation")
  }

  test("scored rows carry consistent counts") {
    val row = Collocations.scored(docs)
      .filter(col("lang") === "en" && col("w1") === "big" && col("w2") === "data")
      .select("c1", "c2", "c12", "n").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) == ((3L, 3L, 3L, 9L)))
  }

  test("pmi recomputes from each row's own counts; big-data tops the en pairs") {
    // exercises the SAME builder the pmi_score registry entry ships, so a
    // column mix-up in the production select fails here, not only at the
    // oracle gate
    val rows = Collocations.pmiScored(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))))
    // self-consistency: the emitted pmi equals the definition applied to
    // the row's own counts (guards against column mix-ups in the select)
    rows.foreach { case (k, (c1, c2, c12, n, pmi)) =>
      val want = math.round(math.log(c12.toDouble * n / (c1.toDouble * c2)) * 1e6) / 1e6
      assert(pmi == want, s"$k: $pmi != $want")
    }
    // hand value: big-data has (c1,c2,c12,N)=(3,3,3,9) -> ln(3*9/9)=ln 3
    val en = rows.toMap
    assert(en(("en", "big", "data"))._5 == math.round(math.log(3.0) * 1e6) / 1e6)
  }

  test("observed pipeline counters equal the directly-computed stage counts") {
    // the counter-telemetry report's observe nodes ride the one top-k
    // action; this gates every observed value against a direct recount of
    // the same stage, so the reduction ratios the report publishes (the
    // reference's StatisticalReport combiner/heap cuts) are grounded
    val sf = Collocations.documents(spark, "/root/testdata/sf0.001")
    val r = Collocations.pipelineCounters(sf).collect().head

    assert(r.getAs[Long]("n_docs") == sf.count())
    val rawPairs = Collocations.tokenized(sf)
      .select(explode(graft.ops.Normalize.bigramsCol(col("toks"))))
      .count()
    assert(r.getAs[Long]("raw_pair_records") == rawPairs)
    assert(r.getAs[Long]("pre_agg_records") == Collocations.bigramPairs(sf).count())
    assert(r.getAs[Long]("post_agg_groups") == Collocations.bigramCounts(sf).count())
    assert(r.getAs[Long]("pre_topk_records") == Collocations.scored(sf).count())
    assert(r.getAs[Long]("topk_rows") == Collocations.topCollocations(sf).count())

    // the published ratios recompute from the gated counts with the same
    // 1 - post/pre algebra (round to 6, the corpus-wide convention)
    def cut(post: Long, pre: Long): Double =
      math.round((1.0 - post.toDouble / pre) * 1e6) / 1e6
    assert(r.getAs[Double]("stopword_cut") ==
      cut(r.getAs[Long]("pre_agg_records"), r.getAs[Long]("raw_pair_records")))
    assert(r.getAs[Double]("combiner_cut") ==
      cut(r.getAs[Long]("post_agg_groups"), r.getAs[Long]("pre_agg_records")))
    assert(r.getAs[Double]("topk_cut") ==
      cut(r.getAs[Long]("topk_rows"), r.getAs[Long]("pre_topk_records")))
  }

  test("no collocation builder caches anything: every path is one lazy plan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.collocations.NGramCollocations
    spark.sharedState.cacheManager.clearCache()
    val sf = Collocations.documents(spark, "/root/testdata/sf0.001")
    val ngrams = getClass.getResource("/ngrams").getPath
    // built and collected, and never unpersisted: a builder that caches
    // leaves its table behind for the rest of the session
    val built = Seq(
      "joinedC2" -> Collocations.joinedC2(sf),
      "withN" -> Collocations.withN(sf),
      "scored" -> Collocations.scored(sf),
      "topCollocations" -> Collocations.topCollocations(sf),
      "pipelineCounters" -> Collocations.pipelineCounters(sf),
      "NGramCollocations.fromPaths" -> NGramCollocations.fromPaths(spark,
        Seq(s"$ngrams/eng-1gram.tsv", s"$ngrams/heb-1gram.tsv"),
        Seq(s"$ngrams/eng-2gram.tsv", s"$ngrams/heb-2gram.tsv")))
    val aqe = new AdaptiveSparkPlanHelper {}
    built.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, s"$name is empty")
      val exec = df.queryExecution.executedPlan
      assert(aqe.collect(exec) { case m: InMemoryTableScanExec => m }.isEmpty,
        s"$name reads a cached table:\n$exec")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a collocation builder left a cached table")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }
}
