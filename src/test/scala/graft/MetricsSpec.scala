package graft

import graft.collocations.Collocations

/** SURVEY §6 turned from prose into CI: the reference's only published
  * performance numbers are EMR counter RATIOS (`StatisticalReport
  * .md:29-116` — combiners cut ~75-78% of map output records; Job3's
  * bounded top-k heap cuts >99.9% of its input at Google Books scale).
  * This spec runs the flagship pipeline with the equivalent `observe`
  * counters attached and asserts both cuts reproduce on the sf0.1 corpus.
  */
class MetricsSpec extends SparkSpec {

  test("flagship counter ratios reproduce the reference's published cuts") {
    val docs = Collocations.documents(spark, "/root/testdata/sf0.1")
    val r = Collocations.pipelineCounters(docs).collect().head
    val Seq(outRows, preAgg, postAgg, preTopk) =
      Seq("topk_rows", "pre_agg_records", "post_agg_groups", "pre_topk_records").map(c => r.getAs[Long](c))
    assert(preAgg > 0 && postAgg > 0 && preTopk > 0 && outRows > 0)

    // map→combine cut: 1 - groups/records. The reference reports 75-78%
    // on Google Books n-grams; this corpus repeats bigrams less (smaller,
    // synthetic), so the pinned band is wide — the assertion's job is to
    // catch the partial aggregation DISAPPEARING (cut ≈ 0, every record
    // shuffles) or the counters breaking (cut ≈ 1), not to reproduce the
    // exact corpus-dependent constant.
    val combinerCut = 1.0 - postAgg.toDouble / preAgg
    assert(combinerCut >= 0.30 && combinerCut <= 0.995,
      f"map→combine cut $combinerCut%.4f outside [0.30, 0.995] " +
        f"(pre_agg=$preAgg post_agg=$postAgg)")

    // top-k heap cut: Job3 emits ≤ k rows per (lang) from the full scored
    // table — the reference reports >99.9% at Google Books scale, where
    // millions of scored bigrams compete for 100 slots. The sf0.1 corpus
    // scores ~4k bigrams across 5 languages (500 output rows), so the
    // same fixed-k cut is ~0.88 here and grows toward the reference's
    // number with corpus size; the floor catches the limit pushdown
    // disappearing (cut ≈ 0), not the corpus-dependent constant.
    val topkCut = 1.0 - outRows.toDouble / preTopk
    assert(topkCut >= 0.80,
      f"top-k cut $topkCut%.4f below 0.80 (pre_topk=$preTopk out=$outRows)")

    info(f"combiner cut = $combinerCut%.4f (reference ~0.75-0.78), " +
      f"top-k cut = $topkCut%.4f (reference >0.999); " +
      s"pre_agg=$preAgg post_agg=$postAgg pre_topk=$preTopk out=$outRows")
  }

  test("observe counters ride the action and agree with the action's own count") {
    import org.apache.spark.sql.functions._
    val docs = Collocations.documents(spark, "/root/testdata/sf0.001")
    val (df, obs) = graft.ops.Metrics.observed(
      docs.select(col("doc_id")), "graft_one_pass", count(lit(1)).as("n"))
    val rows = df.count()
    assert(obs.get("n").asInstanceOf[Long] == rows)
  }
}
