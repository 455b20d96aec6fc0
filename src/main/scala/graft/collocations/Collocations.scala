package graft.collocations

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Llr, Normalize, Stopwords, TopK}

/** The flagship pipeline — Top-K strongest bigram collocations per language,
  * scored by LLR — rebuilt Spark-first from the reference's 3-job MapReduce
  * chain (`CollocationExtraction3Jobs.java`, `Job1/2/3.java`).
  *
  * The reference's hand-built machinery maps to one lazy DataFrame DAG:
  *   - secondary-sort streaming join on w1/w2 (`Job1.java:36-94`,
  *     `Job2.java:27-118`)        → plain equi `join` (Catalyst picks
  *     SortMergeJoin or, post-AQE, BroadcastHashJoin — the unigram-count
  *     side is an aggregated vocabulary, orders of magnitude smaller than
  *     the bigram fact table);
  *   - map-side combiner (`Job1.java:197-209`) → automatic partial/final
  *     HashAggregate;
  *   - distributed-cache N map (`Job2.java:168-190`) → explicit
  *     `broadcast()` join (the N table is one row per (lang) — never let
  *     it shuffle the fact side);
  *   - Top-100 heap (`Job3.java:56-110`) → `row_number` window that Spark
  *     rewrites to partial+final WindowGroupLimit.
  *
  * Scale notes (100 TB): tokenization and pair-generation are array-local
  * (zero shuffle); the only shuffles are the two count aggregations and the
  * count joins, all keyed on (lang, word) whose cardinality is the
  * vocabulary — bounded and well-distributed. Deviations from the reference
  * implement its *documented intent*, not its bugs: bigram counts are truly
  * summed (A3 quirk) and N is a global sum (A4 quirk) — see SURVEY.md §2.4.
  */
object Collocations {

  val K = 100

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** (doc_id, lang, toks) with cleaned, non-empty tokens. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), Normalize.tokensCol(col("text")).as("toks"))

  /** One row per token occurrence, stopwords removed (P6/J4). */
  def unigrams(docs: DataFrame): DataFrame =
    Stopwords.anti(
      tokenized(docs).select(col("lang"), explode(col("toks")).as("w")), "w")

  /** c1 per (lang, w) — A2. Partial aggregation is automatic. */
  def unigramCounts(docs: DataFrame): DataFrame =
    unigramCountsFromToks(tokenized(docs))

  /** [[unigramCounts]] from an already-tokenized (lang, toks) table —
    * lets [[joinedC2]]/[[withN]] share ONE cached tokenizer pass across
    * the unigram and bigram aggregations. */
  private[graft] def unigramCountsFromToks(t: DataFrame): DataFrame =
    Stopwords.anti(t.select(col("lang"), explode(col("toks")).as("w")), "w")
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))

  /** Grand total N per lang — A4, as a *global* sum (fixes the reference's
    * one-reducer assumption). */
  def grandTotalN(docs: DataFrame): DataFrame =
    unigramCounts(docs).groupBy("lang").agg(sum("c").as("n"))

  /** One row per adjacent pair whose both words survive the stopword filter
    * (pairs are formed over the cleaned token sequence *including*
    * stopwords, then filtered — matching the reference, where Google's
    * bigrams were formed from raw text and stopword bigrams dropped after). */
  def bigramPairs(docs: DataFrame): DataFrame =
    bigramPairsFromToks(tokenized(docs))

  private[graft] def bigramPairsFromToks(t: DataFrame): DataFrame = {
    val pairs = t
      .select(col("lang"), explode(Normalize.bigramsCol(col("toks"))).as("p"))
      .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    Stopwords.anti(Stopwords.anti(pairs, "w1"), "w2")
  }

  /** c12 per (lang, w1, w2) — A3, with real summation. */
  def bigramCounts(docs: DataFrame): DataFrame =
    bigramCountsFromToks(tokenized(docs))

  private[graft] def bigramCountsFromToks(t: DataFrame): DataFrame =
    bigramPairsFromToks(t).groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))

  /** J1: attach c1 on (lang, w1). */
  def joinedC1(docs: DataFrame): DataFrame = {
    val u1 = unigramCounts(docs).withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")
    bigramCounts(docs).join(u1, Seq("lang", "w1"))
  }

  /** J2: attach c2 on (lang, w2). One persisted count table feeds both
    * join sides (see [[topCollocations]] for what exchange reuse already
    * shares without it). Cache lifecycle: the count table is released
    * before returning; only the RETURNED (bigram-vocabulary-sized) result
    * stays cached, and the caller owns it — `result.unpersist()` leaves
    * zero session caches behind (asserted in DedupSpec). */
  def joinedC2(docs: DataFrame): DataFrame = {
    // cache the TOKENIZED corpus, not just the count table: the unigram
    // and bigram aggregations each explode it, and without the cache the
    // regex-heavy tokenizer (the expensive part of the scan) runs twice
    val t = tokenized(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val u = unigramCountsFromToks(t).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = bigramCountsFromToks(t)
      .join(u.select(col("lang"), col("w").as("w1"), col("c").as("c1")), Seq("lang", "w1"))
      .join(u.select(col("lang"), col("w").as("w2"), col("c").as("c2")), Seq("lang", "w2"))
      .select("lang", "w2", "w1", "c12", "c1", "c2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    u.unpersist()
    t.unpersist()
    out
  }

  /** J3: attach the grand total N via an explicit broadcast join; same
    * shared count table serves c1, c2 and N. Same lifecycle as
    * [[joinedC2]]: the count table is released once the joined result is
    * materialized — the cached return value is the single-DAG equivalent
    * of the reference writing Job2's joined output to a table. */
  def withN(docs: DataFrame): DataFrame = {
    // same single-tokenize discipline as [[joinedC2]]
    val t = tokenized(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val u = unigramCountsFromToks(t).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.groupBy("lang").agg(sum("c").as("n"))
    val out = bigramCountsFromToks(t)
      .join(u.select(col("lang"), col("w").as("w1"), col("c").as("c1")), Seq("lang", "w1"))
      .join(u.select(col("lang"), col("w").as("w2"), col("c").as("c2")), Seq("lang", "w2"))
      .join(broadcast(n), Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    u.unpersist()
    t.unpersist()
    out
  }

  /** F3 + P8: LLR column, NaN rows dropped (see [[Llr.scored]]), rounded
    * to 6 decimals for cross-engine (DuckDB oracle) hash parity. */
  def scored(docs: DataFrame): DataFrame = Llr.scored(withN(docs))

  /** PMI companion to [[scored]] (extension — the reference computes LLR
    * only): ln((c12·N)/(c1·c2)) over the same contingency table. Every
    * count is >= 1 after the inner count joins, so no guards are needed;
    * the operation order is mirrored exactly by the DuckDB oracle and the
    * result rounds to 6 digits for hash parity. */
  def pmiScored(docs: DataFrame): DataFrame =
    withN(docs)
      .select(col("lang"), col("w1"), col("w2"), col("c1"), col("c2"), col("c12"), col("n"),
        round(log(col("c12").cast("double") * col("n") /
          (col("c1").cast("double") * col("c2"))), 6).as("pmi"))

  /** A5/A6/O2: Top-K per language with deterministic tie-breaks.
    *
    * Unlike the step-by-step builders above (kept 1:1 with the operator
    * inventory for the per-operator oracle queries), this composition goes
    * through [[withN]], which caches the tokenized corpus and the
    * unigram-count table and materializes the joined table before
    * returning. Exchange reuse alone already shares the count table: in
    * the same plan built lazily on Spark 4.1.2, the c2 broadcast is a
    * `ReusedExchange` of the c1 broadcast and N's aggregation reads the
    * unigram shuffle as a `ReusedExchange`, so the corpus is scanned and
    * tokenized twice (unigram and bigram aggregations), not four times.
    * The caches save one of those two tokenizer passes; whether that pays
    * for their extra jobs is not yet measured. */
  def topCollocations(docs: DataFrame, k: Int = K): DataFrame =
    TopK.topKPerGroup(
      scored(docs).select(col("lang"), col("w1"), col("w2"), col("llr")),
      Seq(col("lang")),
      Seq(col("llr").desc, col("w1").asc, col("w2").asc),
      k)

  /** Runs the flagship pipeline with the reference's COUNTERS attached and
    * returns (output_rows, pre_agg_records, post_agg_groups,
    * pre_topk_records). The reference's only published performance numbers
    * are counter ratios (`StatisticalReport .md:29-116`): the Job1/Job2
    * combiners cut ~75-78% of map output records, and Job3's bounded heap
    * cuts >99.9% of its input. The Spark-native counters are
    * `df.observe` nodes ([[graft.ops.Metrics.observed]]) — computed inline
    * during the ONE action, zero extra passes, exactly how Hadoop counters
    * ride the job:
    *  - pre_agg: bigram pair records entering the count aggregation (the
    *    reference's Job1 map output records);
    *  - post_agg: final (lang,w1,w2) groups — a lower bound on combiner
    *    output (each partial emits each group at most once per partition),
    *    so `1 - post_agg/pre_agg` is an UPPER bound of the map→combine cut
    *    the reference reports;
    *  - pre_topk: scored rows entering the top-k window (Job3's combiner
    *    input), against which the ≤ k-per-lang output is the heap cut.
    * Same plan shape as [[topCollocations]] (observe is a metadata-only
    * node; the WindowGroupLimit rewrite lands above it), with the count
    * table released before returning. */
  def flagshipCounters(docs: DataFrame, k: Int = K): (Long, Long, Long, Long) = {
    val c = observedRun(docs, k)
    (c.topkRows, c.preAggRecords, c.postAggGroups, c.preTopkRecords)
  }

  /** The observed counter values of one flagship run — every stage count
    * the reference's `StatisticalReport .md` tables publish. */
  case class PipelineCounterValues(nDocs: Long, rawPairRecords: Long,
                                   preAggRecords: Long, postAggGroups: Long,
                                   preTopkRecords: Long, topkRows: Long)

  /** ONE observed flagship run: every counter rides the single top-k
    * action as an `observe` node (zero extra corpus passes — exactly how
    * Hadoop counters ride the job). Counters, in pipeline order:
    *  - n_docs: documents entering the tokenizer (map input records);
    *  - raw_pairs: adjacent pairs over the cleaned token sequence BEFORE
    *    the stopword filter;
    *  - pre_agg: pair records surviving the stopword anti-joins, entering
    *    the count aggregation (Job1 map output records);
    *  - post_agg: final (lang,w1,w2) groups — a lower bound on combiner
    *    output, so `1 - post/pre` UPPER-bounds the map→combine cut;
    *  - pre_topk: scored rows entering the top-k window (Job3 input);
    *  - topk_rows: the ≤ k-per-lang output (an action count, not an
    *    observe — it's the result itself). */
  private def observedRun(docs: DataFrame, k: Int = K): PipelineCounterValues = {
    import graft.ops.Metrics
    val u = unigramCounts(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = u.groupBy("lang").agg(sum("c").as("n"))
    val (t, docsObs) = Metrics.observed(tokenized(docs), "graft_n_docs",
      count(lit(1)).as("records"))
    val rawPairs = t
      .select(col("lang"), explode(Normalize.bigramsCol(col("toks"))).as("p"))
      .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val (rawObs, rawPairsObs) = Metrics.observed(rawPairs, "graft_raw_pairs",
      count(lit(1)).as("records"))
    val (pairs, preAgg) = Metrics.observed(
      Stopwords.anti(Stopwords.anti(rawObs, "w1"), "w2"), "graft_pre_agg",
      count(lit(1)).as("records"))
    val bc = pairs.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))
    val (bcObs, postAgg) = Metrics.observed(bc, "graft_post_agg",
      count(lit(1)).as("records"))
    val joined = bcObs
      .join(u.select(col("lang"), col("w").as("w1"), col("c").as("c1")), Seq("lang", "w1"))
      .join(u.select(col("lang"), col("w").as("w2"), col("c").as("c2")), Seq("lang", "w2"))
      .join(broadcast(n), Seq("lang"))
    val sc = Llr.scored(joined).select(col("lang"), col("w1"), col("w2"), col("llr"))
    val (scObs, preTopk) = Metrics.observed(sc, "graft_pre_topk",
      count(lit(1)).as("records"))
    val top = TopK.topKPerGroup(scObs, Seq(col("lang")),
      Seq(col("llr").desc, col("w1").asc, col("w2").asc), k)
    val outRows = top.count()
    u.unpersist()
    PipelineCounterValues(
      docsObs.get("records").asInstanceOf[Long],
      rawPairsObs.get("records").asInstanceOf[Long],
      preAgg.get("records").asInstanceOf[Long],
      postAgg.get("records").asInstanceOf[Long],
      preTopk.get("records").asInstanceOf[Long],
      outRows)
  }

  /** The counter-telemetry REPORT — the engine twin of the reference's
    * `StatisticalReport .md` tables (Hadoop counters, `Job3.java:46,50,89`;
    * SURVEY §2.10 maps them to `df.observe`): one row of the six observed
    * stage counts plus the three reduction ratios the report publishes —
    * the stopword filter cut, the map→combine(r) cut (~75-78% on Google
    * Books), and the Job3 bounded-heap cut (>99.9% at that scale). The
    * ratios are computed IN the returned plan (Spark's own divide/round),
    * so the DuckDB oracle mirrors byte-for-byte; the counts themselves are
    * plain aggregates, directly SQL-mirrorable. */
  def pipelineCounters(docs: DataFrame, k: Int = K): DataFrame = {
    val c = observedRun(docs, k)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((c.nDocs, c.rawPairRecords, c.preAggRecords, c.postAggGroups,
        c.preTopkRecords, c.topkRows))
      .toDF("n_docs", "raw_pair_records", "pre_agg_records", "post_agg_groups",
        "pre_topk_records", "topk_rows")
      .select(col("*"),
        round(lit(1.0) - col("pre_agg_records") / col("raw_pair_records"), 6).as("stopword_cut"),
        round(lit(1.0) - col("post_agg_groups") / col("pre_agg_records"), 6).as("combiner_cut"),
        round(lit(1.0) - col("topk_rows") / col("pre_topk_records"), 6).as("topk_cut"))
  }
}
