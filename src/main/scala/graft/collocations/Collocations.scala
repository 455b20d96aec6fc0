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
  *   - distributed-cache stopword sets (`Stopwords.java:20-48`) → an
  *     in-row `InSet` predicate over the literal sets (no join, nothing to
  *     ship — [[graft.ops.Stopwords]]);
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
    unigrams(docs).groupBy("lang", "w").agg(count(lit(1)).as("c"))

  /** Grand total N per lang — A4, as a *global* sum (fixes the reference's
    * one-reducer assumption). */
  def grandTotalN(docs: DataFrame): DataFrame =
    unigramCounts(docs).groupBy("lang").agg(sum("c").as("n"))

  /** One row per adjacent pair whose both words survive the stopword filter
    * (pairs are formed over the cleaned token sequence *including*
    * stopwords, then filtered — matching the reference, where Google's
    * bigrams were formed from raw text and stopword bigrams dropped after). */
  def bigramPairs(docs: DataFrame): DataFrame = {
    val pairs = tokenized(docs)
      .select(col("lang"), explode(Normalize.bigramsCol(col("toks"))).as("p"))
      .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    Stopwords.anti(Stopwords.anti(pairs, "w1"), "w2")
  }

  /** c12 per (lang, w1, w2) — A3, with real summation. */
  def bigramCounts(docs: DataFrame): DataFrame =
    bigramPairs(docs).groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))

  /** J1 + J2 + J3 — the reference's Job1→Job2 join chain, written once for
    * every path (text, counter run, n-gram): attaches c1 on w1 and c2 on w2
    * from ONE unigram-count table `u` (`keys`, w, c), then broadcast-joins
    * N = Σc per group. Output: keys, w2, w1, c12, c1, c2, n. One lazy
    * plan: both sides project `u` the same way (`w AS wX, c AS cX`), so
    * the three reads canonicalize equal and the executed plan builds the
    * unigram table once — one count side's broadcast is a `ReusedExchange`
    * of the other's and N's aggregation reads the unigram shuffle as a
    * `ReusedExchange` (pinned in PlanSpec for both paths). A count column
    * named after one side (`c1`) would project as a bare column there and
    * an alias on the other, and the table would be broadcast twice. */
  private[collocations] def withCounts(bigrams: DataFrame, u: DataFrame, keys: Seq[String]): DataFrame = {
    def counts(w: String, cw: String) = u.select(keys.map(col) :+ col("w").as(w) :+ col("c").as(cw): _*)
    bigrams.join(counts("w1", "c1"), keys :+ "w1")
      .join(counts("w2", "c2"), keys :+ "w2")
      .join(broadcast(u.groupBy(keys.map(col): _*).agg(sum("c").as("n"))), keys)
  }

  /** F3 + P8 + A5/A6/O2 — the reference's Job3, written once for every path:
    * [[Llr.scored]] over a [[withCounts]] table, then the top k per group of
    * `keys` by (llr desc, w1, w2), so ties break deterministically. */
  private[collocations] def topByLlr(joined: DataFrame, keys: Seq[String], k: Int): DataFrame =
    TopK.topKPerGroup(
      Llr.scored(joined).select((keys ++ Seq("w1", "w2", "llr")).map(col): _*),
      keys.map(col),
      Seq(col("llr").desc, col("w1").asc, col("w2").asc),
      k)

  /** J1: attach c1 on (lang, w1). */
  def joinedC1(docs: DataFrame): DataFrame = {
    val u1 = unigramCounts(docs).withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")
    bigramCounts(docs).join(u1, Seq("lang", "w1"))
  }

  /** J2: c1 and c2 attached — the [[withCounts]] chain with N projected
    * away (every lang with a bigram has an N row, so the inner N join drops
    * nothing). A lazy plan like every builder here: nothing is cached. */
  def joinedC2(docs: DataFrame): DataFrame = withN(docs).drop("n")

  /** J3: c1, c2 and the grand total N (explicit broadcast join) attached
    * from one unigram-count table — see [[withCounts]]. The lazy
    * single-DAG equivalent of the reference writing Job2's joined output to
    * a table. */
  def withN(docs: DataFrame): DataFrame =
    withCounts(bigramCounts(docs), unigramCounts(docs), Seq("lang"))

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

  /** A5/A6/O2: Top-K per language with deterministic tie-breaks — the text
    * path's [[withCounts]] then [[topByLlr]], one lazy plan. The corpus is
    * scanned and tokenized twice (once for the unigram, once for the bigram
    * aggregation); exchange reuse shares the unigram count table across c1,
    * c2 and N. Caching the tokenized corpus and the count table instead
    * saved one tokenizer pass but ran eager construction jobs and lost an
    * interleaved A/B on set-up time and heap (ARCHITECTURE.md). */
  def topCollocations(docs: DataFrame, k: Int = K): DataFrame =
    topByLlr(withN(docs), Seq("lang"), k)

  /** The observed counter values of one flagship run — every stage count
    * the reference's `StatisticalReport .md` tables publish. */
  case class PipelineCounterValues(nDocs: Long, rawPairRecords: Long,
                                   preAggRecords: Long, postAggGroups: Long,
                                   preTopkRecords: Long, topkRows: Long)

  /** ONE observed flagship run: the text path's [[withCounts]] and
    * [[topByLlr]] fed the observed bigram counts, with every counter riding
    * the single top-k action as an `observe` node (zero extra corpus passes
    * — exactly how Hadoop counters ride the job). One lazy plan: nothing is
    * cached, so nothing is left to release. Counters, in pipeline order:
    *  - n_docs: documents entering the tokenizer (map input records);
    *  - raw_pairs: adjacent pairs over the cleaned token sequence BEFORE
    *    the stopword filter;
    *  - pre_agg: pair records surviving the stopword anti-joins, entering
    *    the count aggregation (Job1 map output records);
    *  - post_agg: final (lang,w1,w2) groups — a lower bound on combiner
    *    output, so `1 - post/pre` UPPER-bounds the map→combine cut;
    *  - pre_topk: scored rows entering the top-k window (Job3 input),
    *    counted on the joined table as the rows [[Llr.valid]] keeps;
    *  - topk_rows: the ≤ k-per-lang output (an action count, not an
    *    observe — it's the result itself). */
  private def observedRun(docs: DataFrame, k: Int): PipelineCounterValues = {
    import graft.ops.Metrics
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
    val (joined, preTopk) = Metrics.observed(
      withCounts(bcObs, unigramCounts(docs), Seq("lang")), "graft_pre_topk",
      count_if(Llr.valid(col("c1"), col("c2"), col("c12"), col("n"))).as("records"))
    val outRows = topByLlr(joined, Seq("lang"), k).count()
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
