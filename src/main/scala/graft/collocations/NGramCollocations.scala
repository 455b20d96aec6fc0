package graft.collocations

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Normalize, Stopwords}
import graft.sources.NGramSource

/** Reference-exact collocation pipeline over pre-counted n-gram corpora —
  * the (lang, decade)-grouped, occurrence-weighted form of the reference's
  * 3-job chain (vs. [[Collocations]], which generalizes the same semantics
  * to raw text grouped by lang). Implements the *intended* semantics for
  * the reference's two quirks (SURVEY §2.4): bigram counts are truly summed
  * across years/splits (A3) and N is a global per-(lang,decade) sum (A4).
  */
object NGramCollocations {

  val K = 100

  /** c1 per (lang, decade, w): weighted sum of occurrences — A2. */
  def unigramCounts(uni: DataFrame): DataFrame = counts(uni).withColumnRenamed("c", "c1")

  /** [[unigramCounts]] with the count named `c`, the column
    * [[Collocations.withCounts]] reads. */
  private def counts(uni: DataFrame): DataFrame =
    Stopwords.anti(uni, "w")
      .groupBy(col("lang"), Normalize.toDecade(col("year")).as("decade"), col("w"))
      .agg(sum("occurrences").as("c"))

  /** c12 per (lang, decade, w1, w2) — A3 with real summation. */
  def bigramCounts(bg: DataFrame): DataFrame =
    Stopwords.anti(Stopwords.anti(bg, "w1"), "w2")
      .groupBy(col("lang"), Normalize.toDecade(col("year")).as("decade"), col("w1"), col("w2"))
      .agg(sum("occurrences").as("c12"))

  /** N per (lang, decade) — A4, global sum over unigram counts. */
  def grandTotalN(uniCounts: DataFrame): DataFrame =
    uniCounts.groupBy("lang", "decade").agg(sum("c1").as("n"))

  /** J1 + J2 + J3 + F3 + P8 + A5/A6: the full scoring chain — the shared
    * [[Collocations.withCounts]] and [[Collocations.topByLlr]] at
    * (lang, decade) grain, one lazy plan. c1, c2 and N all read the same
    * unigram aggregate, and each corpus is scanned once: Spark 4.1
    * canonicalizes the three subtrees equal, so the executed plan computes
    * the unigram shuffle once and builds one unigram broadcast (one count
    * side reads the other's broadcast, and N's aggregation the unigram
    * shuffle, as a `ReusedExchange`). Persisting the count table instead ran more jobs
    * and was slower in an interleaved A/B. */
  def topCollocations(uni: DataFrame, bg: DataFrame, k: Int = K): DataFrame = {
    val keys = Seq("lang", "decade")
    Collocations.topByLlr(Collocations.withCounts(bigramCounts(bg), counts(uni), keys), keys, k)
  }

  /** Convenience: end-to-end from raw TSV paths (unigram + bigram roots). */
  def fromPaths(spark: SparkSession, unigramPaths: Seq[String], bigramPaths: Seq[String], k: Int = K): DataFrame = {
    val uni = NGramSource.unigrams(NGramSource.read(spark, unigramPaths: _*))
    val bg  = NGramSource.bigrams(NGramSource.read(spark, bigramPaths: _*))
    topCollocations(uni, bg, k)
  }

  /** [[fromPaths]] over the reference's on-disk SequenceFile corpus format
    * (`CollocationExtraction3Jobs.java:67-71`). */
  def fromSequencePaths(spark: SparkSession, unigramPaths: Seq[String], bigramPaths: Seq[String],
                        k: Int = K): DataFrame = {
    val uni = NGramSource.unigrams(NGramSource.readSequence(spark, unigramPaths: _*))
    val bg  = NGramSource.bigrams(NGramSource.readSequence(spark, bigramPaths: _*))
    topCollocations(uni, bg, k)
  }
}
