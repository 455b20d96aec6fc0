package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-language stopword filtering (reference: `Stopwords.java:20-48`,
  * applied `Job1.java:144-145,189`). The reference keeps separate
  * English/Hebrew sets, ships them through the Hadoop distributed cache,
  * and routes each record to the set matching its language
  * (`Stopwords.java:26-30`); language itself follows the `NGramUtils`
  * rule — Hebrew corpora are tagged `he`, everything else `en`.
  *
  * The Spark-native form is an in-row predicate: the sets are literals,
  * so each row tests its word against its routed language's set, which
  * Catalyst compiles to an `InSet` hash probe inside the scan's codegen
  * stage. No join, no broadcast and no shuffle of the corpus side — the
  * same `w NOT IN (...)` the DuckDB oracle runs ([[graft.OracleSql.notStop]]).
  */
object Stopwords {

  /** English set (routing default for every non-`he` language — the
    * synthetic corpus is English-like for every lang tag). */
  val en: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "at", "for",
    "is", "are", "was", "be", "by", "with", "as", "it", "this", "that")

  /** Hebrew set, routed to rows whose lang is `he` (reference semantics:
    * `Stopwords.java:20-21`; list content is the standard high-frequency
    * Hebrew function words). */
  val he: Seq[String] = Seq(
    "של", "את", "על", "הוא", "היא", "זה", "אני", "לא", "כי", "עם",
    "הם", "אבל", "או", "גם", "מה", "כל", "אם", "יש", "אין", "כמו")

  /** Back-compat flat list (quality scoring uses the EN set as its
    * language-agnostic stop-ratio proxy). */
  val words: Seq[String] = en

  /** SQL literal list for the DuckDB oracle (`w NOT IN (...)`). */
  val sqlList: String = en.map(w => s"'$w'").mkString(", ")
  val heSqlList: String = he.map(w => s"'$w'").mkString(", ")

  /** The reference's routing rule: `he` gets the Hebrew set, every other
    * language the English one (`NGramUtils.java:51-79`). */
  def route(lang: Column): Column = when(lang === "he", lit("he")).otherwise(lit("en"))

  /** Drop rows whose `wordCol` is a stopword of the row's (routed)
    * language. `in` must carry a `lang` column. */
  def anti(in: DataFrame, wordCol: String): DataFrame =
    antiWith(in, wordCol, Map("en" -> en, "he" -> he))

  /** [[anti]] with caller-supplied per-language sets — the runtime-file
    * deployment path: `antiWith(df, "w", Map("en" -> fromFile(...), "he"
    * -> fromFile(...)))`. The semantics of an anti-join on (routed lang,
    * word): a NULL word is kept, a NULL lang routes to `en`, and a
    * language absent from the map keeps all words. */
  def antiWith(in: DataFrame, wordCol: String, sets: Map[String, Seq[String]]): DataFrame = {
    val lang = route(in("lang"))
    val stop = sets.foldLeft(lit(false)) { case (rest, (l, ws)) =>
      when(lang === l, in(wordCol).isin(ws: _*)).otherwise(rest)
    }
    in.filter(!coalesce(stop, lit(false)))
  }

  /** Load one stopword set from a file with the reference's semantics
    * (`Stopwords.java:23-43`): strip a UTF-8 BOM, drop `#` comment lines
    * and blanks, trim + lowercase each word. Driver-side read of a tiny
    * file whose words become literals of the plan — the distributed-cache
    * pattern. */
  def fromFile(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines()
      .map(_.stripPrefix("\uFEFF").trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.toLowerCase)
      .toList
    finally src.close()
  }
}
