package graft.ops

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.functions.{CleanToken, NGrams, Tokens}

/** Token/text normalization operators (reference: `NGramUtils.java:8,29-39`,
  * `Job1.java:140-142,170-186`).
  *
  * Token cleaning, tokenization and n-gram formation are the codegen'd
  * expressions of [[graft.functions.Tokenize]]: one compiled byte scan per
  * token or document inside WholeStageCodegen, no higher-order function,
  * no per-token regex on ASCII input. They replaced `transform`/`filter`
  * lambdas over `regexp_replace` chains, which Spark evaluates interpreted
  * (`CodegenFallback`) once per token; PlanSpec keeps both flagship scan
  * stages free of them. No UDFs: a Scala UDF would add a serialization
  * boundary on the hottest operator in the engine.
  */
object Normalize {

  /** `cleanToken` — mirrors `NGramUtils.cleanToken` (`NGramUtils.java:29-39`)
    * step-for-step so results match the reference and the DuckDB oracle:
    * trim → strip POS suffix at first `_` *only when idx>0* (a leading
    * underscore is kept) → strip leading `[^\p{L}\p{N}]+` → strip trailing →
    * trim ([[graft.functions.CleanToken]]) → lowercase. Java regex and RE2
    * agree on `\p{L}`/`\p{N}` for the BMP classes used here.
    */
  def cleanToken(c: Column): Column =
    lower(GraftSqlBridge.column(CleanToken(GraftSqlBridge.expression(c))))

  /** `(year/10)*10` with truncating int division (`NGramUtils.java:8`);
    * years are positive so floor == truncation. Returns BIGINT for
    * engine/oracle schema parity. */
  def toDecade(year: Column): Column =
    (floor(year.cast("double") / 10) * 10).cast("long")

  /** Whitespace tokenization + per-token cleaning + empty-token removal,
    * all array-local (no explode, no shuffle): split on `\s+`, clean and
    * lowercase each piece, drop empties ([[graft.functions.Tokens]]). */
  def tokensCol(text: Column): Column =
    GraftSqlBridge.column(Tokens(GraftSqlBridge.expression(text)))

  /** Adjacent-pair (bigram) generation from a cleaned token array —
    * array-local, so bigram formation costs zero shuffle (vs. a posexplode
    * + self-join on pos+1, which would shuffle the whole corpus twice at
    * 100 TB). Returns NULL for arrays with <2 tokens; `explode` skips NULL,
    * giving exactly the reference's "needs >=2 tokens" drop
    * (`Job1.java:170-171`). */
  def bigramsCol(toks: Column): Column = ngramsCol(toks, 2)

  /** Adjacent-triple (trigram) generation from a cleaned token array —
    * the order-3 sibling of [[bigramsCol]]. Returns NULL for arrays with
    * <3 tokens; `explode` skips NULL, so only docs with at least one full
    * trigram contribute. */
  def trigramsCol(toks: Column): Column = ngramsCol(toks, 3)

  private def ngramsCol(toks: Column, n: Int): Column =
    GraftSqlBridge.column(NGrams(GraftSqlBridge.expression(toks), n))
}
