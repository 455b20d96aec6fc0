package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Log-Likelihood Ratio over a 2x2 contingency table (reference:
  * `LLR.java:16-47`). Pure `Column` algebra — no UDF — so the whole score
  * stays inside WholeStageCodegen; at 100 TB this runs once per surviving
  * bigram and must not leave the codegen'd projection.
  *
  * Operation order deliberately mirrors the reference (and the DuckDB
  * oracle SQL in [[graft.OracleSql.llrCtes]]) so IEEE-754 results agree to
  * the last ulp modulo the platform `ln`; callers round to 6 decimals for
  * oracle hash parity.
  */
object Llr {

  private def term(k: Column, e: Column): Column =
    when(k === 0 || e <= 0, lit(0.0))
      .otherwise(k.cast("double") * log(k.cast("double") / e))

  /** The guard's negation over the integer counts (`LLR.java:23-33`):
    * every cell k11=c12, k12=c1-c12, k21=c2-c12, k22=N-c1-c2+c12 is
    * non-negative and N, c1, c2, c12 are positive. [[llr]] is NaN exactly
    * when this is false, and finite whenever it is true: each term is then
    * 0 or k·ln(k/e) with k >= 1 and e >= 1/N. (`total` is N as a double,
    * so N > 0 covers the reference's `total <= 0` guard.) */
  def valid(c1: Column, c2: Column, c12: Column, n: Column): Column =
    c12 > 0 && c1 - c12 >= 0 && c2 - c12 >= 0 && n - c1 - c2 + c12 >= 0 &&
      n > 0 && c1 > 0 && c2 > 0

  /** k11=c12, k12=c1-c12, k21=c2-c12, k22=N-c1-c2+c12; guards → NaN
    * (`LLR.java:23-33`); LLR = 2*Σ k_ij·ln(k_ij/e_ij) with term(k,e)=0 when
    * k==0 or e<=0 (`LLR.java:43-47`). */
  def llr(c1: Column, c2: Column, c12: Column, n: Column): Column = {
    val k11 = c12
    val k12 = c1 - c12
    val k21 = c2 - c12
    val k22 = n - c1 - c2 + c12

    val row1  = (k11 + k12).cast("double")
    val row2  = (k21 + k22).cast("double")
    val col1  = (k11 + k21).cast("double")
    val col2  = (k12 + k22).cast("double")
    val total = row1 + row2

    val e11 = row1 * col1 / total
    val e12 = row1 * col2 / total
    val e21 = row2 * col1 / total
    val e22 = row2 * col2 / total

    // the guard is [[valid]]'s negation, spelled out: `!valid(..)` compiles
    // to a larger method and pushes the n-gram scoring stage past the JIT's
    // 8,000-byte huge-method limit, so it would run interpreted
    val guard = k11 < 0 || k12 < 0 || k21 < 0 || k22 < 0 ||
      n <= 0 || c1 <= 0 || c2 <= 0 || c12 <= 0 || total <= 0

    when(guard, lit(Double.NaN))
      .otherwise(lit(2.0) * (term(k11, e11) + term(k12, e12) + term(k21, e21) + term(k22, e22)))
  }

  /** The scored rows of a (c1, c2, c12, n) table: rows with a [[valid]]
    * table, plus `llr` rounded to 6 decimals for oracle hash parity. Keeps
    * exactly the rows `!isnan(llr)` keeps, but the filter tests the integer
    * guard, not the score: a filter on the projected score is pushed below
    * the projection as a second copy of the whole LLR expression, which
    * doubles the work and grows the generated stage method past the JIT's
    * huge-method limit, so it runs interpreted. */
  def scored(df: DataFrame): DataFrame = {
    val (c1, c2, c12, n) = (col("c1"), col("c2"), col("c12"), col("n"))
    df.filter(valid(c1, c2, c12, n)).withColumn("llr", round(llr(c1, c2, c12, n), 6))
  }
}
