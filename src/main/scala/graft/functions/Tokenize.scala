package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd `NGramUtils.cleanToken` (`NGramUtils.java:29-39`) without the
  * final lowercase: trim → cut at the first `_` when its 1-based index is
  * > 1 → strip the leading and trailing runs outside `\p{L}`/`\p{N}` →
  * trim. [[graft.ops.Normalize.cleanToken]] wraps it in Spark's `lower`.
  *
  * Why an Expression and not the Column chain it replaces (`trim`/`instr`/
  * `substr` plus two `regexp_replace`): each `regexp_replace` decodes the
  * token to a Java String, runs a matcher and re-encodes, and inside the
  * `transform`/`filter` of [[Tokens]] the whole chain ran interpreted
  * once per token. Here pure-ASCII input is one byte scan that returns a
  * view of the input; any other input runs the chain's own primitives in
  * the chain's order (`Tokenize.cleanExact`), so the bytes match by
  * construction, invalid UTF-8 included. */
case class CleanToken(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_clean_token"
  override def nullSafeEval(x: Any): Any = Tokenize.clean(x.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokenize.clean($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd whitespace tokenizer: split on Java's `\s` (the six ASCII
  * bytes space, `\t`, `\n`, `\u000B`, `\f`, `\r`), clean and lowercase each
  * piece, drop the pieces that clean to empty — what
  * `filter(transform(split(text, "\\s+"), lower ∘ cleanToken), length > 0)`
  * computed, as one pass. Pure-ASCII text is lowercased into one fresh
  * buffer and every token is a view of it; any other text takes the old
  * chain's primitives in order (`Tokenize.tokensExact`). The type is the
  * old chain's: `array<string>` without null elements, NULL for NULL. */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.GraftSqlBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"
  private lazy val useICU: Boolean = Tokenize.icuCaseMappings
  override def nullSafeEval(x: Any): Any = Tokenize.tokens(x.asInstanceOf[UTF8String], useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokenize.tokens($c, $useICU)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd adjacent n-grams of a token array: `array<struct<w1..wn>>`,
  * one struct per window of `n` consecutive tokens, NULL when the array
  * has fewer than `n` tokens or is NULL (`explode` then drops the row,
  * `explode_outer` keeps it once). Field names and nullability are those
  * of the `transform(sequence(..), i => struct(element_at(..)..))` form it
  * replaces. The structs reference the input's strings; no bytes copy. */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram order must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_ngrams needs array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(
    StructType((1 to n).map(i => StructField(s"w$i", StringType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ngrams"
  override def nullSafeEval(x: Any): Any = Tokenize.ngrams(x.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = true;
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      |if (!${c.isNull}) {
      |  ${ev.value} = graft.functions.Tokenize.ngrams(${c.value}, $n);
      |  ${ev.isNull} = ${ev.value} == null;
      |}""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The static helpers the three expressions share between interpreted
  * eval and generated code. */
object Tokenize {

  private val Lead = Pattern.compile("^[^\\p{L}\\p{N}]+")
  private val Tail = Pattern.compile("[^\\p{L}\\p{N}]+$")
  private val Whitespace = Pattern.compile("\\s+")
  private val Underscore = UTF8String.fromString("_")

  /** `[A-Za-z0-9]`: `\p{L}`/`\p{N}` restricted to ASCII. */
  private def alnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Java's `\s`: space, `\t`, `\n`, `\u000B`, `\f`, `\r`. */
  private def space(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** No byte with the high bit set. */
  private def ascii(s: UTF8String): Boolean = {
    var i = 0
    while (i < s.numBytes && s.getByte(i) >= 0) i += 1
    i == s.numBytes
  }

  private def view(s: UTF8String, from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)

  /** cleanToken without the lowercase. */
  def clean(s: UTF8String): UTF8String = {
    if (!ascii(s)) return cleanExact(s)
    var from = 0
    var until = s.numBytes
    while (from < until && s.getByte(from) == ' ') from += 1
    while (until > from && s.getByte(until - 1) == ' ') until -= 1
    val end = cut(s, from, until)
    val a = firstAlnum(s, from, end)
    view(s, a, lastAlnumEnd(s, a, end))
  }

  /** End of the POS-cut ASCII token `[from, until)`: the first `_`, unless
    * it is the token's first byte (the reference keeps a leading `_`). */
  private def cut(s: UTF8String, from: Int, until: Int): Int = {
    var u = from
    while (u < until && s.getByte(u) != '_') u += 1
    if (u < until && u > from) u else until
  }

  private def firstAlnum(s: UTF8String, from: Int, until: Int): Int = {
    var a = from
    while (a < until && !alnum(s.getByte(a))) a += 1
    a
  }

  private def lastAlnumEnd(s: UTF8String, from: Int, until: Int): Int = {
    var b = until
    while (b > from && !alnum(s.getByte(b - 1))) b -= 1
    b
  }

  /** The Column chain's steps on any input: `trim`, `instr`, `substr`,
    * the two `regexp_replace` passes (String decode, matcher, re-encode
    * each), `trim`. */
  private def cleanExact(s: UTF8String): UTF8String = {
    val t = s.trim()
    val instr = t.indexOf(Underscore, 0) + 1
    val p = if (instr > 1) t.substringSQL(1, instr - 1) else t
    val noLead = UTF8String.fromString(Lead.matcher(p.toString).replaceAll(""))
    val noTail = UTF8String.fromString(Tail.matcher(noLead.toString).replaceAll(""))
    noTail.trim()
  }

  /** Cleaned, lowercased, non-empty whitespace tokens of `s`. */
  def tokens(s: UTF8String, useICU: Boolean): ArrayData = {
    if (!ascii(s)) return tokensExact(s, useICU)
    val n = s.numBytes
    val buf = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      buf(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      i += 1
    }
    val low = UTF8String.fromBytes(buf)
    var out = new Array[Any](16)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && space(buf(i))) i += 1
      var j = i
      while (j < n && !space(buf(j))) j += 1
      val end = cut(low, i, j)
      val a = firstAlnum(low, i, end)
      val b = lastAlnumEnd(low, a, end)
      if (b > a) {
        if (k == out.length) {
          val grown = new Array[Any](k * 2)
          System.arraycopy(out, 0, grown, 0, k)
          out = grown
        }
        out(k) = view(low, a, b)
        k += 1
      }
      i = j
    }
    val res = new Array[Any](k)
    System.arraycopy(out, 0, res, 0, k)
    new GenericArrayData(res)
  }

  /** The old chain's steps on any input: `split` on `\s+` (String
    * decode, `Pattern.split` with limit -1, re-encode each piece), then
    * per piece [[cleanExact]] and Spark's binary-collation `lower`. */
  private def tokensExact(s: UTF8String, useICU: Boolean): ArrayData = {
    val out = Whitespace.split(s.toString, -1).iterator
      .map(p => cleanExact(UTF8String.fromString(p)))
      .map(lower(_, useICU))
      .filter(_.numBytes > 0)
    new GenericArrayData(out.toArray[Any])
  }

  /** The case-mapping setting Spark's `lower` reads, read the same way. */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** Spark's `lower` on a binary-collation string. */
  def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (useICU) CollationSupport.Lower.execBinaryICU(s) else CollationSupport.Lower.execBinary(s)

  /** Windows of `n` adjacent elements as structs; NULL below `n`. */
  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements - n + 1
    if (m < 1) return null
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val w = new Array[Any](n)
      var j = 0
      while (j < n) { w(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = new GenericInternalRow(w)
      i += 1
    }
    new GenericArrayData(out)
  }
}
