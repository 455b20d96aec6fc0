package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Normalize

/** The codegen'd tokenizer ([[graft.functions.Tokenize]]) against the
  * Column chains it replaced, which live on only here as the spec:
  * byte-equal outputs, equal types, NULL where the chains gave NULL, under
  * whole-stage codegen and under interpreted evaluation. */
class TokenizeSpec extends SparkSpec {

  /** The replaced chains, verbatim. */
  private object Chain {
    def cleanToken(c: Column): Column = {
      val t      = trim(c)
      val posCut = when(instr(t, "_") > 1, t.substr(lit(1), instr(t, "_") - 1)).otherwise(t)
      val noLead = regexp_replace(posCut, "^[^\\p{L}\\p{N}]+", "")
      val noTail = regexp_replace(noLead, "[^\\p{L}\\p{N}]+$", "")
      lower(trim(noTail))
    }
    def tokensCol(text: Column): Column =
      filter(transform(split(text, "\\s+"), cleanToken _), t => length(t) > 0)
    def bigramsCol(toks: Column): Column = {
      val n = size(toks)
      when(n >= 2,
        transform(sequence(lit(1), n - 1),
          i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
    }
    def trigramsCol(toks: Column): Column = {
      val n = size(toks)
      when(n >= 3,
        transform(sequence(lit(1), n - 2),
          i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"),
            element_at(toks, i + 2).as("w3"))))
    }
  }

  private def cp(c: Int): String = new String(Character.toChars(c))
  private val ascii = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("(", ")", "-", ".", "!", "'", ",", "\"", "--", "...", "#", "_", "\u0000", "\u007f"))
  private val hebrew = Gen.choose(0x05D0, 0x05EA).map(cp)
  private val latin1 = Gen.oneOf("é", "ü", "ñ", "ß", "É", "Ø", "à", "Ç", "¿", "«", "»", "·", "²")
  // letters (𝐀 Lu, 𐐀 Lu with a lowercase 𐐨, 𐌰 Lo), a digit (𝟎 Nd), symbols (😀, 💩 So)
  private val supplementary = Gen.oneOf(0x1D400, 0x10400, 0x10330, 0x1D7CE, 0x1F600, 0x1F4A9).map(cp)
  private val javaSpace = Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r")
  // NBSP and the ideographic space are not in Java's `\s`
  private val otherSpace = Gen.oneOf("\u00A0", "\u3000")
  private val bom = "\uFEFF"

  /** Half the inputs are pure ASCII (the tokenizer's byte-scan path), the
    * rest mix in every other script (its exact path). */
  private def piece(asciiOnly: Boolean): Gen[String] =
    if (asciiOnly) ascii
    else Gen.frequency(8 -> ascii, 3 -> hebrew, 2 -> latin1, 2 -> supplementary, 1 -> otherSpace,
      1 -> Gen.const(bom))

  /** A token with `_` at index 0, 1 or k (or none). */
  private def token(asciiOnly: Boolean): Gen[String] = for {
    n <- Gen.choose(0, 7)
    ps <- Gen.listOfN(n, piece(asciiOnly))
    at <- Gen.oneOf(-1, -1, 0, 1, 3)
  } yield {
    val s = ps.mkString
    if (at < 0) s else { val k = math.min(at, s.length); s.substring(0, k) + "_" + s.substring(k) }
  }

  private val spaces: Gen[String] = Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, javaSpace).map(_.mkString))

  private val doc: Gen[String] = for {
    asciiOnly <- Gen.oneOf(true, false)
    lead <- spaces
    n <- Gen.choose(0, 9)
    toks <- Gen.listOfN(n, token(asciiOnly))
    seps <- Gen.listOfN(n, Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, javaSpace).map(_.mkString)))
    tail <- spaces
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString + tail

  private val invalid: Seq[Array[Byte]] = Seq(Array(0xFF), Array(0xC3), Array(0x80), Array(0xED, 0xA0, 0x80),
    Array(0xF0, 0x9F), Array(0xC0, 0xAF), Array(0xE2, 0x82)).map(_.map(_.toByte))

  /** UTF-8 bytes of a doc, a fifth of them with invalid sequences spliced
    * in at arbitrary byte offsets (splitting characters too). */
  private val bytes: Gen[Array[Byte]] = for {
    d <- doc
    k <- Gen.frequency(4 -> Gen.const(0), 1 -> Gen.choose(1, 3))
    at <- Gen.listOfN(k, Gen.choose(0, d.getBytes(UTF_8).length))
    bad <- Gen.listOfN(k, Gen.oneOf(invalid))
  } yield at.zip(bad).sortBy(-_._1).foldLeft(d.getBytes(UTF_8)) { case (b, (i, x)) =>
    b.take(i) ++ x ++ b.drop(i)
  }

  private val cases: Int = 600

  /** `cases` generated rows (doc, token) plus fixed edges: NULL, "", a BOM
    * word, whitespace only, one and two tokens. Built from an RDD so the
    * optimizer cannot fold the projections on the driver. */
  private lazy val inputs: DataFrame = {
    val tok = Gen.oneOf(true, false).flatMap(a => spaces.flatMap(p => token(a).map(t => (p + t).getBytes(UTF_8))))
    val gen = Gen.listOfN(cases, Gen.zip(bytes, tok))
    val drawn = gen(Gen.Parameters.default, Seed(20261019L)).get
    val fixed = Seq[String](null, "", bom + "word", " \t\n\u000B\f\r ", "one", "one two", "a_b _c __", "x y")
      .map(s => Option(s).map(_.getBytes(UTF_8)).orNull)
    val rows = (drawn ++ fixed.map(b => (b, b))).map { case (d, t) => Row(d, t) }
    val schema = StructType(Seq(StructField("d", BinaryType), StructField("t", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(col("d").cast("string").as("doc"), col("t").cast("string").as("tok"))
  }

  /** (name, new column, chain column) triples over `inputs`. */
  private def pairs: Seq[(String, Column, Column)] = {
    val doc = col("doc")
    val tok = col("tok")
    val withNulls = array(tok, lit(null).cast("string"), doc, tok)
    Seq(
      ("cleanToken(tok)", Normalize.cleanToken(tok), Chain.cleanToken(tok)),
      ("cleanToken(doc)", Normalize.cleanToken(doc), Chain.cleanToken(doc)),
      ("tokensCol(doc)", Normalize.tokensCol(doc), Chain.tokensCol(doc)),
      ("tokensCol(tok)", Normalize.tokensCol(tok), Chain.tokensCol(tok)),
      ("bigramsCol", Normalize.bigramsCol(Normalize.tokensCol(doc)), Chain.bigramsCol(Chain.tokensCol(doc))),
      ("trigramsCol", Normalize.trigramsCol(Normalize.tokensCol(doc)), Chain.trigramsCol(Chain.tokensCol(doc))),
      ("bigramsCol(nulls)", Normalize.bigramsCol(withNulls), Chain.bigramsCol(withNulls)),
      ("trigramsCol(nulls)", Normalize.trigramsCol(withNulls), Chain.trigramsCol(withNulls)))
  }

  /** Every pair compared byte-for-byte with null-safe equality inside the
    * engine (a collect would decode invalid UTF-8 and hide byte
    * differences); returns the names with mismatches and the first bad
    * input of each, hex-encoded. */
  private def mismatches(): Seq[String] = {
    val ps = pairs
    val rows = inputs.select(hex(col("doc").cast("binary")) +: hex(col("tok").cast("binary")) +:
      ps.map { case (_, n, c) => n <=> c }: _*).collect()
    ps.zipWithIndex.flatMap { case ((name, _, _), i) =>
      rows.find(r => !r.getBoolean(i + 2)).map(r => s"$name: doc=${r.getString(0)} tok=${r.getString(1)}")
    }
  }

  test(s"tokenizer expressions equal the replaced Column chains on $cases+ generated inputs, codegen and interpreted") {
    // the generator reaches the edges it is meant to: invalid UTF-8, NULL,
    // pure ASCII, and inputs with fewer tokens than an n-gram needs
    val stats = inputs.select(
      sum(when(col("doc").isNotNull && !is_valid_utf8(col("doc")), 1).otherwise(0)),
      sum(when(col("doc").isNull, 1).otherwise(0)),
      sum(when(col("doc").rlike("^[\\x00-\\x7f]*$"), 1).otherwise(0)),
      sum(when(size(Chain.tokensCol(col("doc"))) < 2, 1).otherwise(0)),
      count(lit(1))).head()
    assert(stats.getLong(0) > 50 && stats.getLong(1) == 1 && stats.getLong(2) > 200 &&
      stats.getLong(3) > 50 && stats.getLong(4) >= 500, s"generator coverage: $stats")
    val bad = mismatches()
    assert(bad.isEmpty, s"codegen mismatches:\n${bad.mkString("\n")}")
    withConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val badInterpreted = mismatches()
      assert(badInterpreted.isEmpty, s"interpreted mismatches:\n${badInterpreted.mkString("\n")}")
    }
  }

  test("tokenizer expressions keep the chains' types, nullability and NULL-vs-empty") {
    val ps = pairs
    val schema = inputs.select(ps.flatMap { case (_, n, c) => Seq(n, c) }: _*).schema
    ps.indices.foreach { i =>
      val (n, c) = (schema(2 * i), schema(2 * i + 1))
      assert(n.dataType == c.dataType && n.nullable == c.nullable,
        s"${ps(i)._1}: ${n.dataType.catalogString} nullable=${n.nullable} vs " +
          s"${c.dataType.catalogString} nullable=${c.nullable}")
    }
    import spark.implicits._
    val r = Seq("", "one", "one two", "one two three").toDF("text")
      .select(Normalize.tokensCol(col("text")).as("t"))
      .select(col("t"), Normalize.bigramsCol(col("t")).as("b"), Normalize.trigramsCol(col("t")).as("g"))
      .collect()
    assert(r.map(_.getSeq[String](0)).toSeq == Seq(Seq(), Seq("one"), Seq("one", "two"), Seq("one", "two", "three")))
    assert(r.map(x => x.isNullAt(1)).toSeq == Seq(true, true, false, false), "bigrams: NULL below 2 tokens")
    assert(r.map(x => x.isNullAt(2)).toSeq == Seq(true, true, true, false), "trigrams: NULL below 3 tokens")
    val nul = Seq[String](null).toDF("text").select(Normalize.tokensCol(col("text"))).head()
    assert(nul.isNullAt(0), "NULL text tokenizes to NULL, not an empty array")
  }
}
