package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Tokenize
import graft.ops.Normalize

/** Raw Google-Books-style n-gram ingestion, format-compatible with the
  * reference (SURVEY §2.1 S1-S3):
  *
  *   - TSV rows `ngram \t year \t occurrences [\t ...]` with extra trailing
  *     fields ignored (`Job1.java:126-138,166-181`);
  *   - language inferred from the input file path — `heb` substring => HE
  *     else EN (`NGramUtils.java:51-79`) — expressed with
  *     `input_file_name()` so it composes with any directory layout, and
  *     decided once per file ([[HebrewPath]]);
  *   - malformed rows (unparseable year/occurrence, occ <= 0, missing
  *     fields) dropped, mirroring the reference's try/catch-skip
  *     (`Job1.java:130-138`).
  *
  * Reading as text + `split` (rather than a csv schema) keeps the "ignore
  * trailing fields" semantics and never fails on ragged rows — at 100 TB a
  * malformed shard must degrade to dropped rows, not a job abort. Every
  * split and clean runs once per row (see [[once]]).
  */
object NGramSource {

  val HE = "he"
  val EN = "en"

  /** Parse one or more TSV paths into (lang, ngram, year, occurrences). */
  def read(spark: SparkSession, paths: String*): DataFrame =
    parse(spark.read.text(paths: _*)
      .withColumn("lang",
        when(GraftSqlBridge.column(HebrewPath(GraftSqlBridge.expression(input_file_name()))), lit(HE))
          .otherwise(lit(EN))))

  private val Heb = UTF8String.fromString("heb")

  /** `lower(path).contains("heb")`, with Spark's `lower`. */
  def isHebrew(path: UTF8String, useICU: Boolean): Boolean =
    Tokenize.lower(path, useICU).contains(Heb)

  /** The corpus the reference actually points at ships as Hadoop
    * SequenceFiles of (LongWritable offset, Text tsv-line) — the format
    * `CollocationExtraction3Jobs.java:67-71` wires via
    * `SequenceFileInputFormat` with `Mapper<LongWritable, Text, ...>`
    * (`Job1.java:113,124`). Same parse chain as [[read]]; each path gets
    * its language from its own name, mirroring the reference's per-path
    * `MultipleInputs` registration. */
  def readSequence(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import spark.implicits._
    val tagged = paths.map { p =>
      val lang = if (p.toLowerCase.contains("heb")) HE else EN
      spark.sparkContext.sequenceFile(p, classOf[LongWritable], classOf[Text])
        // Hadoop reuses the Writable instances across records — the value
        // must be copied out (toString) before the iterator advances
        .map(_._2.toString)
        .toDF("value").withColumn("lang", lit(lang))
    }
    parse(tagged.reduce(_ unionByName _))
  }

  /** Evaluates `cols` once per row and appends them to `keep`, behind an
    * `inline(array(struct(..)))` Generate. A filter on a projected alias is
    * pushed below its Project as a copy of the aliased expression
    * (`PushPredicateThroughNonJoin`), so split/clean would run once in the
    * filter and again in the projection; a generator's output is never
    * copied back, so filters above this node test the computed values. */
  private def once(df: DataFrame, keep: Seq[String], cols: Column*): DataFrame =
    df.select(keep.map(col) :+ inline(array(struct(cols: _*))): _*)

  /** Shared TSV-line parse: (lang, value) → (lang, ngram, year,
    * occurrences), malformed rows dropped. The line is split once. */
  private[graft] def parse(raw: DataFrame): DataFrame = {
    val f = col("f")
    // try_element_at / try_cast, not element_at / cast: Spark 4 ANSI mode
    // makes the plain forms *throw* on ragged rows or malformed numbers;
    // the reference's semantics are drop-the-row.
    once(once(raw, Seq("lang"), split(col("value"), "\t").as("f")), Seq("lang"),
        try_element_at(f, lit(1)).as("ngram"),
        try_element_at(f, lit(2)).try_cast("int").as("year"),
        try_element_at(f, lit(3)).try_cast("long").as("occurrences"))
      .filter(col("ngram").isNotNull && col("year").isNotNull &&
        col("occurrences").isNotNull && col("occurrences") > 0)
  }

  /** 1-gram view: (lang, w, year, occurrences), token cleaned once,
    * empties dropped (`Job1.java:139-145`). */
  def unigrams(df: DataFrame): DataFrame =
    once(df, Seq("lang", "year", "occurrences"), Normalize.cleanToken(col("ngram")).as("w"))
      .filter(length(col("w")) > 0)
      .select("lang", "w", "year", "occurrences")

  /** 2-gram view: (lang, w1, w2, year, occurrences). The ngram splits on
    * `\s+` once, needs >= 2 tokens, takes the first two (`Job1.java:170-186`);
    * each is cleaned once and the row dropped if either cleans to empty. A
    * one-token ngram has no second token: `try_element_at` yields NULL, so
    * the length test drops the row without a separate size filter, and
    * nothing throws under ANSI mode whatever order the filters run in. */
  def bigrams(df: DataFrame): DataFrame = {
    val parts = col("parts")
    val cols = Seq("lang", "year", "occurrences")
    once(once(df, cols, split(col("ngram"), "\\s+").as("parts")), cols,
        Normalize.cleanToken(try_element_at(parts, lit(1))).as("w1"),
        Normalize.cleanToken(try_element_at(parts, lit(2))).as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .select("lang", "w1", "w2", "year", "occurrences")
  }
}

/** `lower(path).contains("heb")` for `input_file_name()`, decided once per
  * file rather than once per row: generated code keeps the last path
  * object and its answer in mutable state and recomputes only when a
  * different object arrives. `input_file_name()` hands every row of a file
  * the same immutable `UTF8String`, so a hit is one reference compare and
  * a miss is the full test: the answer is exact either way. Interpreted
  * eval runs the full test per row. */
private[sources] case class HebrewPath(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_hebrew_path"
  private lazy val useICU: Boolean = Tokenize.icuCaseMappings
  override def nullSafeEval(path: Any): Any = NGramSource.isHebrew(path.asInstanceOf[UTF8String], useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val last = ctx.addMutableState(classOf[UTF8String].getName, "lastPath")
    val heb = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "lastPathHebrew")
    nullSafeCodeGen(ctx, ev, p =>
      s"""if ($p != $last) {
         |  $heb = graft.sources.NGramSource.isHebrew($p, $useICU);
         |  $last = $p;
         |}
         |${ev.value} = $heb;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
