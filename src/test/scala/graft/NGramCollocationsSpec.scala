package graft

import org.apache.spark.sql.functions._
import graft.collocations.NGramCollocations
import graft.sources.NGramSource

/** Golden end-to-end over the reference-format TSV fixtures
  * (src/test/resources/ngrams), covering FIXTURES.md §A5: POS stripping,
  * parse-failure drops, occ<=0 drops, stopwords in w1/w2 position,
  * same-bigram-two-years summation, two decades, both languages,
  * lang-from-path, an exact LLR tie, and inner-join drops of bigrams
  * lacking unigram rows. */
class NGramCollocationsSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/ngrams/$name").getPath

  private lazy val uni = NGramSource.unigrams(
    NGramSource.read(spark, res("eng-1gram.tsv"), res("heb-1gram.tsv")))
  private lazy val bg = NGramSource.bigrams(
    NGramSource.read(spark, res("eng-2gram.tsv"), res("heb-2gram.tsv")))

  private val uniPaths = Seq(res("eng-1gram.tsv"), res("heb-1gram.tsv"))
  private val bgPaths = Seq(res("eng-2gram.tsv"), res("heb-2gram.tsv"))

  /** `body` without whole-stage codegen — the mode Spark falls back to on
    * its own when a stage's generated code fails to compile or exceeds
    * `hugeMethodLimit`; no filter then runs fused ahead of a projection. */
  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false")(body)

  test("fromPaths runs the whole chain from raw TSV paths") {
    val top = graft.collocations.NGramCollocations.fromPaths(spark,
      Seq(res("eng-1gram.tsv"), res("heb-1gram.tsv")),
      Seq(res("eng-2gram.tsv"), res("heb-2gram.tsv")))
    // 2 en-1990 + 2 he-1990; en-2000's "big data" drops on the inner join
    // (no 2000s "data" unigram row)
    assert(top.count() == 4)
  }

  test("SequenceFile corpus format yields byte-identical collocations to the TSV path") {
    // the reference ingests SequenceFiles of (LongWritable, Text tsv-line)
    // (CollocationExtraction3Jobs.java:67-71); re-encode each TSV fixture
    // as one and run the identical chain — results must match exactly
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.{LongWritable, SequenceFile, Text}
    val dir = java.nio.file.Files.createTempDirectory("seq-ngrams")
    def toSeqFile(tsv: String): String = {
      // keep the basename so lang-from-path ("heb") routing still fires
      val out = dir.resolve(new java.io.File(tsv).getName + ".seq").toString
      val writer = SequenceFile.createWriter(spark.sparkContext.hadoopConfiguration,
        SequenceFile.Writer.file(new Path(out)),
        SequenceFile.Writer.keyClass(classOf[LongWritable]),
        SequenceFile.Writer.valueClass(classOf[Text]))
      try {
        var off = 0L
        scala.io.Source.fromFile(tsv, "UTF-8").getLines().foreach { line =>
          writer.append(new LongWritable(off), new Text(line))
          off += line.getBytes("UTF-8").length + 1
        }
      } finally writer.close()
      out
    }
    val top = NGramCollocations.fromSequencePaths(spark,
      Seq(toSeqFile(res("eng-1gram.tsv")), toSeqFile(res("heb-1gram.tsv"))),
      Seq(toSeqFile(res("eng-2gram.tsv")), toSeqFile(res("heb-2gram.tsv"))))
    val viaTsv = NGramCollocations.fromPaths(spark,
      Seq(res("eng-1gram.tsv"), res("heb-1gram.tsv")),
      Seq(res("eng-2gram.tsv"), res("heb-2gram.tsv")))
    assert(top.except(viaTsv).isEmpty && viaTsv.except(top).isEmpty)
    assert(top.count() == 4)
  }

  test("CLI writes reference-shaped TSV output from raw paths") {
    import graft.collocations.CollocationsCli
    val out = java.nio.file.Files.createTempDirectory("cli-out").toString + "/top"
    val args = CollocationsCli.parse(Array(
      "--unigrams", s"${res("eng-1gram.tsv")},${res("heb-1gram.tsv")}",
      "--bigrams", s"${res("eng-2gram.tsv")},${res("heb-2gram.tsv")}",
      "--out", out, "--k", "100"))
    CollocationsCli.run(spark, args)
    val rows = spark.read.option("sep", "\t").csv(out).collect()
    assert(rows.length == 4)
    // reference line shape (Job2.java:245): lang, decade, "w1 w2", llr —
    // the bigram space-joined into a single field
    assert(rows.forall(_.length == 4))
    assert(rows.forall(_.getString(2).split(" ").length == 2))
    val langs = rows.map(_.getString(0)).toSet
    assert(langs == Set("en", "he"))
  }

  test("CLI rejects unknown and dangling flags loudly at parse time") {
    import graft.collocations.CollocationsCli
    val good = Array("--unigrams", "u.tsv", "--bigrams", "b.tsv", "--out", "/tmp/o")
    // a typo'd flag must fail, not be silently ignored
    val e1 = intercept[IllegalArgumentException] {
      CollocationsCli.parse(good ++ Array("--topk", "50"))
    }
    assert(e1.getMessage.contains("--topk"), e1.getMessage)
    // a trailing odd argument must fail, not be silently dropped
    val e2 = intercept[IllegalArgumentException] {
      CollocationsCli.parse(good :+ "--k")
    }
    assert(e2.getMessage.contains("--k"), e2.getMessage)
    // a repeated flag must fail, not keep only its last value (dropping a
    // corpus); a zero, negative or non-numeric k and an empty path in a
    // list must fail too — each message names the flag
    Seq(
      "--unigrams" -> Array("--unigrams", "a", "--bigrams", "b.tsv", "--out", "/tmp/o", "--unigrams", "c"),
      "--k" -> (good ++ Array("--k", "0")),
      "--k" -> (good ++ Array("--k", "-3")),
      "--k" -> (good ++ Array("--k", "ten")),
      "--unigrams" -> Array("--unigrams", "a,,b", "--bigrams", "b.tsv", "--out", "/tmp/o"),
      "--bigrams" -> Array("--unigrams", "a", "--bigrams", "b.tsv,", "--out", "/tmp/o")
    ).foreach { case (flag, argv) =>
      val e = intercept[IllegalArgumentException](CollocationsCli.parse(argv))
      assert(e.getMessage.contains(flag), s"${argv.mkString(" ")}: ${e.getMessage}")
    }
    // the valid form still parses
    assert(CollocationsCli.parse(good :+ "--k" :+ "7").k == 7)
  }

  test("lang inferred from file path; malformed and non-positive rows dropped") {
    val langs = uni.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: data_NOUN, data, big, big, science, the, (noise) = 7 surviving rows
    // (bad year, occ<=0, short row dropped); he: 4 rows (incl. stopword של)
    assert(langs == Map("en" -> 7L, "he" -> 4L))
  }

  test("lang decided once per file equals lower(path).contains(\"heb\") on every row, compiled and interpreted") {
    // four tiny files packed into one scan task, so the per-file cache sees
    // the path change mid-task; an upper-case HEB needs the lowercase
    val dir = java.nio.file.Files.createTempDirectory("ngram-lang")
    val files = Seq("eng-1gram.tsv" -> "eng-1gram.tsv", "heb-1gram.tsv" -> "heb-1gram.tsv",
      "eng-1gram.tsv" -> "Corpus-HEB.tsv", "heb-1gram.tsv" -> "plain.tsv").map { case (from, to) =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(res(from)), dir.resolve(to)).toString
    }
    try {
      val expected = files.map { p =>
        (if (p.toLowerCase.contains("heb")) NGramSource.HE else NGramSource.EN) -> NGramSource.read(spark, p).count()
      }.groupMapReduce(_._1)(_._2)(_ + _)
      def langs(): Map[String, Long] = NGramSource.read(spark, files: _*).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      withConf("spark.sql.files.minPartitionNum" -> "1") {
        assert(spark.read.text(files: _*).rdd.getNumPartitions == 1, "one scan task reads every file")
        assert(langs() == expected)
        withConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
          assert(langs() == expected)
        }
      }
    } finally {
      files.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
      java.nio.file.Files.delete(dir)
    }
  }

  test("unigram counts: POS stripped, cleaned, stopwords removed, weighted sums per decade") {
    val u = NGramCollocations.unigramCounts(uni).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(u(("en", 1990L, "data")) == 15L)   // 10 (data_NOUN @1994) + 5 (data @1995)
    assert(u(("en", 1990L, "big")) == 12L)
    assert(u(("en", 2000L, "big")) == 4L)
    assert(u(("en", 1990L, "noise")) == 3L)   // "(noise)" cleaned
    assert(!u.contains(("en", 1990L, "the"))) // en stopword, en row
    assert(!u.contains(("he", 1990L, "של")))  // he stopword routed to he row
    assert(u(("he", 1990L, "שלום")) == 6L)    // NOT a stopword (prefix of של)
  }

  test("grand total N per (lang, decade)") {
    val n = NGramCollocations.grandTotalN(NGramCollocations.unigramCounts(uni)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(n == Map(("en", 1990L) -> 32L, ("en", 2000L) -> 4L, ("he", 1990L) -> 18L))
  }

  test("bigram counts: cross-year summation within decade, stopword pairs dropped") {
    val b = NGramCollocations.bigramCounts(bg).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) -> r.getLong(4)).toMap
    assert(b(("en", 1990L, "big", "data")) == 9L)  // 7 @1994 + 2 @1995
    assert(b(("en", 2000L, "big", "data")) == 3L)
    assert(!b.exists(_._1._3 == "the"), "stopword w1 dropped")
    assert(!b.exists(_._1._4 == "the"), "stopword w2 dropped")
    assert(!b.exists(_._1._3 == "של"), "he stopword w1 dropped via routing")
    assert(b.contains(("en", 1990L, "ghost", "word")), "pre-join bigram counts keep ghost")
  }

  test("end-to-end: inner-join drops, llr values match scalar formula, tie-break order") {
    def refLlr(c1: Long, c2: Long, c12: Long, n: Long): Double = {
      val (k11, k12, k21, k22) = (c12, c1 - c12, c2 - c12, n - c1 - c2 + c12)
      val (row1, row2) = ((k11 + k12).toDouble, (k21 + k22).toDouble)
      val (col1, col2) = ((k11 + k21).toDouble, (k12 + k22).toDouble)
      val total = row1 + row2
      def term(k: Double, e: Double) = if (k == 0 || e <= 0) 0.0 else k * math.log(k / e)
      2.0 * (term(k11, row1 * col1 / total) + term(k12, row1 * col2 / total) +
        term(k21, row2 * col1 / total) + term(k22, row2 * col2 / total))
    }
    val top = NGramCollocations.topCollocations(uni, bg).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4)))

    // ghost-word (no unigrams) and big-science-2000s (no science unigram) dropped
    assert(!top.exists(t => t._3 == "ghost"))
    assert(!top.exists(t => t._1 == "en" && t._2 == 2000L && t._4 == "science"))

    val en1990 = top.filter(t => t._1 == "en" && t._2 == 1990L)
    assert(en1990.map(t => (t._3, t._4)).toSet == Set(("big", "data"), ("data", "science")))
    val bigData = en1990.find(t => t._3 == "big").get
    assert(math.abs(bigData._5 - math.rint(refLlr(12, 15, 9, 32) * 1e6) / 1e6) < 1e-6)

    // he 1990: exact tie (both llr(6,6,3,18)) -> w1 ascending: עולם < שלום
    val he = top.filter(_._1 == "he").toSeq
    assert(he.map(_._5).distinct.size == 1, "expected an exact LLR tie")
    assert(he.map(t => (t._3, t._4)) == Seq(("עולם", "טוב"), ("שלום", "עולם")))
  }

  test("a one-token 2-gram line drops without throwing when whole-stage codegen is off") {
    // eng-2gram.tsv holds `onetoken\t1994\t9`: it has no second token
    val rows = interpreted {
      val b = NGramSource.bigrams(NGramSource.read(spark, res("eng-2gram.tsv")))
      b.write.format("noop").mode("overwrite").save()
      b.collect()
    }
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getString(1) == "onetoken" || r.getString(2) == "onetoken"))
  }

  test("golden chain: identical rows with whole-stage codegen off") {
    // every DataFrame is built inside the run: a collected DataFrame keeps
    // its physical plan, so one built under codegen would stay codegen'd
    def chain(): Seq[Seq[String]] = {
      val u = NGramSource.unigrams(NGramSource.read(spark, uniPaths: _*))
      val b = NGramSource.bigrams(NGramSource.read(spark, bgPaths: _*))
      Seq(u, b, NGramCollocations.unigramCounts(u),
          NGramCollocations.grandTotalN(NGramCollocations.unigramCounts(u)),
          NGramCollocations.bigramCounts(b), NGramCollocations.topCollocations(u, b),
          NGramCollocations.fromPaths(spark, uniPaths, bgPaths))
        .map(_.collect().map(_.toString).sorted.toSeq)
    }
    val codegen = chain()
    assert(codegen.forall(_.nonEmpty))
    assert(interpreted(chain()) == codegen)
  }
}
