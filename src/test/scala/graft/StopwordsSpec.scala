package graft

import graft.ops.Stopwords

class StopwordsSpec extends SparkSpec {

  test("anti-join routes each row's language to its own stopword set") {
    import spark.implicits._
    val rows = Seq(
      ("en", "the"),   // en stopword, en row -> dropped
      ("en", "data"),  // kept
      ("en", "של"),    // he stopword but en row -> kept
      ("he", "של"),    // he stopword, he row -> dropped
      ("he", "the"),   // en stopword but he row -> kept
      ("fr", "the"),   // non-he routes to en set -> dropped
      ("fr", "bonjour")
    ).toDF("lang", "w")
    val kept = Stopwords.anti(rows, "w").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("en", "data"), ("en", "של"), ("he", "the"), ("fr", "bonjour")))
  }

  test("antiWith runs the anti-join on sets loaded from runtime files") {
    import spark.implicits._
    val rows = Seq(("en", "the"), ("en", "data"), ("he", "של"), ("he", "עולם"))
      .toDF("lang", "w")
    val sets = Map(
      "en" -> Stopwords.fromFile("src/test/resources/ngrams/eng-stopwords.txt"),
      "he" -> Stopwords.fromFile("src/test/resources/ngrams/heb-stopwords.txt"))
    val kept = Stopwords.antiWith(rows, "w", sets).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("en", "data"), ("he", "עולם")))
  }

  test("stopword filter keeps a NULL word, routes a NULL lang to English, is case-sensitive") {
    import spark.implicits._
    val rows = Seq[(String, String)](
      ("en", null),   // NULL word -> kept
      ("he", null),   // NULL word -> kept
      (null, "the"),  // NULL lang routes to the en set -> dropped
      (null, "של"),   // he stopword, NULL lang is not he -> kept
      (null, "data"),
      ("en", "The"),  // the filter compares the word as given -> kept
      ("en", "the"),  // dropped
      ("fr", "the"),  // non-he routes to en -> dropped
      ("he", "של")    // dropped
    ).toDF("lang", "w")
    def kept(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
    // a local relation is folded at optimization time; the repartitioned
    // copy runs the filter in generated code
    Seq(rows, rows.repartition(2)).foreach { in =>
      assert(kept(Stopwords.anti(in, "w")) == Set((Some("en"), None), (Some("he"), None),
        (None, Some("של")), (None, Some("data")), (Some("en"), Some("The"))))
      // only a he set: rows routed to en keep every word
      assert(kept(Stopwords.antiWith(in, "w", Map("he" -> Seq("של")))) ==
        kept(rows) - ((Some("he"), Some("של"))))
    }
  }

  test("fromFile strips BOM and comment lines, lowercases and trims") {
    val eng = Stopwords.fromFile("src/test/resources/ngrams/eng-stopwords.txt")
    assert(eng == Seq("the", "a", "an", "and", "of"),
      s"BOM/comment/blank handling broke: $eng")
    val heb = Stopwords.fromFile("src/test/resources/ngrams/heb-stopwords.txt")
    assert(heb == Seq("של", "את", "על"))
  }
}
