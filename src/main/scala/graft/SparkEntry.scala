package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.collocations.Collocations
import graft.multimodal.Modality
import graft.ops.{Normalize, Stopwords}

/** Driver contract — one named query per implemented operator (SURVEY.md
  * §2.11), each paired with DuckDB oracle SQL built in [[OracleSql]] /
  * inline below. Column names and types are aligned between the Spark query
  * and the oracle (the driver sorts columns by name and hash-compares
  * values): counts/sums of integers are BIGINT on both sides, money sums go
  * through DECIMAL(18,2) (exact, order-independent) and are cast to DOUBLE
  * at the end, and every derived double (LLR, ratios) is rounded to 6
  * decimals on both sides.
  */
object SparkEntry {

  private type Q = (SparkSession, String) => DataFrame

  /** Build-once/serve-many: the dedup index is a pure function of the
    * corpus, so each process builds it at most ONCE per dataset dir and
    * every `dedup_jaccard_indexed` invocation after the first is
    * serve-only — the production contract the operator exists to
    * demonstrate, and the only way the bench's min-of-sweeps estimator
    * measures the serve path rather than build+serve. The index root is a
    * single temp dir removed by a JVM shutdown hook, so repeated bench /
    * verify runs leave nothing behind. */
  private val dedupIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private lazy val dedupIndexRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-dedup-index")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    }
    p
  }
  // subdirectory names are the md5 of the full cache key, not its 32-bit
  // hashCode: a String.hashCode collision between two dataset keys would
  // silently overwrite one index's parquet while the TrieMap still served
  // the stale entry for the other
  private def keyDirName(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def dedupIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d, {
      val dir = dedupIndexRoot.resolve(keyDirName(d)).toString
      graft.dedup.Dedup.writeDedupIndex(Collocations.documents(s, d), dir)
      dir
    })

  /** Index over the even-doc_id half only — the PRE-EXISTING corpus of
    * the incremental-ingest query, which unions fresh odd-half
    * signatures on top without re-hashing it. */
  private def dedupIndexDirHalf(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#even", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#even")).toString
      graft.dedup.Dedup.writeDedupIndex(
        Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 0), dir)
      dir
    })

  /** Winnow fingerprint index (full corpus / even half) — same
    * build-once lifecycle and shutdown-cleaned root as the minhash
    * index. */
  private def winnowIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#winnow", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#winnow")).toString
      graft.dedup.Dedup.writeWinnowIndex(Collocations.documents(s, d), dir)
      dir
    })
  private def winnowIndexDirHalf(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#winnow-even", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#winnow-even")).toString
      graft.dedup.Dedup.writeWinnowIndex(
        Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 0), dir)
      dir
    })

  /** Perceptual fingerprint index of one modality (full corpus, or the
    * even-doc_id half the incremental and gate queries build on) — same
    * build-once lifecycle and shutdown-cleaned root. */
  private def fpIndexDir(s: SparkSession, d: String, m: Modality,
                         evenHalf: Boolean = false): String = {
    val key = s"$d#${m.table}" + (if (evenHalf) "-even" else "")
    dedupIndexDirs.getOrElseUpdate(key, {
      val dir = dedupIndexRoot.resolve(keyDirName(key)).toString
      val docs = Collocations.documents(s, d)
      graft.dedup.Dedup.writeFingerprintIndex(m,
        if (evenHalf) docs.filter(pmod(col("doc_id"), lit(2L)) === 0) else docs, dir)
      dir
    })
  }

  /** Substring-anchor index (full corpus / even half) — same
    * build-once lifecycle and shutdown-cleaned root. */
  private def substringIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#substr", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#substr")).toString
      graft.dedup.Dedup.writeSubstringIndex(Collocations.documents(s, d), dir)
      dir
    })
  private def substringIndexDirHalf(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#substr-even", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#substr-even")).toString
      graft.dedup.Dedup.writeSubstringIndex(
        Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 0), dir)
      dir
    })

  /** Benchmark-side anchor index (src0 docs only) — the static half of
    * the decontamination serve path and the [[graft.streaming.DeconStream]]
    * gate; same build-once lifecycle and shutdown-cleaned root. */
  private def benchAnchorIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#bench-substr", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#bench-substr")).toString
      graft.dedup.Dedup.writeSubstringIndex(
        Collocations.documents(s, d).filter(col("source") === "src0"), dir)
      dir
    })

  /** Persisted BPE merge-table model — the tokenizer's build-once/
    * serve-many lifecycle, same shutdown-cleaned root. */
  private def bpeModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#bpe", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#bpe")).toString
      graft.text.TextAnalysis.writeBpeModel(Collocations.documents(s, d), dir)
      dir
    })

  /** Persisted unigram-LM piece model — same lifecycle as the BPE merge
    * table. */
  private def unigramModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#unigram", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#unigram")).toString
      graft.text.TextAnalysis.writeUnigramModel(Collocations.documents(s, d), dir)
      dir
    })

  /** Persisted Kneser-Ney LM model (the bigram-type TABLE — joined
    * distributively at serve time, never collected) — same lifecycle
    * and cleaned root. */
  private def knModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#knlm", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#knlm")).toString
      graft.text.TextAnalysis.writeKnModel(Collocations.documents(s, d), dir)
      dir
    })

  /** Persisted trigram KN model (the order-3 type TABLE — joined
    * distributively at serve time) — same lifecycle and cleaned root. */
  private def kn3ModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#kn3lm", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#kn3lm")).toString
      graft.text.TextAnalysis.writeKn3Model(Collocations.documents(s, d), dir)
      dir
    })

  /** Persisted PCA component model — same lifecycle and cleaned root. */
  private def pcaModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#pca", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#pca")).toString
      graft.similarity.Pca.writePcaModel(
        s.read.parquet(s"$d/embeddings.parquet"), dir, k = 4, trainStride = 2)
      dir
    })

  /** Persisted IVF centroid model — same lifecycle and cleaned root. */
  private def ivfModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#ivf", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#ivf")).toString
      graft.similarity.Ann.writeIvfModel(
        s.read.parquet(s"$d/embeddings.parquet"), dir, trainStride = 8)
      dir
    })

  /** Persisted SemDeDup ingest-gate index (even half): centroids trained
    * on the even vec_ids + that half's kept representatives. */
  private def semanticGateIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#semgate", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#semgate")).toString
      graft.dedup.Dedup.writeSemanticGateIndex(
        s.read.parquet(s"$d/embeddings.parquet")
          .filter(pmod(col("vec_id"), lit(2L)) === 0),
        dir, nClusters = 8, iters = 2, minCos = 0.4, trainStride = 1)
      dir
    })

  /** Persisted pretrain INGEST-GATE index — everything the continuous
    * gate ([[graft.streaming.PretrainStream]]) serves against, derived
    * from the admitted (even-half, non-benchmark) corpus' LADDER-CLEANED
    * pages and the benchmark's: `/dedup` = the minhash signature +
    * shingle-set tables (writeDedupIndex shape), `/anchors` + `/bench` =
    * the benchmark substring-anchor table and its extension corpus. */
  private def pretrainGateIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#pretraingate", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#pretraingate")).toString
      graft.streaming.PretrainStream.writeGateIndex(
        Collocations.documents(s, d).select(col("doc_id"), col("source"),
          graft.pipelines.PretrainCorpus.dirtyPageV2.as("text")),
        dir,
        benchPred = col("source") === "src0",
        corpusPred = pmod(col("doc_id"), lit(2L)) === 0 && col("source") =!= "src0")
      dir
    })

  /** Persisted semantic-decon BENCHMARK index: centroids trained on the
    * benchmark tenth (vec_id % 10 = 0) plus that side's cell-assigned
    * vectors — serving assigns the train side only, the benchmark is
    * never re-clustered or re-assigned on ingest. */
  private def semanticDeconIndexDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#semdecon", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#semdecon")).toString
      graft.dedup.Dedup.writeSemanticDeconIndex(
        s.read.parquet(s"$d/embeddings.parquet")
          .filter(pmod(col("vec_id"), lit(10L)) === 0),
        dir, nClusters = 8, iters = 2, trainStride = 1)
      dir
    })

  /** Persisted SemDeDup centroid model — trained with EXACTLY the
    * rebuild entry's params (nClusters=8, iters=2, trainStride=1) so
    * serve-equals-rebuild holds bit-for-bit (pinned in DedupSpec). */
  private def semanticModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#sem", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#sem")).toString
      graft.similarity.Ann.writeIvfModel(
        s.read.parquet(s"$d/embeddings.parquet"), dir,
        nCells = 8, iters = 2, trainStride = 1)
      dir
    })

  /** One-time per-process setup a measurement harness runs during warmup
    * (the dedup/winnow/substring index builds, the persisted BPE and IVF
    * models, and the classifier's cached Newton train), so even a
    * single-sweep bench sample measures the serve path, never
    * build+serve. */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    dedupIndexDir(spark, sfDir)
    dedupIndexDirHalf(spark, sfDir)
    winnowIndexDir(spark, sfDir)
    winnowIndexDirHalf(spark, sfDir)
    substringIndexDir(spark, sfDir)
    substringIndexDirHalf(spark, sfDir)
    Modality.all.foreach { m =>
      fpIndexDir(spark, sfDir, m)
      fpIndexDir(spark, sfDir, m, evenHalf = true)
    }
    benchAnchorIndexDir(spark, sfDir)
    bpeModelDir(spark, sfDir)
    unigramModelDir(spark, sfDir)
    knModelDir(spark, sfDir)
    kn3ModelDir(spark, sfDir)
    ivfModelDir(spark, sfDir)
    semanticModelDir(spark, sfDir)
    semanticGateIndexDir(spark, sfDir)
    semanticDeconIndexDir(spark, sfDir)
    pretrainGateIndexDir(spark, sfDir)
    langIdModelDir(spark, sfDir)
    pcaModelDir(spark, sfDir)
    qcScored(spark, sfDir) // populates the per-process weight cache
  }

  /** One dialect-neutral SQL text executed verbatim by BOTH engines
    * (spark.sql over temp views; DuckDB over the same tables). */
  val sqlInterfaceQuery: String =
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Second dialect-neutral SQL text, widening the SQL-surface proof from
    * join+agg to a ranking WINDOW — executed verbatim by both engines.
    * row_number() is INT on Spark and BIGINT on DuckDB, so the CAST pins
    * the schema; the tie-break on c_custkey makes the top-5 deterministic. */
  val sqlInterfaceWindowQuery: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal, rnk
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |             CAST(row_number() OVER (PARTITION BY c_mktsegment
      |                                     ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
      |      FROM customer) ranked
      |WHERE rnk <= 5""".stripMargin

  /** Correlated scalar subquery, same text on both engines (Catalyst
    * decorrelates it into an outer join). */
  val scalarSubqueryQuery: String =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
      |FROM orders WHERE o_totalprice > 300000""".stripMargin

  /** One row per bigram OCCURRENCE as the "w1 w2" string (mirror of the
    * oracle's `tl[i] || ' ' || tl[i+1]`) — delegates to the shared
    * [[graft.ops.CountMin.bigramItems]] so the batch entries and the
    * streaming twin sketch identical items. */
  private def bigramOccurrences(docs: DataFrame): DataFrame =
    graft.ops.CountMin.bigramItems(docs, col("text"))

  /** Deterministic messy URL from existing document columns (testdata
    * ships no url column — the scrub_pii derivation pattern), built to
    * exercise every [[graft.ops.UrlOps.canonicalUrl]] rule; mirrored
    * verbatim by the oracle's `raw` CTE. */
  private def messyUrl: org.apache.spark.sql.Column = concat(
    element_at(array(lit("HTTP://"), lit("https://WWW."), lit("HTTPS://"), lit("http://www.")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
    col("source"), lit(".Example.COM"),
    element_at(array(lit(":80"), lit(":443"), lit("")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
    lit("/Docs/"), col("lang"), lit("/"), col("doc_id").cast("string"),
    when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&page="), pmod(col("doc_id"), lit(7)).cast("string"),
    lit("&fbclid=xyz"),
    when(pmod(col("doc_id"), lit(5)) === 0, lit("&ref=home")).otherwise(lit("")),
    lit("#sec"), pmod(col("doc_id"), lit(3)).cast("string"))

  /** Deterministic HTML page from existing columns (the [[messyUrl]]
    * derivation pattern — testdata has no html column, so one is built
    * exercising every extraction rule): title/style/script head — the
    * script carrying markup INSIDE a string and a bare `<` in code —
    * a multi-line comment, an entity-escaped body paragraph, a
    * doc_id-gated h1 with a literal `&amp;`, and an nbsp/&#39; tail.
    * Mirrored verbatim by the oracle's `raw` CTE. */
  private def messyHtml: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.regexp_replace
    val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style type=\"text/css\">p { margin: 0; }</style>"),
      lit("<script>var t = \"<p>not text</p>\"; if (1 < 2) { t = t; }</script></head><body>"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("<h1 class=\"hd\">Heading &amp; intro</h1>")).otherwise(lit("")),
      lit("<!-- boilerplate\nnav -->"),
      lit("<p id=\"main\">"), esc, lit("</p><br/>"),
      lit("<div><span>tail&nbsp;note &#39;quoted&#39;</span></div>"),
      lit("</body></html>"))
  }

  /** Deterministic multi-line page from existing columns (the
    * [[messyUrl]] derivation pattern — testdata documents are
    * single-line with no cross-document repeats, so the boilerplate
    * every real crawl carries is planted reproducibly): a corpus-wide
    * banner (df = all docs), a per-source nav line (df = docs/source),
    * a SHORT repeated line under the length floor (must survive the
    * scrub), the real single-line body (unique), and a doc_id-gated
    * footer; `concat_ws` skips the NULL branch in BOTH engines.
    * Mirrored verbatim by the oracle's `pg` CTE. */
  private def pageText: org.apache.spark.sql.Column = concat_ws("\n",
    lit("Subscribe to our newsletter today!"),
    concat(lit("Navigation for "), col("source"), lit(": home | about | contact")),
    lit("ok"),
    col("text"),
    when(pmod(col("doc_id"), lit(3)) === 0,
      lit("(c) Example Site - all rights reserved"))
      .otherwise(lit(null).cast("string")))

  /** Deterministic messy text from existing columns (the [[messyUrl]]
    * pattern — testdata text is clean ASCII, so the dirt every real
    * crawl carries is derived reproducibly): decomposed combining
    * sequences (NFC must compose), a precomposed accent (NFC fixpoint),
    * CRLF/CR/LF line ends, NBSP, a zero-width space, a control char —
    * one branch per [[graft.text.TextNormalize.normalizeText]] rule;
    * mirrored verbatim by the oracle's `rawt` CTE (chr() codes there,
    * `toChar` here — no escape-sequence round-trip ambiguity). */
  private def messyText: org.apache.spark.sql.Column = concat(
    substring(col("text"), 1, 60),
    element_at(array(
      lit(" cafe" + 0x0301.toChar),                                  // e + COMBINING ACUTE
      lit(" A" + 0x030A.toChar + "ngstro" + 0x0308.toChar + "m"),    // decomposed ring/diaeresis
      lit(" caf" + 0x00E9.toChar),                                   // precomposed, NFC fixpoint
      lit("")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
    element_at(array(lit("\r\n"), lit("\r"), lit("\n")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
    lit("tail" + 0x00A0.toChar + "x"),
    when(pmod(col("doc_id"), lit(5)) === 0,
      lit(0x200B.toChar.toString + "zw")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(7)) === 0,
      lit(0x0007.toChar.toString)).otherwise(lit("")))

  /** Per-process trained-weight cache for the quality-classifier queries
    * (the dedupIndexDirs build-once pattern): training is deterministic
    * given (dataset, params), so every classifier entry — score, eval,
    * calibration — and every bench sweep reuses one Newton run per
    * dataset. The stash still updates on every call, so the dynamic
    * oracle always reflects exactly the weights the dumped result used. */
  private val qcWeightCache = scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]

  /** Scored corpus (doc_id, label, score, pred) under the cached
    * trainMod=4 model — the shared base of the three classifier
    * queries. */
  /** Cached trained weights for dataset `d` (the trainMod=4 Newton run,
    * once per process) — shared by the classifier queries and the v2
    * pretrain flagship's quality gate. */
  private def qcWeights(s: SparkSession, d: String): Seq[Double] =
    qcWeightCache.getOrElseUpdate(d, {
      val feats = graft.text.QualityClassifier.features(Collocations.documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val trained = graft.text.QualityClassifier.train(
        feats.filter(pmod(col("doc_id"), lit(4)) === 0))
      feats.unpersist()
      trained
    })

  private def qcScored(s: SparkSession, d: String): DataFrame = {
    val w = qcWeights(s, d)
    graft.text.QualityClassifier.lastWeights = Some(w)
    graft.text.QualityClassifier.scoreWith(
      graft.text.QualityClassifier.features(Collocations.documents(s, d)), w)
  }

  /** Per-process trained langid model cache (the qcWeightCache pattern:
    * training is deterministic given the dataset, so every langid entry
    * and bench sweep reuses one train per dataset). */
  private val langIdModelCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.text.LangIdClassifier.LangIdModel]

  private def langIdModel(s: SparkSession, d: String): graft.text.LangIdClassifier.LangIdModel =
    langIdModelCache.getOrElseUpdate(d,
      graft.text.LangIdClassifier.train(Collocations.documents(s, d)))

  /** Persisted trained-langid model — build-once lifecycle, cleaned root. */
  private def langIdModelDir(s: SparkSession, d: String): String =
    dedupIndexDirs.getOrElseUpdate(d + "#langid", {
      val dir = dedupIndexRoot.resolve(keyDirName(d + "#langid")).toString
      graft.text.LangIdClassifier.writeModel(langIdModel(s, d), dir, s)
      dir
    })

  /** The v2 flagship's gate threshold on the round-6 quality score —
    * a low tail-cut (the gate drops the worst ~10% of pages, it doesn't
    * halve the corpus before dedup sees it): post-PII page scores under
    * the trainMod=4 model span ~0.23-0.77 on the gate corpus with p10 at
    * ~0.287, and the planted dup-pair pages score 0.54/0.67 — 0.28 keeps
    * every plant live while the cut stays visibly nonzero. */
  private val pretrainGateThreshold = 0.28

  /** Stash gate params for the dynamic oracle, then hand back the pair. */
  private def pretrainGate(s: SparkSession, d: String): (Seq[Double], Double) = {
    val g = (qcWeights(s, d), pretrainGateThreshold)
    graft.pipelines.PretrainCorpus.lastGate = Some(g)
    g
  }

  /** Derived "previous" corpus snapshot for the corpus_diff queries
    * (testdata ships one version — the [[messyUrl]] derivation pattern):
    * doc_id%10=7 absent (→ added in cur), doc_id%13=0 text-mutated
    * (→ changed). Mirrored verbatim by the oracle's `prev` CTE. */
  private def diffSnapPrev(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" legacy-rev")))
          .otherwise(col("text")))

  /** Derived "current" snapshot: doc_id%11=5 dropped (→ removed). */
  private def diffSnapCur(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(11)) =!= 5)

  /** The perceptual near-duplicate family, generated per [[Modality]] in
    * [[Modality.all]] order:
    *
    *  - the direct pairs query: decode → fingerprint (partition-parallel
    *    byte parse, zero shuffle), then the guarded 4x15-bit pigeonhole
    *    band join of the simhash pairs. Image is a dHash over the
    *    resampled P6 luminance plane; audio and video are sign-of-delta
    *    bits over 61 frame energies under the fixed 37·k mod 61
    *    comparison schedule (adjacent deltas tie structurally on short
    *    payloads and collapse unrelated fingerprints, measured 105,739 vs
    *    403 audio pairs at sf0.1);
    *  - `_indexed`: build-once/serve-many, pairs served from the persisted
    *    (doc_id, fp) table alone — the serve plan never re-decodes the
    *    corpus (pinned in DedupSpec);
    *  - `_incremental`: the persisted index covers the even-doc_id half;
    *    odd-half fingerprints union on top WITHOUT re-decoding the old
    *    corpus (the fingerprint is a pure per-doc function of the payload
    *    bytes);
    *  - `_stream_gate` (after all three modalities): the batch half of
    *    [[graft.streaming.MultimodalDedupStream]] (stream-equals-batch
    *    pinned in StreamingSpec) — odd-half "arriving" docs fingerprint
    *    and band-join the even-half PRE-BANDED index, each flagged arrival
    *    reporting its lexicographic-min (hamming, match_id) index match.
    *
    * A modality's three pair queries share one full-corpus oracle, which
    * proves serve- and ingest-equals-rebuild. The direct query's name and
    * the oracle builders are the family's irregular spellings. */
  private def multimodalEntries: Seq[(String, Q, Option[String])] = {
    val family = Seq(
      (Modality.Image, "dedup_image_phash",
        OracleSqlExt.imagePhashPairsSql(3), OracleSqlExt.imagePhashGateSql(3)),
      (Modality.Audio, "dedup_audio_fingerprint",
        OracleSqlExt.audioFingerprintPairsSql(3), OracleSqlExt.audioFpGateSql(3)),
      (Modality.Video, "dedup_video_fingerprint",
        OracleSqlExt.videoFpPairsSql(3), OracleSqlExt.videoFpGateSql(3)))
    def odd(s: SparkSession, d: String): DataFrame =
      Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 1)
    val pairs = family.flatMap { case (m, direct, pairsSql, _) =>
      Seq[(String, Q, Option[String])](
        (direct, (s, d) =>
          graft.dedup.Dedup.fingerprintPairs(m, Collocations.documents(s, d), maxHamming = 3),
          Some(pairsSql)),
        (s"dedup_${m.name}_indexed", (s, d) =>
          graft.dedup.Dedup.fingerprintPairsFrom(m,
            s.read.parquet(s"${fpIndexDir(s, d, m)}/${m.table}"), maxHamming = 3),
          Some(pairsSql)),
        (s"dedup_${m.name}_incremental", (s, d) => {
          val idx = s.read.parquet(s"${fpIndexDir(s, d, m, evenHalf = true)}/${m.table}")
          graft.dedup.Dedup.fingerprintPairsFrom(m,
            idx.unionByName(m.fingerprints(odd(s, d))), maxHamming = 3)
        }, Some(pairsSql)))
    }
    val gates = family.map { case (m, _, _, gateSql) =>
      (s"dedup_${m.name}_stream_gate", ((s, d) =>
        graft.streaming.MultimodalDedupStream.gateBatchIndexed(m, odd(s, d),
          s.read.parquet(s"${fpIndexDir(s, d, m, evenHalf = true)}/${m.bandedTable}"),
          maxHamming = 3)): Q,
        Some(gateSql))
    }
    pairs ++ gates
  }

  /** (name, spark query, Some(oracle sql)) triples — kept adjacent so the
    * two implementations stay visibly in lockstep. Names are unique: the
    * registry is read through maps, where a repeated name would silently
    * drop an entry. */
  private lazy val registry: Seq[(String, Q, Option[String])] = {
    val r = registryEntries
    val dups = r.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"duplicate registry names: ${dups.toSeq.sorted.mkString(", ")}")
    r
  }

  private def registryEntries: Seq[(String, Q, Option[String])] = Seq(

    // ---------------------------------------------------------------- S1/P1
    ("scan_project",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_quantity") > 45 && col("l_shipdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_quantity > 45 AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'""".stripMargin)),

    // ------------------------------------------------------------------- S2
    ("union_sources",
      (s: SparkSession, d: String) => {
        val c = s.read.parquet(s"$d/customer.parquet")
          .select(col("c_name").as("name"), col("c_nationkey").cast("long").as("nationkey"),
            col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
        val p = s.read.parquet(s"$d/supplier.parquet")
          .select(col("s_name").as("name"), col("s_nationkey").cast("long").as("nationkey"),
            col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
        c.unionByName(p)
      },
      Some("""SELECT c_name AS name, CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal AS acctbal, 'customer' AS kind FROM customer
             |UNION ALL
             |SELECT s_name AS name, CAST(s_nationkey AS BIGINT) AS nationkey, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier""".stripMargin)),

    // ---------------------------------------------------------------- P2/P3
    ("filter_predicates",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/events.parquet")
          .withColumn("k", regexp_extract(col("props"), "([0-9]+)", 1).try_cast("long"))
          .filter(col("k").isNotNull && col("value") > 0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(k) AS BIGINT) AS sum_k
             |FROM (SELECT event_type, value, TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k FROM events)
             |WHERE k IS NOT NULL AND value > 0
             |GROUP BY event_type""".stripMargin)),

    // ---------------------------------------------------------------- P5/F1
    ("clean_token",
      (s: SparkSession, d: String) =>
        Collocations.tokenized(Collocations.documents(s, d))
          .select(col("lang"), explode(col("toks")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("cnt")),
      Some(s"""WITH ${OracleSql.toksCte}
              |SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY lang, w""".stripMargin)),

    // ---------------------------------------------------------------- P7/F2
    ("decade_bucket",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/orders.parquet")
          .withColumn("decade", Normalize.toDecade(year(col("o_orderdate"))))
          .groupBy("decade")
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price")),
      Some("""SELECT CAST(floor(year(o_orderdate) / 10) * 10 AS BIGINT) AS decade,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---------------------------------------------------------------- P6/J4
    ("stopword_anti_join",
      (s: SparkSession, d: String) =>
        Collocations.unigrams(Collocations.documents(s, d)).distinct(),
      Some(s"""WITH ${OracleSql.toksCte}
              |SELECT DISTINCT lang, w FROM toks WHERE ${OracleSql.notStop("w")}""".stripMargin)),

    // ---------------------------------------------------------------- A1/A2
    ("agg_unigrams",
      (s: SparkSession, d: String) =>
        Collocations.unigramCounts(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte}
              |SELECT lang, w, c FROM uni""".stripMargin)),

    // ------------------------------------------------------------------- A3
    ("agg_bigrams",
      (s: SparkSession, d: String) =>
        Collocations.bigramCounts(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.bgCte}
              |SELECT lang, w1, w2, c12 FROM bg""".stripMargin)),

    // ------------------------------------------------------------------- A4
    ("agg_grand_total_n",
      (s: SparkSession, d: String) =>
        Collocations.grandTotalN(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte},
              |${OracleSql.nCte}
              |SELECT lang, n FROM ntab""".stripMargin)),

    // ------------------------------------------------------------------- J1
    ("join_c1",
      (s: SparkSession, d: String) =>
        Collocations.joinedC1(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte},
              |${OracleSql.bgCte}
              |SELECT bg.lang, bg.w1, bg.w2, bg.c12, u1.c AS c1
              |FROM bg JOIN uni u1 ON bg.lang = u1.lang AND bg.w1 = u1.w""".stripMargin)),

    // ------------------------------------------------------------------- J2
    ("join_c2",
      (s: SparkSession, d: String) =>
        Collocations.joinedC2(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte},
              |${OracleSql.bgCte}
              |SELECT bg.lang, bg.w1, bg.w2, bg.c12, u1.c AS c1, u2.c AS c2
              |FROM bg
              |JOIN uni u1 ON bg.lang = u1.lang AND bg.w1 = u1.w
              |JOIN uni u2 ON bg.lang = u2.lang AND bg.w2 = u2.w""".stripMargin)),

    // ------------------------------------------------------------------- J3
    ("broadcast_join_n",
      (s: SparkSession, d: String) =>
        Collocations.withN(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte},
              |${OracleSql.nCte},
              |${OracleSql.bgCte},
              |${OracleSql.joinedCte}
              |SELECT lang, w1, w2, c12, c1, c2, n FROM joined""".stripMargin)),

    // --------------------------------------------------------------- F3/P8
    ("llr_score",
      (s: SparkSession, d: String) =>
        Collocations.scored(Collocations.documents(s, d))
          .select(col("lang"), col("w1"), col("w2"), col("c1"), col("c2"), col("c12"), col("n"), col("llr")),
      Some(s"""${OracleSql.collocationCtes}
              |SELECT lang, w1, w2, c1, c2, c12, n, round(llr_raw, 6) AS llr
              |FROM scored WHERE NOT isnan(llr_raw)""".stripMargin)),

    // PMI over the same contingency table — the classic association-measure
    // companion to the reference's LLR (see Collocations.pmiScored)
    ("pmi_score",
      (s: SparkSession, d: String) =>
        Collocations.pmiScored(Collocations.documents(s, d)),
      Some(s"""WITH ${OracleSql.toksCte},
              |${OracleSql.uniCte},
              |${OracleSql.nCte},
              |${OracleSql.bgCte},
              |${OracleSql.joinedCte}
              |SELECT lang, w1, w2, c1, c2, c12, n,
              |       round(ln((CAST(c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
              |FROM joined""".stripMargin)),

    // ------------------------------------------------------------ A5/A6/O2
    ("topk_window",
      (s: SparkSession, d: String) =>
        graft.ops.TopK.topKPerGroup(
          s.read.parquet(s"$d/part.parquet")
            .select(col("p_brand"), col("p_partkey"), col("p_name"), col("p_retailprice")),
          Seq(col("p_brand")),
          Seq(col("p_retailprice").desc, col("p_partkey").asc), 3),
      Some("""SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
             |  SELECT p_brand, p_partkey, p_name, p_retailprice,
             |         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
             |  FROM part
             |) WHERE rn <= 3""".stripMargin)),

    // ------------------------------------------------------- flagship e2e
    ("collocations_e2e",
      (s: SparkSession, d: String) =>
        Collocations.topCollocations(Collocations.documents(s, d)),
      Some(OracleSql.topCollocationsSql(Collocations.K))),

    // counter-telemetry twin of the reference's Hadoop counters /
    // `StatisticalReport .md` (Job3.java:46,50,89): one flagship run with
    // df.observe nodes riding the single top-k action, reported as a
    // one-row table of stage counts + the published reduction ratios
    // (stopword cut, map→combine cut, bounded-heap top-k cut). The oracle
    // recomputes every counter as a direct aggregate — the observe path
    // is gated against ground truth, not trusted
    ("pipeline_counters",
      (s: SparkSession, d: String) =>
        Collocations.pipelineCounters(Collocations.documents(s, d)),
      Some(OracleSql.pipelineCountersSql(Collocations.K))),

    // --------------------------- reference-format raw TSV path (S1'/S3)
    // The reference's true unit of work: pre-counted n-grams at
    // (lang, decade) grain with occurrence weights and lang-from-path
    // (Job1.java:126-186, CollocationExtraction3Jobs.java:29-32). Reads
    // the repo's reference-shaped TSV fixtures (sfDir-independent).
    ("ngram_decade_e2e",
      (s: SparkSession, _: String) => {
        val dir = OracleSqlExt.ngramFixtureDir
        graft.collocations.NGramCollocations.fromPaths(s,
          Seq(s"$dir/eng-1gram.tsv", s"$dir/heb-1gram.tsv"),
          Seq(s"$dir/eng-2gram.tsv", s"$dir/heb-2gram.tsv"))
      },
      Some(OracleSqlExt.ngramDecadeSql(graft.collocations.NGramCollocations.K))),

    // ------------------------------------------- generic agg (TPC-H Q1ish)
    ("pricing_summary",
      (s: SparkSession, d: String) => {
        val dec = (c: String) => col(c).cast("decimal(18,2)")
        s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_shipdate") <= lit("2001-09-01 00:00:00").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(dec("l_quantity")).cast("double").as("sum_qty"),
            sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
            sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast("double").as("sum_disc_price"),
            sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")) * (lit(1) + dec("l_tax"))).cast("double").as("sum_charge"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------ A7-adjacent: rollup
    ("rollup_pricing",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          // sentinel the grouping-set NULLs: mixed None/str rows can break
          // naive row-sorting in downstream comparators
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
            col("cnt"), col("sum_qty")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag, COALESCE(l_linestatus, 'ALL') AS l_linestatus,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    ("cube_pricing",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
            col("cnt"), col("sum_qty")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag, COALESCE(l_linestatus, 'ALL') AS l_linestatus,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // ----------------------------------------------- skew-safe salted agg
    // Two-phase salted aggregation (ops/Salt.scala): when one key's
    // partial results still overwhelm a reducer at 100 TB, salt the key,
    // aggregate, re-aggregate. The oracle is the PLAIN group-by — decimal
    // sums are exactly associative, so the rewrite is provably invisible.
    ("salted_agg",
      (s: SparkSession, d: String) =>
        graft.ops.Salt.saltedSum(
            s.read.parquet(s"$d/lineitem.parquet")
              .withColumn("q", col("l_quantity").cast("decimal(18,2)")),
            Seq("l_returnflag"), "q", buckets = 16,
            // salt on the compact row key, not all 17 columns
            saltOn = Seq("l_orderkey", "l_linenumber"))
          .select(col("l_returnflag"), col("sum_q").cast("double").as("sum_q")),
      Some("""SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // skewed-key join via salting: right side replicated buckets×, left
    // salted content-stably — row-identical to the plain join the oracle
    // runs, which is the point (the rewrite must be invisible)
    ("skew_join",
      (s: SparkSession, d: String) =>
        graft.ops.Salt.saltedJoin(
            s.read.parquet(s"$d/orders.parquet")
              .select(col("o_custkey").as("c_custkey"),
                col("o_totalprice").cast("decimal(18,2)").as("price")),
            s.read.parquet(s"$d/customer.parquet").select("c_custkey", "c_mktsegment"),
            "c_custkey", buckets = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sum(col("price")).cast("double").as("revenue")),
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    // ------------------------------------- deterministic stratified sample
    // Language-balanced downsampling, the training-data mixing primitive:
    // keep 10% of the dominant language, 50% of the rest, chosen by a
    // content-stable md5 bucket so reruns (and the oracle) agree row for
    // row — never rand()-based at scale.
    ("sample_stratified",
      (s: SparkSession, d: String) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100
        s.read.parquet(s"$d/documents.parquet")
          .filter(when(col("lang") === "en", bucket < 10).otherwise(bucket < 50))
          .select("doc_id", "lang")
      },
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang,
             |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS bucket
             |  FROM documents)
             |WHERE CASE WHEN lang = 'en' THEN bucket < 10 ELSE bucket < 50 END""".stripMargin)),

    // weight-proportional sampling without replacement (priority / A-ES):
    // content-hash u, priority -ln(u)/w, global k-smallest via
    // TakeOrderedAndProject — "1M docs sampled by quality weight" at 100 TB
    ("sample_weighted",
      (s: SparkSession, d: String) =>
        graft.pipelines.Sampling.weightedSample(
          s.read.parquet(s"$d/documents.parquet"), weight = col("n_chars"), k = 40),
      Some(OracleSqlExt.weightedSampleSql(40))),

    // padding-minimizing length-bucketed batching via the scale-safe
    // content-bucketed global rank (no single-partition window over data)
    ("batch_by_length",
      (s: SparkSession, d: String) =>
        graft.pipelines.Sampling.batchByLength(Collocations.documents(s, d), batchSize = 32),
      Some(OracleSqlExt.batchByLengthSql(32))),

    // deterministic epoch-0 training order: content-keyed pseudo-random
    // permutation via the scale-safe content-bucketed global rank (never
    // a single-partition window, never rand())
    ("corpus_shuffle",
      (s: SparkSession, d: String) =>
        graft.pipelines.CleanCorpus.corpusShuffle(
          s.read.parquet(s"$d/documents.parquet")),
      Some("""SELECT doc_id, CAST(row_number() OVER (ORDER BY x, y, doc_id) AS BIGINT) AS pos
             |FROM (SELECT doc_id,
             |             CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS x,
             |             CAST('0x' || substr(md5(text), 8, 7) AS BIGINT) AS y
             |      FROM documents)""".stripMargin)),

    // --------------------------------------- arbitrary GROUPING SETS
    ("grouping_sets",
      (s: SparkSession, d: String) => {
        s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("orders")
        s.sql("""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
                |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
                |       CAST(count(*) AS BIGINT) AS cnt,
                |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
                |FROM orders
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // --------------------------------------------------------- unpivot
    ("unpivot_metrics",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("price"),
            sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("discount"))
          .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price"), col("discount")),
            "metric", "value"),
      Some("""WITH agg AS (
             |  SELECT l_returnflag,
             |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
             |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
             |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount
             |  FROM lineitem GROUP BY l_returnflag
             |)
             |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
             |UNION ALL SELECT l_returnflag, 'price', price FROM agg
             |UNION ALL SELECT l_returnflag, 'discount', discount FROM agg""".stripMargin)),

    // -------------------------------------------------- distinct aggregate
    ("distinct_parts",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps")),
      Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // HLL-sketch twin of the exact distinct count: count-distinct at
    // 100 TB is a full shuffle of the distinct keys; the sketch is a
    // fixed-size mergeable partial. The HLL estimate itself is
    // engine-specific (DuckDB's sketch produces different numbers), so
    // the GATE is an error-bound check computed engine-side: the row
    // carries the exact counts (cross-engine-mirrorable) plus booleans
    // asserting |estimate − exact| ≤ 4·rsd·exact — 4σ of the configured
    // rsd=0.01, deterministic on fixed data. The oracle emits the same
    // exact counts and literal TRUEs, so a sketch regression past the
    // bound flips a boolean and fails the driver's hash compare.
    ("approx_distinct",
      (s: SparkSession, d: String) => {
        val rsd = 0.01
        val li = s.read.parquet(s"$d/lineitem.parquet")
        // exact side: the usual two-level countDistinct rewrite (expand +
        // per-(flag,value) partial). The HLL sketches aggregate in a
        // SEPARATE pass: fused into the same agg,
        // RewriteDistinctAggregates threads the ~21 KB rsd=0.01 HLL
        // partial buffers through every expanded per-(flag,value)
        // first-level group (hundreds of thousands of wide buffers →
        // spill), where this split pays for exactly #groups sketches and
        // a 3-row broadcast join (measured r18: 6.1 s fused → sub-second
        // split, identical output)
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts_exact"),
            countDistinct(col("l_suppkey")).as("n_supps_exact"))
        val approx = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), rsd).as("_ap"),
            approx_count_distinct(col("l_suppkey"), rsd).as("_as"))
        exact.join(broadcast(approx), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_parts_exact"), col("n_supps_exact"),
            (abs(col("_ap") - col("n_parts_exact"))
              <= lit(4 * rsd) * col("n_parts_exact")).as("parts_within_rsd"),
            (abs(col("_as") - col("n_supps_exact"))
              <= lit(4 * rsd) * col("n_supps_exact")).as("supps_within_rsd"))
      },
      Some("""SELECT l_returnflag,
             |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
             |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps_exact,
             |       TRUE AS parts_within_rsd, TRUE AS supps_within_rsd
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ----------------------------------------------- global ORDER BY LIMIT
    ("sort_limit",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ------------------------------------------- multiway join (dims bcast)
    ("join_multiway",
      (s: SparkSession, d: String) => {
        val cust = s.read.parquet(s"$d/customer.parquet")
        val ord  = s.read.parquet(s"$d/orders.parquet")
        val nat  = s.read.parquet(s"$d/nation.parquet")
        ord.join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      },
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |            JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // ------------------------------------------------- semi + anti joins
    ("semi_anti_join",
      (s: SparkSession, d: String) => {
        val cust = s.read.parquet(s"$d/customer.parquet")
        val ord  = s.read.parquet(s"$d/orders.parquet").select("o_custkey")
        val semi = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
        val anti = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
        semi.join(anti, Seq("c_mktsegment"), "full_outer")
          .select(col("c_mktsegment"),
            coalesce(col("with_orders"), lit(0L)).as("with_orders"),
            coalesce(col("without_orders"), lit(0L)).as("without_orders"))
      },
      Some("""SELECT c_mktsegment,
             |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
             |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS without_orders
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    // ------------------------------------- full outer join, orphan rows on
    // BOTH sides (event users without a customer row and vice versa)
    ("outer_join_users",
      (s: SparkSession, d: String) => {
        val e = s.read.parquet(s"$d/events.parquet")
          .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        val c = s.read.parquet(s"$d/customer.parquet")
          .select(col("c_custkey").as("cust_id"), col("c_mktsegment"))
        e.join(c, col("user_id") === col("cust_id"), "full_outer")
          .select(coalesce(col("user_id"), col("cust_id")).as("user_id"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
      },
      Some("""WITH e AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY user_id)
             |SELECT COALESCE(e.user_id, c.c_custkey) AS user_id,
             |       COALESCE(e.n_events, 0) AS n_events,
             |       COALESCE(c.c_mktsegment, 'NONE') AS segment
             |FROM e FULL JOIN customer c ON e.user_id = c.c_custkey""".stripMargin)),

    // ------------------------------ set operations with BAG semantics
    // EXCEPT ALL / INTERSECT ALL preserve multiplicity (orders contribute
    // one custkey per order; customers one each): except_all multiplicity
    // = n_orders - 1, intersect_all = 1 — the multiset algebra both
    // engines define identically
    ("set_ops_all",
      (s: SparkSession, d: String) => {
        val a = s.read.parquet(s"$d/orders.parquet").select(col("o_custkey").as("custkey"))
        val b = s.read.parquet(s"$d/customer.parquet").select(col("c_custkey").as("custkey"))
        a.exceptAll(b).groupBy("custkey").agg(count(lit(1)).as("n"))
          .withColumn("which", lit("except_all"))
          .unionByName(a.intersectAll(b).groupBy("custkey").agg(count(lit(1)).as("n"))
            .withColumn("which", lit("intersect_all")))
      },
      Some("""WITH a AS (SELECT o_custkey AS custkey FROM orders),
             |     b AS (SELECT c_custkey AS custkey FROM customer),
             |     ex AS (SELECT custkey FROM a EXCEPT ALL SELECT custkey FROM b),
             |     ia AS (SELECT custkey FROM a INTERSECT ALL SELECT custkey FROM b)
             |SELECT custkey, CAST(count(*) AS BIGINT) AS n, 'except_all' AS which FROM ex GROUP BY custkey
             |UNION ALL
             |SELECT custkey, CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS which FROM ia GROUP BY custkey""".stripMargin)),

    // ----------------------------------------- set operations (2.7 beyond)
    ("set_ops",
      (s: SparkSession, d: String) => {
        val rich   = s.read.parquet(s"$d/customer.parquet")
          .filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
        val buyers = s.read.parquet(s"$d/orders.parquet")
          .select(col("o_custkey").as("custkey")).distinct()
        rich.intersect(buyers).withColumn("which", lit("both"))
          .unionByName(rich.except(buyers).withColumn("which", lit("rich_only")))
      },
      Some("""SELECT custkey, 'both' AS which FROM (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |  INTERSECT
             |  SELECT DISTINCT o_custkey AS custkey FROM orders)
             |UNION ALL
             |SELECT custkey, 'rich_only' AS which FROM (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |  EXCEPT
             |  SELECT DISTINCT o_custkey AS custkey FROM orders)""".stripMargin)),

    // ------------------------------------------------------ pivot / unpivot
    ("pivot_status",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/orders.parquet")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .na.fill(0L)
          // identifier-safe output names (pivot labels carry spaces/dashes)
          .toDF("o_orderstatus", "p_urgent", "p_high", "p_medium", "p_notspec", "p_low"),
      Some("""SELECT o_orderstatus,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
             |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
             |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
             |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
             |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ------------------------------------ analytic window functions (2.5+)
    ("window_analytics",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast("long").as("order_rank"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_spend"),
            coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1L)).as("prev_order"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(row_number() OVER w AS BIGINT) AS order_rank,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
             |  COALESCE(lag(o_orderkey) OVER w, -1) AS prev_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin)),

    // -------------------------------------- ranking window functions
    // dense_rank / percent_rank / cume_dist / first_value over a total
    // order per CUSTOMER — a high-cardinality partition key on purpose:
    // rank windows get no WindowGroupLimit cut, so a low-cardinality
    // partition (e.g. the 5 priority classes) would serialize the table
    // into 5 tasks at scale. (rank-1)/(n-1) and cumulative fractions are
    // the same integer-derived doubles on both engines.
    ("window_ranks",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"),
            dense_rank().over(w).cast("long").as("drank"),
            round(percent_rank().over(w), 6).as("prank"),
            round(cume_dist().over(w), 6).as("cdist"),
            first_value(col("o_orderkey")).over(w).as("top_key"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
             |  round(percent_rank() OVER w, 6) AS prank,
             |  round(cume_dist() OVER w, 6) AS cdist,
             |  first_value(o_orderkey) OVER w AS top_key
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin)),

    // -------------------------------------- calendar-part aggregation
    ("date_parts",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/orders.parquet")
          .groupBy(year(col("o_orderdate")).cast("long").as("y"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            month(col("o_orderdate")).cast("long").as("m"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue")),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
             |       CAST(month(o_orderdate) AS BIGINT) AS m,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1, 2, 3""".stripMargin)),

    // ------------------------------- RANGE-frame window (value-based frame)
    // 30-day trailing spend per customer: the frame is defined by the
    // ORDER-BY VALUE distance (all orders within 30 days), not a row
    // count — the other half of the SQL window-frame surface next to
    // window_analytics' ROWS frames
    ("window_range_frame",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val day = datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
        val w = Window.partitionBy("o_custkey").orderBy(col("d")).rangeBetween(-30, 0)
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_custkey"), col("o_orderkey"), day.as("d"),
            col("o_totalprice").cast("decimal(18,2)").as("price"))
          .select(col("o_custkey"), col("o_orderkey"), col("d"),
            sum(col("price")).over(w).cast("double").as("spend_30d"))
      },
      Some("""SELECT o_custkey, o_orderkey, d,
             |  CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY d RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
             |FROM (SELECT o_custkey, o_orderkey,
             |             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |      FROM orders)""".stripMargin)),

    // ------------------------------------------- NTILE quantile bucketing
    // NOT the naive global window (single-partition at scale): ntile is
    // derived from a content-bucketed global rank — see ops/Ranks.scala.
    ("ntile_customers",
      (s: SparkSession, d: String) =>
        graft.ops.Ranks.ntileByRange(
            s.read.parquet(s"$d/customer.parquet")
              .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
            10, Seq(col("c_acctbal") -> false, col("c_custkey") -> true), "decile")
          .select(col("c_custkey"), col("c_mktsegment"), col("decile")),
      Some("""SELECT c_custkey, c_mktsegment,
             |       CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS decile
             |FROM customer""".stripMargin)),

    // ---------------------------------------- statistical aggregates
    // mean/variance/stddev/correlation computed from DECIMAL power sums,
    // not the built-in float accumulators: Welford-style streaming
    // accumulation is partition-order-dependent and differs between
    // engines, while power sums of DECIMAL(18,2)-cast inputs are exactly
    // associative — the same one-shuffle partial+final plan, bit-stable
    // anywhere. (Catastrophic cancellation is not a concern at these
    // magnitudes; for extreme ones you'd shift by a pivot first.)
    ("stats_agg",
      (s: SparkSession, d: String) => {
        val x = col("l_quantity").cast("decimal(18,2)")
        val y = col("l_extendedprice").cast("decimal(18,2)")
        s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            round(col("sx").cast("double") / col("n"), 6).as("mean_qty"),
            round(sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n")) / (col("n") - 1)), 6).as("stddev_qty"),
            round((col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / col("n")) /
              (sqrt(col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n")) *
               sqrt(col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double") / col("n"))), 6).as("corr_qty_price"))
      },
      Some("""WITH s AS (
             |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
             |  FROM lineitem GROUP BY l_returnflag
             |)
             |SELECT l_returnflag, n,
             |       round(CAST(sx AS DOUBLE) / n, 6) AS mean_qty,
             |       round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS stddev_qty,
             |       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
             |             (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) *
             |              sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)), 6) AS corr_qty_price
             |FROM s""".stripMargin)),

    // per-column ANALYZE profile: one narrow single-distinct aggregate
    // per column attached by broadcast cross join (no Expand — the wide
    // multi-distinct form replicated every row #cols+1 times, measured
    // 3x slower); min/max aggregate natively then cast, so integer and
    // varchar renderings agree across engines
    // the one-row "ANALYZE corpus" report: size, source/lang
    // cardinalities, exact-dup mass, quality quartiles — three scans,
    // each the cheapest plan for its signals (single-distinct rewrite,
    // metadata-sized Expand, tokenizing percentile pass)
    ("corpus_report",
      (s: SparkSession, d: String) =>
        graft.pipelines.CorpusReport.report(Collocations.documents(s, d)),
      Some(OracleSqlExt.corpusReportSql)),

    // snapshot delta between two corpus versions — the incremental-ingest
    // primitive. Testdata ships one version, so "prev" is derived
    // deterministically (the urlCtes situation): %10=7 absent from prev
    // (added), %11=5 absent from cur (removed), %13=0 mutated (changed).
    ("corpus_diff",
      (s: SparkSession, d: String) => {
        val docs = Collocations.documents(s, d)
        graft.pipelines.CorpusDiff.diff(diffSnapPrev(docs), diffSnapCur(docs))
      },
      Some(OracleSqlExt.corpusDiffSql)),

    ("corpus_diff_stats",
      (s: SparkSession, d: String) => {
        val docs = Collocations.documents(s, d)
        graft.pipelines.CorpusDiff.diffStats(diffSnapPrev(docs), diffSnapCur(docs))
      },
      Some(OracleSqlExt.corpusDiffStatsSql)),

    ("table_profile",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.profile(
          s.read.parquet(s"$d/lineitem.parquet"),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")),
      Some("""WITH w AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
             |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd1,
             |         CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
             |         CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
             |         CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd2,
             |         CAST(min(l_linenumber) AS VARCHAR) AS mn2, CAST(max(l_linenumber) AS VARCHAR) AS mx2,
             |         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
             |         CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd3,
             |         min(l_returnflag) AS mn3, max(l_returnflag) AS mx3,
             |         CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
             |         CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd4,
             |         min(l_linestatus) AS mn4, max(l_linestatus) AS mx4
             |  FROM lineitem
             |)
             |SELECT 'l_orderkey' AS "column", n, nn1 AS n_null, nd1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM w
             |UNION ALL SELECT 'l_linenumber', n, nn2, nd2, mn2, mx2 FROM w
             |UNION ALL SELECT 'l_returnflag', n, nn3, nd3, mn3, mx3 FROM w
             |UNION ALL SELECT 'l_linestatus', n, nn4, nd4, mn4, mx4 FROM w""".stripMargin)),

    // sketch twin of table_profile: each row adds an HLL-estimate
    // error-bound boolean (|approx − exact| ≤ 4·rsd·exact, rsd=0.01 —
    // the approx_distinct gate shape). At 100 TB the sketch replaces the
    // exact count entirely (fixed-size mergeable partial, no shuffle of
    // distinct keys); here exact rides along to prove the sketch in-bound
    ("table_profile_approx",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.profileApprox(
          s.read.parquet(s"$d/lineitem.parquet"),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")),
      Some("""WITH w AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
             |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd1,
             |         CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
             |         CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
             |         CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd2,
             |         CAST(min(l_linenumber) AS VARCHAR) AS mn2, CAST(max(l_linenumber) AS VARCHAR) AS mx2,
             |         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
             |         CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd3,
             |         min(l_returnflag) AS mn3, max(l_returnflag) AS mx3,
             |         CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
             |         CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd4,
             |         min(l_linestatus) AS mn4, max(l_linestatus) AS mx4
             |  FROM lineitem
             |)
             |SELECT 'l_orderkey' AS "column", n, nn1 AS n_null, nd1 AS n_distinct, TRUE AS nd_within_rsd, mn1 AS min_val, mx1 AS max_val FROM w
             |UNION ALL SELECT 'l_linenumber', n, nn2, nd2, TRUE, mn2, mx2 FROM w
             |UNION ALL SELECT 'l_returnflag', n, nn3, nd3, TRUE, mn3, mx3 FROM w
             |UNION ALL SELECT 'l_linestatus', n, nn4, nd4, TRUE, mn4, mx4 FROM w""".stripMargin)),

    // vocabulary-coverage curve: top-k tokens + cumulative corpus share
    // — global top-k via TakeOrderedAndProject, then rank/coverage over
    // the bounded k-row result
    ("vocab_coverage",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.vocabCoverage(Collocations.documents(s, d), k = 50),
      Some(OracleSqlExt.vocabCoverageSql(50))),

    // Zipf's-law fit over the vocabulary head: OLS of ln(count) on
    // ln(rank) with order-independent decimal term sums — slope ≈ -1 and
    // high r2 on natural corpora; the one-row corpus-health diagnostic
    ("vocab_zipf",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.vocabZipf(Collocations.documents(s, d), k = 200),
      Some(OracleSqlExt.vocabZipfSql(200))),

    // tokenizer-coverage report: per-doc fraction of token occurrences
    // outside the corpus's own top-v vocabulary — the "is v entries
    // enough" pass before committing to a tokenizer size. Vocab is a
    // bounded broadcast artifact; membership never shuffles the corpus
    ("vocab_oov_rate",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.oovRate(Collocations.documents(s, d), v = 20),
      Some(OracleSqlExt.oovRateSql(20))),

    // first-iteration BPE merge statistics: corpus-weighted adjacent
    // char-pair counts computed over the word-FREQUENCY table (the
    // Sennrich form — the pair explode runs over the vocabulary, never
    // the corpus), deterministic top-k
    ("bpe_pair_counts",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.bpePairCounts(Collocations.documents(s, d), k = 20),
      Some(OracleSqlExt.bpePairCountsSql(20))),

    // tokenizer APPLY: greedy BPE encode against a trained merge table —
    // real subword counts per doc (what packing/batching should consume
    // instead of whitespace counts). Sennrich vocabulary trick end to
    // end: driver-side bounded training, compiled greedy encode over
    // DISTINCT words only, occurrence-join back per doc. DYNAMIC oracle
    // like ann_ivf_topk: the run stashes the merge table and oracleSql
    // injects it into a recursive-CTE greedy apply.
    ("tokenize_bpe",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.tokenizeBpe(Collocations.documents(s, d), numMerges = 30),
      None),

    // serve-only tokenizer twin: the merge table reads back from the
    // persisted model (build-once per process, the dedup_jaccard_indexed
    // lifecycle) and the SAME dynamic oracle gates serve-equals-rebuild
    ("tokenize_bpe_indexed",
      (s: SparkSession, d: String) => {
        val merges = graft.text.TextAnalysis.readBpeModel(s, bpeModelDir(s, d))
        graft.text.TextAnalysis.lastBpeMergesIndexed = Some(merges)
        graft.text.TextAnalysis.tokenizeBpeWith(Collocations.documents(s, d), merges)
      },
      None),

    // the consumer the tokenizer exists for: greedy sequence packing by
    // REAL subword lengths instead of char counts — same global-cumsum
    // packing machinery (content-bucketed, no single-partition window),
    // fed by the per-doc BPE totals. DYNAMIC oracle: recursive-CTE BPE
    // apply + the packSql cumulative-bin construction.
    ("pack_sequences_bpe",
      (s: SparkSession, d: String) => {
        val lens = graft.text.TextAnalysis
          .tokenizeBpe(Collocations.documents(s, d), numMerges = 30)
          .select(col("doc_id"), col("n_bpe_tokens").as("n_chars"))
        graft.pipelines.Packing.packSequences(lens, windowSize = 256)
          .withColumnRenamed("n_chars", "n_bpe_tokens")
      },
      None),

    // unigram-LM tokenizer APPLY (Kudo 2018): Viterbi piece counts
    // against a hard-EM-trained piece model — the second of the two
    // standard subword tokenizers (BPE above). Same scale shape: bounded
    // driver-side training, compiled integer-DP encode over DISTINCT
    // words, occurrence-join back per doc. DYNAMIC oracle: the run
    // stashes the (piece, packedVal) model and oracleSql injects it into
    // a recursive-CTE position DP — both engines sum the same
    // driver-quantized integers, so no float drift can split them.
    ("tokenize_unigram",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.tokenizeUnigram(Collocations.documents(s, d)),
      None),

    // serve-only twin: the piece model reads back from the persisted
    // parquet (build-once per process) into its OWN stash
    ("tokenize_unigram_indexed",
      (s: SparkSession, d: String) => {
        val model = graft.text.TextAnalysis.readUnigramModel(s, unigramModelDir(s, d))
        graft.text.TextAnalysis.lastUnigramModelIndexed = Some(model)
        graft.text.TextAnalysis.tokenizeUnigramWith(Collocations.documents(s, d), model)
      },
      None),

    // the table a tokenizer choice is MADE from: both persisted
    // tokenizers applied side by side — one corpus row of exact integer
    // word/char/subword/piece totals plus fertility (tokens per word)
    // and compression (chars per token) for each. Costs one extra
    // column on the distinct-word work the serve paths already do.
    // DYNAMIC oracle from DEDICATED stashes for BOTH models
    ("tokenizer_eval",
      (s: SparkSession, d: String) => {
        val merges = graft.text.TextAnalysis.readBpeModel(s, bpeModelDir(s, d))
        val pieces = graft.text.TextAnalysis.readUnigramModel(s, unigramModelDir(s, d))
        graft.text.TextAnalysis.lastEvalBpeMerges = Some(merges)
        graft.text.TextAnalysis.lastEvalUnigramModel = Some(pieces)
        graft.text.TextAnalysis.tokenizerEval(
          Collocations.documents(s, d), merges, pieces)
      },
      None),

    // ------------------------------------------------- count-min sketch
    // Fixed-size (depth x width) frequency sketch over bigram
    // occurrences — the frequency pass for item spaces too wide to
    // groupBy exactly at 100 TB. The sketch build is the whole plan: one
    // partial+final aggregation over <= 4*256 cells regardless of corpus
    // size (map-side combine collapses per task before the tiny shuffle).
    ("cms_sketch_bigrams",
      (s: SparkSession, d: String) =>
        graft.ops.CountMin.sketch(
          bigramOccurrences(Collocations.documents(s, d)), col("item"),
          depth = 4, width = 256),
      Some(OracleSqlExt.cmsSketchSql(4, 256))),

    // mergeability, driver-gated: TWO sketches built over disjoint
    // corpus splits (doc_id parity), summed cell-wise — against the SAME
    // flat single-pass oracle as cms_sketch_bigrams. A hash match here
    // proves split-build-then-merge is cell-identical to the direct
    // build, i.e. the incremental "sketch each new drop, add to the
    // stored grid" shape is exact
    ("cms_sketch_merged",
      (s: SparkSession, d: String) => {
        val docs = Collocations.documents(s, d)
        graft.ops.CountMin.merge(
          graft.ops.CountMin.sketch(
            bigramOccurrences(docs.filter(col("doc_id") % 2 === 0)), col("item"), 4, 256),
          graft.ops.CountMin.sketch(
            bigramOccurrences(docs.filter(col("doc_id") % 2 =!= 0)), col("item"), 4, 256))
      },
      Some(OracleSqlExt.cmsSketchSql(4, 256))),

    // point estimates vs ground truth for the frequent bigrams: est =
    // min over the 4 hash rows (broadcast of the bounded sketch — the
    // query side never shuffles). The exact side exists to VERIFY the
    // estimates; a production pass at 100 TB keeps only the sketch.
    // width 256 < 916 distinct bigrams, so collisions are real and some
    // overcounts are positive — CountMinSpec pins overcount >= 0 always
    // incremental profiling from mergeable partials: per-source doc/char
    // counters + DataSketches HLL shingle sketches built over TWO
    // disjoint corpus splits and combined by re-aggregation (sums add,
    // sketches hll_union_agg). The counters are exactly mergeable
    // (hash-compared against the oracle's whole-corpus values); the
    // merged sketch's estimate is gated against the EXACT distinct count
    // via the 4·rsd bound boolean. Estimate equality with a direct build
    // is deliberately not asserted — see incrementalShingleProfile's
    // HIP-vs-composite-estimator note. The exact count exists here only
    // to verify; a 100 TB pass stores just the bounded partials
    ("profile_incremental",
      (s: SparkSession, d: String) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        val inc = graft.ops.TableProfile.incrementalShingleProfile(Seq(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0)))
        val exact = docs
          .select(col("source"), graft.ops.Normalize.tokensCol(col("text")).as("toks"))
          .select(col("source"), explode(graft.dedup.Dedup.shingleCol(col("toks"), 3)).as("shingle"))
          .groupBy("source").agg(countDistinct(col("shingle")).as("exact_shingles"))
        inc.join(exact, Seq("source"))
          .select(col("source"), col("n_docs"), col("total_chars"), col("exact_shingles"),
            (abs(hll_sketch_estimate(col("hll")) - col("exact_shingles"))
              <= lit(0.065) * col("exact_shingles")).as("within_rsd"))
      },
      Some(OracleSqlExt.profileIncrementalSql)),

    // sketch-based cross-source overlap: exact pair cardinalities +
    // HLL inclusion-exclusion estimates validated against their bounds
    // engine-side (the approx_distinct gate pattern)
    ("profile_source_overlap",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.sourceOverlap(Collocations.documents(s, d)),
      Some(OracleSqlExt.sourceOverlapSql)),

    // shuffle-key skew pre-flight: hottest key values with share and
    // hot_ratio (count over the uniform per-key average) — the
    // measurement that decides salting/AQE before a big join. One count
    // aggregation (the same shuffle the join would pay), bounded top-k,
    // windows only over the k-row result
    ("key_skew_profile",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.keySkewProfile(
          s.read.parquet(s"$d/lineitem.parquet"), "l_suppkey", topK = 10),
      Some(OracleSqlExt.keySkewSql("l_suppkey", 10))),

    // per-source distribution drift vs the whole corpus as reference
    // (PSI over fixed-width doc-length bins) — the "did this delivery's
    // length distribution move" monitor. Bounded aggregations off one
    // scan; the grid never exceeds |sources| x |bins| rows
    ("drift_psi",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.driftPsi(
          s.read.parquet(s"$d/documents.parquet"), "n_chars", "source",
          lo = 0.0, width = 50.0),
      Some(OracleSqlExt.driftPsiSql("n_chars", 0.0, 50.0, 1e-4))),

    // KS drift companion: max cumulative-CDF gap per source vs the
    // pooled reference — catches concentrated shifts PSI dilutes and
    // vice versa; exact integer cumulatives, one division per CDF value
    ("drift_ks",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.driftKs(
          s.read.parquet(s"$d/documents.parquet"), "n_chars", "source",
          lo = 0.0, width = 50.0),
      Some(OracleSqlExt.driftKsSql("n_chars", 0.0, 50.0))),

    // the scale-free PSI twin: bin edges are the pooled corpus's own
    // deciles (exact=true is the oracle-parity opt-in; the library
    // default computes edges with the approx_percentile sketch — the
    // 100 TB form, same trade as profile_mad_outliers)
    ("drift_psi_quantile",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.driftPsiQuantile(
          s.read.parquet(s"$d/documents.parquet"), "n_chars", "source",
          nBins = 10, exact = true),
      Some(OracleSqlExt.driftPsiQuantileSql("n_chars", 10, 1e-4))),

    ("cms_heavy_hitters",
      (s: SparkSession, d: String) => {
        val bg = bigramOccurrences(Collocations.documents(s, d))
        val cms = graft.ops.CountMin.sketch(bg, col("item"), depth = 4, width = 256)
        val exact = bg.groupBy("item").agg(count(lit(1L)).as("exact_n"))
          .filter(col("exact_n") >= 40)
        graft.ops.CountMin.estimate(cms, exact, col("item"), depth = 4, width = 256)
          .join(exact, Seq("item"))
          .select(col("item"), col("exact_n"), col("est").as("est_n"),
            (col("est") - col("exact_n")).as("overcount"))
      },
      Some(OracleSqlExt.cmsHeavyHittersSql(4, 256, 40))),

    // distribution companion to table_profile: fixed-width bins over a
    // numeric column, one bounded-cardinality aggregation. The bin
    // arithmetic is identical IEEE double ops on both engines
    ("histogram_prices",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.histogram(
          s.read.parquet(s"$d/lineitem.parquet"), "l_extendedprice", lo = 0.0, width = 10000.0),
      Some("""SELECT CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 10000.0) AS BIGINT) AS bin,
             |       CAST(0.0 AS DOUBLE) + CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 10000.0) AS BIGINT) * CAST(10000.0 AS DOUBLE) AS bin_lo,
             |       CAST(count(*) AS BIGINT) AS n,
             |       min(CAST(l_extendedprice AS DOUBLE)) AS lo_val,
             |       max(CAST(l_extendedprice AS DOUBLE)) AS hi_val
             |FROM lineitem WHERE l_extendedprice IS NOT NULL
             |GROUP BY 1""".stripMargin)),

    // robust (median/MAD) outlier flags on doc length — the heavy-tail-
    // safe z-score; the synthetic table is short-tailed, so the registry
    // uses z=1.2 to exercise a non-empty flag set (default stays 3.0).
    // exact=true is the oracle-parity opt-in; the LIBRARY default is the
    // approx_percentile sketch (the 100 TB form), proven in-envelope by
    // the _approx twin below
    ("profile_mad_outliers",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.madOutliers(
          s.read.parquet(s"$d/documents.parquet"), "n_chars", z = 1.2, exact = true),
      Some("""WITH b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents WHERE n_chars IS NOT NULL),
             |m AS (SELECT round(median(x), 6) AS med FROM b),
             |d AS (SELECT doc_id, x, abs(x - med) AS dev FROM b, m),
             |md AS (SELECT round(median(dev), 6) AS mad FROM d)
             |SELECT doc_id, x, round(dev, 6) AS dev,
             |       CASE WHEN mad > 0 THEN round(dev / (CAST(1.4826 AS DOUBLE) * mad), 6) END AS z_score
             |FROM d, md
             |WHERE round(dev, 6) > round(CAST(1.2 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad, 6)""".stripMargin)),

    // sketch twin of profile_mad_outliers: the same exact-boundary rows
    // plus med_ok/mad_ok booleans asserting each approx_percentile
    // estimate sits inside the exact [0.49, 0.51] quantile envelope —
    // the percentiles_approx gate shape
    ("profile_mad_outliers_approx",
      (s: SparkSession, d: String) =>
        graft.ops.TableProfile.madOutliersChecked(
          s.read.parquet(s"$d/documents.parquet"), "n_chars", z = 1.2),
      Some("""WITH b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents WHERE n_chars IS NOT NULL),
             |m AS (SELECT round(median(x), 6) AS med FROM b),
             |d AS (SELECT doc_id, x, abs(x - med) AS dev FROM b, m),
             |md AS (SELECT round(median(dev), 6) AS mad FROM d)
             |SELECT doc_id, x, round(dev, 6) AS dev,
             |       CASE WHEN mad > 0 THEN round(dev / (CAST(1.4826 AS DOUBLE) * mad), 6) END AS z_score,
             |       TRUE AS med_ok, TRUE AS mad_ok
             |FROM d, md
             |WHERE round(dev, 6) > round(CAST(1.2 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad, 6)""".stripMargin)),

    // warehouse MERGE as one full-outer join: changeset = +100.00 on a
    // 20% md5 bucket of customers plus synthetic inserts from a 5%
    // bucket; action column attributes update/insert/keep per row. The
    // +100.0 is exact in doubles — no rounding-mode parity surface
    ("merge_upsert",
      (s: SparkSession, d: String) => {
        val bucket = conv(substring(md5(col("c_custkey").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100
        val base = s.read.parquet(s"$d/customer.parquet")
          .select(col("c_custkey"), col("c_acctbal"))
        val changes = base.filter(bucket < 20)
          .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
          .unionByName(base.filter(bucket >= 95)
            .select((col("c_custkey") + 10000000L).as("c_custkey"), lit(0.0).as("c_acctbal")))
        graft.ops.Merge.upsert(base, changes, Seq("c_custkey"))
      },
      Some("""WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
             |bkt AS (SELECT c_custkey,
             |               CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS b
             |        FROM base),
             |changes AS (
             |  SELECT base.c_custkey, c_acctbal + 100.0 AS c_acctbal
             |  FROM base JOIN bkt ON base.c_custkey = bkt.c_custkey WHERE b < 20
             |  UNION ALL
             |  SELECT base.c_custkey + 10000000, 0.0
             |  FROM base JOIN bkt ON base.c_custkey = bkt.c_custkey WHERE b >= 95
             |)
             |SELECT COALESCE(base.c_custkey, changes.c_custkey) AS c_custkey,
             |       CASE WHEN changes.c_custkey IS NOT NULL THEN changes.c_acctbal ELSE base.c_acctbal END AS c_acctbal,
             |       CASE WHEN changes.c_custkey IS NOT NULL AND base.c_custkey IS NOT NULL THEN 'update'
             |            WHEN changes.c_custkey IS NOT NULL THEN 'insert'
             |            ELSE 'keep' END AS action
             |FROM base FULL OUTER JOIN changes ON base.c_custkey = changes.c_custkey""".stripMargin)),

    // ---------------------------------------------- argmax/argmin per group
    // max_by/min_by on ONE scalar ordering key: acctbal has exactly 2
    // decimals, so round(acctbal*100) is an exact integer (|.| < 1e6) and
    // *1e12 leaves the low 12 digits for the custkey tiebreaker — a total
    // order both engines agree on (DuckDB's arg_max takes no composite
    // keys), valid to 1e12 customers (~TPC-H SF 6.6M) with the key still
    // inside a BIGINT. The explicit round matters: acctbal is a DOUBLE,
    // so *100 lands at 12344.999…; a bare long cast TRUNCATES in Spark
    // but ROUNDS in DuckDB, and exact .5 can't arise from 2-decimal
    // money, so rounding first makes the encode identical on both engines
    ("argmax_customer",
      (s: SparkSession, d: String) => {
        val key = round(col("c_acctbal") * 100).cast("long") * lit(1000000000000L) + col("c_custkey")
        s.read.parquet(s"$d/customer.parquet")
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(max_by(col("c_name"), key).as("top_customer"),
            min_by(col("c_name"), key).as("bottom_customer"),
            max(col("c_acctbal")).cast("double").as("max_bal"))
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             |  arg_max(c_name, CAST(round(c_acctbal*100) AS BIGINT)*1000000000000 + c_custkey) AS top_customer,
             |  arg_min(c_name, CAST(round(c_acctbal*100) AS BIGINT)*1000000000000 + c_custkey) AS bottom_customer,
             |  CAST(max(c_acctbal) AS DOUBLE) AS max_bal
             |FROM customer GROUP BY c_nationkey""".stripMargin)),

    // --------------------------------------------------- JSON path extract
    ("json_extract",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/events.parquet")
          .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
          .groupBy("event_type")
          .agg(count(col("k")).as("n_k"), min("k").as("min_k"), max("k").as("max_k"), sum("k").as("sum_k")),
      Some("""SELECT event_type, CAST(count(k) AS BIGINT) AS n_k, min(k) AS min_k, max(k) AS max_k,
             |       CAST(sum(k) AS BIGINT) AS sum_k
             |FROM (SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
             |GROUP BY event_type""".stripMargin)),

    // -------------------------------------------------- exact percentiles
    ("percentiles",
      (s: SparkSession, d: String) =>
        s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
            round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25_price"),
            round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
             |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // sketch twin of the exact form above: at 100 TB exact percentile is a
    // sort-heavy global op; approx_percentile is a mergeable sketch
    // (partial+final, one shuffle of sketch bytes). The sketch VALUE is
    // engine-specific, so — like approx_distinct — the gate is an
    // error-bound check: the row carries the exact percentiles
    // (cross-engine-mirrorable, same algebra as `percentiles` above) plus
    // booleans asserting each sketch estimate lies inside the exact
    // [p−0.01, p+0.01] quantile envelope. At accuracy=10000 the sketch's
    // rank error is ≤ N/10000 ≈ a 10⁻⁴ quantile offset — two orders under
    // the 0.01 envelope — so only a genuine sketch regression can flip a
    // boolean and fail the driver's hash compare. Accuracy vs the exact
    // form is additionally asserted in PercentileSpec.
    ("percentiles_approx",
      (s: SparkSession, d: String) => {
        // ONE exact-percentile buffer per column (array-of-quantiles
        // form) instead of one per requested quantile: the interpreted
        // Percentile aggregate buffers every group value per FUNCTION
        // instance, so the naive 9-instance form paid ~9 value-map
        // buffers per group where this pays 2+2 (measured r18: 5.7 s →
        // ~2 s, bit-identical output — same buffer, same interpolation)
        s.read.parquet(s"$d/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_quantity, array(0.49D, 0.5D, 0.51D))").as("qp"),
            expr("percentile(l_extendedprice, array(0.24D, 0.25D, 0.26D, 0.89D, 0.9D, 0.91D))").as("pp"),
            expr("approx_percentile(l_quantity, 0.5D, 10000)").as("aq"),
            expr("approx_percentile(l_extendedprice, array(0.25D, 0.9D), 10000)").as("ap"))
          .select(col("l_returnflag"),
            round(element_at(col("qp"), 2), 6).as("median_qty"),
            round(element_at(col("pp"), 2), 6).as("p25_price"),
            round(element_at(col("pp"), 5), 6).as("p90_price"),
            col("aq").between(element_at(col("qp"), 1), element_at(col("qp"), 3)).as("median_ok"),
            element_at(col("ap"), 1)
              .between(element_at(col("pp"), 1), element_at(col("pp"), 3)).as("p25_ok"),
            element_at(col("ap"), 2)
              .between(element_at(col("pp"), 4), element_at(col("pp"), 6)).as("p90_ok"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
             |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
             |  TRUE AS median_ok, TRUE AS p25_ok, TRUE AS p90_ok
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ======================================================== text analysis
    ("text_token_stats",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d).select(col("doc_id"),
          graft.text.TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          graft.text.TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens")),
      Some(OracleSqlExt.tokenStatsSql)),

    ("text_quality",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d)
          .select(col("doc_id"), graft.text.TextAnalysis.quality(col("text")).as("q"))
          .select(col("doc_id"), col("q.n_tokens"), col("q.n_chars"),
            col("q.punct_ratio"), col("q.stop_ratio"), col("q.quality")),
      Some(OracleSqlExt.qualitySql)),

    // dynamic-threshold curation: keep docs at/above the corpus's own
    // p75 quality — scores and threshold both rounded before comparing,
    // so the exact-percentile boundary set is engine-identical
    ("quality_gate_quantile",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.qualityGate(Collocations.documents(s, d), p = 0.75),
      Some(OracleSqlExt.qualityGateSql(0.75))),

    // TRAINED quality filter (CCNet/DCLM-style learned boundary instead
    // of the fixed heuristic): deterministic ridge-Newton logistic
    // regression over engine-computable features, weak labels from
    // lang='en'. Each iteration collects one bounded gradient+Hessian row
    // (the Lloyd pattern); training sees the doc_id%4 sample (the IVF
    // trainStride shape) and scoring applies the weights to the full
    // corpus as a shuffle-free literal-weight map. Dynamic oracle: the
    // stashed weights are injected as literals.
    ("quality_classifier_score",
      (s: SparkSession, d: String) => qcScored(s, d),
      None),

    ("quality_classifier_eval",
      (s: SparkSession, d: String) =>
        graft.text.QualityClassifier.evalScored(qcScored(s, d)),
      None),

    // threshold-free ranking quality of the learned filter: exact
    // tie-averaged Mann-Whitney AUC — integer rank-sums over the
    // bounded per-score group table via the scale-safe global cumsum,
    // one final float division. DYNAMIC weight-injected oracle
    ("quality_classifier_auc",
      (s: SparkSession, d: String) =>
        graft.text.QualityClassifier.aucScored(qcScored(s, d)),
      None),

    // score-decile reliability table — the calibration QA view of the
    // learned filter (bin boundaries cut on the round-6 score, so the
    // decile edges are engine-identical)
    ("quality_classifier_calibration",
      (s: SparkSession, d: String) =>
        graft.text.QualityClassifier.calibrationScored(qcScored(s, d)),
      None),

    // labeled × predicted lang-ID contingency table — the eval report /
    // drift monitor for the lang-ID stage; shuffle-free argmax, one
    // metadata-sized aggregation
    ("text_langid_confusion",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.langConfusion(Collocations.documents(s, d)),
      Some(OracleSqlExt.langConfusionSql)),

    // TRAINED language ID — multinomial NB over char bigrams, the
    // fastText-langid shape production pipelines gate on (the heuristic
    // text_langid stays as the zero-training baseline). Deterministic
    // train on the doc_id%4 sample, log-probs quantized ONCE to integer
    // micro-nats (the tokenize_unigram template: both engines sum
    // identical integers, argmax cannot split), scoring a narrow
    // literal-map fold — zero shuffles. DYNAMIC oracle: the run stashes
    // the trained model and oracleSql injects it as VALUES tables.
    ("text_langid_trained",
      (s: SparkSession, d: String) => {
        val m = langIdModel(s, d)
        graft.text.LangIdClassifier.lastLangIdModel = Some(m)
        graft.text.LangIdClassifier.predictWith(Collocations.documents(s, d), m)
      },
      None),

    // its eval: the labeled x predicted confusion table under the
    // trained model (off-diagonal mass on a fresh crawl = retrain signal)
    ("text_langid_trained_eval",
      (s: SparkSession, d: String) => {
        val m = langIdModel(s, d)
        graft.text.LangIdClassifier.lastLangIdModelEval = Some(m)
        graft.text.LangIdClassifier.confusionWith(Collocations.documents(s, d), m)
      },
      None),

    // serve twin: the model read back from its persisted parquet tables
    // (priors + weights), dedicated stash, serve-equals-rebuild pinned
    // in TextAndAnnSpec
    ("text_langid_trained_indexed",
      (s: SparkSession, d: String) => {
        val m = graft.text.LangIdClassifier.readModel(s, langIdModelDir(s, d))
        graft.text.LangIdClassifier.lastLangIdModelIndexed = Some(m)
        graft.text.LangIdClassifier.predictWith(Collocations.documents(s, d), m)
      },
      None),

    ("text_langid",
      (s: SparkSession, d: String) => {
        val docs = Collocations.documents(s, d)
        val scores = graft.text.TextAnalysis.langScores(col("text")).map { case (l, c) => c.as(s"s_$l") }
        docs.select(
          (col("doc_id") +: scores) :+
            graft.text.TextAnalysis.predictedLang(col("text")).as("lang_pred"): _*)
      },
      Some(OracleSqlExt.langIdSql)),

    ("text_fingerprint",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d).select(col("doc_id"),
          graft.text.TextAnalysis.fingerprint(col("text")).as("fp")),
      Some(OracleSqlExt.fingerprintSql)),

    // per-doc top-3 keywords by tf-idf: doc-partitioned WindowGroupLimit
    // over the round-6 score — the topical label for topic slicing
    ("text_keywords",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.keywords(Collocations.documents(s, d)),
      Some(OracleSqlExt.keywordsSql(3))),

    ("text_tfidf",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.tfidf(Collocations.documents(s, d)),
      Some(OracleSqlExt.tfidfSql)),

    // BM25 ranked retrieval against a literal query — the corpus-slicing
    // primitive (classifier seeds, topic extraction) built on the tfidf
    // stats but with length normalization and a bounded top-k plan
    ("text_bm25_topk",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.bm25TopK(Collocations.documents(s, d),
          query = Seq("spark", "merge", "window"), k = 15),
      Some(OracleSqlExt.bm25Sql(Seq("spark", "merge", "window"), 1.2, 0.75, 15))),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-N
    // and the query-embedding cosine top-N — the decontamination/audit
    // retrieval pattern; pure rank algebra (1/(60+rank) sums over the
    // full-outer union of two bounded ranked lists), deterministic
    // tie-breaks on doc_id at every stage
    ("retrieval_hybrid_rrf",
      (s: SparkSession, d: String) =>
        graft.similarity.Retrieval.hybridRrf(
          Collocations.documents(s, d), s.read.parquet(s"$d/embeddings.parquet"),
          query = Seq("spark", "merge", "window"), queryVecId = 0L,
          nPer = 50, rrfK = 60, k = 15),
      Some(OracleSqlExt.hybridRrfSql(Seq("spark", "merge", "window"),
        queryVecId = 0L, nPer = 50, rrfK = 60, k = 15, k1 = 1.2, b = 0.75))),

    ("text_lm_score",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScore(Collocations.documents(s, d)),
      Some(OracleSqlExt.lmScoreSql)),

    // interpolated Kneser-Ney bigram LM — the smoothing the CCNet/KenLM
    // perplexity filters actually use (continuation-count backoff
    // instead of add-one's uniform prior); exact integer statistics,
    // fixed-operation-order probability, per-term DECIMAL ln sums
    ("text_lm_kn_score",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKn(Collocations.documents(s, d)),
      Some(OracleSqlExt.lmScoreKnSql(0.75))),

    // its persisted-model serve twin — the CCNet deployment (train the
    // LM once on a reference corpus, score every incoming shard
    // forever): the bigram-TYPE table is the model's entire state,
    // vocabulary²-bounded and joined distributively at serve time
    // (never a driver collect — this model is a TABLE, unlike the
    // piece/merge/centroid artifacts); the serve path derives the
    // context/continuation statistics from the persisted table without
    // touching the training corpus; gated by the SAME oracle —
    // serve-equals-rebuild
    ("text_lm_kn_indexed",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKnWith(
          Collocations.documents(s, d), knModelDir(s, d)),
      Some(OracleSqlExt.lmScoreKnSql(0.75))),

    // the pruned serve — KenLM/CCNet ships count-pruned models: singleton
    // bigram types drop from the persisted table, every statistic
    // re-derives from the SURVIVORS (rebuild-on-pruned-table, same shared
    // algebra), and the coverage drop is reported per doc, never silent
    // (left join from full totals; NULL avg_logprob when nothing scores)
    ("text_lm_kn_pruned",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKnPruned(
          Collocations.documents(s, d), knModelDir(s, d), minCount = 2),
      Some(OracleSqlExt.lmScoreKnPrunedSql(2, 0.75))),

    // the order-3 KN form a KenLM-shape deployment serves: interpolated
    // trigram probabilities backing off through continuation statistics
    // all read off ONE trigram-type table — exact integer stats, fixed
    // operation order, per-term DECIMAL(28,18) ln casts
    ("text_lm_kn3_score",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKn3(Collocations.documents(s, d)),
      Some(OracleSqlExt.lmScoreKn3Sql(0.75))),

    // persisted-model serve twin: the training corpus is never touched,
    // the incoming docs' trigram stream joins the persisted type table —
    // the SAME oracle proves serve-equals-rebuild
    ("text_lm_kn3_indexed",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKn3With(
          Collocations.documents(s, d), kn3ModelDir(s, d)),
      Some(OracleSqlExt.lmScoreKn3Sql(0.75))),

    // its count-pruned persisted-model serve twin: rebuild-on-the-pruned-
    // table semantics, coverage REPORTED per >=3-token doc (never a
    // silently fluent score over 3% of a doc's trigrams)
    ("text_lm_kn3_pruned",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.lmScoreKn3Pruned(
          Collocations.documents(s, d), kn3ModelDir(s, d), minCount = 2),
      Some(OracleSqlExt.lmScoreKn3PrunedSql(2, 0.75))),

    // CCNet-style head/middle/tail perplexity terciles over the LM score
    // — dynamic corpus-own thresholds, single-row broadcast, round-6
    // boundary discipline
    ("perplexity_buckets",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.perplexityBuckets(Collocations.documents(s, d)),
      Some(OracleSqlExt.perplexityBucketsSql)),

    // the Gopher REPETITION battery (top n-gram char share, duplicated
    // n-gram char coverage) — one gram-keyed shuffle for all n levels,
    // integer order-encoded argmax for engine-identical ties
    ("text_repetition_ngrams",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.repetitionNgrams(Collocations.documents(s, d)),
      Some(OracleSqlExt.repetitionNgramsSql())),

    ("text_repetition",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.repetition(Collocations.documents(s, d)),
      Some(OracleSqlExt.repetitionSql)),

    ("text_entropy",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.tokenEntropy(Collocations.documents(s, d)),
      Some(OracleSqlExt.tokenEntropySql)),

    // Gopher document-format rules (Rae et al. 2021 A1.1): the published
    // pre-model web-filter battery — per-doc signals + the conjunction,
    // pure array/regex Column algebra (zero shuffles)
    ("quality_gopher_rules",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.gopherRules(Collocations.documents(s, d)),
      Some(OracleSqlExt.gopherRulesSql)),

    // the SECOND published rule battery — C4 (Raffel et al. 2020 §2.2):
    // Gopher judges token-shape statistics, C4 judges line structure
    // (terminal punctuation, >=3-word lines, no "javascript") and page
    // tells (lorem ipsum, curly brace, >=5 sentences); all row-local
    // string algebra, zero shuffles
    ("quality_c4_rules",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.c4Rules(Collocations.documents(s, d)),
      Some(OracleSqlExt.c4RulesSql)),

    // its rewrite step: the corpus back with only retained lines — the
    // scrub C4 applies before any page-level drop
    ("scrub_c4_lines",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.scrubC4Lines(Collocations.documents(s, d)),
      Some(OracleSqlExt.scrubC4LinesSql)),

    // DSIR-style hashed-unigram importance weights (Xie et al. 2023):
    // target = the lang='en' slice, model = 1024 hash buckets (fixed-size
    // regardless of vocabulary — the 100 TB property), broadcast-joined
    // scoring pass
    ("select_dsir",
      (s: SparkSession, d: String) =>
        graft.pipelines.Dsir.importanceWeights(Collocations.documents(s, d),
          org.apache.spark.sql.functions.col("lang") === "en"),
      Some(OracleSqlExt.dsirSql)),

    ("mix_weights",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.mixWeights(Collocations.documents(s, d)),
      Some(OracleSqlExt.mixWeightsSql)),

    // α-temperature rebalancing (α=0.5 via correctly-rounded sqrt; the
    // normalizer is an ordered fold on both engines — see scaladoc)
    ("temperature_mix",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.temperatureMix(Collocations.documents(s, d)),
      Some(OracleSqlExt.temperatureMixSql)),

    // the step between temperature_mix's probabilities and a training
    // run: per source, the α-mix token grant out of a total budget, the
    // implied epochs, and the max-epoch repeat cap (one-shot cap, the
    // surplus reported not redistributed); budget chosen so both cap
    // branches are exercised on the gate corpus
    ("mix_token_budget",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.mixTokenBudget(
          Collocations.documents(s, d), budgetTokens = 100000L),
      Some(OracleSqlExt.mixTokenBudgetSql(100000L, 4.0))),

    // EXECUTE the budget: per source, the deterministic content-ordered
    // whole-document prefix whose running token total fits the capped
    // allocation — no per-source data-bearing window (two-level bucketed
    // running sum, the globalCumSum construction per group). Budget
    // chosen so most sources CUT mid-corpus and some keep everything
    ("sample_token_budget",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.sampleTokenBudget(
          Collocations.documents(s, d), budgetTokens = 26000L),
      Some(OracleSqlExt.sampleTokenBudgetSql(26000L, 4.0, 64))),

    // overlapping token-window chunking (RAG/embedding prep): array-local
    // explode, zero shuffles; every doc emits >= 1 chunk (row-preserving)
    ("chunk_documents",
      (s: SparkSession, d: String) =>
        graft.pipelines.Chunking.chunkDocuments(Collocations.documents(s, d), window = 64, stride = 32),
      Some(OracleSqlExt.chunkSql(64, 32))),

    ("pack_sequences",
      (s: SparkSession, d: String) =>
        graft.pipelines.Packing.packSequences(Collocations.documents(s, d), windowSize = 2048),
      Some(OracleSqlExt.packSql(2048))),

    // z-order layout clustering: the oracle gates the Morton curve value
    // (exact integer bit algebra); the pruning-locality property of the
    // full repartitionByRange layout is pinned in ZOrderSpec
    ("zorder_layout",
      (s: SparkSession, d: String) => {
        import graft.ops.ZOrder
        s.read.parquet(s"$d/lineitem.parquet")
          .select(col("l_orderkey"), col("l_linenumber"),
            ZOrder.zValue(Seq(ZOrder.cell(col("l_partkey"), 10),
              ZOrder.cell(col("l_suppkey"), 10)), 10).as("zv"))
      },
      Some(OracleSqlExt.zorderSql(10))),

    ("scrub_pii",
      (s: SparkSession, d: String) => {
        val (ne, nn) = graft.text.TextAnalysis.scrubCounts(col("props"))
        s.read.parquet(s"$d/events.parquet")
          .select(col("event_id"),
            graft.text.TextAnalysis.scrub(col("props")).as("scrubbed"),
            ne.as("n_emails"), nn.as("n_nums"))
      },
      Some(OracleSqlExt.scrubSql)),

    // PII audit report — the aggregate release gate the per-row scrub
    // feeds: where the exposure concentrates, per event_type, before a
    // scrub-vs-drop decision. Bounded group key, one aggregation
    ("pii_report",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.piiReport(s.read.parquet(s"$d/events.parquet")),
      Some(OracleSqlExt.piiReportSql)),

    // compaction/layout planner — per-partition-key file counts sized
    // to a byte target (the write-side answer to the small-files
    // problem); a few output rows per key from one bounded aggregation
    ("layout_file_plan",
      (s: SparkSession, d: String) =>
        graft.sources.Bucketing.fileLayoutPlan(
          Collocations.documents(s, d), targetBytes = 32768),
      Some(OracleSqlExt.fileLayoutPlanSql(32768))),

    // HTML -> text extraction — step 1 of web-corpus building, run
    // before anything keys on text bytes: script/style/comment blocks
    // drop WHOLE (markup inside script strings must vanish with its
    // block), remaining tags strip to spaces, the five core entities
    // decode with &amp; last, whitespace collapses. Row-local regex
    // chain, zero shuffles; the page is derived deterministically from
    // existing columns (the messyUrl pattern), exercising every rule
    ("extract_html_text",
      (s: SparkSession, d: String) => {
        val raw = Collocations.documents(s, d).select(col("doc_id"), messyHtml.as("html"))
        raw.select(col("doc_id"),
          length(col("html")).cast("long").as("n_chars_html"),
          graft.text.TextAnalysis.extractHtmlText(col("html")).as("clean_text"))
          .withColumn("n_chars_text", length(col("clean_text")).cast("long"))
          .select("doc_id", "n_chars_html", "n_chars_text", "clean_text")
      },
      Some(OracleSqlExt.extractHtmlSql)),

    // cross-document boilerplate lines — the RefinedWeb line-frequency
    // step the LOCAL C4 rules can't do: a trimmed line appearing in
    // minDf+ distinct documents is navigation/banner boilerplate. The
    // multi-line page is derived deterministically (planted corpus-wide
    // banner, per-source nav, a short repeated line under the length
    // floor, unique body, gated footer), so every branch is live
    ("boilerplate_lines",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.boilerplateLines(
          Collocations.documents(s, d).select(col("doc_id"), pageText.as("text"))),
      Some(OracleSqlExt.boilerplateLinesSql(2, 10, 50))),

    // its rewrite: documents back row-for-row with boilerplate lines cut
    // — matched on the trimmed form, original bytes kept for survivors;
    // the short repeated line survives (never boilerplate-eligible)
    ("scrub_boilerplate_lines",
      (s: SparkSession, d: String) =>
        graft.text.TextAnalysis.scrubBoilerplateLines(
          Collocations.documents(s, d).select(col("doc_id"), pageText.as("text"))),
      Some(OracleSqlExt.scrubBoilerplateLinesSql(2, 10))),

    // URL canonicalization — the web-curation key (per-domain dedup,
    // crawl-feed overlap, domain mixing all key on canonical urls).
    // Testdata has no url column, so one is derived deterministically
    // from existing columns (the scrub_pii pattern), built messy on
    // purpose: mixed scheme/host case, www toggles, DEFAULT and
    // NON-default ports, trailing slashes, tracking params, fragments.
    // Row-local string algebra, zero shuffles.
    ("url_canonical",
      (s: SparkSession, d: String) => {
        val raw = Collocations.documents(s, d).select(col("doc_id"), messyUrl.as("url"))
        raw.select(col("doc_id"), col("url"),
          graft.ops.UrlOps.canonicalUrl(col("url")).as("canonical_url"),
          graft.ops.UrlOps.urlDomain(col("url")).as("domain"))
      },
      Some(OracleSqlExt.urlCanonicalSql)),

    // its rollup: per-domain doc counts vs distinct canonical urls — the
    // per-domain dup pressure a crawl-curation pass reads before
    // deciding domain weights; ONE hash aggregation on the domain key
    ("url_domain_stats",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d).select(col("doc_id"), messyUrl.as("url"))
          .select(graft.ops.UrlOps.canonicalUrl(col("url")).as("cu"),
            graft.ops.UrlOps.urlDomain(col("url")).as("domain"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cu")).as("n_unique_urls"))
          .withColumn("dup_ratio",
            round(lit(1.0) - col("n_unique_urls").cast("double") / col("n_docs"), 6)),
      Some(OracleSqlExt.urlDomainStatsSql)),

    // Unicode/whitespace canonicalization — the transform a corpus
    // pipeline runs FIRST (dedup, shingling, winnowing, tokenization
    // all key on text bytes; decomposed vs precomposed accents must be
    // the same document). NFC is a codegen'd Catalyst expression with
    // an ASCII fast path; the rest is built-in string algebra — all
    // row-local, zero shuffles. Oracle: DuckDB nfc_normalize (utf8proc)
    // vs JDK Normalizer, byte-identical on the version-stable canonical
    // compositions.
    ("text_normalize_unicode",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d).select(col("doc_id"), messyText.as("raw"))
          .select(col("doc_id"), col("raw"),
            graft.text.TextNormalize.normalizeText(col("raw")).as("text_norm"))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("raw_len"),
            col("text_norm"),
            length(col("text_norm")).cast("long").as("norm_len"),
            (length(col("raw")) - length(col("text_norm"))).cast("long").as("n_removed"),
            (col("raw") =!= col("text_norm")).cast("long").as("changed")),
      Some(OracleSqlExt.textNormalizeUnicodeSql)),

    // its rollup: per-lang normalization pressure (docs touched, chars
    // dropped) — the before/after accounting a cleaning pass reports;
    // ONE hash aggregation on lang
    ("text_normalize_stats",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d)
          .select(col("lang"), messyText.as("raw"))
          .select(col("lang"), col("raw"),
            graft.text.TextNormalize.normalizeText(col("raw")).as("nt"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("raw") =!= col("nt")).cast("long")).as("n_changed"),
            sum((length(col("raw")) - length(col("nt"))).cast("long")).as("chars_removed")),
      Some(OracleSqlExt.textNormalizeStatsSql)),

    ("text_rolling_hash",
      (s: SparkSession, d: String) =>
        Collocations.documents(s, d).select(col("doc_id"),
          graft.functions.RollingHash.rollingHash(col("text")).as("rh")),
      Some("""SELECT doc_id,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
             |                   (a, c) -> (a * 31 + c) % 1000000007) AS BIGINT) AS rh
             |FROM documents""".stripMargin)),

    // ------------------------------------------------- SQL entry surface
    ("sql_interface",
      (s: SparkSession, d: String) => {
        s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("orders")
        s.read.parquet(s"$d/customer.parquet").createOrReplaceTempView("customer")
        // literally the oracle SQL — the engine's spark.sql surface runs
        // the same dialect-neutral query DuckDB does
        s.sql(SparkEntry.sqlInterfaceQuery)
      },
      Some(SparkEntry.sqlInterfaceQuery)),

    ("sql_interface_window",
      (s: SparkSession, d: String) => {
        s.read.parquet(s"$d/customer.parquet").createOrReplaceTempView("customer")
        s.sql(SparkEntry.sqlInterfaceWindowQuery)
      },
      Some(SparkEntry.sqlInterfaceWindowQuery)),

    // ========================================================== dedup
    ("dedup_exact",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.exactGroups(Collocations.documents(s, d)),
      Some("""SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // passage (fixed token window) exact dedup — the line/paragraph dedup
    // of a C4-style pipeline; window 3 so the tiny synthetic vocabulary
    // actually produces cross-document repeats to verify against
    ("dedup_passages",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.passageDupStats(Collocations.documents(s, d), window = 3),
      Some(OracleSqlExt.passageDupSql(3))),

    // containment attribution: where a doc's repeated passages were
    // FIRST seen — the asymmetric (short-inside-long) dup case Jaccard
    // LSH structurally misses; threshold 0.2 so the synthetic corpus
    // yields verifiable pairs
    ("dedup_containment",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.passageContainment(Collocations.documents(s, d),
          window = 3, threshold = 0.2),
      Some(OracleSqlExt.passageContainmentSql(3, 0.2))),

    // the transform the stats measure: rewrite each doc keeping only
    // corpus-wide first-occurrence passages
    ("scrub_dup_passages",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.removeDupPassages(Collocations.documents(s, d), window = 3),
      Some(OracleSqlExt.removeDupPassagesSql(3))),

    ("dedup_minhash_lsh",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.lshCandidates(Collocations.documents(s, d)),
      Some(OracleSqlExt.lshCandidatesSql)),

    // threshold-TUNED band geometry, end to end: tuneBands(0.35, 16)
    // selects 8 bands × 2 rows (s-curve midpoint (1/8)^(1/2) ≈ 0.354 —
    // spec-pinned in DedupSpec), and the oracle mirrors the same
    // non-default shape — proving the band-geometry parameter actually
    // feeds lshBucketsFromSigs in a driver-visible row, not just in unit
    // tests. Lower threshold → more bands of fewer rows → more candidates
    // surfacing looser pairs (recall ordering also spec-pinned).
    { val (tb, tr) = graft.dedup.Dedup.tuneBands(0.35, 16)
      ("dedup_minhash_lsh_tuned",
        (s: SparkSession, d: String) =>
          graft.dedup.Dedup.lshCandidates(Collocations.documents(s, d),
            bands = tb, rowsPerBand = tr),
        Some(OracleSqlExt.lshCandidatesBandedSql(tb, tr))) },

    // the full threshold-parameterized dedup: tuned candidate geometry +
    // exact Jaccard verification at the SAME 0.35 threshold the bands
    // were tuned for — the one-call form a pipeline uses when the
    // dedup threshold is a config knob rather than the engine default
    { val (tb, tr) = graft.dedup.Dedup.tuneBands(0.35, 16)
      ("dedup_jaccard_tuned",
        (s: SparkSession, d: String) =>
          graft.dedup.Dedup.jaccardVerify(Collocations.documents(s, d),
            bands = tb, rowsPerBand = tr, threshold = 0.35),
        Some(OracleSqlExt.jaccardVerifyBandedSql(0.35, tb, tr))) },

    ("dedup_ngram_jaccard",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.jaccardVerify(Collocations.documents(s, d), threshold = 0.3),
      Some(OracleSqlExt.jaccardVerifySql(0.3))),

    // character-level verification twin: same LSH candidate stream,
    // exact edit distance instead of shingle Jaccard — position-aware
    // similarity that templated/reordered near-dups can't inflate
    ("dedup_edit_distance",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.editDistanceVerify(Collocations.documents(s, d), minSim = 0.97),
      Some(OracleSqlExt.editDistanceVerifySql(0.97))),

    // winnowing (MOSS) fingerprints: shift-resistant partial-overlap
    // detection — any shared run of >= k+w-1 tokens shares a fingerprint,
    // selection is fully array-local per doc (zero pre-explode shuffles)
    ("winnow_fingerprints",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.winnowFingerprints(Collocations.documents(s, d), k = 3, w = 4),
      Some(OracleSqlExt.winnowSql(3, 4))),

    // winnowing's dedup payoff: pair overlap counts from the fingerprint
    // inverted index (capped posting lists, same recall contract as the
    // LSH bucket cap) — ranks contiguous-overlap pairs whole-doc Jaccard
    // dilutes away
    ("dedup_winnow_overlap",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.winnowOverlap(Collocations.documents(s, d), k = 3, w = 4,
          minShared = 2L),
      Some(OracleSqlExt.winnowOverlapSql(3, 4, 2L))),

    // "measure, don't guess" for the band geometry: recall/precision of
    // the LSH candidate set against exact all-pairs truth — the
    // sample-then-decide pass run before committing a geometry at scale
    // registered on a content-stable HALF-sample: the truth side is the
    // deliberate all-pairs quadratic, so the eval runs on a bounded
    // sample by design (the op's own scale contract) — the geometry
    // decision generalizes from the sample to the corpus
    ("dedup_blocking_eval",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.blockingEval(
          Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 0),
          threshold = 0.3),
      Some(OracleSqlExt.blockingEvalSql(0.3,
        srcRel = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"))),

    // build-once/serve-many for the winnow family: overlap served from
    // the persisted fingerprint table alone — zero corpus access in the
    // serve plan (pinned in DedupSpec); same oracle as the direct path
    ("dedup_winnow_indexed",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.winnowOverlapFrom(
          s.read.parquet(s"${winnowIndexDir(s, d)}/winnow_fp")),
      Some(OracleSqlExt.winnowOverlapSql(3, 4, 2L))),

    // incremental ingest: the persisted index covers the even-doc_id
    // half; odd-half fingerprints union on top WITHOUT re-fingerprinting
    // the old corpus (fingerprints are a pure per-doc function), and the
    // SAME full-corpus oracle proves ingest-equals-rebuild
    ("dedup_winnow_incremental",
      (s: SparkSession, d: String) => {
        val idx = s.read.parquet(s"${winnowIndexDirHalf(s, d)}/winnow_fp")
        val fresh = graft.dedup.Dedup.winnowFingerprints(
          Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 1))
        graft.dedup.Dedup.winnowOverlapFrom(idx.unionByName(fresh))
      },
      Some(OracleSqlExt.winnowOverlapSql(3, 4, 2L))),

    // the multi-pass recall recipe: LSH-band candidates UNION
    // sorted-neighborhood window pairs, one shared shingle/signature
    // pass, exact-Jaccard verification keeping precision exact
    ("dedup_multipass",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.multipassVerify(Collocations.documents(s, d), threshold = 0.3),
      Some(OracleSqlExt.multipassVerifySql(0.3))),

    // the OTHER classic blocking strategy next to LSH banding: global
    // sort by the first minhash (sketch-bucketed globalRank, no
    // single-partition window), pair each doc with its windowSize-1 rank
    // successors via exploded equi-probes, verify with exact Jaccard
    ("dedup_sorted_neighborhood",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.sortedNeighborhood(Collocations.documents(s, d), windowSize = 3),
      Some(OracleSqlExt.sortedNeighborhoodSql(3))),

    // EXACT-substring dedup (Lee et al. 2022's suffix-array family): every
    // maximal byte-exact shared substring >= 30 chars, via content-defined
    // winnowed char anchors + maximal extension — the shift-resistant AND
    // exact detector the rest of the family lacks (the passage grid is
    // alignment-bound, winnow overlap is approximate ranking). The oracle
    // states the semantics as the naive all-offset 30-gram self-join
    // merged into maximal runs; the anchor plan must reproduce it exactly.
    ("dedup_substring",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.substringMatches(Collocations.documents(s, d), minLen = 30),
      Some(OracleSqlExt.substringMatchesSql(30))),

    // its removal payoff: spans cut from the higher doc_id of each match,
    // merged per document into maximal [start, end) intervals (per-doc
    // gaps-and-islands window, never a global one)
    ("dedup_substring_spans",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.substringRemovalSpans(Collocations.documents(s, d), minLen = 30),
      Some(OracleSqlExt.substringSpansSql(30))),

    // the rewrite step itself (Lee et al. 2022: all-but-one occurrence of
    // every long duplicated substring removed): spans collapse to one
    // sorted array per doc, the cut is a row-local fold — row-preserving
    ("scrub_substring_dups",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.scrubSubstringDups(Collocations.documents(s, d), minLen = 30),
      Some(OracleSqlExt.scrubSubstringSql(30))),

    // one-row substring-duplication report: the ANALYZE summary a
    // curation pass reads before deciding whether the scrub is worth a
    // corpus rewrite — match/span/affected-doc counts, merged removable
    // chars, fraction of corpus chars; shares ONE anchor/extension pass
    ("substring_dup_report",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.substringDupReport(Collocations.documents(s, d), minLen = 30),
      Some(OracleSqlExt.substringReportSql(30))),

    // the INTRA-document half of the suffix-array dedup (a substring
    // repeated within one document dedups like one repeated across
    // documents): same anchors, pair join keyed (doc_id, h) so the
    // quadratic term is per-document and guard-bounded. minLen drops to
    // 15 here — in-doc repetition is shorter-range than cross-doc
    // duplication on this corpus, and the guarantee scales down with
    // k=12/w=4 geometry (k + w - 1 = 15).
    ("dedup_substring_self",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.substringSelfRepeats(Collocations.documents(s, d), minLen = 15),
      Some(OracleSqlExt.substringSelfSql(15))),

    // build-once/serve-many for the substring family: the anchor pair
    // join reads the persisted index alone; the corpus is touched only
    // by the extension's doc_id equi-joins (text never re-hashed). Same
    // oracle as the direct path gates both.
    ("dedup_substring_indexed",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.substringMatchesFrom(
          s.read.parquet(s"${substringIndexDir(s, d)}/substring_anchors"),
          Collocations.documents(s, d), minLen = 30),
      Some(OracleSqlExt.substringMatchesSql(30))),

    // incremental ingest: the persisted index covers the even-doc_id
    // half; odd-half anchors union on top WITHOUT re-anchoring the old
    // corpus (anchors are a pure per-doc function) — the SAME
    // full-corpus oracle proves ingest-equals-rebuild
    ("dedup_substring_incremental",
      (s: SparkSession, d: String) => {
        val idx = s.read.parquet(s"${substringIndexDirHalf(s, d)}/substring_anchors")
        val docs = Collocations.documents(s, d)
        val fresh = graft.dedup.Dedup.substringAnchors(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1), k = 24, w = 7)
        graft.dedup.Dedup.substringMatchesFrom(idx.unionByName(fresh), docs, minLen = 30)
      },
      Some(OracleSqlExt.substringMatchesSql(30))),

    // ε-band self-join via grid bucketing: same-type event pairs within
    // value tolerance — the 1-D grid-file ε-join (constant 3× probe
    // fan-out, shuffle keyed on (type, bucket); never a per-key cross
    // product). The oracle states the SEMANTICS as the naive quadratic
    // join — the grid plan must reproduce it exactly.
    ("band_join",
      (s: SparkSession, d: String) =>
        graft.ops.BandJoin.bandJoin(
          s.read.parquet(s"$d/events.parquet"),
          keys = Seq("event_type"), idCol = "event_id", valueCol = "value", eps = 0.01),
      Some("""SELECT l.event_type AS event_type, l.event_id AS a, r.event_id AS b,
             |       l.value AS va, r.value AS vb, round(abs(l.value - r.value), 6) AS diff
             |FROM events l JOIN events r
             |  ON l.event_type = r.event_type AND l.event_id < r.event_id
             | AND abs(l.value - r.value) <= 0.01""".stripMargin)),

    // curation analytics: near-dup pair counts + mean similarity per
    // unordered source pair — "how much does feed A overlap feed B",
    // one bounded rollup over the verified pair stream
    ("dedup_cross_source",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.crossSourceDupMatrix(Collocations.documents(s, d), threshold = 0.3),
      Some(OracleSqlExt.crossSourceDupSql(0.3))),

    // build-once/serve-many: materialize the minhash/shingle index to
    // parquet ONCE per (process, dataset) — see [[dedupIndexDir]] — then
    // verify candidates from the index alone (zero corpus access in the
    // serve plan — asserted in DedupSpec). Same semantics as
    // dedup_ngram_jaccard, so the SAME oracle gates both paths.
    ("dedup_jaccard_indexed",
      (s: SparkSession, d: String) => {
        val dir = dedupIndexDir(s, d)
        graft.dedup.Dedup.jaccardVerifyFromIndex(
          s.read.parquet(s"$dir/minhash_sigs"), s.read.parquet(s"$dir/shingle_sets"),
          threshold = 0.3)
      },
      Some(OracleSqlExt.jaccardVerifySql(0.3))),

    // INCREMENTAL ingest, gated end to end: the persisted index covers
    // only the even-doc_id half (the "pre-existing corpus"); the odd
    // half arrives as a fresh delta whose per-doc signatures and shingle
    // sets UNION onto the index tables without re-hashing the old half
    // (both tables are pure per-doc functions — the contract DedupSpec
    // pins). The result must equal a from-scratch run over everything,
    // so the SAME full-corpus oracle gates it.
    ("dedup_jaccard_incremental",
      (s: SparkSession, d: String) => {
        val dir = dedupIndexDirHalf(s, d)
        val delta = Collocations.documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 1)
        val sigs = s.read.parquet(s"$dir/minhash_sigs")
          .unionByName(graft.dedup.Dedup.minhashSignatures(delta))
        val sets = s.read.parquet(s"$dir/shingle_sets")
          .unionByName(graft.dedup.Dedup.shingleSets(delta))
        graft.dedup.Dedup.jaccardVerifyFromIndex(sigs, sets, threshold = 0.3)
      },
      Some(OracleSqlExt.jaccardVerifySql(0.3))),

    ("dedup_simhash",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.simhash(Collocations.documents(s, d)),
      Some(OracleSqlExt.simhashSql)),

    ("dedup_components",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.lshComponents(Collocations.documents(s, d)),
      Some(OracleSqlExt.componentsSql)),

    // n-gram novelty triage of an incoming batch (odd doc_ids) against a
    // reference corpus (even doc_ids): distinct-shingle membership probe
    // via one shingle-keyed join, never a posting-list self-join
    ("novelty_scores",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.noveltyScores(Collocations.documents(s, d),
          org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      Some(OracleSqlExt.noveltySql)),

    // the REPORT run before committing to a dedup pass: cluster-size ->
    // (n_clusters, n_docs) including the singleton row; metadata-sized
    // aggregations over the cached duplicates-sized label table, gated
    // against the same recursive-CTE closure as dedup_components
    ("dedup_cluster_sizes",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.clusterSizeHistogram(Collocations.documents(s, d)),
      Some(OracleSqlExt.clusterSizeHistogramSql)),

    // dedup-aware train/holdout split: md5-bucket assignment, then any
    // near-dup component spanning the split is demoted wholesale to train
    // — the within-corpus analogue of decontamination, gated against the
    // same recursive-CTE closure as dedup_components
    ("split_leak_safe",
      (s: SparkSession, d: String) =>
        graft.pipelines.CleanCorpus.leakSafeSplit(
          Collocations.documents(s, d), holdoutPct = 10),
      Some(OracleSqlExt.leakSafeSplitSql(10))),

    // the APPLY step: rewrite the corpus keeping one doc per component
    // (min doc_id) — label table is duplicates-sized, so the removal
    // anti-join and the n_removed join broadcast against a single
    // corpus scan; gated against the same recursive-CTE closure as
    // dedup_components
    ("dedup_keep_canonical",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.keepCanonical(Collocations.documents(s, d)),
      Some(OracleSqlExt.keepCanonicalSql)),

    ("dedup_simhash_pairs",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.simhashPairs(Collocations.documents(s, d), maxHamming = 3),
      Some(OracleSqlExt.simhashPairsSql(3))),

    // the perceptual IMAGE / AUDIO / VIDEO dedup family, generated per
    // modality from multimodalEntries below
  ) ++ multimodalEntries ++ Seq(

    // NOTE: the all-pairs `closestEmbeddingPairs` baseline is deliberately
    // NOT a registry query — its O(n²) BroadcastNestedLoop plan must never
    // ship as a runnable surface. It survives as the recall oracle for the
    // LSH path in DedupSpec, and the registry-wide plan sweep (PlanSpec)
    // enforces that no shipped query carries a cartesian/BNLJ plan.

    // scale path for embedding near-dup: banded sign-LSH + exact-cosine verify.
    // 8x6 band shape targets this corpus's similarity range (max cos
    // ~0.51); true near-dup dedup at scale uses the 8x8 default.
    ("dedup_embedding_lsh",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.embeddingLshPairs(
          s.read.parquet(s"$d/embeddings.parquet"), bands = 8, rowsPerBand = 6, minCos = 0.4),
      Some(OracleSqlExt.embeddingLshSql(8, 6, 0.4))),

    // the production form: seeded Gaussian hyperplanes (data-orientation-
    // independent collision probability 1 − θ/π) through the same banded
    // plumbing; the oracle regenerates the planes from the seed and
    // mirrors the dot-fold exactly. 8x4 bands — shorter bands than the
    // axis-aligned entry because random planes split mass evenly, so
    // fewer sign agreements survive per band at this corpus's loose
    // (~0.4-0.5 cos) similarity range.
    ("dedup_embedding_lsh_gaussian",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.embeddingLshPairsGaussian(
          s.read.parquet(s"$d/embeddings.parquet"), dim = 64,
          bands = 8, rowsPerBand = 4, minCos = 0.4, seed = 42L),
      Some(OracleSqlExt.embeddingLshGaussianSql(64, 8, 4, 0.4, 42L))),

    // SemDeDup (cluster-scoped embedding dedup): deterministic k-means
    // assigns every vector to a cell (narrow map against the literal
    // centroid model), duplicates are searched only within a cell, and
    // each connected duplicate group keeps its min-id representative.
    // nClusters=8 fits this 500-2000-vector corpus; at 100 TB the knob
    // grows with the corpus so cells stay memory-sized. DYNAMIC oracle
    // like ann_ivf_topk: running the query stashes the trained centroids
    // and oracleSql injects them (OracleSqlExt.semanticDedupSql).
    ("dedup_semantic",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.semanticDedup(
          s.read.parquet(s"$d/embeddings.parquet"),
          nClusters = 8, iters = 2, minCos = 0.4),
      None),

    // serve-only SemDeDup twin — the lifecycle every other model-bearing
    // family ships (ann_ivf_indexed, embedding_pca_indexed, tokenize_*):
    // centroids read back from the persisted model and applied as a
    // narrow literal-model assignment, duplicate search within cells,
    // NO re-clustering. Dedicated stash (lastSemanticModelIndexed) so
    // its dynamic oracle always reflects this plan's own centroids;
    // serve-equals-rebuild pinned in DedupSpec.
    ("dedup_semantic_indexed",
      (s: SparkSession, d: String) => {
        val cents = graft.similarity.Ann.readIvfModel(s, semanticModelDir(s, d))
        graft.dedup.Dedup.lastSemanticModelIndexed = Some((cents, 0.4))
        graft.dedup.Dedup.semanticDedupWith(
          s.read.parquet(s"$d/embeddings.parquet"), cents, minCos = 0.4)
      },
      None),

    // SemDeDup as a continuous ingest GATE — the batch half of
    // graft.streaming.SemanticDedupStream: odd-half "arriving" vectors
    // assign to their cell under the even-half-trained centroids (narrow
    // literal-model map) and join ONLY that cell's persisted kept
    // representatives, each flagged arrival reporting its highest-cosine
    // (smallest-id on ties) match. DYNAMIC oracle: the run stashes the
    // gate index's centroids and oracleSql re-derives the kept set +
    // matches from them (semanticGateSql).
    ("dedup_semantic_stream_gate",
      (s: SparkSession, d: String) => {
        val dir = semanticGateIndexDir(s, d)
        val cents = graft.similarity.Ann.readIvfModel(s, s"$dir/centroids")
        graft.dedup.Dedup.lastSemanticGateModel = Some((cents, 0.4))
        graft.dedup.Dedup.semanticMatchesAgainst(
          s.read.parquet(s"$d/embeddings.parquet")
            .filter(pmod(col("vec_id"), lit(2L)) === 1),
          s.read.parquet(s"$dir/kept"), cents, minCos = 0.4)
      },
      None),

    // SEMANTIC decontamination — the paraphrase complement of the
    // lexical decon family (shingle containment / exact substring /
    // bloom): a reworded eval question shares no 13-gram with its
    // source but sits next to it in embedding space. Benchmark =
    // vec_id % 10 = 0 (eval suites are the SMALL side at 100 TB, so
    // the centroids train on it), both sides assign to cells as narrow
    // literal-model maps, candidates bounded by the cell join — never
    // all-pairs. DYNAMIC oracle: the run stashes the trained centroids
    // and oracleSql re-derives assignment + within-cell matches from
    // them (OracleSqlExt.semanticDeconSql).
    ("decontaminate_semantic",
      (s: SparkSession, d: String) => {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        val bench = emb.filter(pmod(col("vec_id"), lit(10L)) === 0)
        val train = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0)
        val cents = graft.similarity.Ann.ivfCentroids(bench, nCells = 8, iters = 2, trainStride = 1)
        graft.dedup.Dedup.lastSemanticDeconModel = Some((cents, 0.4))
        graft.dedup.Dedup.semanticDeconMatches(
          train, graft.dedup.Dedup.assignedCells(bench, cents), cents, minCos = 0.4)
      },
      None),

    // serve twin: the benchmark side reads its PERSISTED index
    // (centroids + cell assignments) — ingest costs assignment of the
    // arriving train shard only, the benchmark is never re-clustered
    // (the decontaminate_substring_indexed lifecycle for the embedding
    // modality). Dedicated stash; serve-equals-rebuild pinned in
    // DedupSpec.
    ("decontaminate_semantic_indexed",
      (s: SparkSession, d: String) => {
        val dir = semanticDeconIndexDir(s, d)
        val cents = graft.similarity.Ann.readIvfModel(s, s"$dir/centroids")
        graft.dedup.Dedup.lastSemanticDeconModelIndexed = Some((cents, 0.4))
        graft.dedup.Dedup.semanticDeconMatches(
          s.read.parquet(s"$d/embeddings.parquet")
            .filter(pmod(col("vec_id"), lit(10L)) =!= 0),
          s.read.parquet(s"$dir/bench"), cents, minCos = 0.4)
      },
      None),

    // the rewrite step — train rows with every semantically flagged row
    // dropped (zero-norm vectors keep: cosine undefined means they
    // cannot match a benchmark vector)
    ("scrub_semantic_contaminated",
      (s: SparkSession, d: String) => {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        val bench = emb.filter(pmod(col("vec_id"), lit(10L)) === 0)
        val train = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0)
        val cents = graft.similarity.Ann.ivfCentroids(bench, nCells = 8, iters = 2, trainStride = 1)
        graft.dedup.Dedup.lastSemanticDeconScrubModel = Some((cents, 0.4))
        val flagged = graft.dedup.Dedup.semanticDeconMatches(
          train, graft.dedup.Dedup.assignedCells(bench, cents), cents, minCos = 0.4)
        train.select(col("vec_id"))
          .join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
      },
      None),

    // ==================================================== similarity search
    ("ann_cosine_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.bruteForceTopK(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5),
      Some(OracleSqlExt.annBruteSql(100, 5))),

    ("ann_bucketed_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.bucketedTopK(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5, bits = 6),
      Some(OracleSqlExt.annBucketedSql(100, 5, 6))),

    // IVF with trained centroids: deterministic Lloyd iterations (decimal
    // means -> bit-stable cells), probes=2; trains on the vec_id % 8
    // sample (the 100 TB shape: sampled training, full-corpus assignment).
    // The oracle is DYNAMIC: training isn't SQL-mirrorable, but
    // assignment + probe + scoring given the trained model is — running
    // the query stashes the centroids, and oracleSql injects them as
    // literal arrays into a generated DuckDB query (see oracleSql below);
    // recall vs brute force is additionally pinned in TextAndAnnSpec.
    // D4-style prototypicality pruning: own-centroid cosine against the
    // trained IVF model, corpus-quantile lo/hi flags (dup-risk core /
    // off-manifold tail / keep) — the embedding-side curation gate
    ("embedding_prototypicality",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.prototypicality(
          s.read.parquet(s"$d/embeddings.parquet"), trainStride = 8),
      None),

    // PCA over the embedding column — the dimensionality-reduction step
    // run BEFORE clustering/ANN/dedup at corpus scale: DECIMAL-exact
    // sampled moment aggregation, driver-side deterministic Jacobi
    // eigensolve, then projection as k literal array-local dots (a
    // narrow map — vectors never move). DYNAMIC oracle like ann_ivf_topk:
    // the run stashes the components and the generated DuckDB query
    // re-projects with the same literal folds
    ("embedding_pca",
      (s: SparkSession, d: String) => {
        val (model, proj) = graft.similarity.Pca.pca(
          s.read.parquet(s"$d/embeddings.parquet"), k = 4, trainStride = 2)
        graft.similarity.Pca.lastPcaModel = Some(model)
        proj
      },
      None),

    // the spectrum report gating the projection + aggregation math: per
    // component, exact-integer-micro empirical mean/variance of the
    // full-corpus projection beside the model's eigenvalue and
    // explained-variance share (PcaSpec pins variance == eigenvalue at
    // trainStride = 1). Serves the PERSISTED model — training is
    // deterministic (DECIMAL moments + fixed-order Jacobi, spec-pinned
    // partitioning-independence), so re-training here would recompute
    // the identical component table at full moment-pass cost.
    // DEDICATED stash (one slot per entry)
    ("embedding_pca_variance",
      (s: SparkSession, d: String) => {
        val model = graft.similarity.Pca.readPcaModel(s, pcaModelDir(s, d))
        graft.similarity.Pca.lastPcaVarianceModel = Some(model)
        graft.similarity.Pca.pcaVariance(
          s.read.parquet(s"$d/embeddings.parquet"), model)
      },
      None),

    // embedding drift — the vector-space monitoring leg beside the
    // scalar PSI/KS pair: per (principal component, label group), PSI of
    // the group's projection distribution vs the pooled reference; a
    // shifted content mix or a new encoder version moves the
    // high-variance axes first, exactly where this looks. Serves the
    // PERSISTED components (a monitor must not retrain per delivery);
    // DEDICATED stash for its dynamic oracle
    ("drift_embedding",
      (s: SparkSession, d: String) => {
        val model = graft.similarity.Pca.readPcaModel(s, pcaModelDir(s, d))
        graft.similarity.Pca.lastDriftModel = Some(model)
        graft.similarity.Pca.driftEmbeddingPca(
          s.read.parquet(s"$d/embeddings.parquet"), model)
      },
      None),

    // the reduce-then-index decision table: exact original-space top-k
    // truth vs exact top-k in the PCA-reduced space (picks re-scored by
    // original cosine), one row of counts/recall/mean-cos gap — what
    // the projection COSTS in retrieval quality, run before committing
    // a component count at corpus scale (the ANN twin of
    // ann_recall_eval, which tunes the IVF geometry the same way).
    // Serves the persisted model; DEDICATED stash
    ("ann_pca_recall_eval",
      (s: SparkSession, d: String) => {
        val model = graft.similarity.Pca.readPcaModel(s, pcaModelDir(s, d))
        graft.similarity.Pca.lastPcaRecallModel = Some(model)
        graft.similarity.Pca.pcaRecallEval(
          s.read.parquet(s"$d/embeddings.parquet"), model, stride = 100, k = 5)
      },
      None),

    // serve-only PCA twin: components read back from the persisted model
    // and applied unchanged — the build-once/serve-many lifecycle every
    // trained model here follows; DEDICATED stash for its dynamic oracle
    ("embedding_pca_indexed",
      (s: SparkSession, d: String) => {
        val model = graft.similarity.Pca.readPcaModel(s, pcaModelDir(s, d))
        graft.similarity.Pca.lastPcaModelIndexed = Some(model)
        graft.similarity.Pca.pcaProject(
          s.read.parquet(s"$d/embeddings.parquet"), model)
      },
      None),

    ("ann_ivf_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.ivfTopK(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5, trainStride = 8),
      None),

    // the REPORT run before committing an IVF geometry (the ANN twin of
    // dedup_blocking_eval): brute-force truth vs the probed serve path,
    // one row of counts + recall + the mean-cos quality gap. DYNAMIC
    // oracle from a DEDICATED stash; a wider probes sweep of the same
    // report is what tunes (nCells, probes) before a 100 TB run
    ("ann_recall_eval",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.recallEval(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5,
          nCells = 16, iters = 2, probes = 2, trainStride = 8),
      None),

    // serve-only IVF twin: centroids read back from the persisted model
    // and applied unchanged; its dynamic oracle reads a DEDICATED stash
    // (lastIvfModelIndexed) so a future param drift in either twin can
    // never gate this query against the rebuild entry's model
    ("ann_ivf_indexed",
      (s: SparkSession, d: String) => {
        val model = graft.similarity.Ann.readIvfModel(s, ivfModelDir(s, d))
        graft.similarity.Ann.lastIvfModelIndexed = Some((model, 100, 5, 2))
        graft.similarity.Ann.ivfTopKWith(
          s.read.parquet(s"$d/embeddings.parquet"), model, stride = 100, k = 5)
      },
      None),

    // semantic curriculum ordering (in-context-pretraining layout):
    // cluster by trained IVF centroid, most-central-first within each
    // cluster, global contiguous position via the two-pass rank (no
    // single-partition window). DYNAMIC oracle like ann_ivf_topk: the
    // run stashes the centroid model (with driver-computed norms) and
    // oracleSql injects it as literals
    ("semantic_sort",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.semanticSort(
          s.read.parquet(s"$d/embeddings.parquet"), trainStride = 8),
      None),

    // diversity batching — the curriculum's complement: round-robin by
    // within-cluster rank so each batch SPREADS across clusters.
    // Within-cluster rank is a cid-PARTITIONED window (nCells
    // partitions, never global-over-data); chunk position is the
    // two-pass global rank. DYNAMIC centroid-injected oracle
    ("diverse_batches",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.diverseBatches(
          s.read.parquet(s"$d/embeddings.parquet"), batchSize = 8, trainStride = 8),
      None),

    // cluster-balanced corpus cap — the curation step between
    // SemDeDup's within-cluster dedup and D4's density pruning: at most
    // `cap` vectors kept per trained cluster (deterministic vec_id
    // order), so no single mode of the embedding distribution dominates
    // the training mix; cell_n rides along to show the cut. Assignment
    // is the narrow literal-model map; the only shuffle is the
    // cid-partitioned window. DYNAMIC centroid-injected oracle
    ("sample_cluster_cap",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.clusterCapSample(
          s.read.parquet(s"$d/embeddings.parquet"), cap = 20, trainStride = 8),
      None),

    // hard-negative mining for contrastive training: each query's top-k
    // most-similar candidates from a DIFFERENT trained cluster —
    // multi-probe sign-LSH candidates + literal-model cluster
    // assignment on both sides, cross-cluster filter inside the bucket
    // join. DYNAMIC centroid-injected oracle
    ("hard_negatives",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.hardNegatives(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5, trainStride = 8),
      None),

    // benchmark decontamination: training docs whose shingles are
    // contained in an eval-set doc (src0 plays the benchmark here)
    ("decontaminate",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.contamination(Collocations.documents(s, d),
          isBench = col("source") === "src0", minContainment = 0.3),
      Some(OracleSqlExt.decontaminateSql("source = 'src0'", 0.3))),

    // hot-gram diagnostic for the substring-anchor posting guard: the
    // top character k-grams by doc frequency — the boilerplate the
    // guard's loud failure points at; what an operator reads before
    // raising the bound or stripping the template
    ("substring_hot_grams",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.hotGrams(Collocations.documents(s, d), k = 24, topN = 20),
      Some(OracleSqlExt.hotGramsSql(24, 20))),

    // EXACT-substring decontamination (the Lee et al. shape): where the
    // shingle-containment check above is Jaccard-approximate, this
    // surfaces every verbatim >= 30-char leak of benchmark text into a
    // training document, with merged-span chars and the contaminated
    // fraction per flagged doc — the drop-vs-scrub release-gate table.
    // One cross-corpus anchor/extension pass, guard-bounded pair join.
    ("decontaminate_substring",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.decontaminateSubstring(Collocations.documents(s, d),
          isBench = col("source") === "src0", minLen = 30),
      Some(OracleSqlExt.decontaminateSubstringSql("source = 'src0'", 30))),

    // the rewrite step — scrub instead of drop: leaked benchmark spans
    // cut out of each training document (merged, so overlaps cut once),
    // training corpus back row-for-row; same single cross anchor/
    // extension pass, same row-local cut fold as scrub_substring_dups
    ("scrub_contaminated",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.scrubContaminated(Collocations.documents(s, d),
          isBench = col("source") === "src0", minLen = 30),
      Some(OracleSqlExt.scrubContaminatedSql("source = 'src0'", 30))),

    // serve twin: the benchmark side reads its PERSISTED anchor index
    // (anchored once at build, never re-hashed per run) — the static
    // half of the DeconStream gate; the SAME oracle as the direct path
    // proves serve-equals-rebuild
    ("decontaminate_substring_indexed",
      (s: SparkSession, d: String) => {
        val docs = Collocations.documents(s, d)
        graft.dedup.Dedup.decontaminateSubstringAgainst(
          docs.filter(col("source") =!= "src0"),
          s.read.parquet(s"${benchAnchorIndexDir(s, d)}/substring_anchors"),
          docs.filter(col("source") === "src0"), minLen = 30)
      },
      Some(OracleSqlExt.decontaminateSubstringSql("source = 'src0'", 30))),

    // the 100 TB form of the same check: a compact benchmark-shingle bloom
    // broadcasts into a narrow prefilter scan, so only plausible-overlap
    // docs pay for signatures + LSH + verification. Blooms have no false
    // negatives and exact containment removes false positives, so the
    // result is row-identical to `decontaminate` — gated by the SAME
    // exact oracle, which is the proof the prefilter is invisible.
    ("decontaminate_bloom",
      (s: SparkSession, d: String) =>
        graft.dedup.Dedup.contaminationBloom(Collocations.documents(s, d),
          isBench = col("source") === "src0", minContainment = 0.3,
          mBits = 1 << 17),
      Some(OracleSqlExt.decontaminateSql("source = 'src0'", 0.3))),

    // ---------------------------------------- composed pretrain flagship
    // the full cleanup ladder in ONE DAG — unicode canonicalization ->
    // C4 line rules -> cross-document boilerplate scrub -> keep-canonical
    // dedup -> exact-substring benchmark decontamination -> token-budget
    // sampling -> sequence packing; every stage a shipped primitive, the
    // derived dirty page makes every stage live on the gate corpus, and
    // the oracle mirrors the chain end to end
    ("pipeline_pretrain_corpus",
      (s: SparkSession, d: String) =>
        graft.pipelines.PretrainCorpus.pipeline(Collocations.documents(s, d)),
      Some(OracleSqlExt.pretrainCorpusSql("source = 'src0'", 3, 3, 10, 30,
        20000L, 4.0, 64, 2048L))),

    // its telemetry row: per-stage doc/char survival riding the single
    // packing action as observe nodes (the pipeline_counters machinery),
    // plus the two headline cuts — the release report a corpus owner reads
    ("pipeline_pretrain_report",
      (s: SparkSession, d: String) =>
        graft.pipelines.PretrainCorpus.report(Collocations.documents(s, d)),
      Some(OracleSqlExt.pretrainReportSql("source = 'src0'", 3, 3, 10, 30,
        20000L, 4.0, 64, 2048L))),

    // the v2 ladder: PII scrub + the TRAINED quality-classifier gate
    // composed between the scrubs and dedup (benchmark docs bypass the
    // gate — they are the decon reference set). DYNAMIC oracle like the
    // classifier queries: running the query stashes the trained weights
    // + threshold and oracleSql injects them as literals
    ("pipeline_pretrain_corpus_v2",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.pipeline(Collocations.documents(s, d), Some((w, thr)))
      },
      None),

    // its telemetry row: the v1 report plus post-PII chars, post-gate
    // docs/chars, and the quality-cut headline
    ("pipeline_pretrain_report_v2",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.report(Collocations.documents(s, d), Some((w, thr)))
      },
      None),

    // the v3 (MULTIMODAL) ladder: perceptual image keep-canonical
    // composed between the quality gate and text dedup — re-encoded/
    // re-hosted image payloads collapse to one page (guarded star+rep
    // pair graph + exact closure, the dedup_image_phash machinery)
    // before text dedup pays its shuffles. Same dynamic-oracle contract
    // as v2; the oracle mirrors fingerprint, guarded pairs, and closure
    // over the post-gate text verbatim.
    ("pipeline_pretrain_corpus_v3",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.pipeline(Collocations.documents(s, d), Some((w, thr)),
          Seq(Modality.Image))
      },
      None),

    // its telemetry row: the v2 report plus post-image-dedup docs/chars
    // and the image-cut headline
    ("pipeline_pretrain_report_v3",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.report(Collocations.documents(s, d), Some((w, thr)),
          Seq(Modality.Image))
      },
      None),

    // the v4 (FULL-MULTIMODAL) ladder: AUDIO and VIDEO keep-canonical
    // cascaded after the image stage, so the ladder dedups every
    // perceptual modality the ingest gate audits — a corpus BUILT by v4
    // and then POLICED by pipeline_ingest_gate applies one dedup
    // standard (the r17 asymmetry, closed). Each stage fingerprints only
    // the previous stage's survivors (never re-decoding collapsed docs);
    // same dynamic-oracle contract as v2/v3.
    ("pipeline_pretrain_corpus_v4",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.pipeline(Collocations.documents(s, d), Some((w, thr)),
          Modality.all)
      },
      None),

    // its telemetry row: the v3 report plus post-audio and post-video
    // docs/chars and the two modality-cut headlines
    ("pipeline_pretrain_report_v4",
      (s: SparkSession, d: String) => {
        val (w, thr) = pretrainGate(s, d)
        graft.pipelines.PretrainCorpus.report(Collocations.documents(s, d), Some((w, thr)),
          Modality.all)
      },
      None),

    // the ladder's GATE HALF as a per-arrival batch — the batch twin of
    // graft.streaming.PretrainStream's continuous deployment: odd-half
    // non-benchmark "arriving" pages run the row-local cleaning chain
    // (NFC -> C4 -> persisted-boilerplate line filter -> PII, the
    // ladder's stage order with the corpus-df stage index-served), then
    // EIGHT independent index-served gates —
    // the trained quality classifier (literal weights), the substring
    // decontamination flag vs the persisted benchmark anchors, the
    // near-dup flag vs the even-half corpus' persisted minhash index,
    // the three MULTIMODAL near-dup flags (the arrival's image/
    // audio/video payloads fingerprint once and band-join the even-half
    // persisted fingerprint indexes; payloads ride the arrival's raw
    // record, untouched by the text-cleaning simulation), the SEMANTIC
    // decon flag (the arrival's embedding vs the persisted benchmark
    // centroid index), and the SEMANTIC dup flag (the same embedding vs
    // the persisted SemDeDup gate index's kept representatives — the
    // corpus-dup complement) — plus the lang-ID agreement gate — ONE
    // audit row per arrival with every modality's verdict and the
    // composed keep. DYNAMIC oracle: the run stashes (weights,
    // threshold, lang model, both centroid sets) and oracleSql mirrors
    // the clean chain + all gates from them (OracleSqlExt.ingestGateSql).
    ("pipeline_ingest_gate",
      (s: SparkSession, d: String) => {
        val dir = pretrainGateIndexDir(s, d)
        val w = qcWeights(s, d)
        // the language gate serves the PERSISTED lang-ID model (the same
        // publishSwap artifact text_langid_trained_indexed reads), the
        // semantic-decon gate serves the persisted benchmark centroid
        // index (the same artifact decontaminate_semantic_indexed
        // reads), and the semantic-dup gate serves the persisted
        // SemDeDup gate index (the same artifact
        // dedup_semantic_stream_gate reads)
        val lm = graft.text.LangIdClassifier.readModel(s, langIdModelDir(s, d))
        val semDir = semanticDeconIndexDir(s, d)
        val semCents = graft.similarity.Ann.readIvfModel(s, s"$semDir/centroids")
        val semGateDir = semanticGateIndexDir(s, d)
        val semDupCents = graft.similarity.Ann.readIvfModel(s, s"$semGateDir/centroids")
        graft.streaming.PretrainStream.lastIngestGate =
          Some((w, pretrainGateThreshold, lm, semCents, 0.4, semDupCents, 0.4))
        val raw = Collocations.documents(s, d)
          .filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
        val arrivals = raw.select(col("doc_id"), col("source"), col("lang"),
          graft.pipelines.PretrainCorpus.dirtyPageV2.as("text"))
        // the arrival's embedding side rides its record (vec_id = doc_id;
        // an arrival with no embedding row simply audits sem_decon_flag=0)
        val arrEmb = s.read.parquet(s"$d/embeddings.parquet")
          .join(raw.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        graft.streaming.PretrainStream.gateBatch(arrivals,
          raw.select("doc_id", "text"), w, pretrainGateThreshold, lm,
          s.read.parquet(s"$dir/boilerplate"),
          s.read.parquet(s"$dir/anchors"), s.read.parquet(s"$dir/bench"),
          s.read.parquet(s"$dir/dedup/minhash_buckets"),
          s.read.parquet(s"$dir/dedup/shingle_sets"),
          m => s.read.parquet(s"${fpIndexDir(s, d, m, evenHalf = true)}/${m.bandedTable}"),
          arrEmb, s.read.parquet(s"$semDir/bench"), semCents,
          s.read.parquet(s"$semGateDir/kept"), semDupCents)
      },
      None),

    // ---------------------------------------- composed training-data clean
    ("pipeline_clean_corpus",
      (s: SparkSession, d: String) =>
        graft.pipelines.CleanCorpus.clean(Collocations.documents(s, d), minQuality = 0.80),
      Some(OracleSqlExt.cleanCorpusSql(0.80))),

    ("ann_multiprobe_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.multiProbeTopK(
          s.read.parquet(s"$d/embeddings.parquet"), stride = 100, k = 5, bits = 6),
      Some(OracleSqlExt.annMultiProbeSql(100, 5, 6))),

    // all-pairs form: every vector's k nearest — query side is the
    // corpus itself, so this is the one ANN entry whose join properly
    // SHUFFLES both sides (bucket-keyed), not a broadcast/literal model.
    // The DEFAULT is the salted rewrite: the plain bucket join's hot-bucket
    // hazard is measured (ScaleProbe m=20: plain 72.3 s vs salted 24.4 s on
    // skew-concentrated sign buckets) and unbounded in skew, so the entry a
    // user reaches for by name must be the skew-safe one.
    ("knn_join",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.knnJoinSalted(
          s.read.parquet(s"$d/embeddings.parquet"), k = 5, bits = 6, salts = 8),
      Some(OracleSqlExt.knnJoinSql(5, 6))),

    // the unsalted pedagogical baseline twin (same role ann_cosine_topk
    // plays for the bucketed ANN forms), gated against the SAME oracle —
    // the salting above must be invisible in the result
    ("knn_join_plain",
      (s: SparkSession, d: String) =>
        graft.similarity.Ann.knnJoin(
          s.read.parquet(s"$d/embeddings.parquet"), k = 5, bits = 6),
      Some(OracleSqlExt.knnJoinSql(5, 6))),

    // PQ/ADC: codebooks trained on the vec_id % 4 sample, full corpus
    // encoded to 4 code ids by a shuffle-free map, probes score via
    // driver-precomputed lookup tables. DYNAMIC oracle like ann_ivf_topk:
    // encode + ADC given the trained codebooks is SQL-expressible, so
    // running the query stashes the model and oracleSql injects it
    // (OracleSqlExt.annPqSql); recall vs brute force pinned in PqSpec.
    ("ann_pq_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Pq.pqTopK(
          s.read.parquet(s"$d/embeddings.parquet"),
          m = 4, codes = 8, iters = 2, stride = 100, k = 5, trainStride = 4),
      None),

    // OPQ composition — the production reduce-then-quantize pattern:
    // PCA-rotate/reduce to 16 dims, then PQ in the reduced space (codes
    // shrink with the subvector width, and the rotation decorrelates
    // the subspaces the independent codebooks quantize). DYNAMIC oracle
    // from a DEDICATED stash: projection + encode + ADC given both
    // trained halves is SQL-expressible (OracleSqlExt.annOpqSql)
    ("ann_opq_topk",
      (s: SparkSession, d: String) =>
        graft.similarity.Pq.opqTopK(
          s.read.parquet(s"$d/embeddings.parquet"),
          kDim = 16, m = 4, codes = 8, iters = 2, stride = 100, k = 5, trainStride = 4),
      None),

    // the quantizer decision table: plain-PQ and OPQ recall side by side
    // against brute-force truth, picks re-scored by original cosine —
    // the measure-before-commit report read before choosing the 100 TB
    // index (the ann_pca_recall_eval pattern, two methods in one table).
    // DYNAMIC oracle from its own stash (both models injected)
    ("ann_quant_recall_eval",
      (s: SparkSession, d: String) =>
        graft.similarity.Pq.quantRecallEval(
          s.read.parquet(s"$d/embeddings.parquet"),
          kDim = 16, m = 4, codes = 8, iters = 2, stride = 100, k = 5, trainStride = 4),
      None),

    // custom Catalyst Expressions surfaced through SQL: GraftFunctions
    // registers graft_dot / graft_rolling_hash into the session's function
    // registry (GraftExtensions does the same via spark.sql.extensions for
    // cluster deployments), so plain SQL reaches the codegen'd operators
    ("sql_custom_function",
      (s: SparkSession, d: String) => {
        graft.functions.GraftFunctions.register(s)
        s.read.parquet(s"$d/embeddings.parquet").createOrReplaceTempView("embeddings")
        s.sql("""SELECT vec_id,
                |       round(graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)), 6) AS sq_norm
                |FROM embeddings""".stripMargin)
      },
      Some(s"""SELECT vec_id, round(${OracleSqlExt.dotSql("v", "v")}, 6) AS sq_norm
              |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin)),

    // ---------------------------------------- correlated scalar subquery
    ("scalar_subquery",
      (s: SparkSession, d: String) => {
        s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("orders")
        s.read.parquet(s"$d/lineitem.parquet").createOrReplaceTempView("lineitem")
        s.sql(SparkEntry.scalarSubqueryQuery)
      },
      Some(SparkEntry.scalarSubqueryQuery)),

    // ========================================================= multimodal
    // real container decode: payloads are binary PPM (P6) images built
    // from each doc; the mapPartitions parser extracts header fields +
    // pixel checksum from the BYTES, and the oracle re-derives them from
    // the generator's inputs — parity proves the encode→parse round trip
    ("multimodal_decode",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.decodePpm(Collocations.documents(s, d)).toDF(),
      Some(OracleSqlExt.ppmDecodeSql)),

    // second real container format through the same mapPartitions batch
    // shape: canonical RIFF/WAVE header (little-endian fields) + 8-bit
    // PCM, parsed back from the BYTES
    ("multimodal_wav",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.decodeWav(Collocations.documents(s, d)).toDF(),
      Some(OracleSqlExt.wavDecodeSql)),

    ("multimodal_frames",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.sampleFrames(Collocations.documents(s, d), nFrames = 8, frameLen = 16),
      Some(OracleSqlExt.framesSql(8, 16))),

    ("multimodal_resize",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.resize(Collocations.documents(s, d), target = 32),
      Some(OracleSqlExt.resizeSql(32))),

    // the REAL pixel form: decode the P6 payload bytes, nearest-neighbor
    // resample the pixel plane to 3x2, emit byte-sum + rolling-hash of
    // the resized plane — the oracle re-derives everything from the
    // generator's inputs, proving encode -> binary -> parse -> resample
    ("multimodal_resize_px",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.resizePpm(Collocations.documents(s, d),
          targetW = 3, targetH = 2).toDF(),
      Some(OracleSqlExt.resizePpmSql(3, 2))),

    // real frame sampling over the decoded plane: evenly-spaced pixel
    // ROWS (the video-frame analog), one row per (doc, frame)
    ("multimodal_frames_px",
      (s: SparkSession, d: String) =>
        graft.multimodal.Multimodal.sampleFramesPpm(Collocations.documents(s, d),
          nFrames = 2).toDF(),
      Some(OracleSqlExt.framesPpmSql(2))),

    // --------------------------------- as-of join (operator Spark lacks)
    ("asof_join",
      (s: SparkSession, d: String) => {
        val ev0 = graft.events.Events.events(s, d)
        val ev = ev0.withColumn("ts_us", graft.events.Events.tsMicros(ev0))
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts_us")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("p_ts"), col("event_id").as("p_event"))
        graft.ops.AsOfJoin.asofLastBefore(errors, purchases, Seq("user_id"),
          "ts_us", "p_ts", Map("p_ts" -> "last_purchase_ts", "p_event" -> "last_purchase_event"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            coalesce(col("last_purchase_ts"), lit(-1L)).as("last_purchase_ts"),
            coalesce(col("last_purchase_event"), lit(-1L)).as("last_purchase_event"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
             |err AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
             |pur AS (SELECT event_id AS p_event, user_id, ts_us AS p_ts FROM ev WHERE event_type = 'purchase')
             |SELECT err.event_id, err.user_id, err.ts_us,
             |       COALESCE(pur.p_ts, -1) AS last_purchase_ts, COALESCE(pur.p_event, -1) AS last_purchase_event
             |FROM err ASOF LEFT JOIN pur ON err.user_id = pur.user_id AND err.ts_us >= pur.p_ts""".stripMargin)),

    // ------------------------------------- interval (range) join
    // errors joined to the same user's purchases in the preceding hour:
    // an equi-join on user_id whose range predicate filters inside the
    // join — the only scale-safe shape for a range join (the time bound
    // never becomes a cross product; the equi key carries the shuffle).
    ("interval_join",
      (s: SparkSession, d: String) => {
        val ev0 = graft.events.Events.events(s, d)
        val ev = ev0.withColumn("ts_us", graft.events.Events.tsMicros(ev0))
        // both sides derive from the same `ev` plan, the classic self-join
        // ambiguity trap (`errors("user_id") === purchases("user_id")` can
        // resolve trivially-true under refactoring) — explicit aliases make
        // every join/group column qualified and the hazard structurally
        // impossible
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts_us")).alias("e")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("p_ts")).alias("p")
        val hourUs = 3600L * 1000 * 1000
        errors.join(purchases,
            col("e.user_id") === col("p.user_id") &&
              col("p.p_ts") <= col("e.ts_us") && col("p.p_ts") > col("e.ts_us") - hourUs,
            "left")
          .groupBy(col("e.user_id").as("user_id"), col("e.event_id").as("event_id"),
            col("e.ts_us").as("ts_us"))
          .agg(count(col("p.p_ts")).as("purchases_last_hour"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
             |err AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
             |pur AS (SELECT user_id, ts_us AS p_ts FROM ev WHERE event_type = 'purchase')
             |SELECT err.user_id, err.event_id, err.ts_us,
             |       CAST(count(pur.p_ts) AS BIGINT) AS purchases_last_hour
             |FROM err LEFT JOIN pur
             |  ON err.user_id = pur.user_id
             | AND pur.p_ts <= err.ts_us AND pur.p_ts > err.ts_us - 3600000000
             |GROUP BY err.user_id, err.event_id, err.ts_us""".stripMargin)),

    // ============================================================ events
    ("events_hourly",
      (s: SparkSession, d: String) =>
        graft.events.Events.hourlyByType(graft.events.Events.events(s, d)),
      Some(OracleSqlExt.hourlySql)),

    // resampling: the sparse hourly series densified onto each type's
    // full hour grid, zeros for missing buckets — grid generation is
    // per-type metadata (bounds of the already-aggregated table)
    ("events_gapfill",
      (s: SparkSession, d: String) =>
        graft.events.Events.hourlyGapFill(graft.events.Events.events(s, d)),
      Some(OracleSqlExt.hourlyGapFillSql)),

    // trailing-window volume anomaly monitor over the gap-filled hourly
    // series: integer frame sums keep the baseline bit-identical across
    // engines; the variance floors at 1 event^2, so a flat baseline
    // scores z = 0 and a spike over it still flags
    ("events_anomaly",
      (s: SparkSession, d: String) =>
        graft.events.Events.hourlyAnomaly(graft.events.Events.events(s, d)),
      Some(OracleSqlExt.hourlyAnomalySql(24, 12, 3.0))),

    // empirical event-type Markov transition matrix (path analysis):
    // user-partitioned lead window, then a |types|^2-bounded count
    ("events_transitions",
      (s: SparkSession, d: String) =>
        graft.events.Events.transitions(graft.events.Events.events(s, d)),
      Some(OracleSqlExt.transitionsSql)),

    // day-cohort retention grid: per cohort day, the share of its users
    // active again k days later (offset 0 pins 1.0 by construction)
    ("events_retention",
      (s: SparkSession, d: String) =>
        graft.events.Events.retention(graft.events.Events.events(s, d)),
      Some(OracleSqlExt.retentionSql(86400000000L, 7))),

    // step-ordered conversion funnel (first-touch, strictly-after within
    // a 1h window): chained user-keyed min-aggregations, report rows are
    // single-row aggregates with the step-1 total broadcast-attached
    ("events_funnel",
      (s: SparkSession, d: String) =>
        graft.events.Events.funnel(
          graft.events.Events.events(s, d), Seq("signup", "click", "purchase")),
      Some(OracleSqlExt.funnelSql(Seq("signup", "click", "purchase"), 3600000000L))),

    ("sessionize",
      (s: SparkSession, d: String) =>
        graft.events.Events.sessionize(graft.events.Events.events(s, d), gapMinutes = 30),
      Some(OracleSqlExt.sessionizeSql(30))),

    ("events_sliding",
      (s: SparkSession, d: String) =>
        graft.events.Events.slidingByType(graft.events.Events.events(s, d)),
      Some("""WITH ev AS (SELECT event_type, value, epoch_us(ts) AS ts_us FROM events),
             |w AS (
             |  SELECT event_type, value,
             |         ((ts_us // 1800000000) - i) * 1800000000 AS w_start
             |  FROM ev, (SELECT unnest(range(0, 2)) AS i)
             |)
             |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM w WHERE w_start >= 0 GROUP BY w_start, event_type""".stripMargin))
  )

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Collocations.topCollocations(Collocations.documents(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q, _) => n -> q }.toMap

  /** Static oracle SQL from the registry, plus the DYNAMIC ann_ivf_topk
    * / ann_pq_topk entries: their oracles embed the trained models, which
    * only exist after the queries have executed. Verify runs every query
    * before dumping this map, and training is deterministic, so the
    * stashed model is exactly the one the dumped parquet used; if the
    * query never ran (or failed) the entry is simply absent → rows-only
    * gate. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap ++
      OracleSqlExt.annIvfSqlFromLastModel.map("ann_ivf_topk" -> _) ++
      OracleSqlExt.annIvfSqlFromIndexedModel.map("ann_ivf_indexed" -> _) ++
      OracleSqlExt.annRecallEvalSqlFromModel.map("ann_recall_eval" -> _) ++
      OracleSqlExt.annPqSqlFromLastModel.map("ann_pq_topk" -> _) ++
      OracleSqlExt.annOpqSqlFromLastModel.map("ann_opq_topk" -> _) ++
      OracleSqlExt.annQuantRecallEvalSqlFromModel.map("ann_quant_recall_eval" -> _) ++
      OracleSqlExt.semanticDedupSqlFromLastModel.map("dedup_semantic" -> _) ++
      OracleSqlExt.semanticDedupSqlFromIndexedModel.map("dedup_semantic_indexed" -> _) ++
      OracleSqlExt.semanticGateSqlFromLastModel.map("dedup_semantic_stream_gate" -> _) ++
      OracleSqlExt.semanticDeconSqlFromLastModel.map("decontaminate_semantic" -> _) ++
      OracleSqlExt.semanticDeconSqlFromIndexedModel.map("decontaminate_semantic_indexed" -> _) ++
      OracleSqlExt.scrubSemanticDeconSqlFromLastModel.map("scrub_semantic_contaminated" -> _) ++
      OracleSqlExt.ingestGateSqlFromLastGate.map("pipeline_ingest_gate" -> _) ++
      OracleSqlExt.langIdTrainedSqlFromLastModel.map("text_langid_trained" -> _) ++
      OracleSqlExt.langIdTrainedSqlFromIndexedModel.map("text_langid_trained_indexed" -> _) ++
      OracleSqlExt.langIdTrainedConfusionSqlFromLastModel.map("text_langid_trained_eval" -> _) ++
      OracleSqlExt.clusterCapSampleSqlFromLastModel.map("sample_cluster_cap" -> _) ++
      OracleSqlExt.semanticSortSqlFromLastModel.map("semantic_sort" -> _) ++
      OracleSqlExt.diverseBatchesSqlFromLastModel.map("diverse_batches" -> _) ++
      OracleSqlExt.hardNegativesSqlFromLastModel.map("hard_negatives" -> _) ++
      OracleSqlExt.tokenizeBpeSqlFromLastModel.map("tokenize_bpe" -> _) ++
      OracleSqlExt.tokenizeBpeSqlFromIndexedModel.map("tokenize_bpe_indexed" -> _) ++
      OracleSqlExt.tokenizeBpePackSqlFromLastModel(256).map("pack_sequences_bpe" -> _) ++
      OracleSqlExt.tokenizeUnigramSqlFromLastModel(4).map("tokenize_unigram" -> _) ++
      OracleSqlExt.tokenizeUnigramSqlFromIndexedModel(4).map("tokenize_unigram_indexed" -> _) ++
      OracleSqlExt.tokenizerEvalSqlFromLastModels(4).map("tokenizer_eval" -> _) ++
      OracleSqlExt.qualityClassifierScoreSqlFromLastModel.map("quality_classifier_score" -> _) ++
      OracleSqlExt.qualityClassifierEvalSqlFromLastModel.map("quality_classifier_eval" -> _) ++
      OracleSqlExt.qualityClassifierAucSqlFromLastModel.map("quality_classifier_auc" -> _) ++
      OracleSqlExt.qualityClassifierCalibrationSqlFromLastModel.map("quality_classifier_calibration" -> _) ++
      OracleSqlExt.prototypicalitySqlFromLastModel.map("embedding_prototypicality" -> _) ++
      OracleSqlExt.pcaProjectSqlFromLastModel.map("embedding_pca" -> _) ++
      OracleSqlExt.pcaProjectSqlFromIndexedModel.map("embedding_pca_indexed" -> _) ++
      OracleSqlExt.pcaVarianceSqlFromLastModel.map("embedding_pca_variance" -> _) ++
      OracleSqlExt.driftEmbeddingSqlFromLastModel(10, 1e-4).map("drift_embedding" -> _) ++
      OracleSqlExt.pcaRecallEvalSqlFromModel(100, 5).map("ann_pca_recall_eval" -> _) ++
      OracleSqlExt.pretrainCorpusV2SqlFromLastGate.map("pipeline_pretrain_corpus_v2" -> _) ++
      OracleSqlExt.pretrainReportV2SqlFromLastGate.map("pipeline_pretrain_report_v2" -> _) ++
      OracleSqlExt.pretrainCorpusV3SqlFromLastGate.map("pipeline_pretrain_corpus_v3" -> _) ++
      OracleSqlExt.pretrainReportV3SqlFromLastGate.map("pipeline_pretrain_report_v3" -> _) ++
      OracleSqlExt.pretrainCorpusV4SqlFromLastGate.map("pipeline_pretrain_corpus_v4" -> _) ++
      OracleSqlExt.pretrainReportV4SqlFromLastGate.map("pipeline_pretrain_report_v4" -> _)
}
