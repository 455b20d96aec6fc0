package graft

import org.apache.spark.sql.functions._
import graft.text.TextAnalysis
import graft.pipelines.Packing

class PipelineOpsSpec extends SparkSpec {

  test("pretrain pipeline: stage counts equal the standalone operators, plants fire") {
    import graft.pipelines.PretrainCorpus
    import graft.text.TextNormalize
    import graft.dedup.Dedup
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val rep = PretrainCorpus.report(docs).collect().head
    val r = rep.getValuesMap[Any](rep.schema.fieldNames)
    def L(k: String) = r(k).asInstanceOf[Long]

    // rebuild each stage STANDALONE and pin the composed counters to it
    val page = docs.select(col("doc_id"), col("source"), PretrainCorpus.dirtyPage.as("text"))
    assert(L("n_docs") == page.count())
    val rawChars = page.agg(sum(length(col("text")))).head.getLong(0)
    assert(L("chars_raw") == rawChars)
    // NFC composes exactly ONE decomposed accent per doc: chars_nfc is
    // chars_raw minus one char per document, exactly
    assert(L("chars_nfc") == rawChars - L("n_docs"))
    val normed = page.select(col("doc_id"), col("source"),
      TextNormalize.normalizeText(col("text")).as("text"))
    val c4 = TextAnalysis.scrubC4Lines(normed)
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(L("chars_c4") == c4.agg(sum(length(col("text")))).head.getLong(0))
    val srcOf = normed.select("doc_id", "source")
    val bp = TextAnalysis.scrubBoilerplateLines(c4, minDf = 3)
      .select(col("doc_id"), col("clean_text").as("text")).join(srcOf, Seq("doc_id"))
    assert(L("chars_bp") == bp.agg(sum(length(col("text")))).head.getLong(0))
    val ded = bp.join(Dedup.keepCanonical(bp.select("doc_id", "text")).select("doc_id"), Seq("doc_id"))
    assert(L("docs_dedup") == ded.count())
    val dc = Dedup.scrubContaminated(ded, col("source") === "src0", minLen = 30)
      .select(col("doc_id"), col("clean_text").as("text")).join(srcOf, Seq("doc_id"))
    assert(L("docs_decon") == dc.count())
    assert(L("chars_decon") == dc.agg(sum(length(col("text")))).head.getLong(0))
    val smp = TextAnalysis.sampleTokenBudget(dc, budgetTokens = 20000L)
    assert(L("docs_sampled") == smp.count())
    assert(L("tokens_sampled") == smp.agg(sum(col("doc_tokens"))).head.getLong(0))

    // the planted behaviors, on the pipeline output itself
    val out = PretrainCorpus.pipeline(docs).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // benchmark docs never reach the training output
    assert(!out.values.exists(_._1 == "src0"))
    // each planted dup pair keeps only its min id (7 survives, 8 never)
    assert(!out.contains(8L) && !out.contains(58L), "pair max ids must dedup away")
    // stage ladder is strictly live: every scrub removed characters
    assert(L("chars_c4") < L("chars_nfc") && L("chars_bp") < L("chars_c4"))
    assert(L("docs_dedup") < L("n_docs"))
    // decon cut the leaked sentence from surviving leak docs: a doc with
    // doc_id % 50 == 11 that survived everything is shorter than its
    // pre-decon form (the leak line lost its >= 30-char verbatim core)
    val preDecon = ded.filter(pmod(col("doc_id"), lit(50)) === 11)
      .select(col("doc_id"), length(col("text")).cast("long").as("n")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val cut = out.collect { case (id, (_, n, _)) if preDecon.contains(id) => (id, preDecon(id) - n) }
    assert(cut.nonEmpty && cut.forall(_._2 >= 30), s"leak spans must be cut: $cut")
    // packing: bins are contiguous from 0 and n_bins matches max+1
    val bins = out.values.map(_._3).toSet
    assert(bins.min == 0L && L("n_bins") == bins.max + 1)
  }

  test("pretrain v2: PII + trained gate compose between the scrubs and dedup, plants fire") {
    import graft.pipelines.PretrainCorpus
    import graft.text.{QualityClassifier, TextAnalysis}
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    // train the same model the registry gate uses (trainMod=4 slice)
    val feats = QualityClassifier.features(docs)
    val w = QualityClassifier.train(feats.filter(pmod(col("doc_id"), lit(4)) === 0))
    val thr = 0.28
    val rep = PretrainCorpus.report(docs, Some((w, thr))).collect().head
    val r = rep.getValuesMap[Any](rep.schema.fieldNames)
    def L(k: String) = r(k).asInstanceOf[Long]
    // the two inserted stages are LIVE: the PII scrub cut characters and
    // the gate cut documents, in order, between bp and dedup
    assert(L("chars_pii") < L("chars_bp"), s"PII scrub must be live: $r")
    assert(L("docs_quality") < L("n_docs") && L("docs_quality") > 0, s"gate must cut a tail: $r")
    // dedup stays LIVE after the gate (strictly fewer docs than its input)
    assert(L("docs_dedup") < L("docs_quality") && L("docs_decon") <= L("docs_dedup"))
    assert(L("n_bins") > 0 && L("docs_sampled") > 0)

    // plants survive the new stages: pair max ids dedup away (the min may
    // still be cut later by the token-budget sampler — v1 contract),
    // benchmark docs bypass the gate and never ship
    val out = PretrainCorpus.pipeline(docs, Some((w, thr))).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(!out.values.exists(_._1 == "src0"))
    assert(!out.contains(8L) && !out.contains(58L), "pair max ids must dedup away")

    // the PII stage semantics on the v2 page: a planted contact line
    // (doc_id % 3 == 1, non-pair) scrubs to <EMAIL>/<NUM> and stays
    // unique per doc via the letters token
    import spark.implicits._
    val probe = Seq((4L, "some body text here", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), TextAnalysis.scrub(PretrainCorpus.dirtyPageV2).as("t"))
      .collect().head.getString(1)
    assert(probe.contains("<EMAIL>") && probe.contains("<NUM>"), probe)
    assert(probe.contains("Contact ue at"), s"letters token must survive the scrub: $probe")
    assert(!probe.contains("user4@"), s"the raw email must be gone: $probe")
  }

  test("pretrain v3: image keep-canonical composes between the gate and text dedup, matches standalone") {
    import graft.pipelines.PretrainCorpus
    import graft.text.{QualityClassifier, TextAnalysis, TextNormalize}
    import graft.dedup.Dedup
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val feats = QualityClassifier.features(docs)
    val w = QualityClassifier.train(feats.filter(pmod(col("doc_id"), lit(4)) === 0))
    val thr = 0.28
    val rep = PretrainCorpus.report(docs, Some((w, thr)), Seq(graft.multimodal.Modality.Image)).collect().head
    val r = rep.getValuesMap[Any](rep.schema.fieldNames)
    def L(k: String) = r(k).asInstanceOf[Long]

    // rebuild the gate corpus standalone, then the image stage from the
    // SAME standalone machinery the dedup_image_phash query ships —
    // the composed counter must match exactly
    val page = docs.select(col("doc_id"), col("source"), PretrainCorpus.dirtyPageV2.as("text"))
    val normed = page.select(col("doc_id"), col("source"),
      TextNormalize.normalizeText(col("text")).as("text"))
    val srcOf = normed.select("doc_id", "source")
    val c4 = TextAnalysis.scrubC4Lines(normed)
      .select(col("doc_id"), col("clean_text").as("text"))
    val bp = TextAnalysis.scrubBoilerplateLines(c4, minDf = 3)
      .select(col("doc_id"), col("clean_text").as("text")).join(srcOf, Seq("doc_id"))
    val pii = bp.select(col("doc_id"), col("source"), TextAnalysis.scrub(col("text")).as("text"))
    val qg = QualityClassifier.scoreTextWith(pii, w)
      .filter(col("source") === "src0" || col("score") >= lit(thr)).drop("score")
    assert(L("docs_quality") == qg.count())
    val fps = graft.multimodal.Multimodal.imagePhash(qg).toDF()
      .filter(col("valid")).select(col("doc_id"), col("phash"))
    val pairs = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image, fps)
    val comps = Dedup.connectedComponents(pairs)
    val img = qg.join(comps.filter(col("component") =!= col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(L("docs_image") == img.count(),
      "composed image-stage count must equal the standalone pairs+components machinery")
    assert(L("chars_image") == img.agg(sum(length(col("text")))).head.getLong(0))
    pairs.unpersist(); comps.unpersist()
    // the stage is LIVE (planted same-dims duplicate-payload planes
    // collapse) and ordered: gate -> image -> text dedup, each cutting
    assert(L("docs_image") < L("docs_quality"), s"image stage must cut documents: $r")
    assert(L("docs_dedup") <= L("docs_image") && L("docs_dedup") > 0)
    assert(L("n_bins") > 0 && L("docs_sampled") > 0)
    // plants still fire downstream: benchmark docs never ship, pair max
    // ids never survive (image or text dedup removes them)
    val out = PretrainCorpus.pipeline(docs, Some((w, thr)), Seq(graft.multimodal.Modality.Image)).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(!out.values.exists(_._1 == "src0"))
    assert(!out.contains(8L) && !out.contains(58L), "pair max ids must dedup away")
  }

  test("pretrain v4: audio+video keep-canonical cascade after the image stage, same modality set as the gate") {
    import graft.pipelines.PretrainCorpus
    import graft.text.QualityClassifier
    import graft.dedup.Dedup
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val feats = QualityClassifier.features(docs)
    val w = QualityClassifier.train(feats.filter(pmod(col("doc_id"), lit(4)) === 0))
    val thr = 0.28
    val rep = PretrainCorpus.report(docs, Some((w, thr)), graft.multimodal.Modality.all).collect().head
    val r = rep.getValuesMap[Any](rep.schema.fieldNames)
    def L(k: String) = r(k).asInstanceOf[Long]

    // THE MODALITY-SET CONTRACT (the r17 asymmetry, pinned closed): the
    // v4 ladder dedups exactly the perceptual modalities the ingest gate
    // audits — one docs_<m>/chars_<m> stage pair per gate modality.
    // StreamingSpec pins the gate's audit schema to the same constant.
    val ladderMods = rep.schema.fieldNames.filter(_.startsWith("docs_"))
      .map(_.stripPrefix("docs_")).toSet --
      Set("quality", "dedup", "decon", "sampled")
    assert(ladderMods == graft.multimodal.Modality.all.map(_.name).toSet,
      s"v4 ladder stages $ladderMods must equal the gate's audited modalities")

    // rebuild the audio stage standalone from the v3 report's image
    // survivors: fingerprint ONLY image survivors (the cascade), pair
    // through the same guarded machinery, keep min-id per component
    val v3 = PretrainCorpus.report(docs, Some((w, thr)), Seq(graft.multimodal.Modality.Image)).collect().head
    assert(L("docs_image") == v3.getAs[Long]("docs_image") &&
      L("chars_image") == v3.getAs[Long]("chars_image"),
      "v4's image stage must be exactly v3's (audio/video compose AFTER it)")
    assert(L("docs_audio") <= L("docs_image"),
      s"audio cascades on image survivors: $r")
    assert(L("docs_video") <= L("docs_audio"),
      s"video cascades on audio survivors: $r")

    // rebuild audio and video standalone from the SAME standalone chain
    // the v3 spec proves (gate corpus -> image survivors), cascading the
    // dedup_audio/video_fingerprint machinery — the composed counters
    // must match exactly, modality by modality
    import graft.text.{QualityClassifier => QC, TextAnalysis, TextNormalize}
    val page = docs.select(col("doc_id"), col("source"), PretrainCorpus.dirtyPageV2.as("text"))
    val normed = page.select(col("doc_id"), col("source"),
      TextNormalize.normalizeText(col("text")).as("text"))
    val srcOf = normed.select("doc_id", "source")
    val c4 = TextAnalysis.scrubC4Lines(normed)
      .select(col("doc_id"), col("clean_text").as("text"))
    val bp = TextAnalysis.scrubBoilerplateLines(c4, minDf = 3)
      .select(col("doc_id"), col("clean_text").as("text")).join(srcOf, Seq("doc_id"))
    val pii = bp.select(col("doc_id"), col("source"), TextAnalysis.scrub(col("text")).as("text"))
    val qg = QC.scoreTextWith(pii, w)
      .filter(col("source") === "src0" || col("score") >= lit(thr)).drop("score")
    // release each stage checkpoint's internal RDD at test end — a bare
    // localCheckpoint is invisible to clearCache and would poison the
    // DedupSpec no-leaked-caches contract tests in the shared context
    val stageCks = scala.collection.mutable.ListBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def keepCanon(in: org.apache.spark.sql.DataFrame,
                  pairsOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val pairs = pairsOf(in)
      val comps = Dedup.connectedComponents(pairs)
      val out = in.join(comps.filter(col("component") =!= col("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_anti").localCheckpoint()
      out.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => stageCks += l.rdd
        case _ =>
      }
      pairs.unpersist(); comps.unpersist()
      out
    }
    val img = keepCanon(qg, in => Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image,
      graft.multimodal.Multimodal.imagePhash(in).toDF()
        .filter(col("valid")).select(col("doc_id"), col("phash"))))
    val aud = keepCanon(img, in => Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio,
      graft.multimodal.Multimodal.audioFingerprint(in).toDF()
        .filter(col("valid")).select(col("doc_id"), col("afp"))))
    assert(L("docs_audio") == aud.count(),
      "composed audio-stage count must equal the standalone pairs+components machinery")
    assert(L("chars_audio") == aud.agg(sum(length(col("text")))).head.getLong(0))
    val vid = keepCanon(aud, in => Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Video,
      graft.multimodal.Multimodal.videoFingerprint(in).toDF()
        .filter(col("valid")).select(col("doc_id"), col("vfp"))))
    assert(L("docs_video") == vid.count(),
      "composed video-stage count must equal the standalone pairs+components machinery")
    assert(L("chars_video") == vid.agg(sum(length(col("text")))).head.getLong(0))
    // the stages are LIVE on the planted fixture (same-payload planes
    // collapse in every modality) and the chain still ships a corpus
    assert(L("docs_audio") < L("docs_image"), s"audio stage must cut documents: $r")
    assert(L("docs_dedup") <= L("docs_video") && L("docs_dedup") > 0)
    assert(L("n_bins") > 0 && L("docs_sampled") > 0)
    // plants still fire downstream: benchmark docs never ship
    val out = PretrainCorpus.pipeline(docs, Some((w, thr)), graft.multimodal.Modality.all).collect()
    assert(out.nonEmpty && !out.exists(_.getString(1) == "src0"))
    stageCks.foreach(_.unpersist(blocking = false))
  }

  test("pretrain report: a corpus whose every doc dies pre-packing reports 0 bins") {
    import graft.pipelines.PretrainCorpus
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    // budgetTokens = 1 starves the sampler (every per-source allocation
    // is <= 1 token, below any document's own token count, so the
    // running-sum prefix admits nothing): every document survives the
    // scrubs but none reaches packing, so the packed max_bin observation
    // is null — which means 0 bins, never the fabricated 1 of null+1
    val rep = PretrainCorpus.report(docs, budgetTokens = 1L).collect().head
    val r = rep.getValuesMap[Any](rep.schema.fieldNames)
    assert(r("docs_sampled") == 0L && r("tokens_sampled") == 0L)
    assert(r("n_bins") == 0L, s"empty packed output must report 0 bins: $r")
    // the non-degenerate ratios still compute (chars_raw > 0 here)
    assert(r("scrub_char_cut") != null && r("dedup_doc_cut") != null)
    // and the pipeline output itself is empty, consistent with the report
    assert(PretrainCorpus.pipeline(docs, budgetTokens = 1L).count() == 0L)
  }

  test("pretrain report columns: every rung keeps its column order") {
    import graft.pipelines.PretrainCorpus
    import graft.multimodal.Modality
    // the column order is data-independent: a small slice and a fixed
    // zero-weight gate keep the four ladders cheap
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 120)
    val gate = Some((Seq(0.0, 0.0, 0.0, 0.0, 0.0), 0.0))
    def cols(df: org.apache.spark.sql.DataFrame): Seq[String] = df.schema.fieldNames.toSeq
    assert(cols(PretrainCorpus.report(docs)) == Seq("n_docs", "chars_raw", "chars_nfc",
      "chars_c4", "chars_bp", "docs_dedup", "chars_dedup", "docs_decon", "chars_decon",
      "docs_sampled", "tokens_sampled", "n_bins", "scrub_char_cut", "dedup_doc_cut"))
    assert(cols(PretrainCorpus.report(docs, gate)) == Seq("n_docs", "chars_raw", "chars_nfc",
      "chars_c4", "chars_bp", "chars_pii", "docs_quality", "chars_quality",
      "docs_dedup", "chars_dedup", "docs_decon", "chars_decon",
      "docs_sampled", "tokens_sampled", "n_bins", "scrub_char_cut", "quality_doc_cut",
      "dedup_doc_cut"))
    assert(cols(PretrainCorpus.report(docs, gate, Seq(Modality.Image))) == Seq("n_docs",
      "chars_raw", "chars_nfc", "chars_c4", "chars_bp", "chars_pii", "docs_quality",
      "chars_quality", "docs_image", "chars_image",
      "docs_dedup", "chars_dedup", "docs_decon", "chars_decon",
      "docs_sampled", "tokens_sampled", "n_bins", "scrub_char_cut", "quality_doc_cut",
      "image_doc_cut", "dedup_doc_cut"))
    assert(cols(PretrainCorpus.report(docs, gate, Modality.all)) == Seq("n_docs",
      "chars_raw", "chars_nfc", "chars_c4", "chars_bp", "chars_pii", "docs_quality",
      "chars_quality", "docs_image", "chars_image", "docs_audio", "chars_audio",
      "docs_video", "chars_video", "docs_dedup", "chars_dedup", "docs_decon", "chars_decon",
      "docs_sampled", "tokens_sampled", "n_bins", "scrub_char_cut", "quality_doc_cut",
      "image_doc_cut", "audio_doc_cut", "video_doc_cut", "dedup_doc_cut"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("pretrain ladder: a failing stage restores the job description and leaves no cache") {
    import graft.pipelines.PretrainCorpus
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
      .withColumn("text",
        when(col("doc_id") === 3, raise_error(lit("boom"))).otherwise(col("text")))
    intercept[Exception](PretrainCorpus.report(docs))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "the ladder's stage label must not outlive the failed run")
    assert(spark.sharedState.cacheManager.isEmpty, "a failed ladder left a cached table")
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"leaked caches: ${left.values.map(_.name)}")
  }

  test("url canonicalization: each rule on a hand-picked case") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase, www strip, default port drop, fragment drop
      ("HTTP://WWW.Example.COM:80/Path#frag", "http://example.com/Path"),
      // https default port
      ("https://Example.com:443/a", "https://example.com/a"),
      // NON-default port is addressing, stays
      ("https://example.com:80/a", "https://example.com:80/a"),
      ("http://example.com:8080/a", "http://example.com:8080/a"),
      // path case preserved; trailing slashes stripped; root -> empty
      ("http://example.com/CaseSensitive//", "http://example.com/CaseSensitive"),
      ("http://example.com/", "http://example.com"),
      // tracking params drop, the rest keep ORDER; empty query drops '?'
      ("http://example.com/p?utm_source=x&id=2&fbclid=z&b=1", "http://example.com/p?id=2&b=1"),
      ("http://example.com/p?utm_campaign=x&gclid=1&ref=home", "http://example.com/p"),
      ("http://example.com/p?z=1&a=2", "http://example.com/p?z=1&a=2"))
    val got = cases.toDF("url", "want")
      .select(col("want"), graft.ops.UrlOps.canonicalUrl(col("url")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"want ${r.getString(0)} got ${r.getString(1)}"))
    // domain key: lowercased host, www/port stripped
    val d = Seq(("HTTPS://WWW.Sub.Example.COM:8443/x?q=1", "")).toDF("url", "x")
      .select(graft.ops.UrlOps.urlDomain(col("url"))).head.getString(0)
    assert(d == "sub.example.com")
  }

  test("scrub redacts emails and digit runs, counts match") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact john.doe+spam@example.co.uk or call 5551234567"),
      (2L, "no pii here"),
      (3L, "ids 123 45 6789 and a@b.io")
    ).toDF("event_id", "props")
    val (ne, nn) = TextAnalysis.scrubCounts(col("props"))
    val out = rows.select(col("event_id"), TextAnalysis.scrub(col("props")).as("s"),
        ne.as("ne"), nn.as("nn"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("contact <EMAIL> or call <NUM>", 1L, 1L)))
    assert(out(2L) == (("no pii here", 0L, 0L)))
    assert(out(3L) == (("ids <NUM> 45 <NUM> and <EMAIL>", 1L, 2L)))
  }

  test("leakSafeSplit demotes split-spanning dup clusters to train, leaves clean docs alone") {
    import spark.implicits._
    import graft.pipelines.CleanCorpus
    // md5(doc_id) buckets: 4, 5, 12, 13 -> holdout (<10); 1, 2 -> train.
    // {1,4} is a dup cluster spanning the split; {12,13} sits entirely in
    // holdout; 2 and 5 are unique docs.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (12L, "colorless green ideas sleep furiously tonight again"),
      (13L, "colorless green ideas sleep furiously tonight again"),
      (2L, "entirely unrelated prose about distributed query engines"),
      (5L, "another standalone document concerning parquet file layouts")
    ).toDF("doc_id", "text")
    val out = CleanCorpus.leakSafeSplit(docs, holdoutPct = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(out.size == 6)
    assert(out(1L) == ((1L, "train", "train")))
    assert(out(4L) == ((1L, "holdout", "train"))) // demoted: cluster has a train member
    assert(out(12L) == ((12L, "holdout", "holdout"))) // all-holdout cluster leaks nothing
    assert(out(13L) == ((12L, "holdout", "holdout")))
    assert(out(2L) == ((2L, "train", "train")))
    assert(out(5L) == ((5L, "holdout", "holdout")))
    // the invariant the operator exists for: no final-holdout doc shares a
    // component with a final-train doc
    val byComp = out.values.groupBy(_._1).values
    assert(byComp.forall(g => g.map(_._3).toSet.size == 1 || !g.exists(_._3 == "holdout")))
  }

  test("corpus report counts docs, cardinalities, and exact-dup mass on planted facts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox", "en", "web"),
      (2L, "the quick brown fox", "en", "web"),   // exact dup of 1
      (3L, "the quick brown fox", "de", "web"),   // exact dup of 1 (lang differs, text equal)
      (4L, "something else entirely here", "en", "books"),
      (5L, "yet another unique document text", "fr", "web")
    ).map { case (i, t, l, s) => (i, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.pipelines.CorpusReport.report(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_sources") == 2L && r.getAs[Long]("n_langs") == 3L)
    assert(r.getAs[Long]("n_dup_docs") == 2L, s"3 copies of one text = 2 dup docs: $r")
    assert(r.getAs[Long]("total_chars") == docs.collect().map(_.getAs[Long]("n_chars")).sum)
    val (p25, p50, p75) = (r.getAs[Double]("p25_quality"),
      r.getAs[Double]("p50_quality"), r.getAs[Double]("p75_quality"))
    assert(p25 <= p50 && p50 <= p75 && p25 > 0 && p75 < 1, s"quartiles out of order: $r")
  }

  test("quantile quality gate keeps exactly the top tail, never splitting equal scores inconsistently") {
    import graft.collocations.Collocations
    val docs = Collocations.documents(spark, "/root/testdata/sf0.001")
    val kept = graft.text.TextAnalysis.qualityGate(docs, p = 0.75).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val all = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.text.TextAnalysis.quality(org.apache.spark.sql.functions.col("text"))
          .getField("quality").as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kept.nonEmpty && kept.size < all.size)
    // the gate is a clean cut: every kept score >= every dropped score
    val dropped = all.keySet -- kept.keySet
    val minKept = kept.values.min
    assert(dropped.forall(d => all(d) <= minKept))
    // and equal scores never straddle the cut (ties all land one side)
    assert(dropped.forall(d => all(d) < minKept || !kept.values.exists(_ == all(d))))
    // roughly the top quarter (ties can widen it)
    assert(kept.size >= all.size / 5 && kept.size <= all.size / 2)
  }

  test("repetitionNgrams array-local fold equals the explode+shuffle reference form") {
    // The shipped plan run-length-folds each doc's sorted gram array with
    // zero shuffles; this INDEPENDENT reference rebuilds every statistic
    // through the r17 explode + (doc_id, n, gram) count + per-doc
    // conditional-aggregate pipeline — the two must agree row-for-row,
    // including the count-then-longest-gram tie-break and gram-less docs.
    import graft.text.TextAnalysis
    import graft.ops.Normalize
    import spark.implicits._
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
      .unionByName(Seq((900001L, "src9", "en", "one"),
          (900002L, "src9", "en", ""),
          (900003L, "src9", "en", "a a a b b a a"))
        .toDF("doc_id", "source", "lang", "text"), allowMissingColumns = true)
    val tops = Seq(2, 3, 4); val dups = Seq(5, 8, 10)
    val ns = (tops ++ dups).distinct.sorted
    val t = docs.select(col("doc_id"), Normalize.tokensCol(col("text")).as("toks"))
    val gramsArr = ns.map { n =>
      when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => struct(lit(n).as("n"), array_join(slice(col("toks"), i, lit(n)), " ").as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    }
    val tc = t.select(col("doc_id"), col("toks"),
      aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).as("total_chars"))
    val g = tc.select(col("doc_id"), col("total_chars"),
        explode_outer(concat(gramsArr: _*)).as("g"))
      .select(col("doc_id"), col("total_chars"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n", "gram")
      .agg(count(col("gram")).as("c"), max(col("total_chars")).as("total_chars"))
      .withColumn("clen", (length(col("gram")) - (col("n") - 1)).cast("long"))
    val aggs =
      Seq(max(col("total_chars")).as("total_chars")) ++
      tops.map(n => max(when(col("n") === n,
        col("c") * lit(1000000000L) + col("clen"))).as(s"enc$n")) ++
      dups.map(n => sum(when(col("n") === n && col("c") > 1,
        col("c") * col("clen")).otherwise(lit(0L))).as(s"dup$n"))
    val per = g.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val refCols =
      Seq(col("doc_id"), col("total_chars")) ++
      tops.map { n =>
        round(when(col("total_chars") > 0 && col(s"enc$n").isNotNull,
          least((expr(s"enc$n div 1000000000") *
            (col(s"enc$n") % lit(1000000000L))).cast("double") / col("total_chars"), lit(1.0)))
          .otherwise(lit(0.0)), 6).as(s"top${n}_frac")
      } ++
      dups.map { n =>
        round(when(col("total_chars") > 0,
          least(coalesce(col(s"dup$n"), lit(0L)).cast("double") / col("total_chars"), lit(1.0)))
          .otherwise(lit(0.0)), 6).as(s"dup${n}_frac")
      }
    val reference = per.select(refCols: _*)
    val shipped = TextAnalysis.repetitionNgrams(docs, tops, dups)
    assert(shipped.exceptAll(reference).count() == 0 &&
      reference.exceptAll(shipped).count() == 0,
      "array-local fold must equal the explode+shuffle reference row-for-row")
  }

  test("repetition metrics: fully repeated doc scores low distinct ratio") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "six completely different tokens right here")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((6L, 1L, 0.166667, 1.0)))   // one token, one bigram everywhere
    assert(m(2L) == ((6L, 6L, 1.0, 0.2)))        // all distinct, every bigram unique (1/5)
  }

  test("packing fills windows in doc order and starts a new bin on overflow") {
    import spark.implicits._
    val docs = Seq((1L, 1000L), (2L, 900L), (3L, 300L), (4L, 2000L))
      .toDF("doc_id", "n_chars")
    val bins = Packing.packSequences(docs, windowSize = 2048).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // offsets: 0, 1000, 1900, 2200 -> bins 0,0,0,1
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  test("sharded packing bins independently per shard (the 100 TB form)") {
    import spark.implicits._
    val docs = Seq((1L, 1000L, "a"), (2L, 1900L, "a"), (3L, 1000L, "b"), (4L, 1900L, "b"))
      .toDF("doc_id", "n_chars", "shard")
    val bins = Packing.packSequences(docs, windowSize = 2048, shardCol = Some(col("shard")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // each shard restarts at offset 0: docs 2 and 4 overflow their own
    // shard's first window independently
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // shrink the window so the second doc of each shard overflows into bin 1
    val bins3 = Packing.packSequences(docs, windowSize = 512, shardCol = Some(col("shard")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bins3 == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("weighted sampling matches the A-ES closed form and favors heavy weights") {
    import graft.pipelines.Sampling
    import spark.implicits._
    // 200 light (w=1) + 200 heavy (w=10) docs: the k smallest Exp(w)
    // priorities must be dominated by the heavy group (P[Exp(10)<Exp(1)]
    // = 10/11 pairwise)
    val docs = Seq.tabulate(400)(i =>
      (i.toLong, if (i < 200) 1L else 10L)).toDF("doc_id", "n_chars")
    val top = Sampling.weightedSample(docs, weight = col("n_chars"), k = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(top.length == 100)
    val heavy = top.count(_._1 >= 200)
    assert(heavy >= 80, s"heavy-weight docs must dominate the sample: $heavy/100")
    // closed form for one row: u from the 28-bit md5 prefix of the id
    val (id, w, p) = top.head
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 7)
    val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / ((1L << 28) + 1.0)
    assert(math.abs(p - math.round(-math.log(u) / w * 1e9) / 1e9) < 1e-12,
      s"priority must match the md5 closed form for doc $id")
    // zero/negative weights carry no sampling mass
    val withZero = docs.withColumn("n_chars", when(col("doc_id") === 0L, 0L).otherwise(col("n_chars")))
    assert(!Sampling.weightedSample(withZero, col("n_chars"), k = 400)
      .collect().map(_.getLong(0)).contains(0L))
  }

  test("length-bucketed batching groups similar lengths and bounds padding waste") {
    import graft.pipelines.Sampling
    import spark.implicits._
    // lengths 1..12 in scrambled id order; batchSize 4 must yield batches
    // {1..4},{5..8},{9..12} regardless of ids
    val docs = Seq.tabulate(12) { i =>
      val len = 12 - i
      (i.toLong, Seq.fill(len)("tok").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val rows = Sampling.batchByLength(docs, batchSize = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 12)
    val byBatch = rows.groupBy(_._3).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byBatch == Map(0L -> Seq(1L, 2L, 3L, 4L), 1L -> Seq(5L, 6L, 7L, 8L),
      2L -> Seq(9L, 10L, 11L, 12L)), s"got $byBatch")
    // every batch's spread is tighter than the corpus spread — the point
    // of length bucketing (padding waste per batch <= 3 tokens/doc here)
    byBatch.values.foreach(ls => assert(ls.max - ls.min <= 3))
  }

  test("mix weights move an imbalanced corpus toward uniform") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, if (i < 20) "big" else "small", 100L))
      .toDF("doc_id", "source", "n_chars")
    val w = TextAnalysis.mixWeights(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    assert(w("big") == ((20L, 0.666667, 0.75)))
    assert(w("small") == ((10L, 0.333333, 1.5)))
  }

  test("corpus diff classifies added/removed/changed and drops unchanged") {
    import graft.pipelines.CorpusDiff
    import spark.implicits._
    val prev = Seq((1L, "same"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text")
    val cur  = Seq((1L, "same"), (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text")
    val d = CorpusDiff.diff(prev, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    val s = CorpusDiff.diffStats(prev, cur).collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) == ((1L, 1L, 1L, 1L)))
  }

  test("publishSwap recovers the last good model after a crash between its renames") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("graft-swap")
    val dir = root.resolve("model").toString
    def publish(v: String): Unit =
      graft.sources.Sinks.publishSwap(dir) { staging =>
        Files.createDirectories(Paths.get(staging))
        Files.writeString(Paths.get(staging, "part"), v)
      }
    def served: String = Files.readString(Paths.get(dir, "part"))
    publish("v1"); assert(served == "v1")
    publish("v2"); assert(served == "v2")
    assert(!Files.exists(Paths.get(dir + ".old")) &&
           !Files.exists(Paths.get(dir + ".staging")), "publish must clean up")
    // simulate a death between the two renames: target moved aside,
    // staging never moved in — `.old` holds the ONLY good model
    Files.move(Paths.get(dir), Paths.get(dir + ".old"), StandardCopyOption.ATOMIC_MOVE)
    // a next publish whose WRITE FAILS must not have destroyed that
    // fallback first: the serving path is restored before staging runs
    intercept[RuntimeException] {
      graft.sources.Sinks.publishSwap(dir) { _ => throw new RuntimeException("disk full") }
    }
    assert(served == "v2", "crash recovery must restore the last good model")
    // and a subsequent successful publish proceeds normally
    publish("v3"); assert(served == "v3")
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("corpus diff shuffles digests, not document bodies") {
    import graft.pipelines.CorpusDiff
    import spark.implicits._
    val prev = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val cur  = Seq((2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val plan = physicalPlan(CorpusDiff.diff(prev, cur))
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"), s"exchange carries text: $cols")
    }
  }
}
