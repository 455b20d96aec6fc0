package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.multimodal.Modality
import graft.pipelines.PretrainCorpus.{BpMinDf, BpMinLineChars, MinLen, MinLineWords}
import graft.text.{QualityClassifier, TextAnalysis, TextNormalize}

/** The pretrain ladder's GATE HALF deployed as a continuous ingest job —
  * what a production crawl runs on every arriving shard BEFORE the batch
  * ladder ([[graft.pipelines.PretrainCorpus]]) ever sees it:
  *
  *   1. the ROW-LOCAL cleaning chain (NFC canonicalization → C4 line
  *      rules → persisted-boilerplate line filter → PII scrub — one
  *      narrow projection plus one broadcast line list, zero shuffles);
  *   2. the TRAINED quality-classifier gate under the persisted weight
  *      row ([[QualityStream]]'s one-row-model contract);
  *   3. the exact-substring benchmark decontamination flag against the
  *      persisted anchor index ([[DeconStream]]'s contract);
  *   4. the near-duplicate flag against the persisted minhash index
  *      ([[Dedup.jaccardMatchesAgainst]] — arrivals fingerprint once,
  *      nothing indexed is re-shingled);
  *   5. one MULTIMODAL near-duplicate flag per [[Modality]] — the
  *      arrival's image/audio/video payloads fingerprint once (narrow
  *      maps) and band-join their persisted fingerprint indexes
  *      ([[MultimodalDedupStream]]'s gate algebra), so one audit row
  *      carries every modality's verdict;
  *   6. the SEMANTIC decontamination flag against the persisted
  *      benchmark centroid index ([[SemanticDeconStream]]'s algebra —
  *      the arrival's precomputed embedding assigns to cells as a
  *      narrow literal-centroid map and joins only its cell's benchmark
  *      vectors; a record shipping no embedding audits 0);
  *   7. the SEMANTIC near-duplicate flag against the persisted SemDeDup
  *      ingest-gate index ([[SemanticDedupStream]]'s algebra — the same
  *      embedding assigns under the gate index's centroids and joins
  *      only its cell's KEPT corpus representatives; the corpus-dup
  *      complement of gate 6's benchmark-decon check).
  *
  * The CORPUS-GLOBAL ladder stages split by their serve shape: the
  * boilerplate stage's document frequencies are computed BATCH-SIDE at
  * index build and the gate only applies the published line table (a
  * per-shard gate cannot see corpus df — and without this filter every
  * arrival would decon-flag on the shared banner lines the batch ladder
  * strips before its own decon stage); keep-canonical dedup's pair
  * graph and the token budget's global allocation stay in the periodic
  * batch rebuild outright. The gate's job is the per-arrival
  * admit/reject decision and its audit row.
  *
  * Per-batch atomic via foreachBatch; replayed batches overwrite their
  * own `ingest_batch` partition (the [[DedupStream]] idempotence
  * contract). Index and model directories are re-read per micro-batch so
  * a [[graft.sources.Sinks.publishSwap]] refresh never kills the query. */
object PretrainStream {

  /** Last (weights, threshold, lang-ID model, semantic-decon centroids,
    * semantic-decon minCos, SemDeDup gate centroids, SemDeDup minCos)
    * the batch gate twin ran with, stashed for its dynamic oracle (the
    * [[graft.pipelines.PretrainCorpus.lastGate]] pattern). The second
    * centroid model is the persisted SemDeDup ingest-gate index's — the
    * oracle re-derives its kept representatives from the centroids, so
    * the centroids are the whole model. */
  @volatile var lastIngestGate:
    Option[(Seq[Double], Double, graft.text.LangIdClassifier.LangIdModel,
            Seq[(Int, Array[Double])], Double,
            Seq[(Int, Array[Double])], Double)] = None

  /** NFC canonicalization + C4 line rules — the row-local prefix shared
    * by the index build and serving (one narrow projection). `keep`
    * names extra input columns to carry through (the gate rides the
    * arrival's declared `lang` through the chain this way — a column
    * dropped here would need a doc_id join-back later). */
  def nfcC4(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: col("source") +: keep.map(col) :+
      array_join(
        TextAnalysis.c4KeptLines(
          split(TextNormalize.normalizeText(col("text")), "\n"), MinLineWords),
        "\n").as("text"): _*)

  /** Boilerplate-line filter over a post-C4 relation — the ladder's
    * corpus-global boilerplate stage served from its PERSISTED line
    * table (the batch side computes document frequencies; the gate only
    * APPLIES the published list — a per-shard gate cannot see corpus
    * df, and this is exactly how it gets the stage anyway). The line
    * table collapses to one broadcast array row, so the filter stays a
    * narrow map; matching is on the TRIMMED form, kept lines pass
    * byte-identical (the scrubBoilerplateLines contract). */
  def applyBoilerplate(postC4: DataFrame, blLines: DataFrame,
                       keep: Seq[String] = Nil): DataFrame = {
    val bl = blLines.agg(collect_list(col("line")).as("bl"))
    postC4.crossJoin(broadcast(bl))
      .select(col("doc_id") +: col("source") +: keep.map(col) :+
        array_join(
          filter(split(col("text"), "\n"),
            x => !array_contains(col("bl"), trim(x))),
          "\n").as("text"): _*)
  }

  /** The PII scrub step (row-local). */
  def piiClean(df: DataFrame, keep: Seq[String] = Nil): DataFrame =
    df.select(col("doc_id") +: col("source") +: keep.map(col) :+
      TextAnalysis.scrub(col("text")).as("text"): _*)

  /** One micro-batch's gate decisions — one row PER ARRIVAL:
    * (doc_id, source, score, quality_pass, decon_flag, dup_flag,
    * dup_match_id, dup_jaccard, image_dup_flag, image_match_id,
    * image_hamming, audio_dup_flag, audio_match_id, audio_hamming,
    * video_dup_flag, video_match_id, video_hamming, sem_decon_flag,
    * sem_match_id, sem_cos, sem_dup_flag, sem_dup_match_id,
    * sem_dup_cos, lang_pred, lang_ok, keep) with keep = passes quality
    * AND not contaminated (lexically OR semantically) AND not a
    * near-dup of the indexed corpus in ANY modality — lexical,
    * image/audio/video perceptual, or SEMANTIC (the SemDeDup gate:
    * the arrival's embedding vs the persisted kept representatives) —
    * AND the trained lang-ID prediction agrees with the arrival's
    * declared `lang` (the CCNet-shaped language admit rule; `batch`
    * must carry a `lang` column next to doc_id/source/text). Flags are
    * computed independently (an audit row reports every gate's
    * verdict, not just the first rejection).
    *
    * `payloads` is the arrivals' MULTIMODAL payload side — (doc_id,
    * text) rows whose text is the byte source the image/audio/video
    * fingerprints decode (a real crawl record carries its payloads as
    * binary columns NEXT TO the page html; the text-cleaning chain
    * never touches them, so they are a separate input, not a stage of
    * the clean chain). Each modality fingerprints the arrivals once
    * (narrow map) and band-joins its persisted fingerprint index
    * ([[MultimodalDedupStream]]'s gate algebra — the composed audit is
    * per-arrival flag columns over the same match reports).
    *
    * The decon flag checks the PRE-PII text deliberately: the scrub
    * replaces unique identifiers with shared tokens (`<EMAIL>`/`<NUM>`),
    * which MANUFACTURES verbatim ≥minLen overlaps between unrelated
    * documents that both merely contained contact lines — measured on
    * the gate fixture: 88/250 arrivals false-flag on the scrubbed
    * contact-line suffix vs the 10 true leak plants. The batch ladder
    * is immune (its decon stage CUTS spans, so a manufactured span just
    * loses a scrub token), but an admit/reject gate must not reject on
    * a scrub artifact. Quality and the dup check stay on the post-PII
    * text — the representation the ladder's own gate and dedup stages
    * read. THE SAME algebra as the batch registry query
    * (`pipeline_ingest_gate`), so stream and batch cannot drift.
    * `fpIdx` gives each [[Modality]]'s PRE-BANDED persisted index (the
    * [[graft.dedup.Dedup.writeFingerprintIndex]] `<table>_banded`
    * artifact); the audit row carries one `<modality>_dup_flag` /
    * `_match_id` / `_hamming` triple per [[Modality.all]] entry, the same
    * list the full-multimodal ladder dedups, so the corpus BUILDER and the
    * corpus POLICE cannot drift apart.
    *
    * Returns a persisted (shard-sized) frame; caller unpersists. */
  def gateBatch(batch: DataFrame, payloads: DataFrame, w: Seq[Double], thr: Double,
                langModel: graft.text.LangIdClassifier.LangIdModel,
                blLines: DataFrame, benchAnchors: DataFrame, benchDocs: DataFrame,
                indexBuckets: DataFrame, indexSets: DataFrame,
                fpIdx: Modality => DataFrame,
                arrEmb: DataFrame, semBench: DataFrame,
                semCents: Seq[(Int, Array[Double])],
                semKept: DataFrame, semDupCents: Seq[(Int, Array[Double])],
                anchorK: Int = 24, anchorW: Int = 7,
                k: Int = 3, numHashes: Int = 16,
                bands: Int = 4, rowsPerBand: Int = 4,
                dupThreshold: Double = 0.5, maxHamming: Int = 3,
                semMinCos: Double = 0.4, semDupMinCos: Double = 0.4): DataFrame = {
    // the arrival's declared `lang` rides the clean chain (keep param) so
    // the language gate never join-backs a column the chain held
    val preScrub = applyBoilerplate(nfcC4(batch, keep = Seq("lang")),
        blLines, keep = Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cleaned = piiClean(preScrub, keep = Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Intermediates release in a finally so a failed (and later retried)
    // micro-batch never strands MEMORY_AND_DISK caches in a long-running
    // stream — each retry starts from a clean executor cache.
    var deconRep: DataFrame = null
    var dupRep: DataFrame = null
    try {
      val scored = QualityClassifier.scoreTextWith(cleaned, w)
        .select(col("doc_id"), col("source"), col("score"))
      // language gate (the CCNet-shaped admit rule): the TRAINED
      // lang-ID model scores the cleaned text in one narrow projection
      // (predictWith rides the declared label through — no join-back),
      // lang_ok = prediction agrees with the arrival's declared lang
      val langRep = graft.text.LangIdClassifier
        .predictWith(cleaned, langModel, keep = Seq("lang"))
        .select(col("doc_id"), col("lang_pred"),
          // coalesce: a NULL declared lang must read as a 0/1 flag (the
          // audit-row contract and the oracle's CASE ... ELSE 0), never
          // propagate null into keep
          coalesce((col("lang_pred") === col("lang")).cast("int"), lit(0))
            .as("lang_ok"))
      deconRep = Dedup.decontaminateSubstringAgainst(
        preScrub.select("doc_id", "text"), benchAnchors, benchDocs, MinLen, anchorK, anchorW)
      dupRep = Dedup.jaccardMatchesAgainstBanded(
        cleaned.select("doc_id", "text"), indexBuckets, indexSets,
        k, numHashes, bands, rowsPerBand, dupThreshold)
      // modality gates: fingerprint the arrivals' payload side once each
      // (narrow maps), band-join the PRE-BANDED persisted indexes (the
      // `<table>_banded` artifacts — the index-side rep groupBy + hot-
      // bucket window were paid once at index build, not per batch) —
      // report-sized match frames, lazily composed, AQE broadcasts them
      // against the shard-sized audit
      val mmReps = Modality.all.map(m =>
        MultimodalDedupStream.gateBatchIndexed(m, payloads, fpIdx(m), maxHamming)
          .select(col("doc_id"), lit(1).as(s"${m.name}_dup_flag"),
            col("match_id").as(s"${m.name}_match_id"), col("hamming").as(s"${m.name}_hamming")))
      // SEMANTIC decontamination gate ([[SemanticDeconStream]]'s algebra
      // composed into the audit row): the arrival's embedding — `arrEmb`
      // is the record's (vec_id = doc_id, embedding) side, ridden the
      // same way `payloads` rides the binary columns — assigns to the
      // persisted benchmark index's cells as a narrow literal-centroid
      // map and joins ONLY its cell's benchmark vectors. An arrival that
      // carries no embedding row (or a zero-norm one) cannot match and
      // audits sem_decon_flag = 0 — the gate sees what the record ships.
      val semRep = graft.dedup.Dedup
        .semanticDeconMatches(arrEmb, semBench, semCents, semMinCos)
        .select(col("vec_id").as("doc_id"), lit(1).as("sem_decon_flag"),
          col("match_id").as("sem_match_id"), col("cos").as("sem_cos"))
      // SEMANTIC dedup gate ([[SemanticDedupStream]]'s algebra composed
      // next to the decon flag): the SAME embedding side assigns under
      // the persisted SemDeDup ingest-gate index's centroids and joins
      // ONLY its cell's KEPT corpus representatives — the corpus-dup
      // complement of the benchmark-decon check above, sharing its
      // no-embedding-audits-0 contract.
      val semDupRep = graft.dedup.Dedup
        .semanticMatchesAgainst(arrEmb, semKept, semDupCents, semDupMinCos)
        .select(col("vec_id").as("doc_id"), lit(1).as("sem_dup_flag"),
          col("match_id").as("sem_dup_match_id"), col("cos").as("sem_dup_cos"))
      val textFlags = scored
        .join(deconRep.select(col("doc_id")).distinct()
          .withColumn("decon_flag", lit(1)), Seq("doc_id"), "left")
        .join(dupRep.select(col("doc_id"), col("match_id").as("dup_match_id"),
            col("jaccard").as("dup_jaccard"))
          .withColumn("dup_flag", lit(1)), Seq("doc_id"), "left")
      val out = mmReps.foldLeft(textFlags)(_.join(_, Seq("doc_id"), "left"))
        .join(semRep, Seq("doc_id"), "left")
        .join(semDupRep, Seq("doc_id"), "left")
        .join(langRep, Seq("doc_id"))
        .select(Seq(col("doc_id"), col("source"), col("score"),
          when(col("score") >= thr, 1).otherwise(0).as("quality_pass"),
          coalesce(col("decon_flag"), lit(0)).as("decon_flag"),
          coalesce(col("dup_flag"), lit(0)).as("dup_flag"),
          col("dup_match_id"), col("dup_jaccard")) ++
          Modality.all.flatMap(m => Seq(
            coalesce(col(s"${m.name}_dup_flag"), lit(0)).as(s"${m.name}_dup_flag"),
            col(s"${m.name}_match_id"), col(s"${m.name}_hamming"))) ++
          Seq(coalesce(col("sem_decon_flag"), lit(0)).as("sem_decon_flag"),
            col("sem_match_id"), col("sem_cos"),
            coalesce(col("sem_dup_flag"), lit(0)).as("sem_dup_flag"),
            col("sem_dup_match_id"), col("sem_dup_cos"),
            col("lang_pred"), col("lang_ok")): _*)
        .withColumn("keep",
          (Seq(col("quality_pass") === 1, col("decon_flag") === 0, col("dup_flag") === 0) ++
            Modality.all.map(m => col(s"${m.name}_dup_flag") === 0) ++
            Seq(col("sem_decon_flag") === 0, col("sem_dup_flag") === 0, col("lang_ok") === 1))
            .reduce(_ && _).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try { out.count(); out }
      catch { case t: Throwable => out.unpersist(); throw t }
    } finally {
      if (deconRep != null) deconRep.unpersist()
      if (dupRep != null) dupRep.unpersist()
      cleaned.unpersist(); preScrub.unpersist()
    }
  }

  /** Build the full gate index under `dir` from the raw page table:
    * `/boilerplate` — trimmed post-C4 lines (≥ `BpMinLineChars` chars)
    * with per-doc-distinct df ≥ `BpMinDf` over the admitted corpus +
    * benchmark (the batch side owns the corpus-frequency computation;
    * the gate only applies the list); `/dedup` — minhash signatures,
    * the PRE-BANDED pre-capped bucket table (`minhash_buckets`, the
    * serve shape [[gateBatch]] band-joins — index-side explode + cap
    * paid at build) + shingle sets of the admitted corpus' POST-PII
    * pages (the representation the ladder's dedup stage reads); `/bench` +
    * `/anchors` — the benchmark's PRE-PII pages and their substring
    * anchors (see [[gateBatch]] on why decon reads pre-PII text).
    * Staged publish per table. */
  def writeGateIndex(pages: DataFrame, dir: String,
                     benchPred: org.apache.spark.sql.Column,
                     corpusPred: org.apache.spark.sql.Column,
                     anchorK: Int = 24, anchorW: Int = 7,
                     k: Int = 3, numHashes: Int = 16): Unit = {
    val base = nfcC4(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sources.Sinks.publishSwap(s"$dir/boilerplate") { staging =>
      base.filter(corpusPred || benchPred)
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("raw"))
        .select(col("doc_id"), trim(col("raw")).as("line"))
        .filter(length(col("line")) >= BpMinLineChars)
        .distinct()
        .groupBy("line").agg(count(lit(1)).as("df"))
        .filter(col("df") >= BpMinDf)
        .select("line")
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
    val spark = pages.sparkSession
    val bpF = applyBoilerplate(base, spark.read.parquet(s"$dir/boilerplate"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.writeDedupIndex(piiClean(bpF).filter(corpusPred), s"$dir/dedup", k, numHashes)
    val bench = bpF.filter(benchPred)
    graft.sources.Sinks.publishSwap(s"$dir/bench") { staging =>
      bench.write.mode("overwrite").parquet(staging)
    }
    graft.sources.Sinks.publishSwap(s"$dir/anchors") { staging =>
      Dedup.substringAnchors(bench, anchorK, anchorW)
        .write.mode("overwrite").parquet(staging)
    }
    bpF.unpersist()
    base.unpersist()
  }

  /** Schema of a multimodal arrival shard: the page columns
    * [[DedupStream]] streams plus `payload_text` — the byte source of
    * the record's image/audio/video payloads (a real crawl record
    * carries binary payload columns next to the page html) — and
    * `embedding`, the record's precomputed embedding vector (an
    * upstream encoder stamps it at crawl time; nullable — a record
    * without one simply audits sem_decon_flag = 0). */
  def readGateStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload_text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Start the gate over multimodal document shard drops
    * ([[readGateStream]]'s schema): per-arrival audit rows append
    * (idempotently) under `outDir`. `gateIndexDir` is the
    * [[graft.dedup.Dedup.writeDedupIndex]]-shaped corpus index under
    * `/dedup` plus the `/boilerplate` line table and the benchmark
    * `/anchors` + `/bench` tables; `modelDir` holds the classifier's
    * one-row weight table; `fpIdxDir` gives each [[Modality]]'s
    * persisted PRE-BANDED fingerprint table
    * ([[graft.dedup.Dedup.writeFingerprintIndex]]'s `.../<table>_banded`
    * — the serve shape whose index-side prep was paid at build);
    * `semIdxDir` is the
    * [[graft.dedup.Dedup.writeSemanticDeconIndex]] benchmark index
    * (`.../centroids` + `.../bench` — the same publishSwap artifact the
    * batch `decontaminate_semantic_indexed` serves); `semGateIdxDir`
    * is the [[graft.dedup.Dedup.writeSemanticGateIndex]] SemDeDup
    * index (`.../centroids` + `.../kept` — the same artifact the batch
    * `dedup_semantic_stream_gate` serves). All index/model reads
    * happen per micro-batch so a publishSwap refresh never kills the
    * query. */
  def gate(stream: DataFrame, modelDir: String, langModelDir: String, thr: Double,
           gateIndexDir: String, fpIdxDir: Modality => String,
           semIdxDir: String, semGateIdxDir: String,
           outDir: String, checkpoint: String,
           dupThreshold: Double = 0.5, maxHamming: Int = 3,
           semMinCos: Double = 0.4, semDupMinCos: Double = 0.4): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.readRetry(attempts = 2) {
          val s = batch.sparkSession
          // Weights read BY NAME — a schema evolution or column reorder
          // in the persisted model must fail loudly, never silently
          // misassign an ordinal to the wrong feature.
          val wRow = QualityStream.readModel(s, modelDir)
            .select("w0", "w1", "w2", "w3", "w4").collect()(0)
          val w = (0 until 5).map(wRow.getDouble)
          // lang-ID model re-read per micro-batch (the LangIdStream
          // contract): a publishSwap retrain refreshes serving mid-stream
          val lm = graft.text.LangIdClassifier.readModel(s, langModelDir)
          // semantic centroid models: tiny, re-read per micro-batch
          // (the SemanticDeconStream one-row-model contract)
          val semCents = graft.similarity.Ann.readIvfModel(s, s"$semIdxDir/centroids")
          val semDupCents = graft.similarity.Ann.readIvfModel(s, s"$semGateIdxDir/centroids")
          val o = gateBatch(batch,
            batch.select(col("doc_id"), col("payload_text").as("text")),
            w, thr, lm,
            s.read.parquet(s"$gateIndexDir/boilerplate"),
            s.read.parquet(s"$gateIndexDir/anchors"),
            s.read.parquet(s"$gateIndexDir/bench"),
            s.read.parquet(s"$gateIndexDir/dedup/minhash_buckets"),
            s.read.parquet(s"$gateIndexDir/dedup/shingle_sets"),
            m => s.read.parquet(fpIdxDir(m)),
            batch.select(col("doc_id").as("vec_id"), col("embedding")),
            s.read.parquet(s"$semIdxDir/bench"), semCents,
            s.read.parquet(s"$semGateIdxDir/kept"), semDupCents,
            dupThreshold = dupThreshold,
            maxHamming = maxHamming, semMinCos = semMinCos,
            semDupMinCos = semDupMinCos)
          // finally-release: a failed write attempt must not strand the
          // gate frame's cache into the retry.
          try {
            o.withColumn("ingest_batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch")
              .parquet(outDir)
          } finally o.unpersist()
          ()
        }
      }
      .start()

  /** The accumulated gate audit log (partition column dropped —
    * consumers see the exact batch-query schema). */
  def auditLog(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("ingest_batch")
}
