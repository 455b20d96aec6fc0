package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.dedup.Dedup
import graft.multimodal.Modality
import graft.text.{TextAnalysis, TextNormalize}

/** The composed pretraining-corpus flagship — ONE lazy DAG running the
  * full cleanup ladder a 100 TB pretraining corpus actually gets, in the
  * order the stages depend on each other:
  *
  *   1. Unicode canonicalization ([[TextNormalize.normalizeText]] — NFC
  *      first, because every later stage keys on text bytes);
  *   2. C4 line rules (row-local structural line cuts);
  *   3. cross-document boilerplate-line scrub (corpus-frequency cuts the
  *      LOCAL rules can't see — and a prerequisite for dedup: shared
  *      banners would otherwise glue unrelated documents into one LSH
  *      component);
  *   4. keep-canonical near-dup dedup (transitive-closure-exact, min-id
  *      survivor — meaningful only AFTER the scrubs, which is the point
  *      of composing);
  *   5. exact-substring benchmark decontamination scrub (benchmark docs
  *      leave the training corpus here; leaked verbatim spans are cut
  *      from the survivors);
  *   6. token-budget sampling (α-mix allocation, deterministic
  *      content-ordered whole-document prefixes per source);
  *   7. sequence packing (greedy offset bins over the FINAL text).
  *
  * Every stage is a shipped primitive operator; this file only wires
  * them. Per-stage telemetry rides the single final action as `observe`
  * nodes (the pipeline_counters machinery — zero extra corpus passes):
  * documents and characters surviving each stage, the numbers a corpus
  * owner reads per release.
  *
  * The input page is derived deterministically from existing columns
  * (the pageText/messyText pattern — testdata documents are single-line
  * unique ASCII, so the dirt each stage exists to remove is planted
  * reproducibly, and every stage is LIVE on the gate corpus): a
  * corpus-wide banner (survives C4, dies at boilerplate), a per-source
  * nav line (dies at C4), the real body with a decomposed-accent NFC
  * probe and a terminal period (survives the scrubs), an exact-dup pair
  * body for doc_id % 50 ∈ {7, 8} (pair df = 2 stays under the
  * boilerplate threshold, so the pair reaches dedup intact), a
  * uniquely-prefixed benchmark leak line for doc_id % 50 == 11 and for
  * every benchmark doc (unique trimmed line survives boilerplate; the
  * shared ≥ 30-char sentence is exactly what decontamination cuts), and
  * a doc_id-gated footer (df = n/3, dies at boilerplate). Mirrored
  * verbatim by the oracle's `pp` CTE.
  */
object PretrainCorpus {

  /** The verbatim benchmark sentence planted on both sides of the
    * decontamination boundary (68 chars ≥ the [[MinLen]] contract). */
  val LeakSentence = "this exact benchmark passage leaked verbatim into the training corpus"

  // The ladder's fixed settings — the literal arguments of the oracle's
  // `pretrainCorpusSql`/`pretrainReportSql` mirror; the ingest gate
  // (graft.streaming.PretrainStream) cleans with the same values.
  /** Benchmark documents: the decontamination reference set. */
  val BenchPred: Column = col("source") === "src0"
  /** C4 keeps a line only with at least this many words. */
  val MinLineWords = 3
  /** A trimmed line is boilerplate when this many documents carry it... */
  val BpMinDf = 3L
  /** ...and it is at least this many characters long. */
  val BpMinLineChars = 10
  /** Shortest verbatim benchmark span decontamination cuts. */
  val MinLen = 30
  /** Packing window, in characters. */
  val WindowSize = 2048L

  /** Last (weights, threshold) the v2 gate ran with, stashed for the
    * dynamic oracle (the [[graft.text.QualityClassifier.lastWeights]]
    * pattern: training isn't SQL-mirrorable, gating given the model is). */
  @volatile var lastGate: Option[(Seq[Double], Double)] = None

  /** The derived dirty page (requires doc_id, source, text in scope). */
  private[graft] def dirtyPage: Column = {
    val pairId = (floor(col("doc_id") / lit(50)) * 50).cast("long")
    val body = concat(
      when(pmod(col("doc_id"), lit(50)).isin(7, 8),
        concat(lit("duplicate payload "), pairId.cast("string"),
          lit(" quick brown fox jumps tonight")))
        .otherwise(col("text")),
      // DECOMPOSED e + combining acute: stage 1 composes it
      lit(" cafe\u0301."))
    concat_ws("\n",
      lit("Subscribe to our newsletter today!"),
      concat(lit("Navigation for "), col("source"), lit(": home | about | contact")),
      body,
      when(pmod(col("doc_id"), lit(50)) === 11 || col("source") === "src0",
        concat(lit("Ref "), col("doc_id").cast("string"), lit(": "),
          lit(LeakSentence), lit(".")))
        .otherwise(lit(null).cast("string")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("(c) Example Site - all rights reserved."))
        .otherwise(lit(null).cast("string")))
  }

  /** The v2 dirty page — [[dirtyPage]] with two changes that make the
    * quality + PII stages composable without destabilizing the later
    * plants: every planted doc_id is LETTERS-encoded (translate digits →
    * a-j), because the PII stage's `[0-9]{3,}` rule would otherwise
    * rewrite all ≥ 3-digit pair bodies to one corpus-wide "duplicate
    * payload <NUM> …" mega-cluster (whose LSH bucket the engine caps at
    * [[graft.dedup.Dedup.MaxLshBucketSize]] but the oracle's closure does
    * not — a scale-dependent parity landmine) and collapse the leak
    * lines' unique prefixes; and a planted per-doc PII line (email +
    * phone digits, doc_id % 3 == 1, never on the exact-dup pair docs so
    * the pair stays byte-identical) makes the scrub LIVE on the gate
    * corpus while remaining unique per document after scrubbing (the
    * letters token). Mirrored verbatim by the v2 oracle's `pp` CTE. */
  private[graft] def dirtyPageV2: Column = {
    val pairId = (floor(col("doc_id") / lit(50)) * 50).cast("long")
    val idLetters = translate(col("doc_id").cast("string"), "0123456789", "abcdefghij")
    val pairLetters = translate(pairId.cast("string"), "0123456789", "abcdefghij")
    val body = concat(
      when(pmod(col("doc_id"), lit(50)).isin(7, 8),
        concat(lit("duplicate payload "), pairLetters,
          lit(" quick brown fox jumps tonight")))
        .otherwise(col("text")),
      // DECOMPOSED e + combining acute: stage 1 composes it (the v1 NFC probe)
      lit(" cafe\u0301."))
    concat_ws("\n",
      lit("Subscribe to our newsletter today!"),
      concat(lit("Navigation for "), col("source"), lit(": home | about | contact")),
      body,
      when(!pmod(col("doc_id"), lit(50)).isin(7, 8) && pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("Contact u"), idLetters, lit(" at user"), col("doc_id").cast("string"),
          lit("@example.com or call 555"), col("doc_id").cast("string"), lit("0 now.")))
        .otherwise(lit(null).cast("string")),
      when(pmod(col("doc_id"), lit(50)) === 11 || col("source") === "src0",
        concat(lit("Ref "), idLetters, lit(": "),
          lit(LeakSentence), lit(".")))
        .otherwise(lit(null).cast("string")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("(c) Example Site - all rights reserved."))
        .otherwise(lit(null).cast("string")))
  }

  /** The staged chain plus its per-stage observations. */
  private case class Staged(packed: DataFrame, obs: Seq[(String, Observation)])

  /** One ladder run's stage-checkpoint ledger. Each stage cut is an
    * eager localCheckpoint whose cached blocks `clearCache()` can NOT
    * release (raw RDD persist, not a cacheManager entry), so every cut
    * captures the checkpoint's internal RDD off the `LogicalRDD` node
    * and releases the PREDECESSOR's — by the time cut N+1 has
    * materialized, cut N has been fully consumed (the ladder is a linear
    * chain; eager side-builders like the pair graphs also read only the
    * previous cut). Without this, every pipeline execution pinned ~7
    * checkpoint RDDs in executor storage until GC-driven ContextCleaner
    * cleanup — unbounded across a long-lived session (guide §5), and the
    * DedupSpec no-leaked-caches contract caught it in r20. Same release
    * discipline as Dedup.connectedComponents' cutLabels/releaseCk. */
  private final class CkLedger {
    private var prev: org.apache.spark.rdd.RDD[_] = null
    def supersede(next: org.apache.spark.rdd.RDD[_]): Unit = {
      if (prev != null) { prev.unpersist(blocking = false); () }
      prev = next
    }
  }

  /** Runs one stage's eager work under the job description
    * `pretrain: <stage>` (the label the UI and event log show), restoring
    * the thread's previous description on every exit path. */
  private def labelled[T](df: DataFrame, stage: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pretrain: $stage")
    try body finally sc.setJobDescription(prev)
  }

  private def cut(df: DataFrame, stage: String, led: CkLedger): DataFrame =
    labelled(df, stage) {
      // a checkpoint whose job fails is already registered as persisted
      // but never returned, so it is found (and released) by the unique
      // call site its RDD is created under
      val sc = df.sparkSession.sparkContext
      val site = s"pretrain checkpoint $stage ${java.util.UUID.randomUUID()}"
      val prevSite = sc.getLocalProperty("callSite.short")
      sc.setCallSite(site)
      val out = try df.localCheckpoint()
        catch { case t: Throwable =>
          sc.getPersistentRDDs.values.filter(_.toString.endsWith(s" at $site"))
            .foreach(_.unpersist(blocking = false))
          throw t
        } finally sc.setLocalProperty("callSite.short", prevSite)
      led.supersede(out.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        case _ => null
      })
      out
    }

  /** The FINAL stage cut: the returned frame outlives build() (the
    * caller runs the packing action), so a raw checkpoint RDD here would
    * be unreleasable. A cacheManager-tracked persist + eager count gives
    * the same lineage/analysis cut (downstream plans read the
    * InMemoryRelation, not the staged chain) while the per-query
    * `clearCache()` that Verify/Bench already run releases it. The count
    * also releases the last pending stage checkpoint: this cut's
    * materialization was its final consumer. A failed count releases the
    * persist before rethrowing. */
  private def cutFinal(df: DataFrame, stage: String, led: CkLedger): DataFrame =
    labelled(df, stage) {
      val out = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try out.count()
      catch { case t: Throwable => out.unpersist(); throw t }
      led.supersede(null)
      out
    }

  private def obsOn(df: DataFrame, name: String, metrics: Column*): (DataFrame, Observation) =
    graft.ops.Metrics.observed(df, name, metrics: _*)

  private def build(docs: DataFrame, gate: Option[(Seq[Double], Double)],
                    modalities: Seq[Modality], budgetTokens: Long): Staged = {
    val led = new CkLedger
    // a failing stage releases the last stage checkpoint still pending
    try buildWith(led, docs, gate, modalities, budgetTokens)
    catch { case t: Throwable => led.supersede(null); throw t }
  }

  private def buildWith(led: CkLedger, docs: DataFrame, gate: Option[(Seq[Double], Double)],
                        modalities: Seq[Modality], budgetTokens: Long): Staged = {
    val (page, oPage) = obsOn(
      docs.select(col("doc_id"), col("source"),
        (if (gate.isDefined) dirtyPageV2 else dirtyPage).as("text")),
      "graft_pp_input", count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val (normed, oNfc) = obsOn(
      page.select(col("doc_id"), col("source"),
        TextNormalize.normalizeText(col("text")).as("text")),
      "graft_pp_nfc", sum(length(col("text"))).as("chars"))
    val (c4, oC4) = obsOn(
      normed.select(col("doc_id"), col("source"),
        array_join(TextAnalysis.c4KeptLines(split(col("text"), "\n"), MinLineWords), "\n")
          .as("text")),
      "graft_pp_c4", sum(length(col("text"))).as("chars"))
    // STAGE BOUNDARIES CUT LINEAGE (localCheckpoint = the local analog
    // of the write-shard/read-shard staging a production pipeline does
    // between stages): downstream stage functions reference their input
    // several times (dedup labels, the decon match/cut joins, the
    // budget's allocation + running sum), so without the cut the
    // ANALYZED plan size multiplies per stage and every downstream
    // action pays exponentially growing driver-side analysis — measured
    // at sf0.1: 10 s -> 33 s -> 127 s per successive action with plain
    // persist, 4-5 s total with the cuts. The eager checkpoint also
    // fires each stage's observe metrics exactly once.
    val c4p = cut(c4, "c4", led)
    val (bp, oBp) = obsOn(
      TextAnalysis.scrubBoilerplateLines(c4p.select("doc_id", "text"),
          minDf = BpMinDf, minLineChars = BpMinLineChars)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(c4p.select("doc_id", "source"), Seq("doc_id")),
      "graft_pp_bp", sum(length(col("text"))).as("chars"))
    val bpp = cut(bp, "bp", led)
    // OPTIONAL gate stages between the scrubs and dedup: PII scrub
    // (emails + long digit runs — row-local regex), then the TRAINED
    // quality classifier gate under literal weights (shuffle-free
    // scoring, the 100 TB apply path). Benchmark docs bypass the gate:
    // they are the decontamination REFERENCE set, not corpus members —
    // quality-filtering them away would silently disable the decon stage.
    val (gated, gateObs) = gate match {
      case None => (bpp, Seq.empty[(String, Observation)])
      case Some((w, thr)) =>
        val (pii, oPii) = obsOn(
          bpp.select(col("doc_id"), col("source"),
            TextAnalysis.scrub(col("text")).as("text")),
          "graft_pp_pii", sum(length(col("text"))).as("chars"))
        val piip = cut(pii, "pii", led)
        val (qg, oQg) = obsOn(
          graft.text.QualityClassifier.scoreTextWith(piip, w)
            .filter(BenchPred || col("score") >= lit(thr))
            .drop("score"),
          "graft_pp_quality", count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
        (cut(qg, "quality", led), Seq("pii" -> oPii, "quality" -> oQg))
    }
    // OPTIONAL perceptual keep-canonical stages between the quality gate
    // and TEXT dedup, one per modality, CASCADED: each stage fingerprints
    // only the previous stage's survivors (narrow partition-parallel
    // decode, zero shuffle — never paying a later modality's decode on a
    // document an earlier one already collapsed), near-duplicate payloads
    // pair through the guarded pigeonhole band join, and every connected
    // group keeps its min-id member. A real multimodal corpus dedups the
    // re-encoded/re-hosted payloads BEFORE paying text dedup's shuffles
    // on pages that only differ by wrapper. Closure over the guarded
    // star+representative pairs labels exactly the uncapped clique graph
    // (the bandedHammingPairs invariant), and the oracle mirrors pairs +
    // closure verbatim. With every modality the ladder dedups exactly the
    // set the ingest gate audits (PretrainStream.gateBatch), so the
    // ladder that BUILDS a corpus and the gate that POLICES it apply one
    // dedup standard.
    val (preDedup, mmObs) = modalities.foldLeft((gated, Seq.empty[(String, Observation)])) {
      case ((in, obs), m) =>
        val pairs = Dedup.fingerprintPairsFrom(m, m.fingerprints(in))
        try {
          val comps = Dedup.hammingComponents(pairs)
          try {
            val (kept, o) = obsOn(
              in.join(comps.filter(col("component") =!= col("doc_id")).select("doc_id"),
                Seq("doc_id"), "left_anti"),
              s"graft_pp_${m.name}", count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
            // the eager checkpoint materializes the survivors, so the pair
            // graph's and label table's builder-owned caches release here
            (cut(kept, m.name, led), obs :+ (m.name -> o))
          } finally comps.unpersist()
        } finally pairs.unpersist()
    }
    val (deduped, oDed) = obsOn(
      preDedup.join(Dedup.keepCanonical(preDedup.select("doc_id", "text")).select("doc_id"),
        Seq("doc_id")),
      "graft_pp_dedup", count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val dedp = cut(deduped, "dedup", led)
    val (decon, oDec) = obsOn(
      Dedup.scrubContaminated(dedp, BenchPred, MinLen)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(dedp.select("doc_id", "source"), Seq("doc_id")),
      "graft_pp_decon", count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val dcp = cut(decon, "decon", led)
    val (sampled, oSmp) = obsOn(
      TextAnalysis.sampleTokenBudget(dcp, budgetTokens),
      "graft_pp_sample", count(lit(1)).as("n"), sum(col("doc_tokens")).as("tokens"))
    val kept = dcp.join(sampled.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val keptCut = cutFinal(kept, "sample", led)
    val (packed, oPk) = obsOn(
      Packing.packSequences(keptCut.select("doc_id", "n_chars"), WindowSize)
        .join(keptCut.select("doc_id", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("bin")),
      "graft_pp_packed", max(col("bin")).as("max_bin"))
    Staged(packed, Seq("input" -> oPage, "nfc" -> oNfc, "c4" -> oC4,
      "bp" -> oBp) ++ gateObs ++ mmObs ++ Seq("dedup" -> oDed,
      "decon" -> oDec, "sample" -> oSmp, "packed" -> oPk))
  }

  /** The end-to-end corpus: (doc_id, source, n_chars, bin) — the packed
    * training sequences of the fully cleaned, decontaminated, sampled
    * corpus. The ladder's rungs:
    *
    *  - `gate = None`: NFC → C4 → boilerplate → dedup → decon → sample →
    *    pack over [[dirtyPage]];
    *  - `gate = Some((weights, threshold))`: over [[dirtyPageV2]], with
    *    the PII scrub and the TRAINED quality-classifier gate (literal
    *    weights, threshold on the round-6 score) composed between the
    *    boilerplate scrub and dedup — the order a production cleanup runs
    *    them: scrub PII before anything persists downstream artifacts,
    *    gate quality before paying for dedup's shuffles on documents
    *    that won't ship;
    *  - `modalities`: one perceptual keep-canonical stage per
    *    [[Modality]], cascaded in the given order between the gate and
    *    text dedup ([[Modality.all]] dedups every modality the ingest
    *    gate audits).
    *
    * Same output shape on every rung. */
  def pipeline(docs: DataFrame, gate: Option[(Seq[Double], Double)] = None,
               modalities: Seq[Modality] = Nil,
               budgetTokens: Long = 20000L): DataFrame =
    build(docs, gate, modalities, budgetTokens).packed

  /** Run [[pipeline]] once and return the per-stage telemetry as ONE
    * report row — every count an `observe` riding the single packing
    * action (the composed twin of `pipeline_counters`). Columns follow
    * the stages the ladder ran: document and character survival per
    * stage (`n_docs`, `chars_raw`, `chars_nfc`, `chars_c4`, `chars_bp`,
    * then with a gate `chars_pii`, `docs_quality`, `chars_quality`, then
    * `docs_<m>`/`chars_<m>` per modality, then dedup, decon, sample and
    * `n_bins`), then the headline cuts: `scrub_char_cut` and one
    * `<stage>_doc_cut` per document-cutting stage, each read against the
    * previous such stage's survivors — its actual input. */
  def report(docs: DataFrame, gate: Option[(Seq[Double], Double)] = None,
             modalities: Seq[Modality] = Nil,
             budgetTokens: Long = 20000L): DataFrame = {
    val st = build(docs, gate, modalities, budgetTokens)
    st.packed.count()
    val m = st.obs.toMap
    def g(stage: String, key: String): Long = {
      val v = m(stage).get(key)
      if (v == null) 0L else v.asInstanceOf[Number].longValue
    }
    // `max_bin` over an EMPTY packed output observes null — that means 0
    // bins, not bin 0 + 1: null-coercing through g() would fabricate
    // n_bins = 1 on a corpus where every document died before packing
    val nBins = {
      val v = m("packed").get("max_bin")
      if (v == null) 0L else v.asInstanceOf[Number].longValue + 1
    }
    // the document-cutting stages before text dedup, in ladder order
    val docStages = (if (gate.isDefined) Seq("quality") else Nil) ++ modalities.map(_.name)
    val counts: Seq[(String, Long)] =
      Seq("n_docs" -> g("input", "n"), "chars_raw" -> g("input", "chars"),
        "chars_nfc" -> g("nfc", "chars"), "chars_c4" -> g("c4", "chars"),
        "chars_bp" -> g("bp", "chars")) ++
      (if (gate.isDefined) Seq("chars_pii" -> g("pii", "chars")) else Nil) ++
      docStages.flatMap(s => Seq(s"docs_$s" -> g(s, "n"), s"chars_$s" -> g(s, "chars"))) ++
      Seq("docs_dedup" -> g("dedup", "n"), "chars_dedup" -> g("dedup", "chars"),
        "docs_decon" -> g("decon", "n"), "chars_decon" -> g("decon", "chars"),
        "docs_sampled" -> g("sample", "n"), "tokens_sampled" -> g("sample", "tokens"),
        "n_bins" -> nBins)
    // ratio denominators guard the degenerate empty-input case
    // explicitly (NULL, mirrored by the oracle's CASE) rather than
    // relying on either engine's divide-by-zero convention
    def cutOf(name: String, survivors: String, input: String): Column =
      when(col(input) > 0,
        round(lit(1.0) - col(survivors).cast("double") / col(input), 6))
        .otherwise(lit(null).cast("double")).as(name)
    val cutStages = docStages :+ "dedup"
    val cutInputs = "n_docs" +: docStages.map(s => s"docs_$s")
    val row = docs.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(counts.map(_._2))),
      StructType(counts.map { case (n, _) => StructField(n, LongType, nullable = false) }))
    row.select(col("*") +: cutOf("scrub_char_cut", "chars_bp", "chars_raw") +:
      cutStages.zip(cutInputs).map { case (s, in) => cutOf(s"${s}_doc_cut", s"docs_$s", in) }: _*)
  }
}
