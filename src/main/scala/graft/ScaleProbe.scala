package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility: measure how the flagship pipeline scales when the corpus
  * is multiplied in place (docs unioned m times with shifted ids) —
  * evidence that runtime grows ~linearly with corpus size, i.e. no hidden
  * quadratic join blowup. */
object ScaleProbe {
  /** m substitution-ciphered replicas of `base` with shifted doc_ids —
    * shared by the substring growth and geometry probes, so both measure
    * the SAME corpus construction (a fix to the cipher or the id offset
    * cannot silently diverge the two probes' cost comparisons). */
  private def cipheredReplicas(base: org.apache.spark.sql.DataFrame, m: Int) = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (0 until m).map { i =>
      val rot = alpha.drop(i % 26) + alpha.take(i % 26)
      base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), alpha, rot).as("text"), col("lang"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    // --lsh-only: run just the LSH dedup family section (the flagship /
    // clean-corpus / passage / ntile curves were recorded in earlier
    // rounds and are expensive to repeat)
    val (flags, nums) = args.partition(_.startsWith("--"))
    val known = Set("--lsh-only", "--index-only", "--pq-only", "--chunk-only",
      "--knn-only", "--knn-salted-only", "--contain-only", "--decon-only",
      "--lsh-skew-only", "--semantic-only", "--novelty-only", "--winnow-only",
      "--substring-only", "--substring-geom-only", "--decon-substring-only",
      "--classifier-only", "--diff-only", "--overlap-only", "--pca-only",
      "--hamming-skew-only", "--gate-only", "--ingest-gate-only")
    require(flags.forall(known), s"unknown flags: ${flags.mkString(" ")}")
    val lshOnly = flags.contains("--lsh-only")
    val indexOnly = flags.contains("--index-only")
    val pqOnly = flags.contains("--pq-only")
    val chunkOnly = flags.contains("--chunk-only")
    val knnOnly = flags.contains("--knn-only")
    val knnSaltedOnly = flags.contains("--knn-salted-only")
    val containOnly = flags.contains("--contain-only")
    val deconOnly = flags.contains("--decon-only")
    val lshSkewOnly = flags.contains("--lsh-skew-only")
    val semanticOnly = flags.contains("--semantic-only")
    val noveltyOnly = flags.contains("--novelty-only")
    val winnowOnly = flags.contains("--winnow-only")
    val substringOnly = flags.contains("--substring-only")
    val substringGeomOnly = flags.contains("--substring-geom-only")
    val deconSubstringOnly = flags.contains("--decon-substring-only")
    val classifierOnly = flags.contains("--classifier-only")
    val diffOnly = flags.contains("--diff-only")
    val overlapOnly = flags.contains("--overlap-only")
    val pcaOnly = flags.contains("--pca-only")
    val hammingSkewOnly = flags.contains("--hamming-skew-only")
    val gateOnly = flags.contains("--gate-only")
    val ingestGateOnly = flags.contains("--ingest-gate-only")
    val mults = if (nums.nonEmpty) nums.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

    // FULL-INGEST-GATE fixture, built ONCE before the m loop: the probe
    // measures the gate's per-arrival SERVE cost curve against a FIXED
    // index/model set (the production shape — arrivals scale, the
    // published index does not), so every index and trained model the
    // eight gates read is prepared here and shared by all m.
    val ingestGateFix: Option[(String, Seq[Double],
        graft.text.LangIdClassifier.LangIdModel,
        Seq[(Int, Array[Double])], Seq[(Int, Array[Double])])] =
      if (!ingestGateOnly) None else {
        val pages = base.select(col("doc_id"), col("source"), col("lang"),
          graft.pipelines.PretrainCorpus.dirtyPageV2.as("text"))
        val dir = java.nio.file.Files.createTempDirectory("graft-ingestgate-probe").toString
        val tb = System.nanoTime()
        graft.streaming.PretrainStream.writeGateIndex(pages, dir,
          benchPred = col("source") === "src0",
          corpusPred = pmod(col("doc_id"), lit(2L)) === 0 && col("source") =!= "src0")
        val evenRaw = base.filter(pmod(col("doc_id"), lit(2L)) === 0)
        graft.multimodal.Modality.all.foreach(m =>
          graft.dedup.Dedup.writeFingerprintIndex(m, evenRaw, s"$dir/${m.name}"))
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        graft.dedup.Dedup.writeSemanticDeconIndex(
          emb.filter(pmod(col("vec_id"), lit(10L)) === 0), s"$dir/semdecon",
          nClusters = 8, iters = 2, trainStride = 1)
        graft.dedup.Dedup.writeSemanticGateIndex(
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0), s"$dir/semgate",
          nClusters = 8, iters = 2, minCos = 0.4, trainStride = 1)
        val w = graft.streaming.QualityStream.buildModel(base, s"$dir/qc")
        val lm = graft.text.LangIdClassifier.train(base)
        val semCents = graft.similarity.Ann.readIvfModel(spark, s"$dir/semdecon/centroids")
        val semDupCents = graft.similarity.Ann.readIvfModel(spark, s"$dir/semgate/centroids")
        println(f"SCALE-INGEST-GATE index+models build=${(System.nanoTime() - tb) / 1e9}%6.2f s (fixed across m)")
        Some((dir, w, lm, semCents, semDupCents))
      }
    mults.foreach { m =>
      val docs = (0 until m).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)

      if (pqOnly) {
        // the constant-probe-count invariant below only holds when 100*m
        // divides the 10^7 id shift — reject other m up front instead of
        // silently skewing the per-replica probe counts the curve relies on
        require(10000000L % (100L * m) == 0,
          s"--pq-only requires 10^7 %% (100*m) == 0; m=$m violates the constant-probe invariant")
        // PQ/ADC over an m-times corpus with the PROBE COUNT HELD CONSTANT
        // (stride scales with m; the 10^7 id shift is divisible by every
        // 100*m here, so each replica contributes 20/m probes): the
        // operator's scale contract is "bounded probes × growing
        // candidates", so train, encode and score must all stay ~linear
        // in m. Train is timed separately (codebooks is deterministic) to
        // split the curve: train grows with the sample, encode+score with
        // the candidate set.
        val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val emb = (0 until m).map(i =>
          embBase.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        val tt = System.nanoTime()
        graft.similarity.Pq.codebooks(emb, m = 4, codes = 8, iters = 2,
          trainStride = 1, subDim = 16)
        val train = (System.nanoTime() - tt) / 1e9
        val t0 = System.nanoTime()
        val n = graft.similarity.Pq.pqTopK(emb, stride = 100 * m).count()
        val total = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-PQ m=$m%2d vecs=${2000 * m}%7d rows=$n%5d train=$train%6.2f s total=$total%6.2f s (encode+score=${total - train}%6.2f s)")
      } else if (chunkOnly) {
        val t0 = System.nanoTime()
        val n = graft.pipelines.Chunking.chunkDocuments(docs).count()
        println(f"SCALE-CHUNK m=$m%2d docs=${5000 * m}%7d chunks=$n%8d  ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        spark.sharedState.cacheManager.clearCache()
      } else if (knnOnly) {
        // all-pairs KNN: candidate volume is N^2 * (bits+1) / 2^bits, so
        // doubling the corpus QUADRUPLES the pair work — the probe checks
        // wall grows no worse than that bound, and that the salted
        // rewrite returns the identical row count at every size (its
        // correctness is oracle/spec-gated; here it must also not slow
        // the plain path's growth)
        val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val emb = (0 until m).map(i =>
          embBase.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        val t0 = System.nanoTime()
        val nPlain = graft.similarity.Ann.knnJoin(emb).count()
        val tPlain = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        val t1 = System.nanoTime()
        val nSalted = graft.similarity.Ann.knnJoinSalted(emb).count()
        val tSalted = (System.nanoTime() - t1) / 1e9
        spark.sharedState.cacheManager.clearCache()
        assert(nPlain == nSalted, s"salted knn must match plain: $nSalted != $nPlain")
        println(f"SCALE-KNN m=$m%2d vecs=${2000 * m}%7d rows=$nPlain%8d plain=$tPlain%6.2f s salted=$tSalted%6.2f s")
      } else if (knnSaltedOnly) {
        // the salted path alone, for sizes where the plain twin has
        // already degenerated (its hot sign-bucket makes 100k vectors a
        // multi-hundred-second run that measures only the known hazard):
        // candidate volume is N² · (bits+1) / 2^bits, so wall must track
        // that bound with the per-task work spread `salts` ways — this
        // extends the curve past where --knn-only's plain/salted A-B stops
        val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val emb = (0 until m).map(i =>
          embBase.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        val t0 = System.nanoTime()
        val n = graft.similarity.Ann.knnJoinSalted(emb).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-KNN-SALTED m=$m%2d vecs=${2000 * m}%7d rows=$n%8d salted=$t%6.2f s")
      } else if (deconOnly) {
        // plain vs bloom decontamination on the identical multiplied
        // corpus: both must return the same row count (exactness), and
        // the bloom's prefilter should cut the signature/LSH work to the
        // (rare) plausible-overlap slice — the A/B is the measured win
        val t0 = System.nanoTime()
        val nPlain = graft.dedup.Dedup.contamination(docs,
          isBench = col("source") === "src0", minContainment = 0.3).count()
        val tPlain = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        val t1 = System.nanoTime()
        val nBloom = graft.dedup.Dedup.contaminationBloom(docs,
          isBench = col("source") === "src0", minContainment = 0.3).count()
        val tBloom = (System.nanoTime() - t1) / 1e9
        spark.sharedState.cacheManager.clearCache()
        assert(nPlain == nBloom, s"bloom decon must match plain: $nBloom != $nPlain")
        println(f"SCALE-DECON m=$m%2d docs=${5000 * m}%7d rows=$nPlain%5d plain=$tPlain%6.2f s bloom=$tBloom%6.2f s")
      } else if (noveltyOnly) {
        // novelty growth: reference = even ids, incoming = odd ids of the
        // multiplied corpus. Both sides grow with m, so the probe pins
        // the two scale claims at once: wall time grows ~linearly (the
        // membership probe is one shingle-keyed join, no posting-list
        // blowup even though every shingle's posting list grows with m),
        // and the score DISTRIBUTION is m-invariant (replicas carry the
        // same texts, so the mean novelty must not drift as the corpus
        // multiplies — drift would mean the join semantics leak m).
        val t0 = System.nanoTime()
        val scored = graft.dedup.Dedup.noveltyScores(docs, col("doc_id") % 2 === 0)
        val agg = scored.agg(count(lit(1)), avg(col("novelty"))).collect().head
        val t = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-NOVELTY m=$m%2d docs=${5000 * m}%7d scored=${agg.getLong(0)}%7d mean=${agg.getDouble(1)}%.4f t=$t%6.2f s")
      } else if (semanticOnly) {
        // semantic-dedup growth: the scale contract is "nClusters grows
        // with the corpus so cells stay memory-sized" — the A/B is the
        // FIXED cluster count (per-cell population grows with m, pair
        // work grows ~m² within cells) vs the SCALED count (8*m cells,
        // per-cell population ~constant, pair work ~linear). Replicas
        // are dimension-ROTATED, not cloned: the permutation preserves
        // each replica's internal geometry (same dup structure per
        // block) without making replicas near-dups of each other —
        // exact clones would inject m-cliques and measure the input,
        // not the machinery.
        val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val emb = (0 until m).map { i =>
          embBase.select(
            (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
            expr(s"concat(slice(embedding, ${i + 1}, ${64 - i}), slice(embedding, 1, $i))")
              .as("embedding"))
        }.reduce(_ unionByName _)
        def run(k: Int): (Long, Long, Double) = {
          val t0 = System.nanoTime()
          val out = graft.dedup.Dedup.semanticDedup(emb, nClusters = k, iters = 2, minCos = 0.4)
          val rows = out.count()
          val dups = out.filter(col("keep") === 0).count()
          out.unpersist()
          spark.sharedState.cacheManager.clearCache()
          (rows, dups, (System.nanoTime() - t0) / 1e9)
        }
        val (nF, dF, tF) = run(8)
        val (nS, dS, tS) = run(8 * m)
        println(f"SCALE-SEMANTIC m=$m%2d vecs=${2000 * m}%7d fixedK=8: rows=$nF%7d dups=$dF%5d $tF%6.2f s   scaledK=${8 * m}%3d: rows=$nS%7d dups=$dS%5d $tS%6.2f s")
        // nClusters CURVE at this m: the structural quadratic term
        // (Σ C(n_c, 2) within-cell pairs, computed from the SAME model the
        // timed run trained) and end-to-end wall per k — the measured
        // numbers behind "grow nClusters with the corpus so cells stay
        // memory-sized"
        for (k <- Seq(8, 16, 32, 8 * m, 16 * m).distinct.sorted) {
          val t0 = System.nanoTime()
          val out = graft.dedup.Dedup.semanticDedup(emb, nClusters = k, iters = 2, minCos = 0.4)
          val dups = out.filter(col("keep") === 0).count()
          val t = (System.nanoTime() - t0) / 1e9
          val cents = graft.dedup.Dedup.lastSemanticModel.get._1
          val cellPairs = emb
            .select(col("embedding").cast("array<double>").as("v"))
            .withColumn("nrm", sqrt(graft.similarity.Ann.dot(col("v"), col("v"))))
            .filter(col("nrm") > 0)
            .select(graft.similarity.Ann.ivfCell(col("v"), cents).as("cid"))
            .groupBy("cid").agg(count(lit(1)).as("n"))
            // Column./ is DOUBLE division — halve driver-side to stay long
            .agg(sum(col("n") * (col("n") - 1))).head.getLong(0) / 2
          out.unpersist()
          spark.sharedState.cacheManager.clearCache()
          println(f"SCALE-SEMANTIC-K m=$m%2d k=$k%4d cellPairs=$cellPairs%10d dups=$dups%5d $t%7.2f s")
        }
      } else if (classifierOnly) {
        // trained quality filter: training is a FIXED number of Newton
        // iterations, each one full pass over the doc_id%4 sample's
        // cached feature table (map-side-combined grouping-free agg), so
        // train wall must grow ~linearly in m with a constant iteration
        // count; serving is a shuffle-free literal-weight map, so score
        // wall must also stay ~linear — any superlinear bend means a
        // stage snuck in a join or a wide exchange.
        import org.apache.spark.storage.StorageLevel
        val feats = graft.text.QualityClassifier.features(docs)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val trainFeats = feats.filter(pmod(col("doc_id"), lit(4)) === 0)
        val t0 = System.nanoTime()
        val w = graft.text.QualityClassifier.train(trainFeats)
        val tTrain = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n = graft.text.QualityClassifier.scoreWith(feats, w).count()
        val tScore = (System.nanoTime() - t1) / 1e9
        feats.unpersist()
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-CLASSIFIER m=$m%2d docs=${5000 * m}%7d scored=$n%7d train(8 it)=$tTrain%6.2f s score=$tScore%6.2f s")
      } else if (pcaOnly) {
        // PCA: the training moment pass shuffles N·d(d+1)/2 DECIMAL
        // cells (a large but dimension-bounded constant), so train wall
        // must grow ~linearly in m at trainStride=1 (the worst case —
        // production strides the sample); projection is a narrow literal
        // map and the per-pc PSI drift runs over a bounded
        // pc×group×bin table, so both must stay ~linear too.
        val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val emb = (0 until m).map(i =>
          embBase.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        val t0 = System.nanoTime()
        val model = graft.similarity.Pca.pcaTrain(emb, k = 4, trainStride = 1)
        val t1 = System.nanoTime()
        val nproj = graft.similarity.Pca.pcaProject(emb, model).count()
        val t2 = System.nanoTime()
        val ndrift = graft.similarity.Pca.driftEmbeddingPca(emb, model).count()
        val t3 = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-PCA m=$m%2d vecs=$nproj%7d drift_rows=$ndrift%3d " +
          f"train=${(t1 - t0) / 1e9}%6.2f s project=${(t2 - t1) / 1e9}%6.2f s " +
          f"drift=${(t3 - t2) / 1e9}%6.2f s eig0=${model.head.eigval}%.4f")
      } else if (overlapOnly) {
        // cross-source overlap: shingle rows grow linearly in m while the
        // source dimension stays fixed (20), so the per-shingle source-set
        // explode is bounded by C(20,2) per shingle and wall must stay
        // ~linear; pair rows stay at <= 190 at every m.
        val t0 = System.nanoTime()
        val n = graft.ops.TableProfile.sourceOverlap(docs).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-OVERLAP m=$m%2d docs=${5000 * m}%7d pairs=$n%4d $t%6.2f s")
      } else if (diffOnly) {
        // corpus snapshot diff: both sides project to (doc_id, md5)
        // before the full-outer join, so the exchange volume is
        // digest-sized and the wall must grow ~linearly in m; the delta
        // derivation mirrors the registry entry (drops/mutations by
        // doc_id residue), so the output is always ~delta-sized.
        val prev = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" legacy-rev")))
              .otherwise(col("text")))
        val cur = docs.filter(pmod(col("doc_id"), lit(11)) =!= 5)
        val t0 = System.nanoTime()
        val n = graft.pipelines.CorpusDiff.diff(prev, cur).count()
        val tD = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-DIFF m=$m%2d docs=${5000 * m}%7d delta=$n%7d $tD%6.2f s")
      } else if (substringOnly) {
        // exact-substring growth: replicas are SUBSTITUTION-CIPHERED
        // (per-replica caesar alphabet), so no byte run is shared ACROSS
        // replicas — cross-replica matches would be the operator finding
        // real duplicates (its job, m² of them on clones), not a
        // machinery cost. Ciphered replicas preserve each replica's
        // internal match structure, so matches, anchors, candidates and
        // wall time must all grow ~linearly in m if no stage hides a
        // corpus-quadratic term.
        val sub = cipheredReplicas(base, m)
        val t0 = System.nanoTime()
        val nAn = graft.dedup.Dedup.substringAnchors(sub, 24, 7).count()
        val tAn = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val mts = graft.dedup.Dedup.substringMatches(sub, minLen = 30,
          maxPostingGuard = 200000)
        val nM = mts.count()
        val tM = (System.nanoTime() - t1) / 1e9
        mts.unpersist()
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-SUBSTRING m=$m%2d docs=${5000 * m}%6d anchors=$nAn%9d $tAn%6.2f s   matches=$nM%7d end2end $tM%6.2f s")
      } else if (substringGeomOnly) {
        // (k, w) GEOMETRY sweep at a FIXED corpus (pass one m, e.g. 10):
        // the result set is provably identical for every k + w - 1 <=
        // minLen (coverage guarantee + exact extension) — only the COST
        // moves, between two failure corners: tiny k anchors are common
        // grams whose cross-doc hash collisions flood the pair join;
        // k near minLen forces w down to 1-3, so winnowing selects
        // nearly every position and the anchor table itself balloons.
        // Same ciphered replicas as --substring-only, so the duplicate
        // structure is m copies of the base corpus's internal one.
        val sub = cipheredReplicas(base, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sub.count()
        val minLen = 30
        var refMatches = -1L
        for ((k, w) <- Seq((8, 23), (12, 19), (16, 15), (16, 7), (20, 11),
                           (24, 7), (24, 3), (28, 3))) {
          val t0 = System.nanoTime()
          val an = graft.dedup.Dedup.substringAnchors(sub, k, w)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nAn = an.count()
          val tAn = (System.nanoTime() - t0) / 1e9
          // candidate pairs = the cross-doc anchor-hash join volume that
          // stage 3 must attach text for — the cost the k default tunes
          val t1 = System.nanoTime()
          val nCand = an.select(col("h"), col("doc_id").as("a"))
            .join(an.select(col("h"), col("doc_id").as("b")), Seq("h"))
            .filter(col("a") < col("b")).count()
          val tCand = (System.nanoTime() - t1) / 1e9
          val t2 = System.nanoTime()
          val mts = graft.dedup.Dedup.substringMatchesFrom(an, sub, minLen,
            maxPostingGuard = 500000)
          val nM = mts.count()
          val tEx = (System.nanoTime() - t2) / 1e9
          mts.unpersist(); an.unpersist()
          spark.sharedState.cacheManager.clearCache()
          // geometry-independence, asserted on the measured corpus itself
          if (refMatches < 0) refMatches = nM
          require(nM == refMatches,
            s"geometry ($k,$w) changed the match set: $nM != $refMatches")
          println(f"SCALE-SUBSTRING-GEOM m=$m%2d k=$k%2d w=$w%2d anchors=$nAn%9d $tAn%6.2f s   cand=$nCand%9d $tCand%6.2f s   matches=$nM%7d extend $tEx%6.2f s")
        }
        sub.unpersist()
      } else if (deconSubstringOnly) {
        // cross-corpus decontamination growth: the BENCH side (src0 docs
        // + their anchor table) is FIXED while the incoming side grows
        // m-fold as plain id-shifted replicas — deliberately NOT
        // ciphered: every replica must keep its real matches against the
        // unciphered bench, so true contamination (flagged docs) must
        // grow exactly linearly in m, and so must anchor extraction and
        // the pair join (bench postings constant, incoming postings
        // m x base). Anything superlinear exposes a hidden
        // incoming-quadratic stage in the serve path.
        val bench = base.filter(col("source") === "src0")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val benchAnchors = graft.dedup.Dedup.substringAnchors(bench, 24, 7)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        benchAnchors.count()
        val incoming = (0 until m).map(i =>
          base.filter(col("source") =!= "src0")
            .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        val nIn = incoming.count()
        val t0 = System.nanoTime()
        val rep = graft.dedup.Dedup.decontaminateSubstringAgainst(
          incoming, benchAnchors, bench, minLen = 30, maxPostingGuard = 200000)
        val nFlag = rep.count()
        val tD = (System.nanoTime() - t0) / 1e9
        rep.unpersist(); benchAnchors.unpersist(); bench.unpersist()
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-DECON-SUBSTRING m=$m%2d incoming=$nIn%7d flagged=$nFlag%6d serve $tD%6.2f s")
      } else if (winnowOnly) {
        // winnowing under clone skew: m-fold replication multiplies every
        // fingerprint posting list by m, so UNCAPPED pair volume grows
        // ~m² while fingerprint extraction itself stays linear (array-
        // local selection). The capped inverted index drops saturated
        // postings, so capped pair work stays bounded under arbitrary
        // clone skew — the same contract the LSH bucket cap pins
        // (--lsh-skew-only). The uncapped twin runs only at m <= 2,
        // where its quadratic term is still affordable.
        val t0 = System.nanoTime()
        val nFp = graft.dedup.Dedup.winnowFingerprints(docs).count()
        val tFp = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val ov = graft.dedup.Dedup.winnowOverlap(docs)
        val nOv = ov.count()
        val tOv = (System.nanoTime() - t1) / 1e9
        ov.unpersist()
        spark.sharedState.cacheManager.clearCache()
        val unc = if (m <= 2) {
          val t2 = System.nanoTime()
          val o = graft.dedup.Dedup.winnowOverlap(docs, maxPostings = 0)
          val n = o.count()
          o.unpersist()
          f" uncapped_pairs=$n%9d ${(System.nanoTime() - t2) / 1e9}%6.2f s"
        } else " uncapped=skipped(quadratic)"
        println(f"SCALE-WINNOW m=$m%2d docs=${5000 * m}%7d fps=$nFp%8d $tFp%5.2f s capped_pairs=$nOv%8d $tOv%6.2f s$unc")
        spark.sharedState.cacheManager.clearCache()
      } else if (ingestGateOnly) {
        // FULL INGEST-GATE throughput probe (pipeline_ingest_gate's
        // serve path, measured): the registry fixture's arrival shard
        // replicated m times with shifted ids against the FIXED index
        // built above. Every replica does identical per-arrival work —
        // one cap-bounded bucket per index-served gate, one audit row
        // out — so audit rows must grow exactly ×m and wall ~m: the
        // per-arrival cost curve of the eight-gate audit at increasing
        // shard size (the curve the dedup probes document for their
        // single gates).
        val (dir, w, lm, semCents, semDupCents) = ingestGateFix.get
        val pages0 = base.select(col("doc_id"), col("source"), col("lang"),
          graft.pipelines.PretrainCorpus.dirtyPageV2.as("text"))
          .filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
        val raw0 = base.filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
          .select("doc_id", "text")
        def reps(df: org.apache.spark.sql.DataFrame, idCol: String) =
          (0 until m).map(i =>
            df.withColumn(idCol, col(idCol) + lit(i.toLong * 10000000L)))
            .reduce(_ unionByName _)
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val arrEmb0 = emb.select(col("vec_id"), col("embedding"))
          .join(raw0.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val t0 = System.nanoTime()
        val out = graft.streaming.PretrainStream.gateBatch(
          reps(pages0, "doc_id"), reps(raw0, "doc_id"), w, 0.28, lm,
          spark.read.parquet(s"$dir/boilerplate"),
          spark.read.parquet(s"$dir/anchors"), spark.read.parquet(s"$dir/bench"),
          spark.read.parquet(s"$dir/dedup/minhash_buckets"),
          spark.read.parquet(s"$dir/dedup/shingle_sets"),
          m => spark.read.parquet(s"$dir/${m.name}/${m.bandedTable}"),
          reps(arrEmb0, "vec_id"), spark.read.parquet(s"$dir/semdecon/bench"),
          semCents, spark.read.parquet(s"$dir/semgate/kept"), semDupCents)
        val n = out.count()
        val tG = (System.nanoTime() - t0) / 1e9
        val nKept = out.filter(col("keep") === 1).count()
        out.unpersist(blocking = true)
        spark.sharedState.cacheManager.clearCache()
        println(f"SCALE-INGEST-GATE m=$m%2d arrivals=$n%8d kept=$nKept%8d gate=$tG%6.2f s (${tG / math.max(1L, n) * 1000}%6.3f ms/arrival)")
      } else if (gateOnly) {
        // INGEST-GATE FLOOD probe (jaccardMatchesAgainst, measured): the
        // index holds the m-times corpus (replica-prefixed, so replicas
        // stay distinct) plus ONE copy of a hot asset; the arriving
        // shard is 50% that same asset repeated verbatim (a mass-
        // mirrored page arriving from every crawl frontier — the flood
        // that makes a naive arrivals×index join quadratic) and 50%
        // fresh distinct docs. Per arrival the candidate set is one
        // cap-bounded index bucket and the output is ONE best-match
        // row, so flagged rows and wall time must grow ~m with the
        // flood — no quadratic term in flood size or index size.
        val rest = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
            .withColumn("text",
              array_join(transform(split(col("text"), "\\s+"),
                t => concat(lit(s"r${i}x"), t)), " ")))
          .reduce(_ unionByName _)
          .select("doc_id", "text")
        val hot = spark.range(1).select(lit(900000000L).as("doc_id"),
          lit("mirror asset payload served verbatim from every crawl frontier page").as("text"))
        val idxDir = java.nio.file.Files.createTempDirectory("graft-gate-probe").toString
        val tb = System.nanoTime()
        graft.dedup.Dedup.writeDedupIndex(rest.unionByName(hot), idxDir)
        val tBuild = (System.nanoTime() - tb) / 1e9
        val nClones = 1250L * m
        val flood = spark.range(nClones).select(
          (col("id") + 910000000L).as("doc_id"),
          lit("mirror asset payload served verbatim from every crawl frontier page").as("text"))
        val fresh = base.limit(1250 * m).select(
          (col("doc_id") + 950000000L).as("doc_id"),
          array_join(transform(split(col("text"), "\\s+"),
            t => concat(lit("fZx"), t)), " ").as("text"))
        val arrivals = flood.unionByName(fresh)
        val sigs = spark.read.parquet(s"$idxDir/minhash_sigs")
        val sets = spark.read.parquet(s"$idxDir/shingle_sets")
        val t0 = System.nanoTime()
        val rep = graft.dedup.Dedup.jaccardMatchesAgainst(arrivals, sigs, sets)
        val nFlagged = rep.count()
        val tGate = (System.nanoTime() - t0) / 1e9
        rep.unpersist(blocking = true)
        spark.sharedState.cacheManager.clearCache()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
        println(f"SCALE-GATE m=$m%2d index=${5000 * m + 1}%8d arrivals=${2500 * m}%8d flagged=$nFlagged%8d build=$tBuild%6.2f s gate=$tGate%6.2f s")
      } else if (hammingSkewOnly) {
        // MASS-DUPLICATED ASSET probe (the bandedHammingPairs star guard,
        // measured): 20% of the corpus is ONE byte-identical payload —
        // re-hosted copies fingerprint identically per (w, h) geometry,
        // the degenerate input that made the unguarded band join emit
        // O(k²) per-bucket cliques. The guarded join collapses each
        // identical-fingerprint group to its representative and emits
        // O(k) star edges, so pair count and wall time must grow ~m
        // while the counterfactual clique control grows ~m² (clone ids
        // are consecutive, so the copies spread over the 15 (w, h)
        // geometries — the control sums the 15 per-geometry cliques).
        val nClones = 1250L * m
        val clones = spark.range(nClones).select(
          (col("id") + 900000000L).as("doc_id"),
          lit("identical logo payload served verbatim on every mirror page").as("text"),
          lit("en").as("lang"), lit("probe").as("source"), lit(60L).as("n_chars"))
        val corpus = docs.select("doc_id", "text", "lang", "source", "n_chars")
          .unionByName(clones)
        val t0 = System.nanoTime()
        val pairs = graft.dedup.Dedup.fingerprintPairs(graft.multimodal.Modality.Image, corpus)
        val nPairs = pairs.count()
        val tP = (System.nanoTime() - t0) / 1e9
        pairs.unpersist(blocking = true)
        spark.sharedState.cacheManager.clearCache()
        val g = nClones / 15
        val clique = 15L * g * (g - 1) / 2
        println(f"SCALE-HAMMING-SKEW m=$m%2d docs=${5000 * m + nClones}%8d guarded_pairs=$nPairs%9d $tP%6.2f s  (unguarded clique control ~$clique%12d)")
      } else if (lshSkewOnly) {
        // ADVERSARIAL SKEW probe (the MaxLshBucketSize contract, measured):
        // 20% of the corpus is ONE byte-identical boilerplate text — every
        // copy lands in the same (band, sig) bucket in every band, the
        // degenerate input that makes the uncapped candidate self-join
        // quadratic. Three measurements per m:
        //   capON  candidates — must stay bounded (clone cluster excluded)
        //          and ~linear in m;
        //   capON  components (star expansion) — must still label the WHOLE
        //          clone cluster as one component (no recall loss) in ~m time;
        //   capOFF candidates — the quadratic control: pair count alone is
        //          ~clones²·bands/2, so it runs only at m <= 2 (the bound
        //          that keeps the control itself from eating the probe).
        val rest = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
            .withColumn("text",
              array_join(transform(split(col("text"), "\\s+"),
                t => concat(lit(s"r${i}x"), t)), " ")))
          .reduce(_ unionByName _)
        val nClones = 1250 * m // 20% of 5000*m + 1250*m
        val clones = spark.range(nClones).select(
          (col("id") + 900000000L).as("doc_id"),
          lit("spam boilerplate body repeated verbatim on every mirror page").as("text"),
          lit("en").as("lang"), lit("probe").as("source"), lit(60L).as("n_chars"))
        val corpus = rest.select("doc_id", "text", "lang", "source", "n_chars")
          .unionByName(clones)
        val t0 = System.nanoTime()
        val capOn = graft.dedup.Dedup.lshCandidates(corpus)
        val nOn = capOn.count()
        val tOn = (System.nanoTime() - t0) / 1e9
        capOn.unpersist(blocking = true)
        spark.sharedState.cacheManager.clearCache()
        val t1 = System.nanoTime()
        val comps = graft.dedup.Dedup.lshComponents(corpus)
        val cloneLabels = comps.filter(col("doc_id") >= 900000000L)
          .agg(count(lit(1)), countDistinct(col("component"))).first()
        val (cloneComp, cloneGroups) = (cloneLabels.getLong(0), cloneLabels.getLong(1))
        val tComp = (System.nanoTime() - t1) / 1e9
        spark.sharedState.cacheManager.clearCache()
        // the contract is the full cluster in ONE component — per-clone
        // label rows alone would also pass under a broken star join that
        // splinters the cluster
        assert(cloneComp == nClones && cloneGroups == 1L,
          s"star expansion must label every clone into one component " +
            s"(got $cloneComp of $nClones labels in $cloneGroups components)")
        val offLine = if (m <= 2) {
          val t2 = System.nanoTime()
          val capOff = graft.dedup.Dedup.lshCandidates(corpus, maxBucketSize = 0)
          val nOff = capOff.count()
          val tOff = (System.nanoTime() - t2) / 1e9
          capOff.unpersist(blocking = true)
          spark.sharedState.cacheManager.clearCache()
          f" capOFF: cand=$nOff%9d $tOff%7.2f s"
        } else " capOFF: skipped (quadratic control bounded to m<=2)"
        println(f"SCALE-LSH-SKEW m=$m%2d docs=${5000 * m + nClones}%7d clones=$nClones%6d " +
          f"capON: cand=$nOn%8d $tOn%6.2f s comps(star)=$cloneComp%6d $tComp%6.2f s$offLine")
      } else if (containOnly) {
        // containment attribution is linear in total passages (each
        // passage emits at most one attribution row) — the probe's pair
        // counts scale with the clone structure, but wall must stay ~m
        val t0 = System.nanoTime()
        val n = graft.dedup.Dedup.passageContainment(docs, window = 3, threshold = 0.2).count()
        println(f"SCALE-CONTAIN m=$m%2d docs=${5000 * m}%7d pairs=$n%8d  ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        spark.sharedState.cacheManager.clearCache()
      } else {

      if (!lshOnly && !indexOnly) {
      val t0 = System.nanoTime()
      val n = graft.collocations.Collocations.topCollocations(docs).count()
      println(f"SCALE m=$m%2d docs=${5000 * m}%7d rows=$n%5d  ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      spark.sharedState.cacheManager.clearCache()
      // the multiplied corpus is the adversarial dedup input: every doc
      // gains m-1 exact clones, so LSH cliques (and candidate pairs) grow
      // with m^2 per text — the probe shows the seeded-component path
      // absorbing it
      val t1 = System.nanoTime()
      val kept = graft.pipelines.CleanCorpus.clean(docs).count()
      println(f"SCALE-DEDUP m=$m%2d docs=${5000 * m}%7d kept=$kept%6d  ${(System.nanoTime() - t1) / 1e9}%6.2f s")
      spark.sharedState.cacheManager.clearCache()
      // passage dedup: cloned corpora multiply every passage's occurrence
      // count m-fold, but the plan is explode + hash window + per-doc agg —
      // runtime must stay ~linear in total passages
      val t2 = System.nanoTime()
      val np = graft.dedup.Dedup.passageDupStats(docs, window = 3).count()
      println(f"SCALE-PASSAGE m=$m%2d docs=${5000 * m}%7d rows=$np%7d  ${(System.nanoTime() - t2) / 1e9}%6.2f s")
      spark.sharedState.cacheManager.clearCache()
      // global ntile via range-partitioned rank: the single-partition
      // window this replaces would flatline one core here
      val t3 = System.nanoTime()
      val nt = graft.ops.Ranks.ntileByRange(
          docs.select(col("doc_id"), col("n_chars")), 10,
          Seq(col("n_chars") -> false, col("doc_id") -> true), "decile")
        .groupBy("decile").count().count()
      println(f"SCALE-NTILE m=$m%2d docs=${5000 * m}%7d tiles=$nt%3d  ${(System.nanoTime() - t3) / 1e9}%6.2f s")
      spark.sharedState.cacheManager.clearCache()
      }

      // LSH dedup family over the SALTED corpus (below): candidate counts
      // and wall-time must both grow ~linearly in m. The exact-clone
      // corpus above is the wrong input for this probe — m clones of one
      // text form m^2/2 candidate pairs BY CONSTRUCTION (that quadratic
      // is the answer, not the machinery), so each replica's tokens are
      // prefixed with its replica id instead: zero cross-replica shingle
      // overlap, the base corpus's duplicate structure repeats per block,
      // and any superlinear growth that remains is the operator's fault.
      // The salt must contain NO underscore: cleanToken treats `_` as the
      // reference's POS-suffix separator and truncates at it, which would
      // collapse every salted token to just the salt (all docs in a block
      // become ONE shingle -> all-pairs candidates, the quadratic this
      // probe exists to rule out).
      val salted = (0 until m).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text",
            array_join(transform(split(col("text"), "\\s+"),
              t => concat(lit(s"r${i}x"), t)), " ")))
        .reduce(_ unionByName _)

      if (indexOnly) {
        // build-once/serve-many: the index build pays the tokenizer +
        // minhash chain once; every subsequent candidate/verify query
        // reads fixed-width parquet. SERVE must beat DIRECT by roughly
        // the chain's share of the direct runtime, and both must stay
        // ~linear in m.
        val dirPath = java.nio.file.Files.createTempDirectory(s"graft-probe-index-$m")
        val dir = dirPath.toString
        try {
          val tb = System.nanoTime()
          graft.dedup.Dedup.writeDedupIndex(salted, dir)
          val build = (System.nanoTime() - tb) / 1e9
          val sigs = spark.read.parquet(s"$dir/minhash_sigs")
          val sets = spark.read.parquet(s"$dir/shingle_sets")
          val ts = System.nanoTime()
          val nServe = graft.dedup.Dedup.jaccardVerifyFromIndex(sigs, sets, threshold = 0.8).count()
          val serve = (System.nanoTime() - ts) / 1e9
          val td = System.nanoTime()
          val direct = graft.dedup.Dedup.jaccardVerify(salted, threshold = 0.8)
          val nDirect = direct.count()
          val directS = (System.nanoTime() - td) / 1e9
          direct.unpersist(blocking = true)
          spark.sharedState.cacheManager.clearCache()
          // the serve path must be the SAME ANSWER, not just faster — a
          // divergence is a probe failure, never a log footnote
          assert(nServe == nDirect, s"index serve diverged: serve=$nServe direct=$nDirect at m=$m")
          println(f"SCALE-INDEX m=$m%2d docs=${5000 * m}%7d pairs=$nServe%7d build=$build%6.2f s serve=$serve%6.2f s direct=$directS%6.2f s")
        } finally {
          import java.nio.file.{Files, Path}
          Files.walk(dirPath).sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
        }
      } else {

      val t4 = System.nanoTime()
      val lsh = graft.dedup.Dedup.lshCandidates(salted)
      val nLsh = lsh.count()
      println(f"SCALE-LSH m=$m%2d docs=${5000 * m}%7d cand=$nLsh%8d  ${(System.nanoTime() - t4) / 1e9}%6.2f s")
      lsh.unpersist(blocking = true)
      spark.sharedState.cacheManager.clearCache()

      val t5 = System.nanoTime()
      val jac = graft.dedup.Dedup.jaccardVerify(salted, threshold = 0.8)
      val nJac = jac.count()
      println(f"SCALE-JACCARD m=$m%2d docs=${5000 * m}%7d pairs=$nJac%7d  ${(System.nanoTime() - t5) / 1e9}%6.2f s")
      jac.unpersist(blocking = true)
      spark.sharedState.cacheManager.clearCache()

      val t6 = System.nanoTime()
      val sim = graft.dedup.Dedup.simhashPairs(salted)
      val nSim = sim.count()
      println(f"SCALE-SIMHASH m=$m%2d docs=${5000 * m}%7d pairs=$nSim%7d  ${(System.nanoTime() - t6) / 1e9}%6.2f s")
      sim.unpersist(blocking = true)
      spark.sharedState.cacheManager.clearCache()
      }
      }
    }
    spark.stop()
  }
}
