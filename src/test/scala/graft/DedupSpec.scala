package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog tonight while stars shine above the quiet sleepy town and everyone rests"
    Seq(
      (1L, base),
      (2L, base),                                // exact dup of 1
      (3L, base.replace("rests", "sleeps")),     // near dup: only the final shingle differs (j ~ 0.9)
      (4L, "completely different words about spark query engines here now"),
      (5L, "ab")                                 // < 3 tokens: no shingles
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
  }

  /** Expected output of the GUARDED pigeonhole band join on a planted
    * fingerprint map — the star+representative contract of
    * [[Dedup.bandedHammingPairs]]: identical fingerprint values collapse
    * to their min-id representative with the other members attached as
    * (rep, member, 0) star edges, and all-pairs hamming truth applies
    * between REPRESENTATIVES only (the hot-bucket cap is assumed not to
    * fire on these tiny planted sets — the cap has its own test). */
  private def guardedPairsTruth(fp: Map[Long, Long],
                                maxHamming: Int): Map[(Long, Long), Long] = {
    val groups = fp.groupBy(_._2).map { case (v, m) => v -> m.keys.toSeq.sorted }
    val stars = groups.valuesIterator.flatMap { ids =>
      ids.tail.map(id => (ids.head, id) -> 0L)
    }.toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b).toLong
    val reps = groups.map { case (v, ids) => ids.head -> v }
    val ids = reps.keys.toSeq.sorted
    val repPairs = (for {
      a <- ids; b <- ids if a < b
      h = ham(reps(a), reps(b)) if h <= maxHamming
    } yield (a, b) -> h).toMap
    stars ++ repPairs
  }

  test("exact groups collapse identical texts to min doc_id") {
    val g = Dedup.exactGroups(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(g.contains((2L, 1L)))          // the dup pair
    assert(g.count(_._1 == 1L) == 3)      // three singletons
  }

  test("identical docs have identical minhash signatures; short docs none") {
    val sig = Dedup.minhashSignatures(docs).collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(!sig.contains(5L))
  }

  test("lsh candidates contain the exact-dup pair and near-dup pair") {
    val cand = Dedup.lshCandidates(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(cand.contains((1L, 3L)) || cand.contains((2L, 3L)),
      s"near-dup should share a band at j~0.67: $cand")
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("persisted index serves identical candidates and jaccard, without the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-index-spec").toString
    Dedup.writeDedupIndex(docs, dir)
    val sigs = spark.read.parquet(s"$dir/minhash_sigs")
    val sets = spark.read.parquet(s"$dir/shingle_sets")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val candDirect = Dedup.lshCandidates(docs).collect().map(key).toSet
    val candIdx = Dedup.lshCandidatesFromIndex(sigs).collect().map(key).toSet
    assert(candIdx == candDirect)
    val verDirect = Dedup.jaccardVerify(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    val verIdx = Dedup.jaccardVerifyFromIndex(sigs, sets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    assert(verIdx == verDirect)
    // the serve plan reads ONLY index parquet — build-once/serve-many
    // means the corpus (and its tokenizer/minhash chain) never appears.
    // Inspect a FRESH frame: execution would fold the scans into opaque
    // AQE query-stage leaves
    val p = Dedup.jaccardVerifyFromIndex(sigs, sets).queryExecution.executedPlan.toString
    assert(p.contains("graft-index-spec"), s"serve plan must scan the index:\n$p")
    // banding still md5s the 16 signature longs (cheap, fixed-width);
    // what must NOT reappear is the corpus tokenizer/shingle chain
    assert(!p.contains("split(") && !p.toLowerCase.contains("documents"),
      s"serve plan must not recompute the tokenizer chain:\n$p")
    // don't leak a temp index dir per test run
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("index build is incremental: per-doc signatures and shingle sets compose by union") {
    // the scaladoc contract: new docs' index rows union onto the table
    // without re-hashing the old corpus — true iff both tables are pure
    // per-doc functions (no cross-doc state)
    val half1 = docs.filter(col("doc_id") <= 2)
    val half2 = docs.filter(col("doc_id") > 2)
    val fullSig = Dedup.minhashSignatures(docs).collect().map(_.toSeq).toSet
    val incSig = (Dedup.minhashSignatures(half1).collect() ++
      Dedup.minhashSignatures(half2).collect()).map(_.toSeq).toSet
    assert(incSig == fullSig)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getSeq[String](1)).map(_.toSet), r.get(2))).toSet
    assert(sets(Dedup.shingleSets(half1)) ++ sets(Dedup.shingleSets(half2))
      == sets(Dedup.shingleSets(docs)))
  }

  test("jaccard pairs compute exact set similarity") {
    val j = Dedup.jaccardPairs(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(1), r.getLong(0)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap                                     // note: select order is a,b,... ; row layout checked below
    val full = Dedup.jaccardPairs(docs, threshold = 0.0)
      .filter(col("a") === 1 && col("b") === 2).collect().head
    assert(full.getLong(2) == 19L && full.getDouble(5) == 1.0) // 21-token doc -> 19 shingles, identical
  }

  test("simhash: identical docs equal, near-dups close in hamming distance") {
    val fp = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)),
      "near-dup must be closer than unrelated doc")
  }

  test("simhash banded pairs find exact dups at hamming 0 without all-pairs compare") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0L), s"exact dup pair must have hamming 0: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("every generator payload decodes valid — the oracle CTEs' missing valid predicate is safe") {
    // The composed gate/ladder oracles re-derive fingerprints for EVERY
    // document while the engine filters col("valid") — parity therefore
    // rests on the invariant that the payload builders (encode text →
    // container bytes) always produce parseable containers, for ANY
    // input text including empty and non-ASCII. Pinned here so a future
    // payload-builder change that can emit an unparseable container
    // fails this test instead of silently splitting engine and oracle.
    import spark.implicits._
    val adversarial = Seq(
      (1L, "", "en"), (2L, "x", "en"), (3L, "é世界😀", "zh"),
      (4L, "\n\n\n", "en"), (5L, "a" * 5000, "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = graft.collocations.Collocations
      .documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    for (frame <- Seq(adversarial.select("doc_id", "text"), corpus)) {
      assert(graft.multimodal.Multimodal.imagePhash(frame).filter(!col("valid")).count() == 0)
      assert(graft.multimodal.Multimodal.audioFingerprint(frame).filter(!col("valid")).count() == 0)
      assert(graft.multimodal.Multimodal.videoFingerprint(frame).filter(!col("valid")).count() == 0)
    }
  }

  test("image phash: banded pairs equal the all-pairs truth; invalid payloads drop") {
    import spark.implicits._
    // doc_ids 1/16/31 are congruent mod 15 -> identical 3x3 image dims;
    // 16 shares 1's full pixel plane (first 27 bytes of text) -> a planted
    // near-dup IMAGE pair at hamming 0; 31 nudges one plane byte
    val base = "brightness ramp 0123456789 abcdefghijklmnop"
    val imgs = Seq(
      (1L, base),
      (16L, base + " trailing bytes beyond the pixel plane differ"),
      (31L, base.updated(5, 'Z')),
      (4L, "completely different pixel content ZZZZ!!!! 00000 @@@@")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val fp = graft.multimodal.Multimodal.imagePhash(imgs).collect()
      .map(p => p.doc_id -> p.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(16L)) == 0L, "same plane -> same dHash")
    // the pigeonhole theorem under test, in the guarded star+rep form:
    // identical hashes collapse to min-id rep + star edges, distinct
    // hashes pair by the all-pairs <= 3 truth between representatives
    // (any pair within hamming 3 shares at least one of the 4 bands)
    val expected = guardedPairsTruth(fp, 3)
    assert(expected.get((1L, 16L)).contains(0L), "identical planes attach as a star edge")
    val got = Dedup.fingerprintPairs(graft.multimodal.Modality.Image, imgs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"banded pairs must equal guarded truth: got=$got expected=$expected")
    // malformed payloads route to valid=false (never pair, never throw)
    assert(!graft.multimodal.Multimodal.phashPpm(9L, Array[Byte]('P', '5'), 10, 6).valid)
    // zero-dimension header: the plane-length identity holds (0 == 0) but
    // any pixel read would be out of bounds — must route to valid=false,
    // not an ArrayIndexOutOfBoundsException escaping the catch
    val zeroDim = "P6 0 0 255\n".getBytes("US-ASCII")
    assert(!graft.multimodal.Multimodal.phashPpm(9L, zeroDim, 10, 6).valid)
    assert(!graft.multimodal.Multimodal.parsePpm(9L, zeroDim).valid)
    assert(!graft.multimodal.Multimodal.resamplePpm(9L, zeroDim, 3, 2).valid)
    assert(!graft.multimodal.Multimodal.framesPpm(9L, zeroDim, 2).next().valid)
  }

  test("image phash index serves identical pairs; incremental equals rebuild; no decode in serve plan") {
    import spark.implicits._
    val base = "brightness ramp 0123456789 abcdefghijklmnop"
    val imgs = Seq(
      (1L, base),
      (16L, base + " trailing bytes beyond the pixel plane differ"),
      (31L, base.updated(5, 'Z')),
      (4L, "completely different pixel content ZZZZ!!!! 00000 @@@@"),
      (2L, "some other even-id filler document content here")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val direct = Dedup.fingerprintPairs(graft.multimodal.Modality.Image, imgs, maxHamming = 3).collect().map(key).toSet
    assert(direct.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-phash-spec").toString
    Dedup.writeFingerprintIndex(graft.multimodal.Modality.Image, imgs, dir)
    val idx = spark.read.parquet(s"$dir/image_phash")
    val served = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image, idx, maxHamming = 3).collect().map(key).toSet
    assert(served == direct, "index serve must equal the direct path")
    // serve plan reads ONLY the index parquet — never re-decodes payloads
    val p = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image, idx, maxHamming = 3).queryExecution.executedPlan.toString
    assert(p.contains("graft-phash-spec"), s"serve plan must scan the index:\n$p")
    assert(!p.toLowerCase.contains("mappartitions") && !p.contains("SerializeFromObject"),
      s"serve plan must not re-run the payload decode:\n$p")
    // incremental: even-half index + fresh odd-half hashes = full rebuild
    val evenDir = java.nio.file.Files.createTempDirectory("graft-phash-even").toString
    Dedup.writeFingerprintIndex(graft.multimodal.Modality.Image, imgs.filter(pmod(col("doc_id"), lit(2L)) === 0), evenDir)
    val merged = spark.read.parquet(s"$evenDir/image_phash").unionByName(
      graft.multimodal.Multimodal.imagePhash(
          imgs.filter(pmod(col("doc_id"), lit(2L)) === 1)).toDF()
        .filter(col("valid")).select(col("doc_id"), col("phash")))
    val incr = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image, merged, maxHamming = 3).collect().map(key).toSet
    assert(incr == direct, "incremental ingest must equal the from-scratch rebuild")
  }

  test("pre-banded index serve equals the raw hamming gate, cap included") {
    import spark.implicits._
    // the r21 serve split: bandedFpIndex at build + hammingMatchesAgainstBanded
    // at serve must reproduce hammingMatchesAgainst(raw) bit-for-bit —
    // the ingest gate and the three *_stream_gate queries ride this
    val base = "brightness ramp 0123456789 abcdefghijklmnop"
    val imgs = Seq(
      (2L, base),
      (16L, base + " trailing bytes beyond the pixel plane differ"),
      (4L, "completely different pixel content ZZZZ!!!! 00000 @@@@")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val fresh = Seq((31L, base.updated(5, 'Z'), "en"), (7L, "nothing alike at all ###", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-banded-spec").toString
    Dedup.writeFingerprintIndex(graft.multimodal.Modality.Image, imgs, dir)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val raw = graft.streaming.MultimodalDedupStream.gateBatch(graft.multimodal.Modality.Image,
      fresh, spark.read.parquet(s"$dir/image_phash"), maxHamming = 3)
      .collect().map(key).toSet
    val banded = graft.streaming.MultimodalDedupStream.gateBatchIndexed(graft.multimodal.Modality.Image,
      fresh, spark.read.parquet(s"$dir/image_phash_banded"), maxHamming = 3)
      .collect().map(key).toSet
    assert(raw == banded && banded.nonEmpty,
      s"banded serve must equal raw serve: raw=$raw banded=$banded")
    // the banded serve plan scans only the persisted banded table — no
    // index-side aggregate or window survives at serve time
    val p = graft.dedup.Dedup.hammingMatchesAgainstBanded(
      Seq((31L, 7L)).toDF("doc_id", "phash"),
      spark.read.parquet(s"$dir/image_phash_banded"), "phash", 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("image_phash_banded"), s"serve must scan the banded table:\n$p")
    assert(!p.contains("Window"), s"no hot-bucket window at serve time:\n$p")
    // hot-bucket cap parity: a band-0 bucket over the cap drops on BOTH
    // paths (the bandedHammingPairs recall contract, precomputed or not)
    val sats = (0 until 6).map(i => (100L + i, (1L << (15 + i)) | 1L))
    val idxFps = ((1L, 1L) +: sats).toDF("doc_id", "simhash")
    val freshFps = Seq((999L, 1L)).toDF("doc_id", "simhash")
    val rawCap = Dedup.hammingMatchesAgainst(freshFps, idxFps, "simhash",
      maxHamming = 0, maxBucketSize = 4).collect().map(key).toSet
    val preCap = Dedup.hammingMatchesAgainstBanded(freshFps,
      Dedup.bandedFpIndex(idxFps, "simhash", maxBucketSize = 4), "simhash",
      maxHamming = 0).collect().map(key).toSet
    assert(rawCap == preCap, s"cap parity: raw=$rawCap pre=$preCap")
  }

  test("every modality: served and incremental pairs equal direct pairs; raw-index gate equals pre-banded gate") {
    import graft.multimodal.Modality
    import graft.streaming.MultimodalDedupStream
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val even = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val odd = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      try df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      finally df.unpersist()
    for (m <- Modality.all) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-${m.name}-fp-all")
      val evenDir = java.nio.file.Files.createTempDirectory(s"graft-${m.name}-fp-even")
      Dedup.writeFingerprintIndex(m, docs, dir.toString)
      Dedup.writeFingerprintIndex(m, even, evenDir.toString)
      val direct = rows(Dedup.fingerprintPairs(m, docs, maxHamming = 3))
      assert(direct.nonEmpty, s"$m: the sf0.001 corpus has near-dup payloads; empty = broken join")
      val served = rows(Dedup.fingerprintPairsFrom(m,
        spark.read.parquet(s"$dir/${m.table}"), maxHamming = 3))
      assert(served == direct, s"$m: index serve must equal the direct path")
      val incr = rows(Dedup.fingerprintPairsFrom(m,
        spark.read.parquet(s"$evenDir/${m.table}").unionByName(m.fingerprints(odd)), maxHamming = 3))
      assert(incr == direct, s"$m: even-half index + odd-half fingerprints must equal the rebuild")
      val raw = rows(MultimodalDedupStream.gateBatch(m, odd,
        spark.read.parquet(s"$evenDir/${m.table}"), maxHamming = 3))
      val banded = rows(MultimodalDedupStream.gateBatchIndexed(m, odd,
        spark.read.parquet(s"$evenDir/${m.bandedTable}"), maxHamming = 3))
      assert(raw == banded && banded.nonEmpty,
        s"$m: pre-banded gate must equal the raw-index gate: raw=$raw banded=$banded")
      Seq(dir, evenDir).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    }
  }

  test("hamming band join releases its caches when the fingerprint fails at runtime") {
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a range, not a local Seq: a projection over a LocalRelation would be
    // folded (and raise) at optimization time, before anything persists
    val fps = spark.range(1, 41).select(col("id").as("doc_id"),
      when(col("id") === 3, raise_error(lit("boom")))
        .otherwise(col("id") * 0x10001L).as("simhash"))
    intercept[Exception](Dedup.bandedHammingPairs(fps, "simhash", maxHamming = 3))
    assert(spark.sharedState.cacheManager.isEmpty, "a failed pair build left a cached table")
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"leaked caches: ${left.values.map(_.name)}")
  }

  test("audio fingerprint: banded pairs equal all-pairs truth; re-encode robustness; invalid payloads drop") {
    import spark.implicits._
    // doc_ids 37/78 are congruent mod 41 -> identical 82-byte PCM planes
    // up to content; 78 perturbs ONE byte of 37's plane (a re-encode-
    // style local change: >= 61 frames over 82 bytes put that byte in
    // exactly one frame, which feeds exactly two permuted comparisons,
    // so hamming <= 2); 119 (also ≡ 37 mod 41) rewrites half the plane
    val base = "low low low HIGH low low LOUD quiet quiet loud LOUD soft mid mid soft peak dip a"
    val wavs = Seq(
      (37L, base),
      (78L, base.updated(20, 'Q')),
      (119L, base.take(40) + "ZZZZ!!!! completely different tail @@@ ###"),
      (4L, "another unrelated clip with its own energy profile entirely x")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val fp = graft.multimodal.Multimodal.audioFingerprint(wavs).collect()
      .map(w => w.doc_id -> w.afp).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(37L), fp(78L)) <= 2,
      s"one perturbed PCM byte flips at most its frame's two comparisons: ${ham(fp(37L), fp(78L))}")
    assert(ham(fp(37L), fp(119L)) > 3, "a half-rewritten plane is no near-dup")
    // pigeonhole: the banded join surfaces EXACTLY the guarded star+rep truth
    val expected = guardedPairsTruth(fp, 3)
    assert(expected.contains((37L, 78L)))
    val got = Dedup.fingerprintPairs(graft.multimodal.Modality.Audio, wavs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"banded pairs must equal guarded truth: got=$got expected=$expected")
    // malformed payloads route to valid=false (never pair, never throw):
    // truncated header, and a zero-length data chunk whose frame reads
    // would otherwise run out of bounds
    assert(!graft.multimodal.Multimodal.audioFpWav(9L, Array[Byte]('R', 'I')).valid)

    // index lifecycle: serve-from-parquet equals the direct path and
    // never re-decodes the corpus; even-half index + fresh odd-half
    // fingerprints equal the full rebuild
    val dir = java.nio.file.Files.createTempDirectory("graft-audiofp-spec").toString
    Dedup.writeFingerprintIndex(graft.multimodal.Modality.Audio, wavs, dir)
    val idx = spark.read.parquet(s"$dir/audio_fp")
    val served = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio, idx, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(served == expected, "index serve must equal the direct path")
    val p = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio, idx, maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-audiofp-spec") && !p.toLowerCase.contains("mappartitions"),
      s"serve plan must scan the index, not re-decode:\n$p")
    val evenDir = java.nio.file.Files.createTempDirectory("graft-audiofp-even").toString
    Dedup.writeFingerprintIndex(graft.multimodal.Modality.Audio, wavs.filter(pmod(col("doc_id"), lit(2L)) === 0), evenDir)
    val merged = spark.read.parquet(s"$evenDir/audio_fp").unionByName(
      graft.multimodal.Multimodal.audioFingerprint(
          wavs.filter(pmod(col("doc_id"), lit(2L)) === 1)).toDF()
        .filter(col("valid")).select(col("doc_id"), col("afp")))
    val incr = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio, merged, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(incr == expected, "incremental ingest must equal the from-scratch rebuild")
  }

  test("video fingerprint: frame-local edits pair, tail-extended sequences match, container guards hold") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // doc_ids 1/16/31 are congruent mod 15 -> identical 3x3 frame
    // geometry (9 bytes/frame, 549-byte stream); 16 perturbs ONE byte of
    // 1's frame 30 (a re-encoded frame: that frame feeds exactly two
    // permuted comparisons, so hamming <= 2); 31 rewrites the back half
    // of the stream (31 frames) — no near-dup
    val base = ("frame energy content varies here " * 20).take(549)
    val oneFrame = base.updated(274, 'Z')
    val far = base.take(270) + ("#@! 9" * 60).take(279)
    val vids = Seq((1L, base), (16L, oneFrame), (31L, far),
        (4L, "another unrelated clip with its own energy profile " * 5))
      .map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val fp = Multimodal.videoFingerprint(vids).collect().map(v => v.doc_id -> v.vfp).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(16L)) <= 2,
      s"one re-encoded frame flips at most its two comparisons: ${ham(fp(1L), fp(16L))}")
    assert(ham(fp(1L), fp(31L)) > 3, "a half-rewritten sequence is no near-dup")
    // the banded join surfaces EXACTLY the guarded star+rep truth
    val expected = guardedPairsTruth(fp, 3)
    assert(expected.contains((1L, 16L)))
    val got = Dedup.fingerprintPairs(graft.multimodal.Modality.Video, vids, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"banded pairs must equal guarded truth: got=$got expected=$expected")
    // SHIFTED-TAIL sequence: appending a frame to the container (a
    // trimmed/extended cut of the same clip) keeps every one of the 61
    // nearest-neighbor frame samples on the same underlying frame
    // (floor(i*62/61) == i for i < 61), so the fingerprints are
    // IDENTICAL — the temporal analog of the audio fingerprint's
    // re-encode robustness
    def vid(nf: Int, frames: Array[Byte]): Array[Byte] =
      s"VID0\n$nf 3 1\n".getBytes("US-ASCII") ++ frames
    val frames61 = Array.tabulate(61 * 3)(i => (32 + (i * 7) % 90).toByte)
    val fp61 = Multimodal.videoFpBytes(9L, vid(61, frames61))
    val fp62 = Multimodal.videoFpBytes(9L, vid(62, frames61 ++ Array.fill(3)('x'.toByte)))
    assert(fp61.valid && fp62.valid && fp61.vfp == fp62.vfp,
      "a tail-extended cut must fingerprint identically")
    // malformed payloads route to valid = false (never pair, never throw):
    // truncated magic, zero-dim geometry, single-frame container (no
    // delta defined), and a stream-length mismatch
    assert(!Multimodal.videoFpBytes(9L, Array[Byte]('V', 'I')).valid)
    assert(!Multimodal.videoFpBytes(9L, "VID0\n61 0 3\n".getBytes("US-ASCII")).valid)
    assert(!Multimodal.videoFpBytes(9L,
      "VID0\n1 3 1\n".getBytes("US-ASCII") ++ Array.fill(3)('x'.toByte)).valid)
    assert(!Multimodal.videoFpBytes(9L,
      "VID0\n61 3 1\n".getBytes("US-ASCII") ++ Array.fill(10)('x'.toByte)).valid)
  }

  test("hamming band join: identical-fingerprint groups star-expand to O(k), never the O(k^2) clique") {
    import spark.implicits._
    // 100 identical fingerprints — a mass-duplicated asset (one logo on
    // every page). The uncapped clique would be 4950 pairs on one
    // (band, bits) key; the guard must emit exactly the 99 star edges
    // (min-id rep, member, hamming 0). 100 > MaxLshBucketSize, so this
    // also proves the collapse happens BEFORE the bucket cap could
    // silently drop the whole group.
    assert(100 > Dedup.MaxLshBucketSize)
    val grp = (1L to 100L).map(i => (i, 0x0123456789ABCL)).toDF("doc_id", "afp")
    val starred = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio, grp, maxHamming = 3).collect()
    assert(starred.length == 99, s"star expansion must be O(k): ${starred.length} pairs")
    assert(starred.forall(r => r.getLong(0) == 1L && r.getLong(2) == 0L),
      "every star edge attaches a member to the min-id representative at hamming 0")
    // two identical groups whose reps are 1 bit apart: stars inside each
    // group + ONE representative pair across — exactly the guarded truth
    val x = 0x0F0F0F0F0F0FL
    val two = Seq((10L, x), (11L, x), (12L, x), (20L, x ^ 1L), (21L, x ^ 1L))
      .toDF("doc_id", "phash")
    val got = Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Image, two, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((10L, 11L) -> 0L, (10L, 12L) -> 0L, (20L, 21L) -> 0L, (10L, 20L) -> 1L))
  }

  test("hamming band join: hot (band, bits) buckets of distinct fingerprints cap loudly") {
    import spark.implicits._
    // center c = 0 plus 70 satellites, each differing from c in exactly
    // one bit of each of bands 1..3 (hamming 3, agreeing ONLY on band 0).
    // The MDS-style triples (x, x+s, x+2s mod 15) pairwise agree in at
    // most one coordinate (two agreeing congruences force s=s', x=x'
    // since 15 is odd), so satellite-satellite hamming >= 4 — no pair
    // qualifies except through the center, and every (c, sat) pair's
    // SOLE shared band is band 0, whose bucket holds all 71 distinct
    // fingerprints: over the 64 cap, dropped, leaving zero pairs. With
    // the cap disabled the same input yields exactly the 70 (c, sat, 3)
    // pairs — pinning that the cap (and only the cap) did the dropping.
    // earlier tests legitimately leave their caller-owned pair tables
    // cached; this test's leak assertion is about THIS builder only
    spark.sharedState.cacheManager.clearCache()
    val sats = for { x <- 0 until 14; s <- 0 until 5 } yield {
      val fpv = (1L << (15 + x)) | (1L << (30 + (x + s) % 15)) | (1L << (45 + (x + 2 * s) % 15))
      (100L + x * 5 + s, fpv)
    }
    val fps = ((1L, 0L) +: sats).toDF("doc_id", "simhash")
    assert(sats.size == 70 && sats.map(_._2).distinct.size == 70)
    val capped = Dedup.bandedHammingPairs(fps, "simhash", maxHamming = 3)
    assert(capped.count() == 0L, "the hot band-0 bucket must drop under the default cap")
    capped.unpersist(blocking = true)
    val uncapped = Dedup.bandedHammingPairs(fps, "simhash", maxHamming = 3, maxBucketSize = 0)
    val rows = uncapped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 70 && rows.forall(t => t._1 == 1L && t._3 == 3L),
      s"cap disabled: exactly the 70 center-satellite pairs: ${rows.length}")
    uncapped.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connected components merge chains transitively") {
    import spark.implicits._
    // chain 1-2-3, pair 7-9, chain 4-5-6-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 5L), (5L, 6L), (6L, 8L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 8L -> 4L))
  }

  test("keepCanonical keeps one doc per component plus every out-of-graph doc") {
    import spark.implicits._
    // chain corpus around a central doc b: a and c are single-token
    // edits of b at opposite ends (shingle-J(a,b)=J(b,c)=0.9, reliably
    // band-colliding at 4x4), so the component {a,b,c} forms through b
    // and the canonical keep must retain exactly min = 10 — where the
    // greedy drop-the-larger pass in CleanCorpus would delete per-pair
    val base = "the quick brown fox jumps over the lazy dog tonight while stars shine above the quiet sleepy town and everyone rests"
    val chain = Seq(
      (10L, "a " + base.drop(4)),          // first token edited
      (11L, base),                          // b: bridges a and c
      (12L, base.dropRight(5) + "sings"),   // last token edited
      (13L, "entirely unrelated content about distributed query planning today")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val kept = Dedup.keepCanonical(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(10L -> 2L, 13L -> 0L),
      s"expected canonical 10 absorbing 2 dups + untouched 13, got $kept")
    // and on the shared fixture: survivors of 1~2~3 collapse to doc 1
    val fixtureKept = Dedup.keepCanonical(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixtureKept == Map(1L -> 2L, 4L -> 0L, 5L -> 0L), s"got $fixtureKept")
  }

  test("cluster size histogram: one row per size, singletons counted, doc totals conserved") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog tonight while stars shine above the quiet sleepy town and everyone rests"
    val corpus = Seq(
      (10L, "a " + base.drop(4)),           // }
      (11L, base),                           // } one 3-cluster through 11
      (12L, base.dropRight(5) + "sings"),    // }
      (20L, "completely different text about distributed query planning and shuffle exchange reuse in modern engines"),
      (21L, "completely different text about distributed query planning and shuffle exchange reuse in modern engines"), // exact clone of 20
      (30L, "a singleton document speaking of nothing that any other document here ever mentions at all today")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val hist = Dedup.clusterSizeHistogram(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hist == Map(3L -> (1L, 3L), 2L -> (1L, 2L), 1L -> (1L, 1L)), s"got $hist")
    // conservation: every corpus doc lands in exactly one cluster
    assert(hist.values.map(_._2).sum == 6L)
  }

  test("novelty: clones score 0, new text 1, partial overlap in between, short docs 0") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),          // reference (even)
      (2L, "eta theta iota kappa lambda mu"),               // reference (even)
      (1L, "alpha beta gamma delta epsilon zeta"),          // clone of ref 0
      (3L, "totally novel words nobody else ever wrote"),   // all-new
      (5L, "alpha beta gamma delta brand new ending"),      // 2 of 5 shingles seen
      (7L, "too short")                                     // < 3 tokens
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val r = Dedup.noveltyScores(corpus, col("doc_id") % 2 === 0).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r.keySet == Set(1L, 3L, 5L, 7L), s"one row per incoming doc: $r")
    assert(r(1L)._3 == 0.0 && r(1L)._1 == r(1L)._2, s"clone must score 0: ${r(1L)}")
    assert(r(3L)._3 == 1.0 && r(3L)._2 == 0, s"all-new must score 1: ${r(3L)}")
    assert(r(5L) == (5L, 2L, 0.6), s"partial overlap 1 - 2/5: ${r(5L)}")
    assert(r(7L) == (0L, 0L, 0.0), s"shingle-less doc scores 0: ${r(7L)}")
  }

  test("passageContainment attributes repeats to the first owner and excludes self-repeats") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),     // original: 3 windows of 3
      (2L, "t1 t2 t3 t4 t5 t6 u1 u2 u3"),     // contains A's first 2 windows -> 2/3
      (3L, "x1 x2 x3 x1 x2 x3"),              // pure self-repeat: must NOT pair
      (4L, "y1 y2")                            // sub-window: no passages
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val rows = Dedup.passageContainment(corpus, window = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq((2L, 1L, 2L, 3L, 0.666667)),
      s"expected doc 2 contained-in doc 1 at 2/3, got ${rows.toSeq}")
    // the symmetric-Jaccard blind spot this operator exists for: the
    // pair (1,2) shares 6 of 12 distinct tokens — shingle Jaccard ~0.33,
    // far below any LSH banding threshold — yet containment is 0.67
    val j = Dedup.jaccardPairs(corpus, threshold = 0.0)
      .filter(col("a") === 1 && col("b") === 2).collect()
    assert(j.isEmpty || j.head.getDouble(5) < 0.5)
  }

  test("band tuning picks the factorization whose S-curve inflection is nearest the target") {
    // 16 perms: inflections are (b,r)=(1,16)->1.0^... , (2,8)->0.917,
    // (4,4)->0.707, (8,2)->0.354, (16,1)->0.0625
    assert(Dedup.tuneBands(0.7, 16) == ((4, 4)), "the engine's own default")
    assert(Dedup.tuneBands(0.9, 16) == ((2, 8)))
    assert(Dedup.tuneBands(0.35, 16) == ((8, 2)))
    // monotone: a higher target threshold never picks fewer rows per band
    val picks = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(t => Dedup.tuneBands(t, 16)._2)
    assert(picks == picks.sorted, s"rows-per-band must grow with the threshold: $picks")
    intercept[IllegalArgumentException](Dedup.tuneBands(1.5, 16))
  }

  test("tuned 8x2 banding dominates the default 4x4 on loose pairs (recall ordering end to end)") {
    import spark.implicits._
    // pairs across the similarity range: shared token prefixes of varying
    // length against distinct suffixes put true Jaccard between ~0.2 and
    // ~0.9 — the range where band geometry decides recall
    def doc(prefix: Int, tag: String): String =
      ((1 to prefix).map(i => s"w$i") ++ (1 to (20 - prefix)).map(i => s"$tag$i")).mkString(" ")
    val corpus = Seq(
      (1L, doc(20, "a")), (2L, doc(18, "b")),   // j high
      (3L, doc(14, "c")), (4L, doc(12, "d")),   // j mid
      (5L, doc(8, "e")), (6L, doc(6, "f")),     // j low-mid
      (7L, doc(3, "g")), (8L, doc(2, "h"))      // j low
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val (tb, tr) = Dedup.tuneBands(0.35, 16)
    assert((tb, tr) == ((8, 2)))
    val truth = Dedup.jaccardPairs(corpus, threshold = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candDefault = Dedup.lshCandidates(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candTuned = Dedup.lshCandidates(corpus, bands = tb, rowsPerBand = tr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // structural: an 8x2 band is HALF a 4x4 band (band b hashes h2b,h2b+1),
    // so any 4-row collision implies a 2-row collision — tuned candidates
    // can only add pairs, never lose them
    assert(candDefault.subsetOf(candTuned),
      s"4x4 pairs must survive the 8x2 split: ${candDefault -- candTuned}")
    // the tuning's point: recall of true j>=0.35 pairs improves strictly
    // on this corpus (the s-curve at j~0.4: 4x4 collides ~23%, 8x2 ~90%)
    val recallD = truth.count(candDefault).toDouble / truth.size
    val recallT = truth.count(candTuned).toDouble / truth.size
    assert(recallT > recallD,
      s"8x2 must beat 4x4 on loose pairs: tuned=$recallT default=$recallD over ${truth.size} true pairs")
  }

  test("hot LSH buckets are capped: a 1000-doc degenerate bucket emits no quadratic pair blowup") {
    import spark.implicits._
    // 1,000 byte-identical boilerplate docs: every one produces the same
    // minhash signature, so all of them land in the SAME (band, sig)
    // bucket in every band — the degenerate corpus that would emit
    // ~499,500 clone-clone pairs (O(b²)) from the uncapped self-join
    val clones = (1000L until 2000L)
      .map(i => (i, "spam boilerplate body repeated verbatim on every mirror page", "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = docs.union(clones)
    // precondition: the clones really do form oversized buckets
    val rawMax = Dedup.lshBuckets(corpus).groupBy("band", "sig").count()
      .agg(max("count")).first().getLong(0)
    assert(rawMax >= 1000L, s"fixture must create a hot bucket, max size was $rawMax")
    // the cap drops them before the join: bounded output, no clone pairs
    val cand = Dedup.lshCandidates(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cand.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      "clone-clone pairs must be dropped with their hot bucket (exact dedup owns them)")
    assert(cand.size < 100, s"candidate count must stay bounded, got ${cand.size}")
    // the genuine small-bucket pairs are untouched by the cap
    assert(cand.contains((1L, 2L)))
    assert(cand.contains((1L, 3L)) || cand.contains((2L, 3L)))
    // and the capped bucket table honors the documented bound
    val cappedMax = Dedup.capBuckets(Dedup.lshBuckets(corpus))
      .groupBy("band", "sig").count().agg(max("count")).first().getLong(0)
    assert(cappedMax <= Dedup.MaxLshBucketSize,
      s"capBuckets must bound every bucket at ${Dedup.MaxLshBucketSize}, got $cappedMax")
  }

  test("lshComponents star-expands hot buckets: a 1000-clone cluster labels as ONE component") {
    import spark.implicits._
    // same degenerate corpus as the cap test: the 1,000 clones exceed
    // MaxLshBucketSize in every band, so the pair API drops them — but
    // component labeling must NOT lose them (they are exactly the
    // near-dup cluster dedup exists to find). Star expansion gives the
    // cluster 999 edges instead of ~499,500 and the same connectivity.
    val clones = (1000L until 2000L)
      .map(i => (i, "spam boilerplate body repeated verbatim on every mirror page", "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = docs.union(clones)
    val labels = Dedup.lshComponents(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1000L until 2000L).foreach { i =>
      assert(labels.get(i).contains(1000L),
        s"clone $i must label with the cluster min 1000, got ${labels.get(i)}")
    }
    // the small-bucket components are untouched by the hot cluster
    val smallOnly = Dedup.lshComponents(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    smallOnly.foreach { case (d, c) =>
      assert(labels.get(d).contains(c), s"doc $d: $c vs ${labels.get(d)}")
    }
    // and keepCanonical keeps exactly one clone (the canonical min)
    val kept = Dedup.keepCanonical(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.get(1000L).contains(999L), s"canonical clone: ${kept.get(1000L)}")
    assert((1001L until 2000L).forall(!kept.contains(_)), "non-canonical clones must drop")
  }

  test("lshComponents labeling is invariant to the bucket cap") {
    // the star-expansion guarantee stated as a property: a bucket's only
    // contribution to connectivity is "all members connected", which the
    // star preserves — so labels must not depend on WHERE the cap sits.
    // cap=2 forces the star path for every multi-doc bucket; cap=0
    // disables capping (pure cliques); both must equal the default.
    val base = Dedup.lshComponents(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(2, 0).foreach { cap =>
      val got = Dedup.lshComponents(docs, maxBucketSize = cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == base, s"cap=$cap changed component labels")
    }
  }

  test("jaccardVerify equals the exact baseline on every LSH candidate pair") {
    val cand = Dedup.lshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    val verified = Dedup.jaccardVerify(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    assert(verified.keySet == cand, "verify stage must cover exactly the candidate set")
    verified.foreach { case (p, v) =>
      assert(exact(p) == v, s"pair $p: candidate-restricted $v != baseline ${exact(p)}")
    }
  }

  test("seeded lshComponents matches unseeded label propagation") {
    val unseeded = Dedup.connectedComponents(Dedup.lshCandidates(docs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeded = Dedup.lshComponents(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seeded == unseeded)
  }

  test("pre-banded minhash bucket serve equals the raw jaccard gate") {
    import spark.implicits._
    // start from a clean slate (the no-leaked-caches epilogue below must
    // not inherit earlier tests' query-scoped caches)
    spark.sharedState.cacheManager.clearCache()
    // the r21 text-gate serve split: bandedSigIndex at build +
    // jaccardMatchesAgainstBanded at serve must reproduce
    // jaccardMatchesAgainst(raw sigs) exactly — pipeline_ingest_gate and
    // the PretrainStream gate ride this
    val base = "the quick brown fox jumps over the lazy dog tonight while stars shine above"
    val idxDocs = Seq(
      (2L, base),
      (4L, base + " and everyone rests"),
      (6L, "completely different content nothing shared here at all zzz qqq www eee rrr")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (31L, base + " and everyone rests soundly"),  // near-dup of 4
      (33L, "unrelated fresh arrival text with its own words entirely distinct")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-jband-spec").toString
    Dedup.writeDedupIndex(idxDocs, dir)
    val sigs = spark.read.parquet(s"$dir/minhash_sigs")
    val sets = spark.read.parquet(s"$dir/shingle_sets")
    val buckets = spark.read.parquet(s"$dir/minhash_buckets")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val raw = Dedup.jaccardMatchesAgainst(fresh, sigs, sets, threshold = 0.3)
    val banded = Dedup.jaccardMatchesAgainstBanded(fresh, buckets, sets, threshold = 0.3)
    val rawK = raw.collect().map(key).toSet
    val bandedK = banded.collect().map(key).toSet
    assert(rawK == bandedK && bandedK.nonEmpty,
      s"banded serve must equal raw serve: raw=$rawK banded=$bandedK")
    // the banded serve plan scans the persisted bucket table and carries
    // no index-side cap window at serve time
    val p = banded.queryExecution.executedPlan.toString
    assert(p.contains("minhash_buckets"), s"serve must scan the bucket table:\n$p")
    assert(!p.contains("Window"), s"no index-side cap window at serve time:\n$p")
    raw.unpersist(); banded.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("hammingComponents equals generic label propagation on a banded pair graph") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    // fingerprints: two identical-fp groups (star edges) whose reps chain
    // through hamming-1 neighbors, one isolated identical-fp group, one
    // singleton — exercises rep-graph CC, member attach, AND the
    // isolated-star-rep self-label branch
    val fps = Seq(
      (10L, 8L), (11L, 8L), (12L, 8L),      // group A: rep 10
      (20L, 9L), (21L, 9L),                 // group B: rep 20 (hamming(8,9)=1 -> A~B)
      (30L, 12L),                           // lone rep, hamming(8,12)=1? 8=1000,12=1100 -> 1 bit: joins A
      (40L, 3L), (41L, 3L),                 // group C: isolated (hamming(3,8)=2... no: 3=0011 vs 8=1000 -> 3 bits)
      (50L, 1L << 40)                       // far singleton: no pairs at all
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.bandedHammingPairs(fps, "simhash", maxHamming = 1, maxBucketSize = 0)
    val generic = Dedup.connectedComponents(pairs)
    val fast = Dedup.hammingComponents(pairs)
    val g = generic.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == g, s"star-contracted labels must equal generic CC: fast=$f generic=$g")
    // the isolated identical-fp group must be present and self-headed
    assert(f.get(41L).contains(40L) && f.get(40L).contains(40L),
      s"isolated star group labels itself: $f")
    generic.unpersist(); fast.unpersist(); pairs.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connectedComponents releases every internal cache") {
    import spark.implicits._
    // start from a clean slate: earlier tests' query-scoped caches are
    // released per query in production (Verify/Bench clear per query)
    spark.sharedState.cacheManager.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs)
    labels.count()
    labels.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connectedComponents releases its caches when it does not converge") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    // a 9-vertex path needs more than one round of pointer jumping
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException](Dedup.connectedComponents(pairs, maxIters = 1))
    assert(spark.sharedState.cacheManager.isEmpty, "a failed CC left a cached table")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connectedComponents releases its caches when a checkpoint job fails") {
    spark.sharedState.cacheManager.clearCache()
    val pairs = spark.range(1, 9).select(col("id").as("a"), (col("id") + 1).as("b"))
    // the seeds raise inside the checkpoint's own job (no shuffle runs
    // first), after its RDD is already registered as persisted; a range,
    // not a local Seq, so the error is not raised at optimization time
    val seeds = spark.range(1, 10).select(col("id").as("doc_id"),
      when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id")).as("component"))
    intercept[Exception](Dedup.connectedComponents(pairs, seeds = Some(seeds)))
    assert(spark.sharedState.cacheManager.isEmpty, "a failed CC left a cached table")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("every persisting builder releases its internal caches; caller owns only the result") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => math.sin(seed * 64 + j).toFloat)
    val emb = ((0 until 8).map(i => (i.toLong, vec(i))) :+ (100L, vec(0)))
      .toDF("vec_id", "embedding")
    val builders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "lshCandidates" -> (() => Dedup.lshCandidates(docs)),
      "jaccardVerify" -> (() => Dedup.jaccardVerify(docs, threshold = 0.0)),
      "jaccardPairs" -> (() => Dedup.jaccardPairs(docs, threshold = 0.0)),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs)),
      "embeddingLshPairs" -> (() => Dedup.embeddingLshPairs(emb, bands = 8, rowsPerBand = 8, minCos = 0.99)),
      "lshComponents" -> (() => Dedup.lshComponents(docs)),
      "winnowOverlap" -> (() => Dedup.winnowOverlap(docs, minShared = 1L)),
      "editDistanceVerify" -> (() => Dedup.editDistanceVerify(docs, minSim = 0.5)),
      "sortedNeighborhood" -> (() => Dedup.sortedNeighborhood(docs)),
      "multipassVerify" -> (() => Dedup.multipassVerify(docs, threshold = 0.0)))
    builders.foreach { case (name, build) =>
      val out = build()
      out.count()
      out.unpersist(blocking = true)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    }
  }

  test("a Verify-style sweep of cache-heavy queries leaves no persisted RDDs") {
    val sf = "/root/testdata/sf0.001"
    spark.sharedState.cacheManager.clearCache()
    // the three heaviest cache users: builder-internal persists must be
    // scoped, and the per-query clearCache (what Verify/Bench do) must
    // release the rest
    Seq("pipeline_clean_corpus", "dedup_ngram_jaccard", "collocations_e2e").foreach { q =>
      SparkEntry.queries(q)(spark, sf).count()
      spark.sharedState.cacheManager.clearCache()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$q leaked caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    }
  }

  test("embedding LSH pair-dedup finds the same near-dup pairs as brute force") {
    import spark.implicits._
    // 20 well-separated base vectors + 5 planted near-duplicates
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => math.sin(seed * 64 + j).toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
    val dups = (0 until 5).map { i =>
      val v = vec(i).clone(); v(63) = v(63) + 0.01f; (100L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val brute = Dedup.closestEmbeddingPairs(emb, topN = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshPairs(emb, bands = 8, rowsPerBand = 8, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"lsh=$lsh brute=$brute")
    assert(lsh == (0 until 5).map(i => (i.toLong, 100L + i)).toSet)
  }

  test("semanticDedup collapses each within-cluster duplicate group to its min id") {
    import spark.implicits._
    // 3 mutually-orthogonal groups (disjoint support): bases 0/1/2 seed the
    // k-means (lowest vec_ids), each group adds near-identical members that
    // must share the base's cell and collapse into one component
    def groupVec(g: Int, eps: Float): Array[Float] = {
      val v = new Array[Float](64)
      (g * 10 until g * 10 + 10).foreach(j => v(j) = 1f)
      v(g * 10) += eps
      v
    }
    val rows =
      (0 until 3).map(g => (g.toLong, groupVec(g, 0f))) ++           // bases
      (0 until 3).map(g => (100L + g, groupVec(g, 0.01f))) ++        // near-dups
      (0 until 3).map(g => (200L + g, groupVec(g, 0.02f))) :+        // near-dups
      (999L, Array.tabulate(64)(j => if (j >= 30 && j < 40) 1f else 0f)) // singleton
    val emb = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, nClusters = 3, iters = 2, minCos = 0.9)
    val byId = out.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(byId.size == 10)
    for (g <- 0 until 3) {
      val members = Seq(g.toLong, 100L + g, 200L + g)
      // one shared cell per group, component = min id, only the min kept
      assert(members.map(byId(_)._1).distinct.size == 1, s"group $g split across cells")
      members.foreach(m => assert(byId(m)._2 == g.toLong, s"member $m component"))
      assert(members.map(m => byId(m)._3) == Seq(1, 0, 0))
    }
    // the far-away singleton survives as its own component
    assert(byId(999L)._2 == 999L && byId(999L)._3 == 1)
    out.unpersist()
  }

  test("semanticDedup indexed serve equals the rebuild and never re-clusters") {
    import graft.similarity.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val rebuild = Dedup.semanticDedup(emb, nClusters = 8, iters = 2, minCos = 0.4)
    // persist the model with the SAME training params, read it back, serve
    val dir = java.nio.file.Files.createTempDirectory("graft-sem-model").toString
    Ann.writeIvfModel(emb, dir, nCells = 8, iters = 2, trainStride = 1)
    val cents = Ann.readIvfModel(spark, dir)
    val served = Dedup.semanticDedupWith(emb, cents, minCos = 0.4)
    assert(rows(served) == rows(rebuild),
      "serving from the persisted centroid model must equal the from-scratch rebuild")
    // the persisted model round-trips exactly (deterministic decimal-mean
    // Lloyd), so the serve path's literal assignment is the rebuild's
    assert(cents.map { case (c, a) => (c, a.toSeq) } ==
      Ann.ivfCentroids(emb, 8, 2, 1).map { case (c, a) => (c, a.toSeq) })
    rebuild.unpersist(); served.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("jaccardMatchesAgainst flags arrivals against the persisted index, best match only") {
    import spark.implicits._
    val idxDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical pair in index
      (3L, "totally unrelated words about storage engines and query planners")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-jmatch-idx").toString
    Dedup.writeDedupIndex(idxDocs, dir)
    val sigs = spark.read.parquet(s"$dir/minhash_sigs")
    val sets = spark.read.parquet(s"$dir/shingle_sets")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1 AND 2 -> min id 1
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),  // re-ingest: own id excluded, still matches 2
      (11L, "completely novel content nothing shares any shingle here")
    ).toDF("doc_id", "text")
    val out = Dedup.jaccardMatchesAgainst(fresh, sigs, sets)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((10L, 1L, 1.0), (1L, 2L, 1.0)), rows)
    out.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("semantic decon flags embedding neighbors of benchmark vectors; serve equals rebuild") {
    import spark.implicits._
    import graft.similarity.Ann
    // two orthogonal benchmark topics; one has an identical twin so the
    // best-match tie-break (highest cosine, then smallest id) is exercised
    def groupVec(g: Int, eps: Float): Array[Float] = {
      val v = new Array[Float](64)
      (g * 10 until g * 10 + 10).foreach(j => v(j) = 1f)
      v(g * 10) += eps
      v
    }
    val bench = Seq(
      (10L, groupVec(0, 0f)), (30L, groupVec(0, 0f)), // identical pair, topic 0
      (20L, groupVec(1, 0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (11L, groupVec(0, 0f)),    // ties 10 and 30 at cos 1.0 -> must report 10
      (21L, groupVec(1, 0.01f)), // paraphrase neighbor of 20
      (35L, Array.tabulate(64)(j => if (j >= 30 && j < 40) 1f else 0f)), // clean
      (36L, new Array[Float](64))). // zero-norm: cosine undefined, never flags
      toDF("vec_id", "embedding")
    val cents = Ann.ivfCentroids(bench, nCells = 2, iters = 2, trainStride = 1)
    val flagged = Dedup.semanticDeconMatches(
      train, Dedup.assignedCells(bench, cents), cents, minCos = 0.9)
    val rows = flagged.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((11L, 10L), (21L, 20L)), rows.toSeq)
    assert(rows.find(_._1 == 11L).get._3 == 1.0)
    // serve twin: the persisted benchmark index reproduces the rebuild
    val dir = java.nio.file.Files.createTempDirectory("graft-semdecon").toString
    Dedup.writeSemanticDeconIndex(bench, dir, nClusters = 2, iters = 2, trainStride = 1)
    val servedCents = Ann.readIvfModel(spark, s"$dir/centroids")
    assert(servedCents.map { case (c, a) => (c, a.toSeq) } ==
      cents.map { case (c, a) => (c, a.toSeq) })
    val served = Dedup.semanticDeconMatches(
      train, spark.read.parquet(s"$dir/bench"), servedCents, minCos = 0.9)
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      rows.toSet, "serving from the persisted benchmark index must equal the rebuild")
    // the rewrite: train ids minus flagged — the zero-norm row keeps
    val kept = train.select(col("vec_id"))
      .join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(35L, 36L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("passage dedup flags repeated token windows, first occurrence exempt") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // w=3 passages: [a b c] [d e f] — both first
      (2L, "a b c x y z"),        // [a b c] repeats (1,0); [x y z] first
      (3L, "x y z a b c extra")   // 7 tokens -> 2 passages, BOTH repeats
    ).toDF("doc_id", "text")
    val out = Dedup.passageDupStats(docs, window = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 0L)))
    assert(out(2L) == ((2L, 1L)))
    assert(out(3L) == ((2L, 2L)))
    // a document shorter than one window still appears: zero passages,
    // zero dups, NULL ratio (0/0 has no defined value)
    val tiny = Dedup.passageDupStats(Seq((9L, "a b")).toDF("doc_id", "text"), window = 3)
      .collect()
    assert(tiny.length == 1)
    assert(tiny(0).getLong(1) == 0L && tiny(0).getLong(2) == 0L && tiny(0).isNullAt(3))
  }

  test("dup-passage removal keeps first occurrences in order, drops repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // both passages first -> unchanged
      (2L, "a b c x y z"),        // [a b c] repeats (1,0) -> only "x y z" kept
      (3L, "x y z a b c"),        // both repeat -> empty rewrite
      (4L, "q r")                 // shorter than one window -> stays, rebuilt empty
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupPassages(docs, window = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f", 2L, 0L)))
    assert(out(2L) == (("x y z", 1L, 1L)))
    assert(out(3L) == (("", 0L, 2L)))
    assert(out(4L) == (("", 0L, 0L)))
  }

  test("Gaussian hyperplane LSH matches brute force and is seed-deterministic") {
    import spark.implicits._
    // same planted-near-dup corpus as the axis-aligned test: the random
    // hyperplane form must find exactly the brute-force pairs at 8x8 bands
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => math.sin(seed * 64 + j).toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
    val dups = (0 until 5).map { i =>
      val v = vec(i).clone(); v(63) = v(63) + 0.01f; (100L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val brute = Dedup.closestEmbeddingPairs(emb, topN = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = Dedup.embeddingLshPairsGaussian(emb, dim = 64, bands = 8, rowsPerBand = 8,
      minCos = 0.99).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == brute, s"gaussian=$g brute=$brute")
    // same seed -> identical pair set on a re-run (content-stable planes)
    val g2 = Dedup.embeddingLshPairsGaussian(emb, dim = 64, bands = 8, rowsPerBand = 8,
      minCos = 0.99).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g2 == g)
  }

  test("Gaussian planes discriminate where axis-aligned signs collapse") {
    import spark.implicits._
    // adversarial corpus for axis-aligned sign-LSH: every component is
    // strictly positive, so every axis sign bit is 1 and ALL vectors share
    // ONE bucket per band — recall is trivially perfect but the candidate
    // set is all-pairs, the quadratic the banding exists to avoid. Random
    // hyperplanes split mass independently of the data's sign structure:
    // the planted near-dups still surface while the candidate set shrinks.
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => math.abs(math.sin(seed * 64 + j)).toFloat + 0.01f)
    val base = (0 until 30).map(i => (i.toLong, vec(i)))
    val dups = (0 until 3).map { i =>
      val v = vec(i).clone(); v(63) = v(63) + 0.01f; (100L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    // minCos = -1 returns every candidate pair, so the counts compare the
    // CANDIDATE sets (selectivity), not the cosine-verified survivors
    val nAxis = Dedup.embeddingLshPairs(emb, bands = 8, rowsPerBand = 8, minCos = -1.0).count()
    val gauss = Dedup.embeddingLshPairsGaussian(emb, dim = 64, bands = 8, rowsPerBand = 8,
      minCos = -1.0)
    val nGauss = gauss.count()
    assert(nAxis == 33L * 32 / 2, s"expected axis-aligned bucket collapse (all pairs), got $nAxis")
    assert(nGauss < nAxis, s"gaussian planes should discriminate: $nGauss vs all-pairs $nAxis")
    val gPairs = gauss.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 3).foreach(i =>
      assert(gPairs.contains((i.toLong, 100L + i)), s"planted dup $i lost by gaussian LSH"))
  }

  test("contamination flags the training doc containing a benchmark passage") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, bench, "bench"),
      // training doc embedding the benchmark passage verbatim -> high containment
      (2L, s"prefix words here $bench and some trailing words", "train"),
      (3L, "a completely unrelated training document about query engines", "train")
    ).map { case (i, t, s) => (i, t, "en", s) }.toDF("doc_id", "text", "lang", "source")
    // 8 bands x 2 rows: the embedded passage gives jaccard ~0.6 vs the
    // padded training doc, where the default 4x4 S-curve is a coin flip
    val hits = Dedup.contamination(corpus, isBench = col("source") === "bench",
        bands = 8, rowsPerBand = 2, minContainment = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(hits.map(h => (h._1, h._2)).toSet == Set((2L, 1L)), s"got ${hits.toSeq}")
    assert(hits.head._3 > 0.5, "verbatim inclusion must score high containment")
  }

  test("bloom-prefiltered contamination is row-identical to the plain form") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = (Seq(
      (1L, bench, "bench"),
      (2L, s"prefix words here $bench and some trailing words", "train"),
      (3L, "a completely unrelated training document about query engines", "train")
    ) ++ (10 until 40).map(i =>
      (i.toLong, s"filler document number $i about nothing shared with evaluation sets at all", "train")
    )).map { case (i, t, s) => (i, t, "en", s) }.toDF("doc_id", "text", "lang", "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val plain = rows(Dedup.contamination(corpus, isBench = col("source") === "bench",
      bands = 8, rowsPerBand = 2, minContainment = 0.3))
    // a roomy filter AND a saturating 64-bit one (wall-to-wall false
    // positives) must both reproduce the exact result — fp only costs work
    for (m <- Seq(1 << 14, 64)) {
      val bloom = rows(Dedup.contaminationBloom(corpus, isBench = col("source") === "bench",
        bands = 8, rowsPerBand = 2, minContainment = 0.3, mBits = m))
      assert(bloom == plain, s"mBits=$m diverged: $bloom vs $plain")
    }
    // the prefilter-correctness precondition is loud, not silent
    intercept[IllegalArgumentException] {
      Dedup.contaminationBloom(corpus, isBench = col("source") === "bench", minContainment = 0.0)
    }
  }

  test("closest embedding pairs ranks the planted near-duplicate first") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),   // near dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, -0.2f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Dedup.closestEmbeddingPairs(emb, topN = 2).collect()
    assert((top.head.getLong(0), top.head.getLong(1)) == ((1L, 2L)))
    assert(top.head.getDouble(2) > 0.99)
  }

  test("winnowing fingerprints survive a shift that breaks the passage grid") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    // a 2-token prefix shifts every token position by 2 — NOT a multiple of
    // the passage window (3), so the grid-aligned passage hashes all change
    val shifted = "zz yy " + base
    val d = Seq((1L, base), (2L, shifted))
      .map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val fp = d.transform(Dedup.winnowFingerprints(_, k = 3, w = 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val f1 = fp.collect { case (1L, h) => h }.toSet
    val f2 = fp.collect { case (2L, h) => h }.toSet
    // winnowing guarantee: a shared token run of >= k + w - 1 = 6 yields a
    // shared fingerprint; the whole 18-token base is shared here
    assert((f1 & f2).nonEmpty, s"shifted copy must share fingerprints: $f1 vs $f2")
    // density: far fewer fingerprints than k-grams (18 - 3 + 1 = 16)
    assert(f1.size < 16)
    // the grid-aligned passage detector finds NOTHING on the same pair —
    // the shift-resistance winnowing exists for
    val pass = Dedup.passageDupStats(d, window = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pass.values.forall(_ == 0L), s"passage grid should miss the shifted copy: $pass")
  }

  test("a doc with exactly k tokens emits exactly one winnow fingerprint") {
    import spark.implicits._
    val d = Seq((1L, "one two three", "en")).toDF("doc_id", "text", "lang")
    val fp = d.transform(Dedup.winnowFingerprints(_, k = 3, w = 4)).collect()
    assert(fp.length == 1 && fp.head.getLong(0) == 1L)
  }

  test("a doc with fewer than k tokens emits NO winnow fingerprint row") {
    import spark.implicits._
    // regression: hs is NULL for <k-token docs, but greatest(size(hs)-3, 1)
    // still read 1 and the un-guarded transform produced a non-null [NULL]
    // array that explode KEPT — a (doc_id, NULL) row the oracle's
    // `len(tl) >= k` filter never emits, poisoning the persisted indexes
    val d = Seq((1L, "one two", "en"), (2L, "one two three four five", "en"))
      .toDF("doc_id", "text", "lang")
    val fp = d.transform(Dedup.winnowFingerprints(_, k = 3, w = 4)).collect()
    assert(fp.forall(_.getLong(0) == 2L), s"short doc must emit nothing: ${fp.toSeq}")
    assert(fp.forall(!_.isNullAt(1)), s"no NULL fingerprints: ${fp.toSeq}")
    assert(fp.nonEmpty)
    // the docs fixture's doc 5 ("ab") rides the same guarantee end to end
    val all = docs.transform(Dedup.winnowFingerprints(_, k = 3, w = 4)).collect()
    assert(!all.exists(_.getLong(0) == 5L))
  }

  test("jaccardPairs fails loudly on a hot shingle posting list instead of going quadratic") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val hot = (1L to 6L).map(i => (i, boiler, "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(hot, threshold = 0.0, maxPostingGuard = 3)
    }
    assert(e.getMessage.contains("sample"), s"guard must say how to fix: ${e.getMessage}")
    // truth stays EXACT when under the guard — same corpus, guard off vs generous
    val a = Dedup.jaccardPairs(hot, threshold = 0.0, maxPostingGuard = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.jaccardPairs(hot, threshold = 0.0, maxPostingGuard = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.size == 15, s"6 identical docs -> C(6,2)=15 pairs: ${a.size}")
  }

  test("exact-substring dedup catches a shifted, non-window-aligned copy the passage grid misses") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near riverbanks tonight"
    // a 2-token / 6-char prefix: not a multiple of the passage window (3
    // tokens), so every grid-aligned passage hash changes — and not a
    // multiple of anything the char anchors care about, because winnowed
    // anchor selection is content-defined, not position-defined
    val d = Seq((1L, base, "en"), (2L, "zz yy " + base, "en"))
      .toDF("doc_id", "text", "lang")
    val m = Dedup.substringMatches(d, minLen = 30, k = 16, w = 15).collect()
    assert(m.length == 1, s"exactly one maximal match: ${m.toSeq}")
    val r = m.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 1L, s"match starts at char 1 of doc 1: $r")      // sa
    assert(r.getLong(3) == 7L, s"match starts after the 6-char prefix: $r") // sb
    assert(r.getLong(4) == base.length.toLong, s"match is the whole base: $r")
    // the grid-aligned passage detector provably finds NOTHING here
    val pass = Dedup.passageDupStats(d, window = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(pass.values.forall(_ == 0L), s"passage grid must miss the shifted copy: $pass")
  }

  test("substring matches are maximal and separate runs stay separate rows") {
    import spark.implicits._
    val s1 = "alpha beta gamma delta epsilon zeta"   // 35 chars
    val s2 = "omicron sigma upsilon phi chi psi omega" // 39 chars
    val d = Seq((1L, s1 + " xxx " + s2, "en"), (2L, s1 + " qqq " + s2, "en"))
      .toDF("doc_id", "text", "lang")
    val m = Dedup.substringMatches(d, minLen = 30, k = 16, w = 15).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    // two maximal matches at delta 0: "s1 " (divergence at x/q) and " s2"
    assert(m.toSet == Set(
      (1L, 1L, s1.length + 1L),
      (s1.length + 5L, s1.length + 5L, s2.length + 1L)), s"got: ${m.toSeq}")
  }

  test("substring removal spans merge overlaps and cut from the higher doc_id") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near riverbanks tonight"
    val d = Seq((1L, base, "en"), (2L, "zz yy " + base, "en"))
      .toDF("doc_id", "text", "lang")
    val sp = Dedup.substringRemovalSpans(d, minLen = 30, k = 16, w = 15).collect()
    assert(sp.length == 1, s"one merged span: ${sp.toSeq}")
    val r = sp.head
    // span cut from doc 2 (the higher id): the copied base, prefix kept
    assert(r.getLong(0) == 2L && r.getLong(1) == 7L)
    assert(r.getLong(2) == 7L + base.length && r.getLong(3) == base.length.toLong)
  }

  test("intra-document repeats: exact spans, overlapping periodic runs, and the guard") {
    import spark.implicits._
    val phrase = "the same boilerplate clause"          // 27 chars
    val d = Seq(
      (1L, phrase + " then filler words " + phrase, "en"),
      (2L, "nothing repeats inside this one at all today", "en"),
      (3L, "ab" * 20, "en"))                            // periodic, overlapping matches
      .toDF("doc_id", "text", "lang")
    val m = Dedup.substringSelfRepeats(d, minLen = 15, k = 12, w = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val doc1 = m.filter(_._1 == 1L)
    assert(doc1.toSet == Set((1L, 1L, phrase.length + 20L, phrase.length.toLong)),
      s"exact repeated clause: ${doc1.toSeq}")
    assert(!m.exists(_._1 == 2L))
    // periodic "abab...": one maximal match per even delta d, spanning
    // [1, 40-d] vs [1+d, 40] — length 40-d while 40-d >= 15
    val doc3 = m.filter(_._1 == 3L).toSet
    val want = (2 to 24 by 2).map(dd => (3L, 1L, 1L + dd, 40L - dd)).toSet
    assert(doc3 == want, s"periodic run: $doc3 vs $want")
    // a pathologically periodic doc trips the per-doc posting guard
    val degenerate = Seq((9L, "z" * 500, "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Dedup.substringSelfRepeats(degenerate, minLen = 15, k = 12, w = 4, maxPostingGuard = 50)
    }
    assert(e.getMessage.contains("periodic"), e.getMessage)
  }

  test("substring scrub deletes exactly the removal spans, keeps everything else") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near riverbanks tonight"
    val d = Seq((1L, base, "en"), (2L, "zz yy " + base + " extra tail", "en"),
      (3L, "no duplicated content in this third document at all", "en"))
      .toDF("doc_id", "text", "lang")
    val r = Dedup.scrubSubstringDups(d, minLen = 30, k = 16, w = 15).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    // doc 1 is the canonical copy (lower id): untouched
    assert(r(1L) == ((base, 0L)))
    // doc 2 loses exactly the copied base (only bytes shared with doc 1
    // can match, so the span cannot bleed into " extra tail"), keeping
    // its unique prefix and tail
    assert(r(2L) == (("zz yy  extra tail", base.length.toLong)), s"got ${r(2L)}")
    assert(r(3L)._2 == 0L && r(3L)._1.nonEmpty)
    // conservation: every clean length = original - removed
    val lens = d.collect().map(x => x.getLong(0) -> x.getString(1).length).toMap
    r.foreach { case (id, (clean, rem)) =>
      assert(clean.length.toLong == lens(id) - rem, s"doc $id length mismatch") }
  }

  test("substring index serves identical matches; incremental union equals rebuild") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near riverbanks tonight"
    val d = Seq((1L, base, "en"), (2L, "zz yy " + base, "en"),
      (3L, base + " with more words appended here", "en"),
      (4L, "totally unrelated words fill this document to its end", "en"))
      .toDF("doc_id", "text", "lang")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val direct = Dedup.substringMatches(d, minLen = 30).collect().map(key).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-substr-spec").toString
    Dedup.writeSubstringIndex(d, dir)
    val an = spark.read.parquet(s"$dir/substring_anchors")
    val served = Dedup.substringMatchesFrom(an, d, minLen = 30).collect().map(key).toSet
    assert(served == direct && direct.nonEmpty, s"serve != direct: $served vs $direct")
    // incremental: even-half index + fresh odd-half anchors == rebuild
    val evenDir = java.nio.file.Files.createTempDirectory("graft-substr-even").toString
    Dedup.writeSubstringIndex(d.filter(pmod(col("doc_id"), lit(2L)) === 0), evenDir)
    val merged = spark.read.parquet(s"$evenDir/substring_anchors")
      .unionByName(Dedup.substringAnchors(d.filter(pmod(col("doc_id"), lit(2L)) === 1), 24, 7))
    val incr = Dedup.substringMatchesFrom(merged, d, minLen = 30).collect().map(key).toSet
    assert(incr == direct, s"ingest must equal rebuild: $incr vs $direct")
  }

  test("substring output is invariant to the anchor geometry") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near riverbanks tonight"
    val d = Seq((1L, base, "en"), (2L, "zz yy " + base, "en"),
      (3L, base + " and some trailing words here", "en"),
      (4L, "completely unrelated text goes in this fourth document now", "en"))
      .toDF("doc_id", "text", "lang")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // only COST moves with (k, w); any covered geometry yields the same rows
    val g1 = Dedup.substringMatches(d, minLen = 30, k = 16, w = 15).collect().map(key).toSet
    val g2 = Dedup.substringMatches(d, minLen = 30, k = 24, w = 7).collect().map(key).toSet
    val g3 = Dedup.substringMatches(d, minLen = 30, k = 28, w = 3).collect().map(key).toSet
    assert(g1 == g2 && g2 == g3, s"geometries disagree: $g1 / $g2 / $g3")
    assert(g1.nonEmpty)
  }

  test("cross-corpus substring decontamination flags the leaked train doc with merged spans") {
    import spark.implicits._
    val leak1 = "this exact benchmark passage must never appear in training data"  // 63 chars
    val leak2 = "a second evaluation answer string that is long enough to count" // 62 chars
    val d = Seq(
      // train side (src1): doc 1 leaks BOTH bench passages, doc 2 is clean
      (1L, "intro words " + leak1 + " middle filler words " + leak2 + " outro", "en", "src1"),
      (2L, "completely clean training document with no overlap at all here okay", "en", "src1"),
      // bench side (src0)
      (10L, leak1, "en", "src0"),
      (11L, "prefix " + leak2, "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val m = Dedup.substringMatchesAcross(
      d.filter(col("source") === "src1"), d.filter(col("source") === "src0"),
      minLen = 30, k = 16, w = 15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // leak2's match extends one char LEFT of the leak: both sides precede
    // it with a space, and maximal extension is exact about that
    assert(m.toSet == Set((1L, 10L, leak1.length.toLong), (1L, 11L, leak2.length + 1L)),
      s"got: ${m.toSeq}")
    val rep = Dedup.decontaminateSubstring(d, isBench = col("source") === "src0",
      minLen = 30, k = 16, w = 15).collect()
    assert(rep.length == 1 && rep.head.getLong(0) == 1L, s"only doc 1 flagged: ${rep.toSeq}")
    val r = rep.head
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L, s"two matches from two bench docs: $r")
    assert(r.getLong(3) == leak1.length.toLong, s"max match len: $r")
    // spans don't touch (filler between them): dup_chars = both leaks plus
    // leak2's extended leading space
    assert(r.getLong(4) == (leak1.length + leak2.length + 1).toLong, s"merged chars: $r")
    // the REWRITE step: both leaks (incl. leak2's extended space) cut
    // from doc 1, doc 2 untouched, bench docs absent, length conserved
    val scrub = Dedup.scrubContaminated(d, isBench = col("source") === "src0",
      minLen = 30, k = 16, w = 15).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(scrub.keySet == Set(1L, 2L), s"train rows only: ${scrub.keySet}")
    assert(scrub(2L)._2 == 0L && scrub(2L)._1.nonEmpty, s"clean doc untouched: ${scrub(2L)}")
    val orig = "intro words " + leak1 + " middle filler words " + leak2 + " outro"
    assert(scrub(1L)._2 == (leak1.length + leak2.length + 1).toLong, s"${scrub(1L)}")
    assert(scrub(1L)._1.length == orig.length - scrub(1L)._2, "length conservation")
    assert(!scrub(1L)._1.contains(leak1) && !scrub(1L)._1.contains(leak2),
      s"leaks must be gone: ${scrub(1L)._1}")
    // the sides are independent id spaces: NO identity filter, so the
    // same physical document passed on both sides matches itself
    // wholesale — and two DIFFERENT docs sharing an id (external
    // benchmark vs training ids) are never silently dropped
    val self = Dedup.substringMatchesAcross(
      d.filter(col("doc_id") === 10L), d.filter(col("doc_id") === 10L),
      minLen = 30, k = 16, w = 15).collect()
    assert(self.length == 1 && self.head.getLong(4) == leak1.length.toLong,
      s"same doc on both sides is a full-length match: ${self.toSeq}")
  }

  test("substringMatches guards the hot-anchor quadratic and rejects uncovered geometry") {
    import spark.implicits._
    val boiler = "this exact boilerplate license header repeats in every single file"
    val hot = (1L to 8L).map(i => (i, boiler, "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Dedup.substringMatches(hot, minLen = 30, k = 16, w = 15, maxPostingGuard = 3)
    }
    assert(e.getMessage.contains("posting"), e.getMessage)
    // k + w - 1 > minLen would silently miss matches between minLen and
    // k + w - 2 chars — rejected at plan time
    intercept[IllegalArgumentException] {
      Dedup.substringMatches(hot, minLen = 20, k = 16, w = 15)
    }
  }

  test("blocking eval scores LSH recall against exact all-pairs truth") {
    val r = Dedup.blockingEval(docs, threshold = 0.3).collect().head
    val (nTruth, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (recall, prec) = (r.getDouble(3), r.getDouble(4))
    // exact truth at 0.3 on the fixture: (1,2) j=1.0 and the two
    // near-dup pairs (1,3)/(2,3) at j~0.9
    assert(nTruth == 3L, s"truth pairs: $nTruth")
    assert(nHit <= math.min(nTruth, nCand))
    // identical docs always collide; the near-dup shares bands (the
    // lshCandidates spec pins at least one of its pairs), so recall > 1/3
    assert(recall >= 2.0 / 3 - 1e-9, s"recall: $recall")
    assert(recall <= 1.0 && prec >= 0.0 && prec <= 1.0)
    // internal consistency of the published ratios
    assert(math.abs(recall - nHit.toDouble / nTruth) < 1e-6)
    assert(math.abs(prec - nHit.toDouble / nCand) < 1e-6)
  }

  test("winnow index serves identical overlap; incremental union equals rebuild; no corpus in serve plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow-spec").toString
    Dedup.writeWinnowIndex(docs, dir)
    val fp = spark.read.parquet(s"$dir/winnow_fp")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val direct = Dedup.winnowOverlap(docs, minShared = 1L).collect().map(key).toSet
    val served = Dedup.winnowOverlapFrom(fp, minShared = 1L).collect().map(key).toSet
    assert(served == direct && direct.nonEmpty)
    // serve plan reads ONLY the index parquet (fresh frame — execution
    // folds scans into AQE stage leaves)
    val p = Dedup.winnowOverlapFrom(fp, minShared = 1L).queryExecution.executedPlan.toString
    assert(p.contains("graft-winnow-spec"), s"serve plan must scan the index:\n$p")
    assert(!p.contains("documents"), s"serve plan must not scan the corpus:\n$p")
    // incremental: index over the even half + fresh odd-half fingerprints
    // reproduces the full rebuild exactly (fingerprints are per-doc pure)
    val evenDir = java.nio.file.Files.createTempDirectory("graft-winnow-even").toString
    Dedup.writeWinnowIndex(docs.filter(pmod(col("doc_id"), lit(2L)) === 0), evenDir)
    val merged = spark.read.parquet(s"$evenDir/winnow_fp")
      .unionByName(Dedup.winnowFingerprints(docs.filter(pmod(col("doc_id"), lit(2L)) === 1)))
    val incr = Dedup.winnowOverlapFrom(merged, minShared = 1L).collect().map(key).toSet
    assert(incr == direct, "incremental ingest must equal the from-scratch rebuild")
  }

  test("multipass verify dominates single-pass LSH recall at the same threshold") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val lsh = Dedup.jaccardVerify(docs, threshold = 0.3).collect().map(key).toSet
    val mp = Dedup.multipassVerify(docs, threshold = 0.3).collect().map(key).toSet
    assert(lsh.subsetOf(mp), s"union blocking must not lose LSH pairs: $lsh vs $mp")
    assert(mp.nonEmpty)
    // precision stays exact: every multipass pair satisfies the threshold
    val sims = Dedup.multipassVerify(docs, threshold = 0.3).collect().map(_.getDouble(5))
    assert(sims.forall(_ >= 0.3))
  }

  test("sorted-neighborhood blocking pairs the dup cluster rank-adjacently") {
    // docs 1/2/3 share (or nearly share) every minhash, so they sort
    // adjacently on h0 and the window pairs them; doc 4 lands elsewhere
    // on the h0 axis and any window pair it gets scores jaccard 0
    val sn = Dedup.sortedNeighborhood(docs, windowSize = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val dupPairs = sn.filter { case ((a, b), _) => Set(a, b).subsetOf(Set(1L, 2L, 3L)) }
    assert(dupPairs.keySet.size == 3, s"all three cluster pairs must be windowed: $sn")
    assert(dupPairs((1L, 2L)) == 1.0)
    assert(sn.filter { case ((a, b), _) => a == 4L || b == 4L }.values.forall(_ == 0.0))
    // the short doc (5, no shingles) never appears
    assert(!sn.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("winnow overlap ranks the near-dup pair and the posting cap silences boilerplate") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val d = (Seq((1L, base), (2L, "zz yy " + base)) ++ // shifted near-dup pair
        (10L to 30L).map(i => (i, boiler))) // 21 boilerplate clones
      .map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val ov = Dedup.winnowOverlap(d, k = 3, w = 4, minShared = 2L, maxPostings = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the genuine shifted near-dup pair shares several fingerprints
    assert(ov.contains((1L, 2L)) && ov((1L, 2L)) >= 2L, s"near-dup pair missing: $ov")
    // every boilerplate fingerprint has 21 > 16 postings — capped away,
    // so no clone-clone pair survives (exactGroups is the documented
    // prefilter for byte-identical boilerplate)
    assert(!ov.keySet.exists(p => p._1 >= 10L), s"boilerplate pairs must be capped: $ov")
    // with the cap disabled the clones DO pair — the cap is what bounds them
    val uncapped = Dedup.winnowOverlap(d, k = 3, w = 4, minShared = 2L, maxPostings = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists(p => p._1 >= 10L))
  }

  test("edit-distance verify scores the exact dup 1.0 and the one-word edit just below") {
    val v = Dedup.editDistanceVerify(docs, minSim = 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(4)))).toMap
    // exact duplicate: zero distance, similarity exactly 1
    assert(v((1L, 2L)) == ((0L, 1.0)))
    // "rests" -> "sleeps" one-word edit: small positive distance, sim in (0.9, 1)
    val (d13, s13) = v((1L, 3L))
    assert(d13 > 0L && d13 <= 6L, s"one-word edit distance: $d13")
    assert(s13 < 1.0 && s13 >= 0.9)
    // the unrelated doc never reaches the verifier (not an LSH candidate)
    assert(!v.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // tightening the threshold to 1.0 keeps only the exact pair
    val exact = Dedup.editDistanceVerify(docs, minSim = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
  }

  test("hot grams: shared boilerplate tops by doc frequency, short docs drop, bounded") {
    import spark.implicits._
    val boiler = "COMMON-HEADER-BOILERPLATE-XYZ" // 29 chars > k=24
    val hd = Seq(
      (1L, s"$boiler one unique tail"),
      (2L, s"$boiler two other tail"),
      (3L, s"$boiler three more tail"),
      (4L, "entirely unrelated content that is long enough to gram"),
      (5L, "short")) // < k chars: contributes nothing
      .toDF("doc_id", "text")
    val top = Dedup.hotGrams(hd, k = 24, topN = 10).collect()
    assert(top.length == 10)
    // the top gram is a window of the shared header(+following space),
    // present in 3 docs; among the tied windows the lexicographically
    // smallest wins
    val head = top.head
    assert((boiler + " ").contains(head.getString(0)),
      s"top gram should be a window of the shared header: '${head.getString(0)}'")
    assert(head.getAs[Long]("n_docs") == 3L)
    // n_occ >= n_docs always; ordering is (n_docs desc, n_occ desc, gram asc)
    top.foreach(r => assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs")))
    val key = top.map(r => (-r.getAs[Long]("n_docs"), -r.getAs[Long]("n_occ"), r.getString(0)))
    assert(key.sameElements(key.sorted), "result must arrive in the documented order")
    // a doc shorter than k never produces a gram
    assert(!top.exists(_.getString(0).contains("short")))
  }
}
