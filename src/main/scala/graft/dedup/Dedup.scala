package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Normalize

/** Deduplication operators for an LLM training-data pipeline, designed for
  * 100 TB from the start:
  *
  *  - exact dedup: hash-groupBy on a content hash — one shuffle keyed by
  *    the hash (near-perfectly distributed);
  *  - MinHash + LSH near-dedup: the scale path. Signatures are computed
  *    array-locally per document; only (band, band-signature) keys shuffle,
  *    so the self-join touches candidate buckets, never the full cross
  *    product;
  *  - n-gram Jaccard via an inverted shingle index: exact similarity for
  *    verification of LSH candidates (quadratic only within a shingle's
  *    posting list — at scale, cap posting-list length / use it solely to
  *    verify LSH candidates);
  *  - SimHash: 60-bit fingerprints, near-dups collide in banded prefixes;
  *  - embedding cosine near-dup: brute force here, LSH/IVF bucketing in
  *    [[graft.similarity.Ann]] as the scale path.
  *
  * All hashes are md5-based so the DuckDB oracle can reproduce them
  * byte-for-byte (both engines implement standard md5; the minimum of hex
  * strings is a valid minhash order).
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact-duplicate groups: (text_hash, n_docs, keep_id). `keep_id` is the
    * smallest doc_id — the canonical survivor. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))

  /** The ONE definition of the fixed-window passage grid shared by all
    * three passage operators (stats, containment, rewrite): per doc,
    * `floor(tokens/window)` windows of exactly `window` tokens, exploded
    * to (doc_id, idx, out-column). `value` maps each window's joined
    * text to what the operator needs to carry through the shuffle — the
    * md5 HASH for stats/containment (fixed-width shuffle payload), the
    * RAW passage text for the rewrite (it must reassemble documents).
    * Docs shorter than one window emit nothing here and rejoin on
    * doc_id downstream (see the NULL-routing note in [[shingleSets]]). */
  private def passageGrid(docs: DataFrame, window: Int, outCol: String,
                          value: Column => Column): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val nPass = floor(size(col("toks")) / window).cast("long")
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(when(nPass > 0, transform(sequence(lit(0L), nPass - 1),
            i => struct(i.as("idx"),
              value(concat_ws(" ", slice(col("toks"), (i * window + 1).cast("int"), lit(window))))
                .as(outCol))))
          .otherwise(array().cast(s"array<struct<idx:bigint,$outCol:string>>"))).as("p"))
      .select(col("doc_id"), col("p.idx").as("idx"), col(s"p.$outCol").as(outCol))
  }

  /** Passage-level exact dedup over fixed token windows — the token-stream
    * form of the line/paragraph dedup a C4/RefinedWeb-style pipeline runs:
    * chunk each document into consecutive `window`-token passages, hash
    * each, and mark every passage that repeats an earlier (doc_id, idx)
    * occurrence anywhere in the corpus. Emits per-document
    * (n_passages, n_dup, dup_ratio) — the curation signal; dropping or
    * rewriting flagged passages composes on top.
    *
    * EVERY input document appears in the output: docs shorter than one
    * window have no passages and come back as (0, 0, NULL dup_ratio) via
    * the left join — they never enter the hash shuffle (routing their
    * NULL hashes through the first-occurrence window would funnel all
    * short docs into one task), they rejoin afterwards on doc_id.
    *
    * Scale shape: passages explode array-locally (no shuffle), then one
    * shuffle on the passage hash (high-cardinality, well spread) for the
    * first-occurrence window, then one shuffle back on doc_id.
    *
    * PRECONDITION: `doc_id` is a key of `docs` (true for every corpus this
    * engine ingests). The short-doc pass-through join re-attaches stats by
    * doc_id, so duplicate input ids would fan out into duplicate output
    * rows rather than collapse — dedup ids upstream (exactGroups) first if
    * the source can't guarantee uniqueness. */
  def passageDupStats(docs: DataFrame, window: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val passages = passageGrid(docs, window, "h", md5)
    val rn = row_number().over(Window.partitionBy("h").orderBy(col("doc_id"), col("idx")))
    val stats = passages.withColumn("rn", rn)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // ratio first, off the PRE-coalesce columns: NULL/NULL stays NULL
        // for passage-less docs (0/0 has no defined ratio)
        round(col("n_dup").cast("double") / col("n_passages"), 6).as("dup_ratio"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_passages"), col("n_dup"), col("dup_ratio"))
  }

  /** Containment-duplicate report: for each document, WHERE its repeated
    * passages were first seen — the asymmetric case MinHash/Jaccard dedup
    * structurally misses (a short doc pasted inside a long one keeps
    * pairwise Jaccard ≈ |short|/|long|, far below any LSH threshold,
    * while its containment is ~1.0).
    *
    * Each repeated passage attributes to the passage hash's corpus-wide
    * FIRST owner (min (doc_id, idx) — the same canonical order
    * [[passageDupStats]] ranks by), so every passage row emits at most
    * one (doc, src_doc) attribution and the computation stays LINEAR in
    * total passages — never a passage-hash posting-list self-join, which
    * a hot boilerplate passage shared by 10k docs would blow up
    * quadratically. Canonical attribution also means: if a passage lives
    * in A, B and C (first in A), both B and C attribute to A, not to
    * each other — the report answers "which doc is the original",
    * chain-consistently with [[keepCanonical]]'s min-id convention.
    * Within-doc self-repeats (first owner = the doc itself) are not
    * containment and are excluded.
    *
    * Scale shape: array-local explode, ONE shuffle on the passage hash
    * for the ranking window, one aggregation shuffle on (doc_id,
    * src_doc), and a doc_id-keyed join against the per-doc passage
    * counts. Returns (doc_id, src_doc, n_shared, n_passages,
    * containment) for pairs with containment >= threshold. */
  def passageContainment(docs: DataFrame, window: Int = 20,
                         threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val passages = passageGrid(docs, window, "h", md5)
    val byH = Window.partitionBy("h").orderBy(col("doc_id"), col("idx"))
    val attributed = passages
      .withColumn("rn", row_number().over(byH))
      .withColumn("src_doc", first(col("doc_id")).over(byH))
      .filter(col("rn") > 1 && col("src_doc") =!= col("doc_id"))
      .groupBy("doc_id", "src_doc").agg(count(lit(1)).as("n_shared"))
    val nTotal = passages.groupBy("doc_id").agg(count(lit(1)).as("n_passages"))
    attributed.join(nTotal, Seq("doc_id"))
      .withColumn("containment", round(col("n_shared") / col("n_passages"), 6))
      .filter(col("containment") >= threshold)
      .select("doc_id", "src_doc", "n_shared", "n_passages", "containment")
  }

  /** The transform [[passageDupStats]] measures: rebuild each document
    * with only its FIRST-occurrence passages (corpus-wide), dropping every
    * repeat of an earlier (doc_id, idx) — line/paragraph dedup as a
    * rewrite. Trailing tokens that don't fill a window are dropped with
    * the window grid (documented semantics of the fixed-window form), so a
    * document shorter than one window rebuilds to `clean_text = ''` with
    * (n_kept, n_dropped) = (0, 0) — it stays IN the output (left join back
    * onto the doc list), it is not silently deleted from the corpus.
    * Emits (doc_id, clean_text, n_kept, n_dropped).
    * Same doc_id-uniqueness PRECONDITION as [[passageDupStats]]. */
  def removeDupPassages(docs: DataFrame, window: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // carries the RAW passage text (the rewrite must reassemble docs),
    // unlike the hash-carrying stats/containment grids
    val passages = passageGrid(docs, window, "p", identity)
    val rn = row_number().over(Window.partitionBy(md5(col("p"))).orderBy(col("doc_id"), col("idx")))
    val rebuilt = passages.withColumn("rn", rn)
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(when(col("rn") === 1, struct(col("idx"), col("p"))))),
            x => x.getField("p")), " ").as("clean_text"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  // ------------------------------------------------------------ shingles

  /** Distinct word k-shingles from an already-materialized token array.
    * IMPORTANT: `t` must be a plain column reference, not the tokenizing
    * expression itself — Catalyst does no subexpression caching inside
    * higher-order-function lambdas, so an inlined tokenizer would be
    * re-evaluated for every `element_at` of every shingle (measured 44s vs
    * ~1s on sf0.1). CollapseProject keeps the two-step projection below
    * un-inlined because the reference is non-cheap and multiply-used. */
  def shingleCol(t: Column, k: Int): Column = {
    val n = size(t)
    when(n >= k,
      array_distinct(transform(sequence(lit(1), n - k + 1),
        i => concat_ws(" ", (0 until k).map(j => element_at(t, i + j)): _*))))
  }

  /** (doc_id, shingle) exploded rows; docs with < k tokens drop out. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), Normalize.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingleCol(col("toks"), k)).as("shingle"))

  /** Per-doc distinct shingle SETS kept array-local: (doc_id, sl, nsh).
    * The un-exploded form is what candidate verification joins against —
    * one row per doc, bounded-size payload, never a posting list. */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), Normalize.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), shingleCol(col("toks"), k).as("sl"))
      .withColumn("nsh", size(col("sl")).cast("long"))
  // NOTE: docs with < k tokens keep a NULL `sl` here rather than being
  // filtered: a `.filter(sl.isNotNull)` would be pushed below the
  // projections, substituting the whole tokenizer+shingle lambda into the
  // filter predicate where Catalyst does no subexpression caching
  // (measured 42 s vs ~1 s at sf0.1 — same pathology as [[shingleCol]]).
  // Consumers join on candidate doc_ids, which always have shingles, so
  // the NULL rows drop in the join.

  // ------------------------------------------------------------ minhash

  /** Affine-family constants for the n-th minhash: h_i = (A_i*x + B_i*y +
    * C_i) mod P over the two 28-bit halves (x, y) of ONE md5 per shingle —
    * the classic single-hash minhash family. Every product stays < 2^59,
    * so the arithmetic is exact 64-bit on both engines. */
  val MinhashP = 2147483647L // 2^31 - 1
  def minhashA(i: Int): Long = 2 * i + 3L
  def minhashB(i: Int): Long = 1000003L * (i + 1) + 7
  def minhashC(i: Int): Long = 7919L * i + 1

  /** 28-bit half of an md5 hex string as a long: ascii-nibble polynomial
    * over the 7 chars at [start, start+6]. */
  private[graft] def md5Half(m: Column, start: Int): Column =
    (0 until 7).map { j =>
      val a = ascii(substring(m, start + j, 1))
      when(a <= 57, a - 48).otherwise(a - 87).cast("long") * (1L << (4 * (6 - j)))
    }.reduce(_ + _)

  /** MinHash signature: h_i(doc) = min over shingles of the affine hash
    * above, as BIGINT columns h0..h{n-1}.
    *
    * Two deliberate shapes: ONE md5 per shingle (16 separate salted md5s
    * cost 16x the hashing), and numeric minima (string min() aggs fall
    * back to sort-based aggregation — longs keep the 16-way agg in a
    * fixed-width HashAggregate buffer). The md5 and its two halves are
    * materialized in their own projections so the 16 affine expressions
    * reference plain columns (no re-hash per expression). The halves
    * parse via an ascii-nibble polynomial, not conv(_,16,10): md5 hex is
    * lowercase [0-9a-f], and conv's general radix parser measured ~1.4x
    * the cost (measured: 1.04 s vs 0.76 s for the sf0.1 signature table —
    * the same trade the simhash nibbles use). */
  def minhashSignatures(docs: DataFrame, k: Int = 3, numHashes: Int = 16): DataFrame =
    signaturesFromShingleRows(shingles(docs, k), numHashes)

  /** [[minhashSignatures]] over an already-computed [[shingleSets]] table:
    * `sl` is the same distinct-shingle array the direct path explodes, so
    * the signatures are identical — but a caller that needs BOTH sets and
    * signatures (the verify pipeline, the index build) pays the
    * tokenizer + shingle pass once and derives both from the one cached
    * table. `explode` drops the NULL `sl` of <k-token docs, exactly like
    * the direct path's missing shingle rows. */
  def minhashSignaturesFromSets(sets: DataFrame, numHashes: Int = 16): DataFrame =
    signaturesFromShingleRows(
      sets.select(col("doc_id"), explode(col("sl")).as("shingle")), numHashes)

  private def signaturesFromShingleRows(rows: DataFrame, numHashes: Int): DataFrame = {
    val halves = rows
      .select(col("doc_id"), md5(col("shingle")).as("m"))
      .select(col("doc_id"), md5Half(col("m"), 1).as("x"), md5Half(col("m"), 8).as("y"))
    val aggs = (0 until numHashes).map { i =>
      min((lit(minhashA(i)) * col("x") + lit(minhashB(i)) * col("y") + lit(minhashC(i))) % MinhashP).as(s"h$i")
    }
    halves.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Band/bucket projection over an existing signature table (from
    * [[minhashSignatures]] or a persisted index): band key = md5 of the
    * concatenated band. Emits (doc_id, band, sig). */
  def lshBucketsFromSigs(sigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH bucketing straight from documents: signature chain + banding.
    * Emits (doc_id, band, sig). */
  def lshBuckets(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    lshBucketsFromSigs(minhashSignatures(docs, k, bands * rowsPerBand), bands, rowsPerBand)

  /** Degenerate-bucket guard for the LSH self-join: any (band, sig)
    * bucket holding more than this many docs is dropped before pair
    * generation. A hot bucket emits O(size²) pairs, so one degenerate
    * signature (empty/boilerplate documents all minhashing identically)
    * turns the candidate join quadratic at corpus scale; the self-join is
    * only scale-safe with this bound in place.
    *
    * Recall contract: dropping an oversized bucket only loses pairs whose
    * SOLE shared band is the hot one. Genuine near-duplicates agree on
    * most minhashes and therefore collide in several independent bands —
    * they still meet in a non-degenerate bucket — while a bucket that
    * attracts 64+ distinct docs is (on real corpora) boilerplate that
    * exact dedup ([[exactGroups]], the documented prefilter) should have
    * collapsed first. Mirrors the salting rationale on
    * [[graft.similarity.Ann.knnJoin]]'s hot query buckets.
    *
    * A corpus where >64-doc near-dup clusters of NON-identical texts are
    * expected (mirrored pages differing only in footers) can raise the
    * bound per call — every public LSH API takes a `maxBucketSize`
    * parameter (`<= 0` disables the cap). [[lshComponents]] needs neither:
    * it star-expands hot buckets instead of dropping them, so component
    * connectivity is EXACTLY the uncapped graph's at O(n) edges per
    * bucket. */
  val MaxLshBucketSize: Int = 64

  /** Bucket table with oversized (band, sig) buckets removed — one
    * count-over-window on the same (band, sig) key the downstream
    * self-join shuffles on, so the partitioning is computed once and
    * reused. `maxBucketSize <= 0` disables the cap. */
  private[graft] def capBuckets(buckets: DataFrame,
                                maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    if (maxBucketSize <= 0) buckets
    else buckets
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")

  /** Same-bucket pairs (a < b) from any (doc_id, band, sig) bucket table:
    * an equi self-join keyed on (band, sig) — only same-bucket docs meet.
    * Buckets beyond [[MaxLshBucketSize]] are dropped first (see the recall
    * contract there); pass `maxBucketSize = 0` to disable. */
  private[graft] def candidatesFromBuckets(buckets: DataFrame,
                                           maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val capped = capBuckets(buckets, maxBucketSize)
    val l = capped.select(col("band"), col("sig"), col("doc_id").as("a"))
    val r = capped.select(col("band"), col("sig"), col("doc_id").as("b"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Candidate near-duplicate pairs (a < b) sharing at least one LSH
    * bucket. Cache lifecycle: the bucket table is released before
    * returning; only the RETURNED (candidate-pair-sized) result stays
    * cached, owned by the caller — `result.unpersist()` leaves zero
    * session caches (asserted in DedupSpec). `maxBucketSize` bounds
    * per-bucket pair fan-out (see [[MaxLshBucketSize]]; `<= 0` disables). */
  def lshCandidates(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                    maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    // persist the CAPPED bucket table: both sides of the self-join
    // reference this subtree, and lambda-bearing plans don't canonicalize
    // equal for exchange reuse — without the cache the whole
    // shingle+minhash chain would run twice. Capping BEFORE the persist
    // (rather than on each cache read, the r10 shape) runs the
    // count-over-window once instead of per side, and the cache preserves
    // the window's (band, sig) hash partitioning, so the self-join reads
    // both sides pre-partitioned on its keys — zero further exchanges.
    // The bucket table is (docs x bands) rows of (long, int, hex) — tiny.
    val capped = capBuckets(lshBuckets(docs, k, bands, rowsPerBand), maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // maxBucketSize = 0 here: the cache is already capped, a second
    // window would be an idempotent extra pass
    val cand = candidatesFromBuckets(capped, maxBucketSize = 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    capped.unpersist()
    cand
  }

  /** Near-duplicate component labels straight from the documents: builds
    * the LSH bucket table ONCE, derives both the edge list and the clique
    * seeds from it, and runs seeded label propagation — the convergence
    * loop that took diameter-many rounds from identity labels finishes in
    * ~1 round from clique seeds.
    *
    * EVERY bucket is STAR-CONTRACTED (r21): each member pairs with the
    * bucket's min doc_id — O(n) edges with the same connectivity as the
    * O(n²) clique, so the component labeling is EXACTLY what the
    * uncapped candidate graph produces (a bucket's only contribution to
    * connectivity is "all members connected", which the star preserves —
    * the cap-invariance property DedupSpec pins). Earlier rounds emitted
    * full cliques for <= `maxBucketSize` buckets and stars only above
    * the cap; the clique rows bought nothing for connectivity (this
    * function's edges feed ONLY [[connectedComponents]] — candidate
    * verification has its own path via [[lshCandidates]]) while costing
    * a bucket self-join and an O(k²)-per-bucket `distinct` input. At
    * corpus scale the star form shuffles O(k) rows per bucket under
    * arbitrary skew, with no cap needed at all — `maxBucketSize` is
    * retained for API stability but no longer affects anything (labels
    * were already cap-invariant by construction).
    *
    * The per-bucket stats aggregate keys on the SAME (band, sig) the
    * banding emits; star edges and seeds are narrow derivations of the
    * one cached stats table, released once the (tiny) label table is
    * materialized. */
  def lshComponents(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                    maxIters: Int = 20, maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    // per-bucket stats (bmin, bn) ride a WINDOW over the same (band, sig)
    // key the banding groups on — ONE exchange computes both, vs the
    // r11.0 groupBy+join shape that shuffled the bucket table twice; the
    // persist lets the two derivations below (star edges, seeds) read the
    // cache instead of re-running the shingle/minhash corpus pass
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val withStats = lshBuckets(docs, k, bands, rowsPerBand)
      .withColumn("bmin", min(col("doc_id")).over(w))
      .withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") >= 2) // singleton buckets produce no edges and no seeds
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withStats.count()
    // bmin is the bucket minimum, so bmin < doc_id holds on every emitted
    // star edge — (a < b)-normalized by construction; distinct collapses
    // a doc repeating the same (bmin, doc) edge through several buckets
    val edges = withStats.filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a"), col("doc_id").as("b")).distinct()
    // every doc of a >=2 bucket appears in an edge (it is either some
    // bucket's bmin with a member attached, or a member attached to its
    // bmin), and min(bmin) over a doc's buckets is a valid same-component
    // label <= its own id — seeds and edges describe the same graph
    val seeds = withStats.groupBy("doc_id").agg(min(col("bmin")).as("component"))
    val labels = connectedComponents(edges, maxIters, seeds = Some(seeds))
    withStats.unpersist()
    labels
  }

  /** APPLY the near-dup dedup: keep exactly one document per connected
    * component of the LSH candidate graph — the component's min doc_id,
    * the same canonical [[connectedComponents]] already labels — plus
    * every document outside the pair graph, reporting per survivor how
    * many near-duplicates were dropped in its favor. This is the
    * "rewrite the corpus" counterpart of [[lshComponents]]'s report, and
    * the transitive-closure-correct form of the greedy drop-the-larger
    * pass in [[graft.pipelines.CleanCorpus]] (greedy over-deletes on
    * chains: a~b, b~c kills b AND c even when a!~c).
    *
    * Scale shape: the label table is duplicates-sized (vertices of the
    * pair graph only), so both the removal anti-join and the count join
    * broadcast against the full corpus scan — the corpus itself is
    * touched once, never shuffled.
    *
    * PRECONDITION: `doc_id` is a key of `docs` (same contract as
    * [[passageDupStats]]) — duplicate ids would both distort the min-id
    * canonical choice and fan out through the count join.
    * Returns (doc_id, n_removed) for every surviving document. */
  def keepCanonical(docs: DataFrame, k: Int = 3, bands: Int = 4,
                    rowsPerBand: Int = 4, maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val labels = lshComponents(docs, k, bands, rowsPerBand, maxBucketSize = maxBucketSize)
    val removed = labels.filter(col("component") =!= col("doc_id"))
    val removedPerCanonical = removed
      .groupBy(col("component").as("doc_id")).agg(count(lit(1)).as("n_removed"))
    docs.select("doc_id")
      .join(removed.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(removedPerCanonical, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Duplicate-cluster size distribution — the standard "how duplicated
    * is this corpus" report run before committing to a dedup pass:
    * `cluster_size -> (n_clusters, n_docs)`, including the size-1 row
    * for documents outside the candidate graph (every graph component
    * has >= 2 members by construction, so the singleton count is just
    * corpus minus graph vertices — no corpus-wide join needed).
    *
    * Scale shape: both aggregations run over the (duplicates-sized,
    * already-cached) label table from [[lshComponents]]; the corpus
    * itself is scanned once for its count. The result is at most
    * max-cluster-size rows of metadata. */
  def clusterSizeHistogram(docs: DataFrame, k: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 4,
                           maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val labels = lshComponents(docs, k, bands, rowsPerBand, maxBucketSize = maxBucketSize)
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singleton = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_graph"))))
      .select(lit(1L).as("cluster_size"), (col("n_total") - col("n_graph")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionByName(singleton)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  // ------------------------------------------------------------ jaccard

  /** Exact shingle-Jaccard as a VERIFICATION stage over the LSH candidate
    * pairs — the 100 TB shape. Candidates come from the banded minhash
    * self-join (bounded per-bucket work); the exact intersection is then
    * computed per candidate pair from the two docs' array-local shingle
    * sets (`array_intersect`), so the cost is O(|candidates| * shingles)
    * with two equi-joins on doc_id — no inverted-index posting list ever
    * materializes, which kills the hot-shingle (boilerplate header)
    * quadratic blowup of the all-pairs form below.
    * Returns (a, b, inter, na, nb, jaccard) for candidates >= threshold. */
  def jaccardVerify(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                    threshold: Double = 0.0, maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    // ONE tokenizer + shingle pass for the whole verify pipeline: the
    // shingle sets are persisted for the exact-intersection stage, and
    // the minhash signatures derive from the SAME cache
    // ([[minhashSignaturesFromSets]]) instead of re-shingling the corpus
    // — the r11 rewrite that removed the second corpus pass. The capped
    // bucket table persists like in [[lshCandidates]] so the candidate
    // self-join reads both sides pre-partitioned on (band, sig).
    val ss = shingleSets(docs, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBuckets(
        lshBucketsFromSigs(minhashSignaturesFromSets(ss, bands * rowsPerBand), bands, rowsPerBand),
        maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candidatesFromBuckets(capped, maxBucketSize = 0) // cache already capped
    val out = cand
      .join(ss.select(col("doc_id").as("a"), col("sl").as("sa"), col("nsh").as("na")), Seq("a"))
      .join(ss.select(col("doc_id").as("b"), col("sl").as("sb"), col("nsh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same lifecycle as lshComponents: materialize the (small) verified
    // pair table, release every upstream cache — the caller owns only the
    // returned result's cache
    out.count()
    capped.unpersist()
    ss.unpersist()
    out
  }

  // ------------------------------------------------------- dedup index

  /** Build-once/serve-many split for the LSH dedup family. At corpus
    * scale the tokenizer → shingle → md5 → minhash chain is the dominant
    * cost of EVERY dedup query (the round-5 plan audit put
    * `dedup_ngram_jaccard`'s wall time almost entirely in recomputing
    * it), and that chain is a pure function of the corpus — so a
    * production deployment materializes it ONCE as an index and serves
    * candidates/verification from the index alone. Two parquet tables:
    *
    *   `$dir/minhash_sigs`   (doc_id, h0..h{n-1})  — fixed-width longs
    *   `$dir/shingle_sets`   (doc_id, sl, nsh)     — array-local sets
    *
    * The serve paths below never touch `documents` (asserted in
    * DedupSpec by scanning the executed plan's file sources) and need
    * NO caching: both self-join sides re-read the parquet scan, which —
    * unlike the lambda-bearing direct chain — canonicalizes equal, so
    * Spark can reuse the exchange instead of recomputing. Incremental
    * ingest composes: signatures of new docs union onto the table
    * without re-hashing the old corpus. */
  def writeDedupIndex(docs: DataFrame, dir: String, k: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, rowsPerBand: Int = 4,
                      maxBucketSize: Int = MaxLshBucketSize): Unit = {
    // one tokenizer + shingle pass feeds both tables: the sets table is
    // written first and the signature job derives from the WRITTEN
    // parquet ([[minhashSignaturesFromSets]]) — re-reading what was just
    // materialized gives the single-pass property through canonicalizing
    // scans with zero cache footprint, where a MEMORY_AND_DISK persist of
    // the corpus-sized sets would spill it to executor disk a second time
    val spark = docs.sparkSession
    shingleSets(docs, k).write.mode("overwrite").parquet(s"$dir/shingle_sets")
    minhashSignaturesFromSets(spark.read.parquet(s"$dir/shingle_sets"), numHashes)
      .write.mode("overwrite").parquet(s"$dir/minhash_sigs")
    // serve-side pre-banded, pre-capped bucket table (r21, the
    // [[bandedFpIndex]] discipline): the gate's per-batch index-side
    // banding explode + hot-bucket cap window move to build time,
    // leaving the text-dedup serve path a pure band join. Built from
    // the just-written signatures — no second shingle pass. The build
    // geometry (bands × rowsPerBand, cap) is the serve contract.
    bandedSigIndex(spark.read.parquet(s"$dir/minhash_sigs"), bands, rowsPerBand, maxBucketSize)
      .write.mode("overwrite").parquet(s"$dir/minhash_buckets")
  }

  /** Choose the (bands, rowsPerBand) factorization of `perms` whose LSH
    * S-curve inflection sits closest to the target Jaccard `threshold`:
    * a pair with similarity s collides in ≥1 band with probability
    * 1 - (1 - s^r)^b, whose steep section centers near (1/b)^(1/r) —
    * the standard banding-selection rule. More rows per band → a higher,
    * sharper threshold (fewer false positives); more bands → a lower one
    * (fewer false negatives). The engine's 4×4 default is exactly
    * `tuneBands(0.7, 16)`; a pipeline targeting a different threshold
    * calls this instead of guessing. Pure driver-side model selection —
    * the same serve-a-model shape as the IVF/PQ training. */
  def tuneBands(threshold: Double, perms: Int = 16): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1): $threshold")
    require(perms > 0, s"perms must be positive: $perms")
    (1 to perms).filter(perms % _ == 0).map(b => (b, perms / b))
      .minBy { case (b, r) => math.abs(math.pow(1.0 / b, 1.0 / r) - threshold) }
  }

  /** Candidate pairs served from a persisted signature table — the
    * [[lshCandidates]] semantics without the signature recompute. */
  def lshCandidatesFromIndex(sigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
                             maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    candidatesFromBuckets(lshBucketsFromSigs(sigs, bands, rowsPerBand), maxBucketSize)

  /** Jaccard verification served entirely from the index — the
    * [[jaccardVerify]] semantics with zero corpus access. */
  def jaccardVerifyFromIndex(sigs: DataFrame, sets: DataFrame,
                             bands: Int = 4, rowsPerBand: Int = 4,
                             threshold: Double = 0.0,
                             maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    lshCandidatesFromIndex(sigs, bands, rowsPerBand, maxBucketSize)
      .join(sets.select(col("doc_id").as("a"), col("sl").as("sa"), col("nsh").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("sl").as("sb"), col("nsh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")

  /** Jaccard MATCHES of fresh documents against a PERSISTED dedup index —
    * the text modality's ingest-gate shape ([[hammingMatchesAgainst]] /
    * [[semanticMatchesAgainst]]): the arriving shard shingles + minhashes
    * itself (narrow, shard-sized — nothing indexed is ever re-shingled),
    * band-joins the index's signature table (hot index buckets drop under
    * the [[MaxLshBucketSize]] recall contract; the fresh side is a shard,
    * not a corpus, so it never needs the cap), exact-verifies every
    * candidate from the two shingle-set tables, and reports each flagged
    * arrival's BEST index match — highest jaccard, smallest match_id on
    * ties (deterministic, so a SQL oracle reproduces it). Clean arrivals
    * produce no row; the downstream corpus writer anti-joins this table.
    * Returns (doc_id, match_id, jaccard), persisted (report-sized) — the
    * caller owns the unpersist. */
  def jaccardMatchesAgainst(fresh: DataFrame, indexSigs: DataFrame, indexSets: DataFrame,
                            k: Int = 3, numHashes: Int = 16,
                            bands: Int = 4, rowsPerBand: Int = 4,
                            threshold: Double = 0.5,
                            maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    require(threshold > 0,
      s"threshold must be positive (the best-match ordering negates it): $threshold")
    // Geometry guard: the fresh side minhashes itself under (numHashes,
    // bands, rowsPerBand), but the INDEX signatures were banded at build
    // time — a caller whose banding disagrees with the index's h0..h{n-1}
    // layout would produce band keys that never collide and a gate that
    // silently flags nothing. The banding must tile the signature exactly
    // and every tiled column must exist in the index table.
    require(numHashes == bands * rowsPerBand,
      s"banding must tile the signature: numHashes=$numHashes != bands*rowsPerBand=${bands * rowsPerBand}")
    val idxCols = indexSigs.columns.toSet
    val missing = (0 until numHashes).map(i => s"h$i").filterNot(idxCols)
    require(missing.isEmpty,
      s"index signature table lacks columns ${missing.mkString(",")} — it was built " +
        s"with a different minhash geometry than the requested $bands×$rowsPerBand banding")
    jaccardMatchesAgainstBanded(fresh,
      capBuckets(lshBucketsFromSigs(indexSigs, bands, rowsPerBand), maxBucketSize),
      indexSets, k, numHashes, bands, rowsPerBand, threshold)
  }

  /** The INDEX SIDE of [[jaccardMatchesAgainst]], factored out so it can
    * be computed ONCE at index build instead of once per gate batch (the
    * [[bandedFpIndex]] discipline for the TEXT modality): the signature
    * banding explode and the hot-bucket cap window are full-index
    * operations that depend only on the index, yet the gate re-ran them
    * on every micro-batch. Output (doc_id, band, sig) — the pre-capped
    * bucket table [[writeDedupIndex]] persists as `minhash_buckets` next
    * to the raw signatures. */
  def bandedSigIndex(indexSigs: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
                     maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    capBuckets(lshBucketsFromSigs(indexSigs, bands, rowsPerBand), maxBucketSize)

  /** [[jaccardMatchesAgainst]] served from a PRE-BANDED, PRE-CAPPED
    * bucket table ([[bandedSigIndex]]'s (doc_id, band, sig) shape): the
    * per-batch work is the fresh shard's shingle/signature chain and the
    * equi-join — no index-side explode or cap window at serve time.
    * Same output contract (best match = highest jaccard, min match_id on
    * ties); DedupSpec pins banded-serve == raw-serve, and the oracle
    * re-proves it per query. */
  def jaccardMatchesAgainstBanded(fresh: DataFrame, indexBuckets: DataFrame,
                                  indexSets: DataFrame,
                                  k: Int = 3, numHashes: Int = 16,
                                  bands: Int = 4, rowsPerBand: Int = 4,
                                  threshold: Double = 0.5): DataFrame = {
    require(threshold > 0,
      s"threshold must be positive (the best-match ordering negates it): $threshold")
    require(numHashes == bands * rowsPerBand,
      s"banding must tile the signature: numHashes=$numHashes != bands*rowsPerBand=${bands * rowsPerBand}")
    val bCols = Set("doc_id", "band", "sig")
    require(bCols.subsetOf(indexBuckets.columns.toSet),
      s"pre-banded bucket table must carry ${bCols.mkString(",")}: got " +
        indexBuckets.columns.mkString(","))
    val ss = shingleSets(fresh, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fb = lshBucketsFromSigs(minhashSignaturesFromSets(ss, numHashes), bands, rowsPerBand)
    val cand = fb.select(col("band"), col("sig"), col("doc_id"))
      .join(indexBuckets.select(col("band"), col("sig"), col("doc_id").as("match_id")), Seq("band", "sig"))
      .filter(col("doc_id") =!= col("match_id")) // re-ingest of an indexed doc is not its own dup
      .select("doc_id", "match_id").distinct()
    val out = cand
      .join(ss.select(col("doc_id"), col("sl").as("sa"), col("nsh").as("na")), Seq("doc_id"))
      .join(indexSets.select(col("doc_id").as("match_id"), col("sl").as("sb"),
        col("nsh").as("nb")), Seq("match_id"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      // lexicographic min over (-jaccard, match_id) — the
      // [[semanticMatchesAgainst]] one-aggregation best-match trick;
      // jaccard >= threshold > 0 keeps the negation off the -0.0 edge
      .groupBy(col("doc_id"))
      .agg(min(struct((col("jaccard") * -1).as("nj"), col("match_id"))).as("best"))
      .select(col("doc_id"), col("best.match_id").as("match_id"),
        (col("best.nj") * -1).as("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    ss.unpersist()
    out
  }

  /** Near-duplication rates BETWEEN sources — the curation analytics view
    * ("how much does src A overlap src B?") that decides which feeds to
    * drop or down-weight. One extra bounded aggregation over the LSH +
    * exact-verify pair stream: pairs join their docs' sources (the pair
    * set is candidates-sized, so AQE broadcasts it against the two narrow
    * id→source projections) and roll up per unordered source pair. */
  def crossSourceDupMatrix(docs: DataFrame, k: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 4, threshold: Double = 0.0,
                           maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    jaccardVerify(docs, k, bands, rowsPerBand, threshold, maxBucketSize)
      .join(srcs.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(srcs.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("jaccard")), 6).as("avg_jaccard"))
  }

  /** Exact shingle-Jaccard for ALL pairs sharing >= 1 shingle, via an
    * inverted index self-join (a < b) — the correctness baseline for
    * [[jaccardVerify]]. Unbounded posting lists make this quadratic in the
    * hottest shingle's list; do not run it at corpus scale.
    *
    * Because this is the deliberate exact-truth side (of
    * [[blockingEval]] among others), hot posting lists must NOT be
    * capped — capping would silently change the truth. Instead the
    * hottest list is measured up front (one bounded aggregate over the
    * already-persisted index) and the job FAILS LOUDLY when it exceeds
    * `maxPostingGuard`: the fix is to run on a sample, never to let a
    * stopword-hot shingle quietly expand into O(n²) pairs. `<= 0`
    * disables the guard (for callers that have already bounded input). */
  def jaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.0,
                   maxPostingGuard: Int = 20000): DataFrame = {
    // the shingle index is referenced twice (posting lists + per-doc
    // counts); materialize it once — the single-DAG equivalent of
    // writing the inverted index to a table, which is what a 100 TB
    // pipeline does with it anyway
    val sh = shingles(docs, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    // POSTING-LIST shape, not a self-join: ONE exchange on shingle
    // (the groupBy) replaces BOTH shuffled sides of the r11 index
    // self-join AND the r12 guard pre-pass (a separate scan+aggregate
    // job, measured ~+15% on dedup_blocking_eval at sf0.1). Lists are
    // bounded by the guard, so a list row is <= ~160 KB; pairs stream
    // out of two chained generators — the n²/2 pair set per list is
    // never materialized as one array. shingleCol applies array_distinct
    // per doc, so each doc appears at most once per list and the sorted
    // order makes every generated pair strictly a < b.
    val pl = sh.groupBy("shingle").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    // the guard rides the same stage as pair generation via raise_error —
    // an over-guard list kills the job before emitting a single pair; it
    // is tied to `ds` itself (not a side column) so pruning can't drop it
    val guarded =
      if (maxPostingGuard <= 0) pl
      else pl.select(when(size(col("ds")) <= maxPostingGuard, col("ds"))
        .otherwise(raise_error(concat(
          lit("jaccardPairs: hottest shingle posting list has "),
          size(col("ds")).cast("string"),
          lit(s" docs (> guard $maxPostingGuard); the exact all-pairs stage would " +
             s"be quadratic in that list. Run on a sample (this operator is the " +
             s"bounded-truth side), or raise maxPostingGuard deliberately."))))
        .as("ds"))
    val inter = guarded
      .select(col("ds"), posexplode(col("ds")))
      .select(col("col").as("a"),
        slice(col("ds"), col("pos") + lit(2), size(col("ds")) - col("pos") - lit(1)).as("rest"))
      .select(col("a"), explode(col("rest")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val j = inter
      .join(counts.select(col("doc_id").as("a"), col("nsh").as("na")), Seq("a"))
      .join(counts.select(col("doc_id").as("b"), col("nsh").as("nb")), Seq("b"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
    val out = j.filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try out.count()
    catch {
      case t: Throwable =>
        sh.unpersist(); out.unpersist()
        // surface the guard as the same instructive IllegalArgumentException
        // the pre-pass threw (callers and specs pin the type + fix hint)
        val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .flatMap(c => Option(c.getMessage)).toSeq
        msgs.find(_.contains("jaccardPairs:")) match {
          case Some(m) => throw new IllegalArgumentException(
            m.substring(m.indexOf("jaccardPairs:")))
          case None => throw t
        }
    }
    sh.unpersist()
    out
  }

  /** Blocking-quality evaluation — "measure, don't guess" for the LSH
    * geometry: ground-truth pairs at `threshold` from the exact all-pairs
    * inverted index ([[jaccardPairs]]) against the banded candidate set
    * ([[lshCandidates]]), as ONE row of
    * (n_truth, n_cand, n_hit, recall, candidate_precision).
    *
    * Run this on a bounded SAMPLE before committing a band geometry to
    * the full corpus: the truth side is the quadratic all-pairs join
    * that the production path exists to avoid (the same sample-then-
    * decide shape as IVF centroid training). `recall` is the fraction of
    * true near-dup pairs the bands surface; `candidate_precision` is the
    * fraction of candidates that verify — low precision costs verify
    * CPU, low recall silently leaves duplicates in the corpus. Compare
    * against the s-curve prediction from [[tuneBands]]. */
  def blockingEval(docs: DataFrame, threshold: Double = 0.3, k: Int = 3,
                   bands: Int = 4, rowsPerBand: Int = 4,
                   maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val truth = jaccardPairs(docs, k, threshold)
    val cand = lshCandidates(docs, k, bands, rowsPerBand, maxBucketSize)
    val joined = truth.select(col("a"), col("b"), lit(1).as("t"))
      .join(cand.select(col("a"), col("b"), lit(1).as("c")), Seq("a", "b"), "full_outer")
    val agg = joined.agg(
      count(col("t")).as("n_truth"),
      count(col("c")).as("n_cand"),
      count(when(col("t").isNotNull && col("c").isNotNull, lit(1))).as("n_hit"))
    // ANSI-safe: an empty truth/candidate side reads 0.0, not an error
    val out = agg.select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")).otherwise(lit(0.0)), 6).as("recall"),
        round(when(col("n_cand") > 0,
          col("n_hit").cast("double") / col("n_cand")).otherwise(lit(0.0)), 6).as("candidate_precision"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    truth.unpersist(); cand.unpersist()
    out
  }

  // ------------------------------------------------------------ simhash

  /** 60-bit SimHash over token md5s (15 hex chars x 4 bits — 60 bits keeps
    * the fingerprint in a positive BIGINT for oracle parity). Each token
    * occurrence votes +1/-1 per bit; fingerprint bit = (vote sum >= 0). */
  def simhash(docs: DataFrame): DataFrame = {
    // materialize the 15 nibble columns ONCE per token row: the 60
    // bit-votes are then plain long arithmetic over n1..n15. Inlining the
    // nibble into each vote would evaluate 60 conv+substring per row where
    // 15 suffice (the projection boundary below is what stops Catalyst's
    // CollapseProject from re-inlining them into the aggregate).
    // nibble via ascii arithmetic, not conv(_,16,10): md5 hex is lowercase
    // [0-9a-f], so `a <= '9' ? a-48 : a-87` is the same value at ~60% of
    // the cost (conv pays a general radix parser per char; measured
    // 3.4s -> 2.0s for the whole fingerprint at sf0.1)
    val tok = docs.select(col("doc_id"),
      explode(Normalize.tokensCol(col("text"))).as("w"))
      .withColumn("h", md5(col("w")))
      .select(col("doc_id") +: (1 to 15).map { j =>
        val a = ascii(substring(col("h"), j, 1))
        when(a <= 57, a - 48).otherwise(a - 87).cast("long").as(s"n$j")
      }: _*)
    val votes = (0 until 60).map { bit =>
      val j = bit / 4 + 1     // hex char index
      val b = bit % 4         // bit within nibble
      val bitVal = shiftright(col(s"n$j"), b) % 2
      sum(bitVal * 2 - 1).as(s"v$bit")
    }
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val fp = (0 until 60).map { bit =>
      when(col(s"v$bit") >= 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-duplicate pairs (a < b) within `maxHamming` bit flips,
    * found without an O(n^2) comparison — see [[bandedHammingPairs]] for
    * the band-join shape and the hot-bucket/identical-group guards that
    * make it scale-safe (the output is the connectivity-preserving
    * star+representative form documented there). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    bandedHammingPairs(simhash(docs), "simhash", maxHamming, maxBucketSize)

  /** The pigeonhole hamming band join shared by the simhash and the
    * perceptual image/audio pairings: a 60-bit fingerprint column splits
    * into 4 bands of 15 bits, any pair within hamming distance 3 agrees on
    * at least one full band (4 flips can miss all 4 bands — hence the
    * require), an equi self-join on (band, band-bits) surfaces the
    * candidates, and an exact `bit_count(xor)` filter removes the false
    * ones. Pairs agreeing on several bands collapse via distinct.
    *
    * Two guards keep the self-join linear under the skew a 100-TB corpus
    * actually has (the [[lshComponents]] discipline, ported here):
    *
    *  1. IDENTICAL fingerprints collapse to their min-doc_id
    *     REPRESENTATIVE before banding, and the group's other members
    *     attach by STAR EDGES (rep, member, hamming 0) instead of the
    *     O(k²) clique — a mass-duplicated asset (one logo on 10⁷ pages,
    *     silence clips, single-color images) otherwise lands 10¹⁴ pairs
    *     on one (band, bits) key. Identical fingerprints ARE duplicates
    *     (hamming 0), so no verification is lost, and connectivity is
    *     EXACTLY the uncapped graph's: a group's only contribution is
    *     "all members connected", which the star preserves.
    *  2. Residual hot (band, bits) buckets of more than `maxBucketSize`
    *     DISTINCT fingerprints are dropped before the self-join
    *     (`<= 0` disables). Recall contract, mirroring [[MaxLshBucketSize]]:
    *     a dropped bucket only loses pairs whose SOLE agreeing band is
    *     the hot one; fingerprints within hamming 1-2 of each other agree
    *     on >= 2 bands and still meet elsewhere, and a band value shared
    *     by 64+ distinct fingerprints is (on real corpora) a degenerate
    *     plane — all-dark images, silence — whose members the identical
    *     collapse or exact dedup should pair instead.
    *
    * OUTPUT CONTRACT (since the guards landed): pairs between identical
    * fingerprints are the star form (group rep, member, 0) — O(k) per
    * group, not the full clique — and cross-fingerprint pairs connect
    * REPRESENTATIVES. Downstream consumers are connectivity-shaped
    * (connected components / keep-canonical / review queues), for which
    * this is lossless. The returned pair table is persisted and
    * materialized; the caller owns its cache (`result.unpersist()` leaves
    * zero session caches — asserted in DedupSpec). */
  private[graft] def bandedHammingPairs(fp: DataFrame, fpCol: String,
                                        maxHamming: Int,
                                        maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands of 15 bits guarantee recall only to hamming 3: $maxHamming")
    // rep per fingerprint VALUE rides a window over the same fpCol key,
    // computed once into the cache; everything below (stars, the rep
    // table, the band join) reads this table, so the upstream fingerprint
    // chain (a corpus decode for the image/audio callers) runs exactly once
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(fpCol)
    val withRep = fp.select(col("doc_id"), col(fpCol))
      .withColumn("rep", min(col("doc_id")).over(wFp))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both intermediate caches release in `finally`: a fingerprint that
    // fails at runtime must not strand them for the rest of the session
    try {
      // NOT eagerly counted (r21): the cache populates inside capped's
      // materialization below (reps ⊂ withRep), which saves one full pass
      // per call; nothing downstream consumes the fpCol partitioning (stars
      // and reps are narrow filters), so the capped cache's (band, bits)
      // partitioning — the one the self-join rides — is unaffected
      // (PlanSpec pins the pair plan's single-exchange contract).
      val stars = withRep.filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("a"), col("doc_id").as("b"), lit(0L).as("hamming"))
      val reps = withRep.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col(fpCol))
      val banded = reps.select(col("doc_id"), col(fpCol),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"), (shiftright(col(fpCol), 15 * b) % 32768L).as("bits"))): _*)).as("bb"))
        .select(col("doc_id"), col(fpCol), col("bb.band").as("band"), col("bb.bits").as("bits"))
      // the hot-bucket count rides a window over the same (band, bits) key
      // the self-join shuffles on, and the cache preserves that partitioning
      // — both join sides read pre-partitioned, zero further exchanges
      val capped = (if (maxBucketSize <= 0) banded
                    else banded
                      .withColumn("bucket_n", count(lit(1)).over(
                        org.apache.spark.sql.expressions.Window.partitionBy("band", "bits")))
                      .filter(col("bucket_n") <= maxBucketSize)
                      .drop("bucket_n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // materialize so the self-join below plans against the FINALIZED
        // (band, bits) hash partitioning and rides it exchange-free
        capped.count()
        val l = capped.select(col("band"), col("bits"), col("doc_id").as("a"), col(fpCol).as("fp_a"))
        val r = capped.select(col("band"), col("bits"), col("doc_id").as("b"), col(fpCol).as("fp_b"))
        val repPairs = l.join(r, Seq("band", "bits")).filter(col("a") < col("b"))
          .select(col("a"), col("b"), bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
          .filter(col("hamming") <= maxHamming)
          .distinct()
        // disjoint by construction: a star's b is never a representative,
        // while repPairs only relates representatives — plain union
        val out = repPairs.unionByName(stars)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try { out.count(); out }
        catch { case t: Throwable => out.unpersist(); throw t }
      } finally capped.unpersist()
    } finally withRep.unpersist()
  }

  /** Perceptual near-duplicate pairs (a < b) of one modality within
    * `maxHamming` fingerprint bit flips — the modalities the text dedup
    * family doesn't cover: two re-encodes of the same image, clip or cut
    * differ in bytes (so `dedup_exact` on the payload misses them) but
    * not in resampled luminance or frame-energy STRUCTURE. Pure
    * composition of shipped parts: the modality's partition-parallel
    * decode → fingerprint ([[graft.multimodal.Multimodal.imagePhash]],
    * [[graft.multimodal.Multimodal.audioFingerprint]],
    * [[graft.multimodal.Multimodal.videoFingerprint]] — narrow maps, zero
    * shuffle) feeds the GUARDED 4×15-bit pigeonhole band join the simhash
    * pairing proved ([[bandedHammingPairs]]) — never an all-pairs
    * compare. Invalid payloads drop before pairing. */
  def fingerprintPairs(m: graft.multimodal.Modality, docs: DataFrame, maxHamming: Int = 3,
                       maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    fingerprintPairsFrom(m, m.fingerprints(docs), maxHamming, maxBucketSize)

  /** [[fingerprintPairs]] served from a persisted (doc_id, fpCol) table —
    * the serve plan never decodes the corpus. */
  def fingerprintPairsFrom(m: graft.multimodal.Modality, fp: DataFrame, maxHamming: Int = 3,
                           maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    bandedHammingPairs(fp, m.fpCol, maxHamming, maxBucketSize)

  /** Build-once perceptual index of one modality: the (doc_id, fpCol)
    * table persisted as parquet under `dir/<m.table>`. The fingerprint is
    * a pure per-document function of the payload bytes (no
    * cross-document term), so fresh shards UNION onto the index without
    * re-decoding the existing corpus — the same incremental-ingest
    * contract as the minhash/winnow/substring indexes. Staged publish via
    * [[graft.sources.Sinks.publishSwap]]. */
  def writeFingerprintIndex(m: graft.multimodal.Modality, docs: DataFrame, dir: String): Unit = {
    graft.sources.Sinks.publishSwap(s"$dir/${m.table}") { staging =>
      m.fingerprints(docs).write.mode("overwrite").parquet(staging)
    }
    // serve-side band/cap table precomputed at build (from the just-
    // published raw table — no second corpus decode): the gate's
    // per-batch index-side rep groupBy + hot-bucket window move here,
    // leaving the serve path a pure band join (guide §1.2/§2.4)
    graft.sources.Sinks.publishSwap(s"$dir/${m.bandedTable}") { staging =>
      bandedFpIndex(docs.sparkSession.read.parquet(s"$dir/${m.table}"), m.fpCol)
        .write.mode("overwrite").parquet(staging)
    }
  }

  /** Hamming MATCHES of fresh fingerprints against a static index — the
    * ingest-gate shape of the pigeonhole band join ([[bandedHammingPairs]]
    * with the self-join replaced by fresh-vs-index): one row per fresh
    * document that lands within `maxHamming` of some index fingerprint,
    * carrying its best match as (doc_id, match_id, hamming) with "best" =
    * lexicographic min on (hamming, match_id) — deterministic, so the
    * DuckDB oracle reproduces it bit-for-bit.
    *
    * Scale guards, exact for this output (not just connectivity-safe):
    * the index collapses to DISTINCT fingerprints keyed by their min
    * doc_id before banding — for any fingerprint value only its min id
    * can ever win the lexicographic tie-break, so collapsing loses
    * nothing while a mass-duplicated index asset stops multiplying every
    * probe's fan-out. Residual hot (band, bits) index buckets beyond
    * `maxBucketSize` distinct fingerprints drop before the join (same
    * recall contract as [[bandedHammingPairs]]). The fresh side needs no
    * guard: each fresh banded row meets at most `maxBucketSize`
    * index rows per band, so output is O(fresh), and the final min
    * aggregation bounds it to one row per flagged document. Candidate
    * duplicates from multi-band agreement collapse in that SAME
    * aggregation — no separate distinct exchange. */
  def hammingMatchesAgainst(fresh: DataFrame, index: DataFrame, fpCol: String,
                            maxHamming: Int = 3,
                            maxBucketSize: Int = MaxLshBucketSize): DataFrame =
    hammingMatchesAgainstBanded(fresh, bandedFpIndex(index, fpCol, maxBucketSize),
      fpCol, maxHamming)

  /** The INDEX SIDE of [[hammingMatchesAgainst]], factored out so it can
    * be computed ONCE at index build instead of once per gate batch
    * (guide §1.2: fix the distributed algorithm — the rep-collapse
    * groupBy and the hot-bucket cap window are full-index shuffles that
    * depend only on the index, yet the gate re-ran them on every
    * micro-batch for every modality): distinct fingerprints keyed by
    * their min doc_id (only the min id can win the lexicographic
    * tie-break, so the collapse is exact for the match output), exploded
    * into the 4x15-bit pigeonhole bands, residual hot (band, bits)
    * buckets beyond `maxBucketSize` dropped (the [[bandedHammingPairs]]
    * recall contract). Output: (band, bits, match_id, fp_i) — the table
    * [[writeFingerprintIndex]] persists next to the raw fingerprints as
    * `<table>_banded`. */
  def bandedFpIndex(index: DataFrame, fpCol: String,
                    maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val reps = index.groupBy(col(fpCol)).agg(min(col("doc_id")).as("match_id"))
    val bIdx = reps.select(col("match_id"), col(fpCol),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), (shiftright(col(fpCol), 15 * b) % 32768L).as("bits"))): _*)).as("bb"))
      .select(col("match_id"), col(fpCol).as("fp_i"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    if (maxBucketSize <= 0) bIdx
    else bIdx
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bits")))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
  }

  /** [[hammingMatchesAgainst]] served from a PRE-BANDED index table
    * ([[bandedFpIndex]]'s (band, bits, match_id, fp_i) shape): the only
    * per-batch work left is the fresh side's narrow band explode and the
    * equi-join — no index-side shuffle at serve time. Same output
    * contract (best match = lexicographic min on (hamming, match_id));
    * DedupSpec pins banded-serve == raw-serve including the hot-bucket
    * cap, and the oracle re-proves it per query. */
  def hammingMatchesAgainstBanded(fresh: DataFrame, bandedIdx: DataFrame,
                                  fpCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands of 15 bits guarantee recall only to hamming 3: $maxHamming")
    val bFresh = fresh.select(col("doc_id"), col(fpCol))
      .select(col("doc_id"), col(fpCol).as("fp_f"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), (shiftright(col(fpCol), 15 * b) % 32768L).as("bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("fp_f"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    bFresh.join(bandedIdx, Seq("band", "bits"))
      .select(col("doc_id"), col("match_id"),
        bit_count(col("fp_f").bitwiseXOR(col("fp_i"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("doc_id")
      .agg(min(struct(col("hamming"), col("match_id"))).as("best"))
      .select(col("doc_id"), col("best.match_id").as("match_id"), col("best.hamming").as("hamming"))
  }

  /** Connected components over the near-duplicate candidate graph —
    * iterative min-label propagation to a fixpoint. Greedy drop-the-larger
    * dedup ([[graft.pipelines.CleanCorpus]]) over-deletes on chains
    * (a~b, b~c deletes b and c even if a!~c); component labeling keeps
    * exactly one doc per transitive group.
    *
    * The loop is the standard large-graph pattern: each round joins the
    * label table to the (small, bidirectional) edge list, takes the min
    * neighbor label, then POINTER-JUMPS — relabels every vertex through
    * its label's own label. The jump compresses label chains, so a
    * path-shaped component of diameter d converges in O(log d) rounds
    * instead of O(d) (a 22-diameter chain: 5 rounds, not 22) — the
    * difference between a bounded loop and a diameter-bound blowup on
    * long-chain duplicate graphs at corpus scale.
    *
    * Each round's label table is cut from its lineage by an EAGER
    * localCheckpoint and then rebuilt over the checkpointed RDD. Both
    * halves are load-bearing:
    *  - the checkpoint truncates the RDD lineage (the r20 measurement:
    *    the old persist + createDataFrame(df.rdd) rebuild kept the
    *    whole cross-round RDD DAG alive, and per-round cost ran ~2x the
    *    checkpointed form's on the same graph);
    *  - the createDataFrame rebuild DROPS the stats the checkpoint
    *    records: a checkpointed Dataset carries its origin plan's
    *    sizeInBytes, each round's self-join MULTIPLIES them, and the
    *    recorded number's digit count doubles per round (measured r20:
    *    21 -> 62,025 digits by round 12; a double-jump variant spent
    *    290 s of driver CPU in one BigInteger multiply inside
    *    SizeInBytesOnlyStatsPlanVisitor by round 11). Resetting to
    *    default stats keeps planning O(1) per round.
    * Returns (doc_id, component) for every vertex of the pair graph.  */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          seeds: Option[DataFrame] = None): DataFrame = {
    // pre-partitioned on dst, the key EVERY round's label join shuffles
    // on (guide §2.4: persist a partitioning that repeated joins reuse):
    // one exchange at setup replaces one edge-table exchange per round —
    // the edge list is the big side of each round's join at corpus scale
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seeds (doc_id, component) must cover exactly the pair graph's
    // vertices with a same-component label <= the identity label; any such
    // initialization converges to the same min-label fixpoint
    // lineage cut + stats reset (see the scaladoc: both halves measured).
    // The checkpoint's internal cached RDD is captured off the LogicalRDD
    // node so each superseded round releases its cache EXPLICITLY (the
    // no-leaked-caches contract DedupSpec pins) instead of waiting on the
    // ContextCleaner. The round's label-sum convergence metric rides the
    // SAME materialization as an `observe` (r21, guide §1.2: one job and
    // one label-table pass per round, not two — the separate aggregate
    // re-read the whole checkpoint cache each round).
    //
    // Convergence check WITHOUT a per-iteration old-vs-new join: labels
    // only ever DECREASE (every update is a `least`), so the label-sum is
    // monotonically non-increasing and stalls exactly at the fixpoint —
    // sum equality <=> zero rows changed. DECIMAL(38,0) keeps it exact at
    // any corpus size (a DOUBLE sum could absorb a small label change at
    // 2^53).
    var ckN = 0
    def cutLabels(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_], java.math.BigDecimal) = {
      ckN += 1
      val obs = new org.apache.spark.sql.Observation(s"cc_label_sum_$ckN")
      val (ck, internal) = graft.ops.Checkpoint.local(
        df.observe(obs, sum(col("component").cast("decimal(38,0)")).as("s")), s"cc round $ckN")
      val labelSum = Option(obs.get("s"))
        .map(_.asInstanceOf[java.math.BigDecimal].stripTrailingZeros)
        .getOrElse(java.math.BigDecimal.ZERO)
      (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), internal, labelSum)
    }
    def releaseCk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      if (rdd != null) { rdd.unpersist(blocking = false); () }
    // every exit path releases the edge list and the live round's
    // checkpoint; a failed round's own checkpoint is released inside
    // Checkpoint.local
    var labelsCk: org.apache.spark.rdd.RDD[_] = null
    try {
      // seeding the sum from the initial labels keeps the already-a-fixpoint
      // case at one iteration
      val (seeded, seededCk, sum0) = cutLabels(seeds.getOrElse(
        edges.select(col("src").as("doc_id")).distinct()
          .withColumn("component", col("doc_id"))))
      var labels = seeded
      labelsCk = seededCk
      var converged = false
      var it = 0
      var prevSum = sum0
      while (!converged && it < maxIters) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("doc_id", "dst").withColumnRenamed("component", "n_comp"), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(min(col("n_comp")).as("n_comp"))
        val spread = labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
        // pointer jump: a label is always the id of a same-component vertex,
        // so the label's label is too — taking the least keeps the invariant
        // while halving chain depth every round. The self-join's two
        // branches share spread's subtree, so exchange reuse computes the
        // edge join once; the eager checkpoint in cutLabels materializes
        // the round in ONE execution.
        val jumped = spread.as("s")
          .join(spread.select(col("doc_id").as("p_id"), col("component").as("p_comp")),
            col("s.component") === col("p_id"), "left")
          .select(col("s.doc_id").as("doc_id"),
            least(col("s.component"), coalesce(col("p_comp"), col("s.component"))).as("component"))
        val (updated, updatedCk, newSum) = cutLabels(jumped)
        releaseCk(labelsCk)
        labels = updated
        labelsCk = updatedCk
        converged = prevSum.compareTo(newSum) == 0
        prevSum = newSum
        it += 1
      }
      // a non-fixpoint label table would silently under-merge clusters (and
      // diverge from the oracle's exact transitive closure) — fail loudly;
      // maxIters is a runaway guard, not an accuracy knob
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters iterations")
      // Hand the caller a NORMALLY-persisted label table (their
      // `.unpersist()` must work — the caller-owns-only-the-result cache
      // contract), materialized from the final checkpoint cache, which the
      // finally then releases with the edge list. One extra narrow pass
      // over the (duplicates-sized) label table.
      val out = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try out.count()
      catch { case t: Throwable => out.unpersist(); throw t }
      out
    } finally {
      releaseCk(labelsCk)
      edges.unpersist()
    }
  }

  /** [[connectedComponents]] specialized to a [[bandedHammingPairs]]
    * output — STAR CONTRACTION before the iterative loop (guide §1.2:
    * shrink the iterated tables). The pair table's documented contract
    * makes this exact: `hamming = 0` rows are precisely the star edges
    * (rep = min doc_id of an identical-fingerprint group, member
    * attached to nothing else — distinct fingerprints can't be hamming
    * 0, and repPairs relate representatives only), so a star member's
    * component is its rep's component, and the component label (min
    * doc_id) is always a REP's id (every member is > its rep). The
    * min-label loop therefore only needs the rep subgraph
    * (`hamming > 0`); members take their rep's label in ONE equi-join
    * afterwards, and a rep whose fingerprint group has no cross-rep
    * pair labels itself. At mass-duplication scale (one logo on 10⁷
    * pages) the members are the bulk of the graph — they now cost one
    * join instead of riding every label-propagation round.
    *
    * NOT valid for general pair tables (e.g. [[lshComponents]]' edges,
    * where an over-cap bucket's star member can still share small
    * buckets with other docs) — callers must hold a
    * [[bandedHammingPairs]]-contract table. DedupSpec pins equality
    * with the generic loop on the image pair graph.
    * Returns (doc_id, component) for every vertex of the pair graph,
    * persisted; the caller owns the unpersist. */
  def hammingComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val stars = pairs.filter(col("hamming") === 0)
      .select(col("a").as("rep"), col("b").as("m"))
    val repLabels = connectedComponents(pairs.filter(col("hamming") > 0), maxIters)
    // a star rep outside the rep subgraph heads a component of exactly
    // its own fingerprint group — it labels itself
    val isoReps = stars.select(col("rep").as("doc_id")).distinct()
      .join(repLabels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    val allReps = repLabels.unionByName(isoReps)
    val memberLabels = stars
      .join(allReps.select(col("doc_id").as("rep"), col("component")), Seq("rep"))
      .select(col("m").as("doc_id"), col("component"))
    val out = allReps.unionByName(memberLabels)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    repLabels.unpersist()
    out
  }

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination — flag training documents whose shingle
    * sets are substantially CONTAINED in some benchmark/eval document
    * (the overlap check every pretraining corpus runs before release).
    * Same scale shape as near-dup detection, but across two sets: LSH
    * buckets are built per side and candidates come from the cross-set
    * equi-join on (band, sig) — a training doc is never compared to the
    * whole benchmark, only to co-bucketed members. Exact containment
    * |S_train ∩ S_bench| / |S_train| then verifies each candidate from
    * the two array-local shingle sets.
    * Returns (doc_id, bench_id, inter, nsh, containment >= min). */
  def contamination(docs: DataFrame, isBench: Column, k: Int = 3,
                    bands: Int = 4, rowsPerBand: Int = 4,
                    minContainment: Double = 0.3): DataFrame =
    contaminationOf(docs.filter(!isBench), docs.filter(isBench),
      k, bands, rowsPerBand, minContainment)

  /** LSH + exact-containment core over explicit train/bench sides —
    * shared by [[contamination]] and [[contaminationBloom]]. */
  private def contaminationOf(train: DataFrame, bench: DataFrame, k: Int,
                              bands: Int, rowsPerBand: Int,
                              minContainment: Double): DataFrame = {
    val candidates = lshBuckets(train, k, bands, rowsPerBand)
      .select(col("band"), col("sig"), col("doc_id"))
      .join(lshBuckets(bench, k, bands, rowsPerBand)
        .select(col("band"), col("sig"), col("doc_id").as("bench_id")), Seq("band", "sig"))
      .select("doc_id", "bench_id").distinct()
    candidates
      .join(shingleSets(train, k).select(col("doc_id"), col("sl").as("st"), col("nsh")), Seq("doc_id"))
      .join(shingleSets(bench, k).select(col("doc_id").as("bench_id"), col("sl").as("sb")), Seq("bench_id"))
      .withColumn("inter", size(array_intersect(col("st"), col("sb"))).cast("long"))
      .withColumn("containment", round(col("inter") / col("nsh"), 6))
      .filter(col("containment") >= minContainment)
      .select("doc_id", "bench_id", "inter", "nsh", "containment")
  }

  /** [[contamination]] with a bloom-filter prefilter on the training side —
    * the shape a 100 TB corpus wants when contamination is rare (it is):
    * the benchmark's distinct shingles are folded into a compact packed
    * bitset bloom (`array<bigint>`, mBits/64 longs — mBits-bounded,
    * corpus-independent), which then rides a broadcast into a NARROW
    * corpus scan that keeps only training docs with >= 1 might-contain
    * shingle. Only that usually-tiny candidate slice pays for minhash
    * signatures, LSH bucketing, and exact verification; the rest of the
    * corpus never shuffles at all.
    *
    * Provably exact, not approximate: blooms have no false negatives, so
    * every doc the prefilter drops shares ZERO shingles with every
    * benchmark doc — containment 0, below any positive `minContainment`
    * (hence the loud require). False positives only cost work downstream,
    * where exact containment removes them; so the output is row-identical
    * to [[contamination]] and gates against the same exact oracle.
    *
    * Two deliberate scale shapes (both round-9 fixes of measured sins):
    * the bitset packs ENGINE-side — bit positions group by word index
    * (`pos >> 6`) into a `bit_or` of single-bit longs, so the driver
    * collects at most mBits/64 already-packed rows (never one row per set
    * bit), and each probe is O(1): `element_at` into the long array +
    * shiftright + mask, vs the O(mBits) per-probe cost of indexing a
    * UTF8String bit-CHAR-string with substr (110 s -> ~1 s at sf0.1).
    * And the candidate slice materializes ONCE: the prefiltered train is
    * persisted and counted, the LSH and verification branches both read
    * that cache instead of re-running the probe scan, and it is released
    * once the returned result has materialized (the caller owns only the
    * result). */
  def contaminationBloom(docs: DataFrame, isBench: Column, k: Int = 3,
                         bands: Int = 4, rowsPerBand: Int = 4,
                         minContainment: Double = 0.3,
                         mBits: Int = 1 << 20, kHashes: Int = 3): DataFrame = {
    require(minContainment > 0,
      s"contaminationBloom needs minContainment > 0 (got $minContainment): " +
        "the prefilter only drops zero-overlap docs, which a zero threshold would keep")
    require(mBits >= 64 && mBits <= (1 << 24),
      s"mBits out of range [64, 2^24]: $mBits")
    require(kHashes >= 1 && kHashes <= 8, s"kHashes out of range [1, 8]: $kHashes")
    val spark = docs.sparkSession
    val bench = docs.filter(isBench)
    val train = docs.filter(!isBench)
    // k bit positions per shingle: xxhash64 salted by the hash index,
    // reduced mod mBits — the identical expression hashes both sides
    def bitPositions(shingle: Column): Seq[Column] =
      (0 until kHashes).map(h => pmod(xxhash64(shingle, lit(h)), lit(mBits.toLong)))
    // build: bench shingles -> bit positions -> 64-bit words packed by a
    // partial+final bit_or agg; the driver sees only the packed
    // (word-index, word) rows. No distinct anywhere: bit_or is
    // idempotent, so duplicate shingles collapse MAP-side into the
    // <= mBits/64 groups instead of paying a shuffle of shingle strings
    val packed = shingles(bench, k)
      .select(explode(array(bitPositions(col("shingle")): _*)).as("pos"))
      .groupBy(shiftright(col("pos"), 6).cast("int").as("idx"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        col("pos").bitwiseAND(lit(63L)).cast("int"))).as("w"))
      .collect()
    val words = new Array[Long](mBits >> 6)
    packed.foreach(r => words(r.getInt(0)) = r.getLong(1))
    import spark.implicits._
    val bloomDf = Seq(Tuple1(words.toSeq)).toDF("bloom")
    // serve: explode train shingles, test all k bits against the broadcast
    // long array (element_at is 1-based), keep docs with any hit. The
    // candidate id set is contamination-candidates-sized, so it broadcasts
    // back as a semi-join against ONE more corpus scan.
    val hit = bitPositions(col("shingle"))
      .map { p =>
        val word = element_at(col("bloom"), (shiftright(p, 6) + 1).cast("int"))
        call_function("shiftright", word, p.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }
      .reduce(_ && _)
    val candIds = shingles(train, k).crossJoin(broadcast(bloomDf))
      .filter(hit).select("doc_id").distinct()
    // materialize the candidate slice once so LSH bucketing and exact
    // verification read the cache instead of re-running the probe scan
    val pref = train.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pref.count()
    val out = contaminationOf(pref, bench, k, bands, rowsPerBand, minContainment)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    pref.unpersist()
    out
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the data-
    * valuation triage an incoming crawl batch gets before it earns
    * training slots: `novelty = 1 − |shingles ∩ reference| / |shingles|`,
    * so boilerplate re-crawls score ~0 and genuinely new text ~1. The
    * complement of decontamination ([[contamination]] asks "is this eval
    * text leaking in", novelty asks "does this add anything at all").
    *
    * Scale shape: the reference's distinct shingle set is vocabulary-
    * spread (one distinct shuffle), the membership probe is a shingle-
    * keyed left join — never a posting-list self-join — and the per-doc
    * rollup is the only other shuffle. Incoming docs with < k tokens
    * (no shingles) come back with novelty 0.0 (nothing to assess).
    * Returns every incoming doc: (doc_id, n_shingles, n_seen, novelty). */
  def noveltyScores(docs: DataFrame, isRef: Column, k: Int = 3): DataFrame = {
    val flagged = docs.withColumn("is_ref", isRef)
    noveltyAgainst(flagged.filter(!col("is_ref")),
      referenceShingles(flagged.filter(col("is_ref")), k), k)
  }

  /** The reference side of [[noveltyScores]] as a standalone table —
    * build once, persist as parquet, serve many batches (the
    * [[writeDedupIndex]] discipline; [[graft.streaming.NoveltyStream]]
    * joins it against every incoming micro-batch). */
  def referenceShingles(ref: DataFrame, k: Int = 3): DataFrame =
    shingles(ref, k).select("shingle").distinct()

  /** Score `incoming` docs against an existing reference shingle table —
    * the exact scoring algebra of [[noveltyScores]], factored out so the
    * batch query and the streaming triage cannot drift. */
  def noveltyAgainst(incoming: DataFrame, refShingles: DataFrame, k: Int = 3): DataFrame = {
    val agg = shingles(incoming, k)
      .join(refShingles.select("shingle").withColumn("seen", lit(1L)), Seq("shingle"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
    incoming.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)).as("novelty"))
  }

  // --------------------------------------------------- embedding near-dup

  /** Embedding near-duplicate pairs via banded sign-LSH — the 100 TB
    * replacement for the all-pairs [[closestEmbeddingPairs]]. The
    * signature is the sign bit of each embedding dimension (axis-aligned
    * hyperplanes — deterministic, so the DuckDB oracle reproduces it
    * bit-for-bit; a production deployment would draw seeded Gaussian
    * hyperplanes through the identical plumbing). Dims are split into
    * `bands` bands of `rowsPerBand` sign bits; pairs agreeing on ALL bits
    * of >= 1 band become candidates via an equi self-join on (band, bits)
    * — never a cross product — and exact cosine then verifies each
    * candidate. Band shape tunes the similarity threshold the S-curve
    * targets: 8x8 for true near-dups (cos >= ~0.9), 8x6 for the looser
    * threshold this synthetic corpus needs (its closest pair is ~0.51).
    * Returns (a, b, cos) for candidates with cos >= minCos. */
  def embeddingLshPairs(emb: DataFrame, bands: Int = 8, rowsPerBand: Int = 8,
                        minCos: Double = 0.9): DataFrame =
    bandedSignPairs(emb, bands, rowsPerBand, minCos,
      // axis-aligned signs: bit i is sign(v[i]) — hyperplane-free, exactly
      // SQL-mirrorable, which is what the oracle gate needs
      (v, i) => element_at(v, i + 1) >= 0)

  /** [[embeddingLshPairs]] with SEEDED RANDOM Gaussian hyperplanes — the
    * production form of sign-LSH (Charikar's SimHash for vectors):
    * bit i is sign(v · h_i) for h_i ~ N(0, I), giving
    * P[bit collision] = 1 − θ/π for ANY data orientation, where the
    * axis-aligned variant depends on how mass spreads across coordinates.
    * The hyperplanes are generated driver-side from `seed` (content-stable
    * across runs/retries) and enter the plan as literal arrays — the same
    * serve-a-model shape as the IVF centroids, so bucketing stays a
    * narrow, shuffle-free map. `dim` is the embedding width. */
  def embeddingLshPairsGaussian(emb: DataFrame, dim: Int, bands: Int = 8,
                                rowsPerBand: Int = 8, minCos: Double = 0.9,
                                seed: Long = 42L): DataFrame = {
    import graft.similarity.Ann.dot
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * rowsPerBand)(
      array(Array.fill(dim)(lit(rnd.nextGaussian())): _*))
    bandedSignPairs(emb, bands, rowsPerBand, minCos, (v, i) => dot(v, planes(i)) >= 0)
  }

  /** Shared banded sign-LSH plumbing: bucket on (band, concatenated sign
    * bits), self-join per bucket, exact-cosine verify. `bit(v, i)` yields
    * the i-th (0-based) sign bit predicate. */
  private def bandedSignPairs(emb: DataFrame, bands: Int, rowsPerBand: Int,
                              minCos: Double,
                              bit: (Column, Int) => Column): DataFrame = {
    import graft.similarity.Ann.dot
    // referenced three times (bucket derivation + both pair-side vector
    // lookups); persist — the staged "write the signature table" shape
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      // cosine is undefined for zero-norm vectors; without the guard Spark
      // scores them NaN (which compares GREATER than any threshold) while
      // the oracle's 0/0 is NULL — drop them on both sides
      .filter(col("nrm") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((b * rowsPerBand until (b + 1) * rowsPerBand).map(i =>
          when(bit(col("v"), i), lit("1")).otherwise(lit("0"))): _*).as("bits"))
    }
    val buckets = base
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val l = buckets.select(col("band"), col("bits"), col("vec_id").as("a"))
    val r = buckets.select(col("band"), col("bits"), col("vec_id").as("b"))
    val cand = l.join(r, Seq("band", "bits")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val out = cand
      .join(base.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), Seq("a"))
      .join(base.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= minCos)
      .select("a", "b", "cos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the verified pairs, release the vector cache; the caller
    // owns the returned result's cache
    out.count()
    base.unpersist()
    out
  }

  /** The most recently trained semantic-dedup model: (centroids, minCos).
    * Same stash contract as [[graft.similarity.Ann.lastIvfModel]] — Lloyd
    * training is not SQL-mirrorable but everything after it is, so Verify
    * runs the query first and the oracle gate injects the collected
    * centroids as literals ([[graft.OracleSqlExt.semanticDedupSqlFromLastModel]]). */
  @volatile private[graft] var lastSemanticModel: Option[(Seq[(Int, Array[Double])], Double)] = None

  /** Dedicated stash for the SERVE-ONLY twin (`dedup_semantic_indexed`),
    * mirroring [[graft.similarity.Ann.lastIvfModelIndexed]]: each registry
    * entry's dynamic oracle reflects exactly the centroids its own plan
    * used, so a future param drift in either twin can never gate one
    * query against the other's model. */
  @volatile private[graft] var lastSemanticModelIndexed: Option[(Seq[(Int, Array[Double])], Double)] = None

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus embeddings with deterministic k-means, then look
    * for semantic duplicates ONLY within each cluster — pairwise cosine
    * >= `minCos` — and collapse each connected duplicate group to its
    * min-id representative. This is the dedup the token-level family
    * cannot do: paraphrases and re-renderings share no shingles but sit
    * together in embedding space.
    *
    * Scale shape: the cluster pass bounds the quadratic term — candidate
    * pairs are O(Σ n_c²) instead of O(N²), and `nClusters` is the knob
    * that keeps clusters memory-sized (SemDeDup used 50k clusters for
    * LAION-440M; grow it with the corpus). Centroid training samples via
    * `trainStride` ([[graft.similarity.Ann.ivfCentroids]]), assignment is
    * a narrow shuffle-free map against the literal centroid model
    * ([[graft.similarity.Ann.ivfCell]]), and the only wide stages are the
    * cid-keyed self-join plus the (duplicate-graph-sized, tiny) label
    * propagation of [[connectedComponents]].
    *
    * Returns one row per non-zero-norm vector:
    * (vec_id, cid, component, keep) — component = min vec_id of its
    * duplicate group (its own id if unique), keep = (component == vec_id),
    * i.e. the SemDeDup "keep one per semantic-duplicate set" rewrite. */
  def semanticDedup(emb: DataFrame, nClusters: Int = 8, iters: Int = 2,
                    minCos: Double = 0.4, trainStride: Int = 1): DataFrame = {
    import graft.similarity.Ann
    val cents = Ann.ivfCentroids(emb, nClusters, iters, trainStride)
    lastSemanticModel = Some((cents, minCos))
    semanticDedupWith(emb, cents, minCos)
  }

  /** APPLY-only twin of [[semanticDedup]] for a given centroid model —
    * the serve path of the SemDeDup lifecycle: a persisted model
    * ([[graft.similarity.Ann.writeIvfModel]]) assigns fresh embeddings to
    * cells as a narrow literal-model map and runs the within-cell
    * duplicate search WITHOUT re-clustering the corpus (Lloyd training is
    * the only stage that needs more than one pass over the data; serving
    * keeps re-ingest cost at assignment + bounded cell self-join).
    * Stashing is the CALLER's job — the rebuild entry stashes to
    * [[lastSemanticModel]], the indexed entry to
    * [[lastSemanticModelIndexed]] (the [[graft.similarity.Ann.ivfTopKWith]]
    * contract). */
  def semanticDedupWith(emb: DataFrame, cents: Seq[(Int, Array[Double])],
                        minCos: Double = 0.4): DataFrame = {
    import graft.similarity.Ann
    // referenced twice by the self-join — persist the assigned table, the
    // staged "write the cluster index" shape a pipeline would checkpoint
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Ann.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0) // zero-norm: cosine undefined (NaN vs oracle NULL)
      .withColumn("cid", Ann.ivfCell(col("v"), cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = base.select(col("cid"), col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val r = base.select(col("cid"), col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs = l.join(r, Seq("cid")).filter(col("a") < col("b"))
      .withColumn("cos", round(Ann.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= minCos)
      .select("a", "b")
    val comps = connectedComponents(pairs).withColumnRenamed("doc_id", "vec_id")
    val out = base.join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("keep", (col("component") === col("vec_id")).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    base.unpersist()
    out
  }

  /** Dedicated stash for the SemDeDup ingest GATE's dynamic oracle:
    * (centroids, minCos) of the persisted gate index the last
    * `dedup_semantic_stream_gate` run served against. */
  @volatile private[graft] var lastSemanticGateModel: Option[(Seq[(Int, Array[Double])], Double)] = None

  /** Persist the SemDeDup serve INDEX for continuous ingest gating: the
    * trained centroids (`$dir/centroids`, the
    * [[graft.similarity.Ann.writeIvfModel]] artifact shape) plus the KEPT
    * representatives (`$dir/kept`: one (vec_id, cid, embedding) row per
    * semantic-duplicate group survivor of the indexed corpus — the
    * assignment rides along, so serving never re-assigns the index).
    * Staged publish per table; a refresh republishes both. */
  def writeSemanticGateIndex(emb: DataFrame, dir: String, nClusters: Int = 8,
                             iters: Int = 2, minCos: Double = 0.4,
                             trainStride: Int = 1): Unit = {
    import graft.similarity.Ann
    val cents = Ann.ivfCentroids(emb, nClusters, iters, trainStride)
    val spark = emb.sparkSession
    import spark.implicits._
    graft.sources.Sinks.publishSwap(s"$dir/centroids") { staging =>
      cents.map { case (cid, arr) => (cid, arr.toSeq) }.toDF("cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
    graft.sources.Sinks.publishSwap(s"$dir/kept") { staging =>
      val labels = semanticDedupWith(emb, cents, minCos)
      labels.filter(col("keep") === 1).select("vec_id", "cid")
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .write.mode("overwrite").parquet(staging)
      labels.unpersist()
    }
  }

  /** Cosine MATCHES of fresh embeddings against the persisted SemDeDup
    * index — [[hammingMatchesAgainst]]'s ingest-gate shape for the
    * embedding modality: each arriving vector assigns to its cell as a
    * narrow literal-centroid map, joins ONLY that cell's kept
    * representatives (the SemDeDup bound: candidate work O(cell size),
    * never all-pairs), and reports its best match as
    * (vec_id, match_id, cos) with "best" = highest cosine, smallest
    * match_id on ties — deterministic, so the DuckDB oracle reproduces
    * it from the same injected centroids. Clean arrivals produce no row;
    * the downstream corpus writer anti-joins this table. Zero-norm
    * vectors drop on both sides (cosine undefined — the
    * [[semanticDedup]] guard). */
  def semanticMatchesAgainst(fresh: DataFrame, kept: DataFrame,
                             cents: Seq[(Int, Array[Double])],
                             minCos: Double = 0.4): DataFrame = {
    import graft.similarity.Ann
    val f = fresh.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Ann.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("cid", Ann.ivfCell(col("v"), cents).cast("long"))
    val k = kept.select(col("vec_id").as("match_id"), col("cid").cast("long").as("cid"),
        col("embedding").cast("array<double>").as("kv"))
      .withColumn("knrm", sqrt(Ann.dot(col("kv"), col("kv"))))
      .filter(col("knrm") > 0)
    f.join(k, Seq("cid"))
      .withColumn("cos", round(Ann.dot(col("v"), col("kv")) / (col("nrm") * col("knrm")), 6))
      .filter(col("cos") >= minCos)
      // lexicographic min over (-cos, match_id) = highest cosine, then
      // smallest id — one aggregation, no second pass over candidates;
      // cos >= minCos > 0, so the negation never meets the -0.0 vs 0.0
      // double-ordering edge
      .groupBy(col("vec_id"))
      .agg(min(struct((col("cos") * -1).as("nc"), col("match_id"))).as("best"))
      .select(col("vec_id"), col("best.match_id").as("match_id"),
        (col("best.nc") * -1).as("cos"))
  }

  // ------------------------------------------------- semantic decontamination

  /** Argmax-dot IVF cell assignment of an embedding table as
    * (vec_id, cid, embedding) — the persisted-index row shape
    * [[semanticMatchesAgainst]] serves against. Narrow literal-model map
    * (the centroids travel as expression literals, the vectors never
    * shuffle); zero-norm vectors drop here, as everywhere in the
    * semantic family (cosine undefined). */
  def assignedCells(emb: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    import graft.similarity.Ann
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Ann.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), Ann.ivfCell(col("v"), cents).cast("long").as("cid"),
        col("v").as("embedding"))
  }

  /** Dynamic-oracle stashes for the semantic-decontamination family —
    * one slot per registry entry (the [[lastSemanticModelIndexed]]
    * rationale: each query's oracle must reflect exactly the centroids
    * its own plan used). */
  @volatile private[graft] var lastSemanticDeconModel: Option[(Seq[(Int, Array[Double])], Double)] = None
  @volatile private[graft] var lastSemanticDeconModelIndexed: Option[(Seq[(Int, Array[Double])], Double)] = None
  @volatile private[graft] var lastSemanticDeconScrubModel: Option[(Seq[(Int, Array[Double])], Double)] = None

  /** SEMANTIC decontamination: flag training embeddings whose cosine
    * against ANY benchmark embedding reaches `minCos`. The lexical decon
    * family (shingle containment, exact substring, bloom) catches
    * verbatim and near-verbatim leaks; this is the complement for
    * PARAPHRASED benchmark leakage — a reworded eval question shares no
    * 13-gram with its source but sits next to it in embedding space
    * (the SemDeDup observation, arXiv:2303.09540, applied to the
    * train-vs-eval split instead of train-vs-train).
    *
    * Scale shape: identical to the SemDeDup ingest gate — the benchmark
    * side clusters once (it is the SMALL side: eval suites are
    * thousands of rows, the corpus is billions), both sides assign to
    * cells as narrow literal-model maps, and candidates are bounded by
    * the cell join, never all-pairs. Flagged rows report their
    * highest-cosine (smallest-id on ties) benchmark match for audit.
    * Returns (vec_id, match_id, cos); the corpus rewrite anti-joins it
    * ([[graft.SparkEntry]] `scrub_semantic_contaminated`). */
  def semanticDeconMatches(train: DataFrame, benchAssigned: DataFrame,
                           cents: Seq[(Int, Array[Double])],
                           minCos: Double): DataFrame =
    semanticMatchesAgainst(train, benchAssigned, cents, minCos)

  /** Persist the semantic-decon BENCHMARK index: centroids trained on
    * the benchmark side (`$dir/centroids`, the
    * [[graft.similarity.Ann.writeIvfModel]] artifact shape) plus the
    * cell-assigned benchmark vectors (`$dir/bench`). Serving then costs
    * assignment of the TRAIN side only — the benchmark is never
    * re-embedded, re-clustered, or re-assigned on ingest (the
    * decontaminate_substring_indexed lifecycle for the embedding
    * modality). Staged publish per table. */
  def writeSemanticDeconIndex(bench: DataFrame, dir: String, nClusters: Int = 8,
                              iters: Int = 2, trainStride: Int = 1): Unit = {
    import graft.similarity.Ann
    val cents = Ann.ivfCentroids(bench, nClusters, iters, trainStride)
    val spark = bench.sparkSession
    import spark.implicits._
    graft.sources.Sinks.publishSwap(s"$dir/centroids") { staging =>
      cents.map { case (cid, arr) => (cid, arr.toSeq) }.toDF("cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
    graft.sources.Sinks.publishSwap(s"$dir/bench") { staging =>
      assignedCells(bench, cents)
        .write.mode("overwrite").parquet(staging)
    }
  }

  // ------------------------------------------------- winnowing / edit distance

  /** Rolling hashes of the k-gram strings of a cleaned token array,
    * array-local (one row per doc, no shuffle). NULL for docs with < k
    * tokens — `explode` drops them, matching the shingle convention. The
    * token array must be MATERIALIZED in its own projection first (see
    * [[shingleCol]]'s lambda-substitution note — HOF lambdas get no
    * subexpression caching, so an inlined tokenizer would re-run per
    * element). */
  private def kgramHashCol(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n >= k,
      transform(sequence(lit(1), n - k + 1), i =>
        graft.functions.RollingHash.rollingHash(
          concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS primitive): hash every k-token gram, slide a window of `w`
    * consecutive k-gram hashes, keep each window's MINIMUM hash, emit the
    * per-document DISTINCT selected hashes as (doc_id, fp).
    *
    * The winnowing guarantee: any shared token run of length >= k + w - 1
    * between two documents yields at least one SHARED fingerprint, while
    * the fingerprint density is ~2/(w+1) of the k-gram count — a
    * position-robust partial-overlap detector (the passage family
    * [[passageDupStats]] is grid-aligned and misses shifted copies; this
    * is the shift-resistant complement).
    *
    * Scale shape: the entire selection is array-local per document
    * (tokenize -> k-gram hash -> window-min via `transform`+`slice`, all
    * higher-order functions on one row) — ZERO shuffles before the final
    * explode; a fingerprint inverted index is then one exchange on `fp`.
    * Documents with fewer than w k-grams emit the minimum of what they
    * have (one truncated window — `slice` past the end truncates on both
    * engines), so every doc with >= k tokens gets >= 1 fingerprint. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val kh = docs
      .select(col("doc_id"), Normalize.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), kgramHashCol(col("toks"), k).as("hs"))
    val nw = greatest(size(col("hs")) - (w - 1), lit(1))
    // <k-token docs have hs = NULL, but greatest(size(NULL)-…, 1) still
    // reads 1 and array_min(slice(NULL,…)) yields a non-null [NULL] array —
    // so the NULL guard must wrap the WHOLE selection: explode of a NULL
    // array drops the row, matching the oracle's `len(tl) >= k` filter.
    kh.select(col("doc_id"),
        explode(when(col("hs").isNotNull, array_distinct(
          transform(sequence(lit(1), nw), i => array_min(slice(col("hs"), i, lit(w))))))).as("fp"))
  }

  /** Document-pair partial-overlap report from the winnowing inverted
    * index: pairs sharing at least `minShared` selected fingerprints,
    * with the shared count. This is winnowing's dedup payoff — a pair
    * sharing m fingerprints shares roughly m·(w+1)/2 k-grams of CONTIGUOUS
    * text, so `shared` ranks plagiarism/quotation-style overlap that
    * whole-document Jaccard dilutes away on long documents.
    *
    * Scale shape mirrors [[lshCandidates]]: fingerprint posting lists
    * beyond `maxPostings` are dropped before the self-join (a
    * boilerplate fingerprint shared by thousands of docs is O(n²) pairs
    * and zero signal — same recall contract as [[MaxLshBucketSize]]),
    * the capped index persists once so the self-join reads both sides
    * pre-partitioned on `fp`, and the pair aggregation shuffles only
    * candidate pairs, never the corpus. */
  def winnowOverlap(docs: DataFrame, k: Int = 3, w: Int = 4, minShared: Long = 2L,
                    maxPostings: Int = MaxLshBucketSize): DataFrame =
    winnowOverlapFrom(winnowFingerprints(docs, k, w), minShared, maxPostings)

  /** Build-once winnow index: the (doc_id, fp) fingerprint table
    * persisted as parquet. Fingerprints are a pure per-document function
    * (tokenize → k-gram hash → window-min, no cross-document term), so
    * fresh shards UNION onto the index without re-fingerprinting the
    * existing corpus — the same incremental-ingest contract as the
    * minhash/shingle index ([[writeDedupIndex]]). */
  def writeWinnowIndex(docs: DataFrame, dir: String, k: Int = 3, w: Int = 4): Unit =
    winnowFingerprints(docs, k, w).write.mode("overwrite").parquet(s"$dir/winnow_fp")

  /** Fingerprint table with oversized posting lists removed — the
    * [[capBuckets]] analogue on the `fp` key: ONE count-over-window on
    * the same key the overlap self-join shuffles on, so the partitioning
    * is computed once and (through the persist in
    * [[winnowOverlapFrom]]) reused by both join sides. `<= 0` disables.
    * Exchange parity pinned in PlanSpec. */
  private[graft] def cappedPostings(fp: DataFrame,
                                    maxPostings: Int = MaxLshBucketSize): DataFrame =
    if (maxPostings <= 0) fp
    else fp
      .withColumn("pn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("pn") <= maxPostings)
      .drop("pn")

  /** [[winnowOverlap]] served from a persisted (doc_id, fp) table — the
    * serve plan never touches the corpus. */
  def winnowOverlapFrom(fp: DataFrame, minShared: Long = 2L,
                        maxPostings: Int = MaxLshBucketSize): DataFrame = {
    val capped = cappedPostings(fp, maxPostings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = capped.select(col("fp"), col("doc_id").as("a"))
      .join(capped.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    capped.unpersist()
    out
  }

  /** Sorted-neighborhood near-dup blocking (Hernández/Stolfo 1995) with a
    * similarity-preserving NUMERIC sort key: documents sort globally by
    * their first minhash (h0 — equal for exact dups, near-equal-or-equal
    * for near-dups, uniformly scattered otherwise), and every document
    * pairs with the `windowSize − 1` documents that follow it in that
    * order; each pair is then verified by exact shingle Jaccard.
    *
    * This is the OTHER classic blocking strategy next to LSH banding, and
    * it fails differently: banding needs an entire band of `rowsPerBand`
    * hashes to agree, so a pair can miss every band by one hash; the
    * neighborhood window only needs the single sort key to land the pair
    * within `windowSize` ranks. Running both and unioning candidates is
    * the standard multi-pass SNM recipe.
    *
    * Scale shape: the global order comes from [[graft.ops.Ranks.globalRank]]
    * (sketch-bucketed range partitioning — no single-partition window over
    * data), the window pairing is an EQUI-join on exploded rank probes
    * (constant `windowSize − 1` fan-out, never a rank-range theta join),
    * and verification joins the persisted shingle-set table by doc_id.
    * Emits (a, b, jaccard) for pairs where both sides have shingles. */
  def sortedNeighborhood(docs: DataFrame, windowSize: Int = 3, k: Int = 3): DataFrame = {
    require(windowSize >= 2, s"windowSize must pair at least adjacent ranks, got $windowSize")
    val ss = shingleSets(docs, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = minhashSignaturesFromSets(ss, numHashes = 1)
      .select(col("doc_id"), col("h0").as("bkey"))
    val ranked = graft.ops.Ranks.globalRank(
        keyed, Seq((col("bkey"), true), (col("doc_id"), true)), "r")
      .select(col("doc_id"), col("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = ranked.select(col("doc_id").as("a"),
      explode(array((1 until windowSize).map(d => col("r") + d): _*)).as("r"))
    val pairs = probes.join(ranked.select(col("doc_id").as("b"), col("r")), Seq("r"))
    val out = pairs
      .join(ss.select(col("doc_id").as("a"), col("sl").as("sa"), col("nsh").as("na")), Seq("a"))
      .join(ss.select(col("doc_id").as("b"), col("sl").as("sb"), col("nsh").as("nb")), Seq("b"))
      // null-shingle (<k-token) docs drop HERE, on the cached table — a
      // pre-join filter would push the tokenizer lambda into a predicate
      // (the shingleSets pathology note)
      .filter(col("sa").isNotNull && col("sb").isNotNull)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .select("a", "b", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    ranked.unpersist()
    ss.unpersist()
    out
  }

  /** MULTI-PASS blocking: the union of LSH-band candidates and
    * sorted-neighborhood window pairs, verified once by exact shingle
    * Jaccard at `threshold`. The standard recall recipe — the two
    * blocking passes fail independently (banding needs a full band of
    * hashes to agree; the neighborhood window needs only the single h0
    * axis to land a pair within `windowSize` ranks), so their union
    * dominates either alone while verification keeps precision exact.
    *
    * One corpus pass feeds everything: the shingle-set table is computed
    * once and persisted, the 16-hash signature table derives from it and
    * is ALSO shared — LSH bands consume h0..h15, the neighborhood axis
    * is h0 of the SAME table — and verification joins the cached sets.
    * Pair normalization to (a < b) makes the union's `distinct` merge
    * the two passes' overlapping discoveries. */
  def multipassVerify(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                      windowSize: Int = 3, threshold: Double = 0.3,
                      maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val ss = shingleSets(docs, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = minhashSignaturesFromSets(ss, bands * rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBuckets(lshBucketsFromSigs(sigs, bands, rowsPerBand), maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candLsh = candidatesFromBuckets(capped, maxBucketSize = 0)
    val ranked = graft.ops.Ranks.globalRank(
        sigs.select(col("doc_id"), col("h0").as("bkey")),
        Seq((col("bkey"), true), (col("doc_id"), true)), "r")
      .select(col("doc_id"), col("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = ranked.select(col("doc_id").as("pa"),
      explode(array((1 until windowSize).map(d => col("r") + d): _*)).as("r"))
    val candSnm = probes.join(ranked.select(col("doc_id").as("pb"), col("r")), Seq("r"))
      .select(least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
    val cand = candLsh.unionByName(candSnm).distinct()
    val out = cand
      .join(ss.select(col("doc_id").as("a"), col("sl").as("sa"), col("nsh").as("na")), Seq("a"))
      .join(ss.select(col("doc_id").as("b"), col("sl").as("sb"), col("nsh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    ranked.unpersist(); capped.unpersist(); sigs.unpersist(); ss.unpersist()
    out
  }

  /** LSH-candidate pairs verified by EDIT DISTANCE instead of shingle
    * Jaccard: normalized similarity 1 - lev(a,b)/max(|a|,|b|), kept at
    * `minSim` or above. The character-level twin of [[jaccardVerify]] —
    * Jaccard on shingle SETS is order/position-blind, so templated
    * documents with reshuffled sections score high; Levenshtein charges
    * every move. Same scale contract: the O(|a|·|b|) exact comparison
    * runs ONLY on the LSH-bucketed candidate set (never all pairs), and
    * both text sides attach by doc_id equi-join. */
  def editDistanceVerify(docs: DataFrame, k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                         minSim: Double = 0.97, maxBucketSize: Int = MaxLshBucketSize): DataFrame = {
    val cand = lshCandidates(docs, k, bands, rowsPerBand, maxBucketSize)
    // BANDED levenshtein: any pair that can pass the filter has
    // dist <= (1 - minSim) · max_len <= (1 - minSim) · maxLen, so the
    // O(|a|·|b|) full DP shrinks to an O(max_len · threshold) band — at
    // minSim 0.97 that is ~3% of the work (measured 10.9 s -> sub-second
    // on the sf0.1 candidate set, where AQE coalesces the tiny pair
    // stream to few partitions and the full DP ran nearly serial).
    // Over-threshold pairs return dist = -1; they satisfy
    // dist_true > (1 - minSim) · maxLen >= (1 - minSim) · max_len, i.e.
    // sim < minSim — exactly the rows the filter drops — so the banded
    // form is row-identical to the exact one. maxLen is a one-row
    // bounded driver collect (the centroid-collect precedent).
    val maxLen = Option(docs.agg(max(length(col("text")))).head.get(0))
      .fold(0L)(_.asInstanceOf[Int].toLong)
    val thr = math.max(1L, math.ceil((1.0 - minSim) * maxLen).toLong)
      .min(Int.MaxValue.toLong).toInt
    // explicit-width repartition before the DP projection: the pair
    // stream is tiny in BYTES, so AQE coalesces the post-join read to ~1
    // partition — but each row carries an O(max_len · thr) CPU cost, so
    // byte-based coalescing serializes the heaviest stage. A
    // user-specified repartition(n) is exempt from AQE coalescing.
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    val out = cand
      .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
      .repartition(width)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), thr).cast("long"))
      .filter(col("dist") >= 0) // -1 = over the global band, provably sim < minSim
      .withColumn("max_len", greatest(length(col("ta")), length(col("tb"))).cast("long"))
      .withColumn("sim", round(lit(1.0) - col("dist") / col("max_len"), 6))
      .filter(col("sim") >= minSim)
      .select("a", "b", "dist", "max_len", "sim")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cand.unpersist() // lshCandidates hands back a persisted pair table
    out
  }

  // ------------------------------------------------- exact substring dedup

  /** Content-defined CHAR-level anchor positions as (doc_id, pos, h):
    * rolling-hash every k-char gram of the RAW text (no tokenization, no
    * cleaning — this family is byte-exact), slide a window of `w`
    * consecutive k-gram hashes, and record each window's LEFTMOST-minimum
    * position with its hash. Winnowing (Schleimer/Wilkerson/Aiken 2003)
    * used as a POSITION SAMPLER rather than a fingerprint set: any two
    * occurrences of the same substring of length >= k + w - 1 contain at
    * least one window fully interior to the occurrence; interior windows
    * see identical hash sequences, so both occurrences select the same
    * anchor at the same RELATIVE offset. That alignment guarantee is what
    * [[substringMatches]]' extension step consumes.
    *
    * Scale shape: selection is fully row-local per document — ONE
    * compiled O(len) pass (incremental roll + monotonic-deque sliding
    * min, [[graft.functions.WinnowAnchorsExpr]]), ZERO shuffles before
    * the explode; anchor density is ~2/(w+1) of char positions, so the
    * anchor table is a small fraction of corpus bytes. The input is
    * repartitioned to the session shuffle width first: this stage is
    * CPU-bound, and a byte-small corpus file otherwise plans as ONE
    * scan partition that serializes all of it — the
    * [[editDistanceVerify]] byte-vs-CPU mismatch, on the build side. */
  private[graft] def substringAnchors(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.repartition(width)
      .select(col("doc_id"),
        explode(graft.functions.WinnowAnchor.anchors(col("text"), k, w)).as("an"))
      .select(col("doc_id"), col("an.pos").as("pos"), col("an.h").as("h"))
  }

  /** EXACT-substring deduplication, the suffix-array dedup family of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed Spark-first: every maximal byte-exact
    * substring of length >= `minLen` CHARS shared by two documents, as
    * (a, b, sa, sb, match_len) with 1-based char starts and a < b. The
    * gap the rest of the dedup family leaves open: [[passageDupStats]]
    * is w-token GRID-aligned (a shifted copy changes every window hash)
    * and winnowing overlap is approximate ranking — this operator is
    * shift-resistant AND exact.
    *
    * Three stages, none quadratic in the corpus:
    *   1. ANCHOR — [[substringAnchors]]: content-defined winnowed
    *      positions; `require(k + w - 1 <= minLen)` makes the coverage
    *      guarantee exact (every qualifying match contains an interior
    *      anchor in both copies at the same relative offset).
    *   2. PAIR — equi-join anchors on hash across documents (a < b).
    *      Hash collisions only ADD candidates; step 3 compares real
    *      chars, so output rows are exact regardless.
    *   3. EXTEND — attach both texts by doc_id equi-joins and grow the
    *      match maximally right/left with the codegen'd
    *      [[graft.functions.CommonAffix]] prefix/suffix expressions
    *      (zero-allocation byte compares); the span is maximal by
    *      construction, so every anchor interior to one maximal match
    *      extends to the SAME span and `distinct` collapses them.
    *
    * Like [[jaccardPairs]], a hot anchor (boilerplate repeated across
    * thousands of docs) makes the pair join quadratic in its posting
    * list — and capping would silently drop exactly the most-duplicated
    * content, so the hottest posting list is measured up front and the
    * job FAILS LOUDLY over `maxPostingGuard` (guard, don't cap; `<= 0`
    * disables). The extension stage repartitions to the session shuffle
    * width first: candidate pairs are tiny in BYTES but O(len) CPU each,
    * and AQE's byte-based coalescing would serialize them (the
    * [[editDistanceVerify]] precedent).
    *
    * Geometry knob: the RESULT is identical for every (k, w) with
    * k + w - 1 <= minLen (the guarantee covers every match; extension is
    * exact) — only the COST moves. Small k selects fewer anchors but
    * collides constantly (a k-char gram is far more common than a
    * minLen-char match); large k selects denser anchors whose collisions
    * nearly all verify. Measured curve at 10x sf0.1/minLen=30
    * (anchor-geometry table in ARCHITECTURE.md "Measured scaling"):
    * k=8,w=23 floods the pair join with 288M candidates (385 s extend);
    * k=24,w=7 emits 3.4M anchors but only 305k candidates (3.0 s) —
    * 943x fewer text attaches for the IDENTICAL 10,760 matches, hence
    * the k=24 default. Tune k toward minLen when candidates dominate;
    * shrink w below ~7 only when minLen forces it (anchors double with
    * no candidate payoff). */
  def substringMatches(docs: DataFrame, minLen: Int = 30, k: Int = 24, w: Int = 7,
                       maxPostingGuard: Int = 20000): DataFrame = {
    require(k >= 2 && w >= 1 && k + w - 1 <= minLen,
      s"anchor geometry must cover every match: need k + w - 1 <= minLen, " +
      s"got k=$k w=$w minLen=$minLen")
    substringMatchesFrom(substringAnchors(docs, k, w), docs, minLen, maxPostingGuard)
  }

  /** Build-once substring-anchor index: the (doc_id, pos, h) table
    * persisted as parquet. Anchors are a pure per-document function, so
    * fresh shards UNION onto the index without re-anchoring the existing
    * corpus — the [[writeWinnowIndex]] incremental-ingest contract. The
    * (k, w) geometry is baked into the stored hashes; serve-side callers
    * must pass a `minLen >= k + w - 1` of the build. */
  def writeSubstringIndex(docs: DataFrame, dir: String, k: Int = 24, w: Int = 7): Unit =
    substringAnchors(docs, k, w).write.mode("overwrite").parquet(s"$dir/substring_anchors")

  /** [[substringMatches]] served from a persisted anchor table: the pair
    * join reads the index, the corpus is touched only by the extension's
    * doc_id equi-joins (text is never re-hashed).
    *
    * The anchor cache is HASH-PARTITIONED ON `h` before persisting — the
    * [[cappedPostings]] exchange-parity trick: the guard aggregation and
    * BOTH sides of the pair self-join consume that one partitioning, so
    * neither adds an exchange of its own (pinned in PlanSpec). */
  def substringMatchesFrom(anchors: DataFrame, docs: DataFrame, minLen: Int = 30,
                           maxPostingGuard: Int = 20000): DataFrame = {
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    val an = anchors.repartition(width, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (maxPostingGuard > 0) {
      val hottest = Option(an.groupBy("h").agg(count(lit(1)).as("pn"))
        .agg(max(col("pn"))).head.get(0)).fold(0L)(_.asInstanceOf[Long])
      if (hottest > maxPostingGuard) {
        an.unpersist()
        throw new IllegalArgumentException(
          s"substringMatches: hottest anchor has $hottest occurrences " +
          s"(> guard $maxPostingGuard); the pair join would be quadratic in " +
          s"that posting list. Shard the corpus or raise maxPostingGuard " +
          s"deliberately — capping would drop the most-duplicated content.")
      }
    }
    val cand = an.select(col("h"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(an.select(col("h"), col("doc_id").as("b"), col("pos").as("pb")), Seq("h"))
      .filter(col("a") < col("b"))
      .select("a", "pa", "b", "pb")
    val out = extendMatches(cand, docs, docs, minLen, width)
    an.unpersist()
    out
  }

  /** Stage-3 EXTEND shared by the self- and cross-corpus pair joins:
    * attach both texts by doc_id equi-joins, grow each candidate
    * maximally left/right with the codegen'd common-prefix/suffix byte
    * compares, keep >= minLen, collapse anchor multiplicity (every
    * anchor interior to one maximal match extends to the SAME span).
    * Returns the persisted, materialized match table. */
  private def extendMatches(cand: DataFrame, docsA: DataFrame, docsB: DataFrame,
                            minLen: Int, width: Int): DataFrame = {
    import graft.functions.CommonAffix.{commonPrefixLen, commonSuffixLen}
    val out = cand
      .join(docsA.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
      .join(docsB.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
      .repartition(width)
      .withColumn("ext_r", commonPrefixLen(
        col("ta").substr(col("pa").cast("int"), length(col("ta"))),
        col("tb").substr(col("pb").cast("int"), length(col("tb")))))
      .withColumn("ext_l", commonSuffixLen(
        col("ta").substr(lit(1), (col("pa") - 1).cast("int")),
        col("tb").substr(lit(1), (col("pb") - 1).cast("int"))))
      .withColumn("match_len", col("ext_l") + col("ext_r"))
      .filter(col("match_len") >= minLen)
      .select(col("a"), col("b"),
        (col("pa") - col("ext_l")).cast("long").as("sa"),
        (col("pb") - col("ext_l")).cast("long").as("sb"),
        col("match_len").cast("long").as("match_len"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** CROSS-corpus exact-substring matches — every maximal byte-exact
    * shared substring >= minLen chars between a LEFT document and a
    * RIGHT document, as (a, b, sa, sb, match_len) with a from `left`
    * and b from `right`. The Lee et al. 2022 decontamination shape:
    * run with left = training corpus, right = benchmark/eval set, and
    * every verbatim leak of length >= minLen surfaces exactly (where
    * shingle-containment [[contamination]] is Jaccard-approximate and
    * grid-aligned passage hashing misses shifted copies).
    *
    * Same three stages as [[substringMatches]], with the pair join
    * ACROSS the two anchor tables and NO identity filter: the two sides
    * have independent id spaces (an external benchmark knows nothing of
    * the training corpus's ids), so `a != b` would silently drop real
    * contamination between two DIFFERENT documents that coincidentally
    * share an id. Callers carving both sides from ONE table (the
    * registry's source split) get disjoint id sets for free; a caller
    * that passes the same physical document on both sides will see it
    * match itself wholesale — which is the correct answer to the
    * question asked. The posting guard bounds the hottest anchor across
    * BOTH sides, the same loud-failure contract as the self-join. */
  def substringMatchesAcross(left: DataFrame, right: DataFrame, minLen: Int = 30,
                             k: Int = 24, w: Int = 7,
                             maxPostingGuard: Int = 20000): DataFrame = {
    require(k >= 2 && w >= 1 && k + w - 1 <= minLen,
      s"anchor geometry must cover every match: need k + w - 1 <= minLen, " +
      s"got k=$k w=$w minLen=$minLen")
    val width = left.sparkSession.sessionState.conf.numShufflePartitions
    val anL = substringAnchors(left, k, w).repartition(width, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anR = substringAnchors(right, k, w).repartition(width, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (maxPostingGuard > 0) {
      def hottest(an: DataFrame): Long =
        Option(an.groupBy("h").agg(count(lit(1)).as("pn"))
          .agg(max(col("pn"))).head.get(0)).fold(0L)(_.asInstanceOf[Long])
      val h = math.max(hottest(anL), hottest(anR))
      if (h > maxPostingGuard) {
        anL.unpersist(); anR.unpersist()
        throw new IllegalArgumentException(
          s"substringMatchesAcross: hottest anchor has $h occurrences on one " +
          s"side (> guard $maxPostingGuard); the cross join would be quadratic " +
          s"in that posting list. Shard the corpus or raise maxPostingGuard " +
          s"deliberately — capping would drop the most-duplicated content.")
      }
    }
    val cand = anL.select(col("h"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(anR.select(col("h"), col("doc_id").as("b"), col("pos").as("pb")), Seq("h"))
      .select("a", "pa", "b", "pb")
    val out = extendMatches(cand, left, right, minLen, width)
    anL.unpersist(); anR.unpersist()
    out
  }

  /** Per-training-document exact-substring contamination report — the
    * decontamination twin of [[substringDupReport]]: for every training
    * document sharing at least one >= minLen verbatim substring with
    * the benchmark side, (doc_id, n_matches, n_bench_docs,
    * max_match_len, dup_chars, contaminated_frac) where `dup_chars`
    * merges the document's matched spans to maximal intervals first
    * (overlapping leaks of one passage don't double-count) and
    * `contaminated_frac` is that against the document's length. The
    * table a release gate reads to decide drop-vs-scrub per document.
    *
    * Scale shape: one cross-corpus anchor/extension pass
    * ([[substringMatchesAcross]]); the span merge and both aggregations
    * run over the matches table (leak-sized, not corpus-sized), and the
    * single corpus join attaches only the flagged documents' lengths. */
  def decontaminateSubstring(docs: DataFrame, isBench: Column, minLen: Int = 30,
                             k: Int = 24, w: Int = 7,
                             maxPostingGuard: Int = 20000): DataFrame = {
    val train = docs.filter(!isBench)
    val m = substringMatchesAcross(train, docs.filter(isBench),
      minLen, k, w, maxPostingGuard)
    val out = contaminationReportFromMatches(m, train)
    m.unpersist()
    out
  }

  /** The per-train-doc aggregation of [[decontaminateSubstring]],
    * factored so the serve path ([[decontaminateSubstringAgainst]]) and
    * the streaming gate share it with the direct path. */
  private def contaminationReportFromMatches(m: DataFrame, train: DataFrame): DataFrame = {
    val merged = mergeSpans(
      m.select(col("a").as("doc_id"), col("sa").as("s"),
        (col("sa") + col("match_len")).as("e")).distinct())
    val dupChars = merged.groupBy("doc_id")
      .agg(sum(col("span_len")).as("dup_chars"))
    val perDoc = m.groupBy(col("a").as("doc_id")).agg(
      count(lit(1)).as("n_matches"),
      countDistinct(col("b")).as("n_bench_docs"),
      max(col("match_len")).as("max_match_len"))
    val out = perDoc.join(dupChars, Seq("doc_id"))
      .join(train.select(col("doc_id"), length(col("text")).cast("long").as("len")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_matches"), col("n_bench_docs"),
        col("max_match_len"), col("dup_chars"),
        round(col("dup_chars").cast("double") / col("len"), 6).as("contaminated_frac"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** SERVE path of [[decontaminateSubstring]]: the benchmark side enters
    * as its PERSISTED anchor table plus the benchmark corpus (for the
    * extension's text attach) — the benchmark is anchored once at index
    * build and never re-hashed per incoming shard, the same
    * build-once/serve-many contract as [[substringMatchesFrom]]. The
    * caller owns geometry consistency: `minLen`/`k`/`w` must be the ones
    * the persisted anchors were built with (k + w - 1 <= minLen is
    * re-checked). The incoming side is anchored fresh per call — this is
    * the per-shard work of the streaming gate. */
  def decontaminateSubstringAgainst(incoming: DataFrame, benchAnchors: DataFrame,
                                    benchDocs: DataFrame, minLen: Int = 30,
                                    k: Int = 24, w: Int = 7,
                                    maxPostingGuard: Int = 20000): DataFrame = {
    require(k >= 2 && w >= 1 && k + w - 1 <= minLen,
      s"anchor geometry must cover every match: need k + w - 1 <= minLen, " +
      s"got k=$k w=$w minLen=$minLen")
    val width = incoming.sparkSession.sessionState.conf.numShufflePartitions
    val anL = substringAnchors(incoming, k, w).repartition(width, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (maxPostingGuard > 0) {
      // BOTH sides guard, same as the direct path: writeSubstringIndex
      // applies no guard at build time, so a boilerplate-hot benchmark
      // anchor must fail loudly here — not silently go quadratic on
      // every serve call / micro-batch (the substringMatchesFrom
      // precedent, which re-guards its persisted table per call)
      def hottest(an: DataFrame): Long =
        Option(an.groupBy("h").agg(count(lit(1)).as("pn"))
          .agg(max(col("pn"))).head.get(0)).fold(0L)(_.asInstanceOf[Long])
      val h = math.max(hottest(anL), hottest(benchAnchors))
      if (h > maxPostingGuard) {
        anL.unpersist()
        throw new IllegalArgumentException(
          s"decontaminateSubstringAgainst: hottest anchor has $h occurrences " +
          s"on one side (> guard $maxPostingGuard); shard the batch / rebuild " +
          s"the benchmark index, or raise maxPostingGuard deliberately.")
      }
    }
    val cand = anL.select(col("h"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(benchAnchors.select(col("h"), col("doc_id").as("b"), col("pos").as("pb")), Seq("h"))
      .select("a", "pa", "b", "pb")
    val m = extendMatches(cand, incoming, benchDocs, minLen, width)
    val out = contaminationReportFromMatches(m, incoming)
    m.unpersist(); anL.unpersist()
    out
  }

  /** Removal spans from [[substringMatches]]: for every matched pair the
    * span is cut from the HIGHER doc_id (b — the canonical copy in a
    * survives), overlapping-or-touching spans per document merge to
    * maximal [start, end) intervals (the gaps-and-islands running-max
    * window, partitioned BY DOCUMENT — never a global window over data).
    * Output (doc_id, span_start, span_end, span_len), 1-based start,
    * end exclusive — the byte ranges an exact-dedup scrub deletes. */
  def substringRemovalSpans(docs: DataFrame, minLen: Int = 30, k: Int = 24, w: Int = 7,
                            maxPostingGuard: Int = 20000): DataFrame = {
    val m = substringMatches(docs, minLen, k, w, maxPostingGuard)
    val out = spansFromMatches(m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    m.unpersist()
    out
  }

  /** The span-merge of [[substringRemovalSpans]], factored so callers
    * that already hold the match table ([[substringDupReport]]) reuse
    * one anchor/extension pass. */
  private def spansFromMatches(m: DataFrame): DataFrame =
    mergeSpans(m.select(col("b").as("doc_id"), col("sb").as("s"),
        (col("sb") + col("match_len")).as("e"))
      .distinct())

  /** Gaps-and-islands merge of (doc_id, s, e) half-open intervals to
    * maximal per-document spans (touching intervals merge) — the
    * per-document running-max window shared by the removal-spans and
    * decontamination paths. Returns (doc_id, span_start, span_end,
    * span_len). */
  private def mergeSpans(spans: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(
      win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    spans
      .withColumn("new_isl",
        when(col("s") > coalesce(prevMax, lit(Long.MinValue)), lit(1)).otherwise(lit(0)))
      .withColumn("isl", sum(col("new_isl")).over(win))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** INTRA-document exact repeats — the other half of Lee et al. 2022's
    * dedup (their suffix array spans the whole corpus, so a substring
    * repeated WITHIN one document dedups exactly like one repeated
    * across documents): every maximal substring of length >= `minLen`
    * occurring at two positions of the SAME document, as
    * (doc_id, sa, sb, match_len) with sa < sb. Degenerate generated/
    * boilerplate text repeats itself long before it repeats across
    * documents, so this is the in-doc repetition scrub signal.
    *
    * Same anchor machinery as [[substringMatches]] — both occurrences of
    * a repeated run select identical relative anchor positions (distinct
    * absolute positions, so overlapping occurrences pair too) — but the
    * pair join keys on (doc_id, h): the quadratic term is per-document,
    * and the guard bounds the hottest (doc_id, anchor) posting list. The
    * extension attaches ONE text per pair (both sides are the same
    * document). */
  def substringSelfRepeats(docs: DataFrame, minLen: Int = 15, k: Int = 12, w: Int = 4,
                           maxPostingGuard: Int = 5000): DataFrame = {
    require(k >= 2 && w >= 1 && k + w - 1 <= minLen,
      s"anchor geometry must cover every match: need k + w - 1 <= minLen, " +
      s"got k=$k w=$w minLen=$minLen")
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    // partitioned on THIS operator's join key (doc_id, h); guard agg and
    // both self-join sides reuse it — the substringMatchesFrom contract
    val an = substringAnchors(docs, k, w)
      .repartition(width, col("doc_id"), col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (maxPostingGuard > 0) {
      val hottest = Option(an.groupBy("doc_id", "h").agg(count(lit(1)).as("pn"))
        .agg(max(col("pn"))).head.get(0)).fold(0L)(_.asInstanceOf[Long])
      if (hottest > maxPostingGuard) {
        an.unpersist()
        throw new IllegalArgumentException(
          s"substringSelfRepeats: hottest (doc, anchor) posting list has $hottest " +
          s"occurrences (> guard $maxPostingGuard) — a pathologically periodic " +
          s"document would go quadratic in its own length. Raise the guard " +
          s"deliberately or pre-filter degenerate documents.")
      }
    }
    val cand = an.select(col("doc_id"), col("h"), col("pos").as("pa"))
      .join(an.select(col("doc_id"), col("h"), col("pos").as("pb")), Seq("doc_id", "h"))
      .filter(col("pa") < col("pb"))
      .select("doc_id", "pa", "pb")
    import graft.functions.CommonAffix.{commonPrefixLen, commonSuffixLen}
    val out = cand
      .join(docs.select(col("doc_id"), col("text").as("ta")), Seq("doc_id"))
      .repartition(width)
      .withColumn("ext_r", commonPrefixLen(
        col("ta").substr(col("pa").cast("int"), length(col("ta"))),
        col("ta").substr(col("pb").cast("int"), length(col("ta")))))
      .withColumn("ext_l", commonSuffixLen(
        col("ta").substr(lit(1), (col("pa") - 1).cast("int")),
        col("ta").substr(lit(1), (col("pb") - 1).cast("int"))))
      .withColumn("match_len", col("ext_l") + col("ext_r"))
      .filter(col("match_len") >= minLen)
      .select(col("doc_id"),
        (col("pa") - col("ext_l")).cast("long").as("sa"),
        (col("pb") - col("ext_l")).cast("long").as("sb"),
        col("match_len").cast("long").as("match_len"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    an.unpersist()
    out
  }

  /** One-row exact-substring duplication report — the ANALYZE-style
    * summary a curation pass reads before deciding whether the corpus
    * needs the substring scrub at all: match count, affected documents,
    * removable chars (merged spans, so overlaps never double-count), and
    * the fraction of corpus chars they represent. Two bounded
    * aggregations over the span table plus one corpus-size aggregate
    * attached via `crossJoin(broadcast(1-row))` — the scalar-attach
    * idiom every other report here uses. */
  def substringDupReport(docs: DataFrame, minLen: Int = 30, k: Int = 24, w: Int = 7,
                         maxPostingGuard: Int = 20000): DataFrame = {
    val m = substringMatches(docs, minLen, k, w, maxPostingGuard)
    val spans = spansFromMatches(m)
    val tot = docs.agg(sum(length(col("text"))).cast("long").as("corpus_chars"))
    val agg = m.agg(count(lit(1)).as("n_matches")).crossJoin(
      spans.agg(coalesce(count(lit(1)), lit(0L)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs_affected"),
        coalesce(sum(col("span_len")), lit(0L)).as("removable_chars")))
    val out = agg.crossJoin(broadcast(tot))
      .select(col("n_matches"), col("n_spans"), col("n_docs_affected"),
        col("removable_chars"), col("corpus_chars"),
        round(col("removable_chars").cast("double") / col("corpus_chars"), 6)
          .as("removable_frac"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    m.unpersist()
    out
  }

  /** Apply [[substringRemovalSpans]] to the corpus: delete the removal
    * byte ranges from each document's text, keeping everything else —
    * the Lee et al. 2022 rewrite step itself ("remove all but one
    * occurrence of every long duplicated substring"). One row per input
    * document: (doc_id, clean_text, n_removed_chars); documents with no
    * spans pass through verbatim.
    *
    * Scale shape: spans collapse to ONE sorted array per affected doc
    * (they are merged and disjoint by construction, so the sort key is
    * unambiguous), attach by a doc_id equi-join against the corpus, and
    * the cut itself is a single row-local `aggregate` fold over the span
    * array — kept segments concatenate in order, no per-span join, no
    * window over text rows. */
  def scrubSubstringDups(docs: DataFrame, minLen: Int = 30, k: Int = 24, w: Int = 7,
                         maxPostingGuard: Int = 20000): DataFrame = {
    val spans = substringRemovalSpans(docs, minLen, k, w, maxPostingGuard)
    val out = cutSpans(docs, spans)
    spans.unpersist()
    out
  }

  /** Row-local span cut shared by the dedup scrub and the contamination
    * scrub: `spans` is a merged (doc_id, span_start, span_end, span_len)
    * table; each doc's spans collapse to one sorted array and a single
    * fold cuts them out — one pass over the text, no per-span joins.
    * Docs without spans pass through unchanged. Returns the persisted
    * (doc_id, clean_text, n_removed_chars) table. */
  private def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))).as("sp"),
        sum(col("span_len")).as("removed"))
    val cut = aggregate(col("sp"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (st, x) => struct(
        x.getField("e").as("pos"),
        concat(st.getField("acc"),
          col("text").substr(st.getField("pos").cast("int"),
            (x.getField("s") - st.getField("pos")).cast("int"))).as("acc")),
      st => concat(st.getField("acc"),
        col("text").substr(st.getField("pos").cast("int"), length(col("text")))))
    val out = docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, col("text")).otherwise(cut).as("clean_text"),
        coalesce(col("removed"), lit(0L)).as("n_removed_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** The REWRITE step of [[decontaminateSubstring]] — scrub instead of
    * drop: every verbatim >= minLen benchmark leak is cut out of its
    * training document (merged spans, so overlapping leaks cut once) and
    * the TRAINING corpus comes back row-for-row as (doc_id, clean_text,
    * n_removed_chars); benchmark documents are not rows of the output
    * (they are the eval set, not the corpus). Same one cross-corpus
    * anchor/extension pass as the report, same row-local cut fold as
    * [[scrubSubstringDups]]. */
  def scrubContaminated(docs: DataFrame, isBench: Column, minLen: Int = 30,
                        k: Int = 24, w: Int = 7,
                        maxPostingGuard: Int = 20000): DataFrame = {
    val train = docs.filter(!isBench)
    val m = substringMatchesAcross(train, docs.filter(isBench),
      minLen, k, w, maxPostingGuard)
    val merged = mergeSpans(
      m.select(col("a").as("doc_id"), col("sa").as("s"),
        (col("sa") + col("match_len")).as("e")).distinct())
    val out = cutSpans(train, merged)
    m.unpersist()
    out
  }

  /** Hot-gram diagnostic for the substring-anchor posting guard: the
    * top-N character k-grams by document frequency — exactly the byte
    * content that floods the anchor pair join when it exceeds
    * `maxPostingGuard` (boilerplate headers, license blocks, templated
    * navigation). The guard fails loudly by design; THIS is the table an
    * operator reads next, to decide whether to raise the bound or strip
    * the boilerplate first. Gram generation is array-local (sequence +
    * transform — no join, no per-offset shuffle stage); the two-level
    * (gram, doc) → gram aggregation is the linear count-distinct plan,
    * and the result is a bounded global top-N. Short documents
    * (< k chars) contribute nothing — the empty-sequence guard, because
    * Spark's `sequence(1, n)` generates DESCENDING sequences when
    * n < 1. */
  def hotGrams(docs: DataFrame, k: Int = 24, topN: Int = 20): DataFrame = {
    require(k >= 1 && topN >= 1)
    val nPos = greatest(length(col("text")) - (k - 1), lit(0))
    docs.select(col("doc_id"), explode(
        when(nPos >= 1, transform(sequence(lit(1), nPos),
          i => col("text").substr(i, lit(k))))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram").asc)
      .limit(topN)
  }

  /** Top-N globally-closest embedding pairs by cosine (brute-force a < b;
    * the correctness baseline for [[embeddingLshPairs]] — do not run at
    * corpus scale). */
  def closestEmbeddingPairs(emb: DataFrame, topN: Int = 20): DataFrame = {
    import graft.similarity.Ann.dot
    // norms once per vector, not per pair — bit-identical cosine, 3x fewer
    // dot products across the O(n^2) pair space
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val l = base.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val r = base.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, col("a") < col("b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .select(col("a"), col("b"), col("cos"))
      .orderBy(col("cos").desc, col("a").asc, col("b").asc)
      .limit(topN)
  }
}
