package graft

import graft.ops.Stopwords
import graft.text.TextAnalysis

/** DuckDB oracle SQL for the training-data-pipeline extensions (dedup,
  * similarity search, text analysis, multimodal, events). Same parity
  * discipline as [[OracleSql]]; hash-bearing operators are md5-based so
  * both engines compute identical signatures.
  */
object OracleSqlExt {

  /** tcl(doc_id, lang, text, tl): cleaned non-empty token LIST per doc,
    * from an arbitrary source relation. */
  def tclCteNamed(name: String, src: String): String =
    s"""$name AS (
       |  SELECT doc_id, lang, text,
       |         list_filter(list_transform(string_split_regex(text, '\\s+'), s -> ${OracleSql.clean("s")}), s -> length(s) > 0) AS tl
       |  FROM $src
       |)""".stripMargin

  def tclCteFrom(src: String): String = tclCteNamed("tcl", src)

  val tclCte: String = tclCteFrom("documents")

  /** sh(doc_id, shingle): distinct word-3-shingles of cleaned tokens,
    * from any tcl-shaped relation. */
  def shCteFrom(name: String, tclRel: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2]))) AS shingle
       |  FROM $tclRel WHERE len(tl) >= 3
       |)""".stripMargin

  val shCte: String = shCteFrom("sh", "tcl")

  /** Minhash via the single-md5 affine family (mirrors
    * [[graft.dedup.Dedup.minhashSignatures]]): x/y are the two 28-bit
    * halves of md5(shingle); h_i = min (A_i*x + B_i*y + C_i) mod P. */
  def minhashAgg(i: Int): String = {
    import graft.dedup.Dedup.{minhashA, minhashB, minhashC, MinhashP}
    s"min((${minhashA(i)} * x + ${minhashB(i)} * y + ${minhashC(i)}) % $MinhashP)"
  }

  /** Produces `SELECT doc_id, x, y` halves from a shingle relation. */
  def minhashHalves(shingleRel: String): String =
    s"""SELECT doc_id,
       |       CAST('0x' || substr(m, 1, 7) AS BIGINT) AS x,
       |       CAST('0x' || substr(m, 8, 7) AS BIGINT) AS y
       |FROM (SELECT doc_id, md5(shingle) AS m FROM $shingleRel)""".stripMargin

  /** mh(doc_id, h0..h15) from any shingle relation — ONE definition of
    * the parity-critical minhash scheme, shared by every oracle that
    * buckets (a drifted copy would break one query's parity while the
    * others still pass). */
  def mhCteFrom(suffix: String, shRel: String): String = {
    val hs = (0 until 16).map(i => s"${minhashAgg(i)} AS h$i").mkString(",\n         ")
    s"""mhx$suffix AS (
       |  ${minhashHalves(shRel)}
       |),
       |mh$suffix AS (
       |  SELECT doc_id,
       |         $hs
       |  FROM mhx$suffix GROUP BY doc_id
       |)""".stripMargin
  }

  val mhCte: String = mhCteFrom("", "sh")

  /** bk(doc_id, band, sig) for an arbitrary band geometry (mirror of
    * [[graft.dedup.Dedup.lshBucketsFromSigs]]: band b hashes rows
    * h(b·r)..h(b·r+r−1)); longs render identically as strings on both
    * engines. */
  def bkCteFrom(suffix: String, mhRel: String, bands: Int = 4, rowsPerBand: Int = 4): String = {
    val bandSelects = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until b * rowsPerBand + rowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS sig FROM $mhRel"
    }
    s"""bk$suffix AS (
       |  ${bandSelects.mkString("\n  UNION ALL ")}
       |)""".stripMargin
  }

  val bkCte: String = bkCteFrom("", "mh")

  /** LSH candidate pairs at an arbitrary band geometry — the oracle for
    * the [[graft.dedup.Dedup.tuneBands]]-driven entries, exercising
    * non-default band shapes end to end. */
  def lshCandidatesBandedSql(bands: Int, rowsPerBand: Int): String =
    s"""WITH $tclCte,
       |$shCte,
       |$mhCte,
       |${bkCteFrom("", "mh", bands, rowsPerBand)}
       |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id""".stripMargin

  val lshCandidatesSql: String = lshCandidatesBandedSql(4, 4)

  /** tcl -> kg -> fpt CTE chain shared by [[winnowSql]] and
    * [[winnowOverlapSql]]; fpt(doc_id, fp) mirrors
    * [[graft.dedup.Dedup.winnowFingerprints]]: k-gram rolling hashes over
    * the cleaned token list, window-min selection, distinct per doc.
    * DuckDB list slicing past the end truncates exactly like Spark's
    * `slice`, so the short-document single-window case matches; docs with
    * < k tokens are dropped by `len(tl) >= k`, matching the engine's
    * NULL-guarded explode. */
  private def winnowCtes(k: Int, w: Int): String = {
    val kgRoll = rollSql(s"array_to_string(tl[i:i+${k - 1}], ' ')")
    s"""$tclCte,
       |kg AS (
       |  SELECT doc_id,
       |         list_transform(range(1, len(tl) - ${k - 1} + 1), i -> $kgRoll) AS hs
       |  FROM tcl WHERE len(tl) >= $k
       |),
       |fpt AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, greatest(len(hs) - ${w - 1}, 1) + 1),
       |                i -> list_min(hs[i:i+${w - 1}])))) AS fp
       |  FROM kg
       |)""".stripMargin
  }

  def winnowSql(k: Int = 3, w: Int = 4): String =
    s"""WITH ${winnowCtes(k, w)}
       |SELECT doc_id, fp FROM fpt""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.sortedNeighborhood]]: rank over
    * (h0, doc_id) — the oracle's single-partition window is fine at
    * oracle scale; Spark's side uses the sketch-bucketed globalRank —
    * rank-window pairing, exact Jaccard on the pair stream. */
  def sortedNeighborhoodSql(windowSize: Int = 3): String =
    s"""WITH $tclCte,
       |slt AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM tcl WHERE len(tl) >= 3
       |),
       |sh AS (SELECT doc_id, unnest(sl) AS shingle FROM slt),
       |$mhCte,
       |rk AS (SELECT doc_id, row_number() OVER (ORDER BY h0, doc_id) AS r FROM mh),
       |pairs AS (
       |  SELECT l.doc_id AS a, r2.doc_id AS b
       |  FROM rk l JOIN rk r2 ON r2.r - l.r BETWEEN 1 AND ${windowSize - 1}
       |)
       |SELECT a, b,
       |       round(len(list_intersect(la.sl, lb.sl)) / (len(la.sl) + len(lb.sl) - len(list_intersect(la.sl, lb.sl))), 6) AS jaccard
       |FROM pairs JOIN slt la ON pairs.a = la.doc_id JOIN slt lb ON pairs.b = lb.doc_id""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.blockingEval]]: exact all-pairs truth
    * at the threshold vs the banded candidate set, one metrics row. */
  def blockingEvalSql(threshold: Double, bands: Int = 4, rowsPerBand: Int = 4,
                      srcRel: String = "documents"): String =
    s"""WITH ${tclCteNamed("tcl", srcRel)},
       |slt AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM tcl WHERE len(tl) >= 3
       |),
       |sh AS (SELECT doc_id, unnest(sl) AS shingle FROM slt),
       |$mhCte,
       |${bkCteFrom("", "mh", bands, rowsPerBand)},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |),
       |truth AS (
       |  SELECT i.a, i.b
       |  FROM (
       |    SELECT s1.doc_id AS a, s2.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
       |    FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
       |    GROUP BY 1, 2
       |  ) i
       |  JOIN (SELECT doc_id, CAST(len(sl) AS BIGINT) AS nsh FROM slt) ca ON i.a = ca.doc_id
       |  JOIN (SELECT doc_id, CAST(len(sl) AS BIGINT) AS nsh FROM slt) cb ON i.b = cb.doc_id
       |  WHERE round(i.inter / (ca.nsh + cb.nsh - i.inter), 6) >= $threshold
       |),
       |m AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
       |         (SELECT CAST(count(*) AS BIGINT) FROM truth JOIN cand USING (a, b)) AS n_hit
       |)
       |SELECT n_truth, n_cand, n_hit,
       |       round(CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS recall,
       |       round(CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / n_cand ELSE CAST(0 AS DOUBLE) END, 6) AS candidate_precision
       |FROM m""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.multipassVerify]]: LSH candidates
    * UNION sorted-neighborhood window pairs (normalized to a < b), exact
    * Jaccard at the threshold. */
  def multipassVerifySql(threshold: Double, windowSize: Int = 3,
                         bands: Int = 4, rowsPerBand: Int = 4): String =
    s"""WITH $tclCte,
       |slt AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM tcl WHERE len(tl) >= 3
       |),
       |sh AS (SELECT doc_id, unnest(sl) AS shingle FROM slt),
       |$mhCte,
       |${bkCteFrom("", "mh", bands, rowsPerBand)},
       |candl AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |),
       |rk AS (SELECT doc_id, row_number() OVER (ORDER BY h0, doc_id) AS r FROM mh),
       |cands AS (
       |  SELECT least(l.doc_id, r2.doc_id) AS a, greatest(l.doc_id, r2.doc_id) AS b
       |  FROM rk l JOIN rk r2 ON r2.r - l.r BETWEEN 1 AND ${windowSize - 1}
       |),
       |cand AS (SELECT a, b FROM candl UNION SELECT a, b FROM cands)
       |SELECT a, b, inter, na, nb, jaccard FROM (
       |  SELECT a, b, CAST(len(list_intersect(la.sl, lb.sl)) AS BIGINT) AS inter,
       |         CAST(len(la.sl) AS BIGINT) AS na, CAST(len(lb.sl) AS BIGINT) AS nb,
       |         round(len(list_intersect(la.sl, lb.sl)) / (len(la.sl) + len(lb.sl) - len(list_intersect(la.sl, lb.sl))), 6) AS jaccard
       |  FROM cand JOIN slt la ON cand.a = la.doc_id JOIN slt lb ON cand.b = lb.doc_id
       |) WHERE jaccard >= $threshold""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.winnowOverlap]]: the winnow
    * fingerprint table, hot posting lists capped via QUALIFY, self-joined
    * on fp, shared counts thresholded. */
  def winnowOverlapSql(k: Int = 3, w: Int = 4, minShared: Long = 2L,
                       maxPostings: Int = graft.dedup.Dedup.MaxLshBucketSize): String =
    s"""WITH ${winnowCtes(k, w)},
       |capped AS (
       |  SELECT doc_id, fp FROM fpt QUALIFY count(*) OVER (PARTITION BY fp) <= $maxPostings
       |)
       |SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
       |FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.editDistanceVerify]]: the default-
    * geometry LSH candidate pairs, each verified by DuckDB's
    * `levenshtein` (same unit-cost character edit distance as Spark's),
    * normalized by the longer document's character length. */
  def editDistanceVerifySql(minSim: Double): String =
    s"""WITH $tclCte,
       |$shCte,
       |$mhCte,
       |$bkCte,
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |)
       |SELECT a, b, dist, max_len, sim FROM (
       |  SELECT a, b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
       |         CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len,
       |         round(1.0 - levenshtein(da.text, db.text) / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE), 6) AS sim
       |  FROM cand JOIN documents da ON cand.a = da.doc_id JOIN documents db ON cand.b = db.doc_id
       |) WHERE sim >= $minSim""".stripMargin

  /** g -> m -> isl -> sp CTE chain shared by [[substringMatchesSql]] and
    * [[substringSpansSql]]; sp(a, b, sa, sb, match_len) states the
    * SEMANTICS of [[graft.dedup.Dedup.substringMatches]] as the naive
    * construction: explode every minLen-char gram of the raw text at
    * every offset, equi-join grams across documents (a < b), and merge
    * consecutive aligned gram matches (same pb - pa delta) into maximal
    * runs via gaps-and-islands — a maximal common substring of length M
    * is exactly a run of M - minLen + 1 consecutive gram matches. The
    * engine's winnowed-anchor + extension plan must reproduce this
    * row-for-row. Two maximal matches at one delta can never merge: a
    * mismatch char forces a gram-position gap > 1. */
  private def substringCtes(minLen: Int): String =
    s"""g AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM documents WHERE len(text) >= $minLen
       |),
       |g2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM g
       |),
       |m AS (
       |  SELECT la.doc_id AS a, lb.doc_id AS b, la.pos AS pa, lb.pos AS pb
       |  FROM g2 la JOIN g2 lb ON la.gram = lb.gram AND la.doc_id < lb.doc_id
       |),
       |isl AS (
       |  SELECT a, b, pb - pa AS delta, pa, pb,
       |         pa - row_number() OVER (PARTITION BY a, b, pb - pa ORDER BY pa) AS grp
       |  FROM m
       |),
       |sp AS (
       |  SELECT a, b, CAST(min(pa) AS BIGINT) AS sa, CAST(min(pb) AS BIGINT) AS sb,
       |         CAST(max(pa) - min(pa) + $minLen AS BIGINT) AS match_len
       |  FROM isl GROUP BY a, b, delta, grp
       |)""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.substringMatches]]. */
  def substringMatchesSql(minLen: Int): String =
    s"""WITH ${substringCtes(minLen)}
       |SELECT a, b, sa, sb, match_len FROM sp""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.substringSelfRepeats]]: the same
    * all-offset-gram islands construction, with the self-join kept
    * WITHIN one document (pa < pb) and islands per (doc_id, delta). */
  def substringSelfSql(minLen: Int): String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM documents WHERE len(text) >= $minLen
       |),
       |g2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM g
       |),
       |m AS (
       |  SELECT ga.doc_id, ga.pos AS pa, gb.pos AS pb
       |  FROM g2 ga JOIN g2 gb
       |    ON ga.doc_id = gb.doc_id AND ga.gram = gb.gram AND ga.pos < gb.pos
       |),
       |isl AS (
       |  SELECT doc_id, pb - pa AS delta, pa, pb,
       |         pa - row_number() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS grp
       |  FROM m
       |)
       |SELECT doc_id, CAST(min(pa) AS BIGINT) AS sa, CAST(min(pb) AS BIGINT) AS sb,
       |       CAST(max(pa) - min(pa) + $minLen AS BIGINT) AS match_len
       |FROM isl GROUP BY doc_id, delta, grp""".stripMargin

  /** rs -> mk -> mi -> sp2 merged-span chain on top of
    * [[substringCtes]]: spans cut from the higher doc_id, merged per
    * document with the running-max gaps-and-islands construction
    * (touching spans merge — `s > prev_max` starts a new island);
    * sp2(doc_id, s, e) is the merged [s, e) table. Shared by the spans,
    * scrub, and report oracles. */
  private def substringSpanCtes(minLen: Int): String =
    s"""${substringCtes(minLen)},
       |rs AS (SELECT DISTINCT b AS doc_id, sb AS s, sb + match_len AS e FROM sp),
       |mk AS (
       |  SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
       |              THEN 1 ELSE 0 END AS new_isl
       |  FROM rs
       |),
       |mi AS (
       |  SELECT doc_id, s, e,
       |         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e) AS isl2
       |  FROM mk
       |),
       |sp2 AS (
       |  SELECT doc_id, CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
       |  FROM mi GROUP BY doc_id, isl2
       |)""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.substringRemovalSpans]]. */
  def substringSpansSql(minLen: Int): String =
    s"""WITH ${substringSpanCtes(minLen)}
       |SELECT doc_id, s AS span_start, e AS span_end,
       |       CAST(e - s AS BIGINT) AS span_len
       |FROM sp2""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.substringDupReport]]: one row of
    * match/span/affected-doc counts, merged removable chars, and their
    * fraction of corpus chars. */
  def substringReportSql(minLen: Int): String =
    s"""WITH ${substringSpanCtes(minLen)},
       |r AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM sp) AS n_matches,
       |         (SELECT CAST(count(*) AS BIGINT) FROM sp2) AS n_spans,
       |         (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM sp2) AS n_docs_affected,
       |         (SELECT CAST(coalesce(sum(e - s), 0) AS BIGINT) FROM sp2) AS removable_chars,
       |         (SELECT CAST(sum(len(text)) AS BIGINT) FROM documents) AS corpus_chars
       |)
       |SELECT n_matches, n_spans, n_docs_affected, removable_chars, corpus_chars,
       |       round(CAST(removable_chars AS DOUBLE) / corpus_chars, 6) AS removable_frac
       |FROM r""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.decontaminateSubstring]]: the same
    * naive all-offset-gram islands construction as [[substringCtes]],
    * with the gram join ACROSS the train/bench sides (`benchPred`
    * selects the benchmark side), maximal cross spans per (a, b,
    * delta), the per-TRAIN-doc merged-span chars, and the three match
    * aggregates joined with the document's length for the fraction. */
  private def crossSubstringSpanCtes(benchPred: String, minLen: Int): String =
    s"""gt AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM documents WHERE NOT ($benchPred) AND len(text) >= $minLen
       |),
       |gb AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM documents WHERE ($benchPred) AND len(text) >= $minLen
       |),
       |gt2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM gt
       |),
       |gb2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM gb
       |),
       |m AS (
       |  SELECT gt2.doc_id AS a, gb2.doc_id AS b, gt2.pos AS pa, gb2.pos AS pb
       |  FROM gt2 JOIN gb2 ON gt2.gram = gb2.gram
       |),
       |isl AS (
       |  SELECT a, b, pb - pa AS delta, pa, pb,
       |         pa - row_number() OVER (PARTITION BY a, b, pb - pa ORDER BY pa) AS grp
       |  FROM m
       |),
       |sp AS (
       |  SELECT a, b, CAST(min(pa) AS BIGINT) AS sa,
       |         CAST(max(pa) - min(pa) + $minLen AS BIGINT) AS match_len
       |  FROM isl GROUP BY a, b, delta, grp
       |),
       |rs AS (SELECT DISTINCT a AS doc_id, sa AS s, sa + match_len AS e FROM sp),
       |mk AS (
       |  SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
       |              THEN 1 ELSE 0 END AS new_isl
       |  FROM rs
       |),
       |mi AS (
       |  SELECT doc_id, s, e,
       |         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e) AS isl2
       |  FROM mk
       |),
       |sp2 AS (
       |  SELECT doc_id, CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
       |  FROM mi GROUP BY doc_id, isl2
       |)""".stripMargin

  def decontaminateSubstringSql(benchPred: String, minLen: Int): String =
    s"""WITH ${crossSubstringSpanCtes(benchPred, minLen)},
       |spc AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_chars FROM sp2 GROUP BY doc_id),
       |agg AS (
       |  SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |         CAST(count(DISTINCT b) AS BIGINT) AS n_bench_docs,
       |         CAST(max(match_len) AS BIGINT) AS max_match_len
       |  FROM sp GROUP BY a
       |)
       |SELECT agg.doc_id, n_matches, n_bench_docs, max_match_len, dup_chars,
       |       round(CAST(dup_chars AS DOUBLE) / len(d.text), 6) AS contaminated_frac
       |FROM agg JOIN spc ON agg.doc_id = spc.doc_id
       |JOIN documents d ON agg.doc_id = d.doc_id""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.scrubContaminated]]: the cross-side
    * merged-span chain, then the same headpieces/tail scrub join as
    * [[scrubSubstringSql]] — restricted to the TRAINING side (benchmark
    * docs are not output rows). */
  def scrubContaminatedSql(benchPred: String, minLen: Int): String =
    s"""WITH ${crossSubstringSpanCtes(benchPred, minLen)},
       |kp AS (
       |  SELECT doc_id, s, e,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ps
       |  FROM sp2
       |),
       |agg AS (
       |  SELECT kp.doc_id,
       |         string_agg(substr(d.text, CAST(ps AS INT), CAST(s - ps AS INT)), '' ORDER BY s) AS headpieces,
       |         max(e) AS maxe, CAST(sum(e - s) AS BIGINT) AS removed
       |  FROM kp JOIN documents d ON kp.doc_id = d.doc_id GROUP BY kp.doc_id
       |)
       |SELECT d.doc_id,
       |       CASE WHEN a.doc_id IS NULL THEN d.text
       |            ELSE coalesce(a.headpieces, '') || substr(d.text, CAST(a.maxe AS INT)) END AS clean_text,
       |       coalesce(a.removed, CAST(0 AS BIGINT)) AS n_removed_chars
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE NOT ($benchPred)""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.passageDupStats]]: fixed `w`-token
    * passages, md5 per passage, first-occurrence rank over
    * (doc_id, idx), per-document dup counts. DuckDB zips the parallel
    * `unnest`s positionally, pairing each idx with its hash. Short docs
    * (no full window) come back via the LEFT JOIN as (0, 0, NULL). */
  def passageDupSql(w: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), s -> length(s) > 0) AS toks
       |  FROM documents
       |),
       |p AS (
       |  SELECT doc_id,
       |         unnest(range(CAST(floor(len(toks)/$w) AS BIGINT))) AS idx,
       |         unnest(list_transform(range(CAST(floor(len(toks)/$w) AS BIGINT)),
       |                i -> md5(array_to_string(toks[(i*$w+1):(i*$w+$w)], ' ')))) AS h
       |  FROM t
       |),
       |r AS (
       |  SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
       |  FROM p
       |),
       |s AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       |         CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM r GROUP BY doc_id
       |)
       |SELECT t.doc_id AS doc_id,
       |       CAST(COALESCE(s.n_passages, 0) AS BIGINT) AS n_passages,
       |       CAST(COALESCE(s.n_dup, 0) AS BIGINT) AS n_dup,
       |       round(CAST(s.n_dup AS DOUBLE) / s.n_passages, 6) AS dup_ratio
       |FROM t LEFT JOIN s ON t.doc_id = s.doc_id""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.passageContainment]]: same passage
    * grid, each repeated passage attributed to its hash's first owner
    * (first_value over the same (doc_id, idx) order), self-attribution
    * excluded, containment thresholded. */
  def passageContainmentSql(w: Int, threshold: Double): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), s -> length(s) > 0) AS toks
       |  FROM documents
       |),
       |p AS (
       |  SELECT doc_id,
       |         unnest(range(CAST(floor(len(toks)/$w) AS BIGINT))) AS idx,
       |         unnest(list_transform(range(CAST(floor(len(toks)/$w) AS BIGINT)),
       |                i -> md5(array_to_string(toks[(i*$w+1):(i*$w+$w)], ' ')))) AS h
       |  FROM t
       |),
       |r AS (
       |  SELECT doc_id, idx, h,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn,
       |         first_value(doc_id) OVER (PARTITION BY h ORDER BY doc_id, idx) AS src_doc
       |  FROM p
       |),
       |a AS (
       |  SELECT doc_id, src_doc, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM r WHERE rn > 1 AND src_doc <> doc_id
       |  GROUP BY doc_id, src_doc
       |),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages FROM p GROUP BY doc_id)
       |SELECT a.doc_id, a.src_doc, a.n_shared, n.n_passages,
       |       round(CAST(a.n_shared AS DOUBLE) / n.n_passages, 6) AS containment
       |FROM a JOIN n ON a.doc_id = n.doc_id
       |WHERE round(CAST(a.n_shared AS DOUBLE) / n.n_passages, 6) >= $threshold""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.removeDupPassages]]: the same passage
    * grid and first-occurrence ranks, reassembling kept passages in idx
    * order (`string_agg` skips the NULLed repeats exactly as Spark's
    * `collect_list` does; all-dropped docs coalesce to ''). Short docs
    * (no full window) come back via the LEFT JOIN as ('', 0, 0). */
  def removeDupPassagesSql(w: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), s -> length(s) > 0) AS toks
       |  FROM documents
       |),
       |p AS (
       |  SELECT doc_id,
       |         unnest(range(CAST(floor(len(toks)/$w) AS BIGINT))) AS idx,
       |         unnest(list_transform(range(CAST(floor(len(toks)/$w) AS BIGINT)),
       |                i -> array_to_string(toks[(i*$w+1):(i*$w+$w)], ' '))) AS p
       |  FROM t
       |),
       |r AS (
       |  SELECT doc_id, idx, p, row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, idx) AS rn
       |  FROM p
       |),
       |g AS (
       |  SELECT doc_id,
       |         COALESCE(string_agg(CASE WHEN rn = 1 THEN p END, ' ' ORDER BY idx), '') AS clean_text,
       |         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |         CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |  FROM r GROUP BY doc_id
       |)
       |SELECT t.doc_id AS doc_id,
       |       COALESCE(g.clean_text, '') AS clean_text,
       |       CAST(COALESCE(g.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(COALESCE(g.n_dropped, 0) AS BIGINT) AS n_dropped
       |FROM t LEFT JOIN g ON t.doc_id = g.doc_id""".stripMargin

  /** Candidate-restricted exact Jaccard (mirrors
    * [[graft.dedup.Dedup.jaccardVerify]]): LSH candidates from the banded
    * minhash — at an arbitrary band geometry — exact intersection via
    * `list_intersect` of the two docs' shingle lists. */
  def jaccardVerifyBandedSql(threshold: Double, bands: Int = 4, rowsPerBand: Int = 4): String =
    s"""WITH $tclCte,
       |slt AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM tcl WHERE len(tl) >= 3
       |),
       |sh AS (SELECT doc_id, unnest(sl) AS shingle FROM slt),
       |$mhCte,
       |${bkCteFrom("", "mh", bands, rowsPerBand)},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |)
       |SELECT a, b, inter, na, nb, jaccard FROM (
       |  SELECT a, b, CAST(len(list_intersect(la.sl, lb.sl)) AS BIGINT) AS inter,
       |         CAST(len(la.sl) AS BIGINT) AS na, CAST(len(lb.sl) AS BIGINT) AS nb,
       |         round(len(list_intersect(la.sl, lb.sl)) / (len(la.sl) + len(lb.sl) - len(list_intersect(la.sl, lb.sl))), 6) AS jaccard
       |  FROM cand JOIN slt la ON cand.a = la.doc_id JOIN slt lb ON cand.b = lb.doc_id
       |) WHERE jaccard >= $threshold""".stripMargin

  def jaccardVerifySql(threshold: Double): String = jaccardVerifyBandedSql(threshold)

  /** Mirror of [[graft.dedup.Dedup.crossSourceDupMatrix]]: the verified
    * pair stream (nested as a CTE subquery) rolled up per unordered
    * source pair. */
  def crossSourceDupSql(threshold: Double): String =
    s"""SELECT least(da.source, db.source) AS source_a,
       |       greatest(da.source, db.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       round(avg(jaccard), 6) AS avg_jaccard
       |FROM (${jaccardVerifySql(threshold)}) jv
       |JOIN documents da ON jv.a = da.doc_id
       |JOIN documents db ON jv.b = db.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** 60-bit simhash; bit b of md5 hex char j votes +-1 per token occurrence. */
  val simhashSql: String = {
    val votes = (0 until 60).map { bit =>
      val j = bit / 4 + 1
      val b = 1L << (bit % 4)
      s"sum(CASE WHEN ((instr('0123456789abcdef', substr(h, $j, 1)) - 1) // $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$bit"
    }.mkString(",\n    ")
    val fp = (0 until 60).map(bit => s"CASE WHEN v$bit >= 0 THEN ${1L << bit} ELSE 0 END").mkString("\n    + ")
    s"""WITH $tclCte,
       |stok AS (SELECT doc_id, md5(unnest(tl)) AS h FROM tcl),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM stok GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes""".stripMargin
  }

  /** Shared recursive-CTE chain ending in comp(doc_id, component): the
    * exact transitive closure + min label of the LSH candidate graph
    * (mirrors the iterative min-label propagation in
    * [[graft.dedup.Dedup.connectedComponents]]) — ONE definition so the
    * report ([[componentsSql]]) and the rewrite ([[keepCanonicalSql]])
    * gate against the same closure. */
  private val componentsChain: String =
    s"""$tclCte,
       |$shCte,
       |$mhCte,
       |$bkCte,
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |),
       |bidir AS (SELECT a AS src, b AS dst FROM cand UNION SELECT b, a FROM cand),
       |reach(src, dst) AS (
       |  SELECT src, src FROM bidir
       |  UNION
       |  SELECT r.src, bd.dst FROM reach r JOIN bidir bd ON r.dst = bd.src
       |),
       |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)""".stripMargin

  /** Connected components of the LSH candidate graph. */
  val componentsSql: String =
    s"""WITH RECURSIVE $componentsChain
       |SELECT doc_id, component FROM comp""".stripMargin

  /** Canonical-keep rewrite (mirrors [[graft.dedup.Dedup.keepCanonical]]):
    * survivors = corpus minus non-min component members; n_removed counts
    * the members dropped in each survivor's favor. */
  val keepCanonicalSql: String =
    s"""WITH RECURSIVE $componentsChain,
       |removed AS (SELECT doc_id, component FROM comp WHERE component <> doc_id),
       |rc AS (SELECT component AS doc_id, CAST(count(*) AS BIGINT) AS n FROM removed GROUP BY component)
       |SELECT d.doc_id, CAST(COALESCE(rc.n, 0) AS BIGINT) AS n_removed
       |FROM documents d
       |LEFT JOIN rc ON rc.doc_id = d.doc_id
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)""".stripMargin

  /** Mirror of [[graft.pipelines.CleanCorpus.leakSafeSplit]]: the md5
    * doc_id bucket assignment, the shared exact transitive closure
    * ([[componentsSql]]'s chain), and the demote-spanning-components-to-
    * train rewrite. The leak aggregation here runs over the full corpus
    * (singleton components included) — equivalent to the Spark side's
    * graph-only aggregation because a singleton holdout component never
    * has a train member. */
  def leakSafeSplitSql(holdoutPct: Int): String =
    s"""WITH RECURSIVE $componentsChain,
       |asg AS (
       |  SELECT doc_id,
       |         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < $holdoutPct
       |              THEN 'holdout' ELSE 'train' END AS assigned
       |  FROM documents
       |),
       |f AS (
       |  SELECT a.doc_id, a.assigned, COALESCE(c.component, a.doc_id) AS component
       |  FROM asg a LEFT JOIN comp c ON a.doc_id = c.doc_id
       |),
       |ht AS (SELECT component, max(CASE WHEN assigned = 'train' THEN 1 ELSE 0 END) AS has_train
       |       FROM f GROUP BY component)
       |SELECT f.doc_id, f.component, f.assigned,
       |       CASE WHEN f.assigned = 'holdout' AND ht.has_train = 1 THEN 'train' ELSE f.assigned END AS split
       |FROM f JOIN ht ON f.component = ht.component""".stripMargin

  /** Shared tail of the guarded pigeonhole band-join oracles — the exact
    * mirror of [[graft.dedup.Dedup.bandedHammingPairs]]'s two scale
    * guards, expecting a CTE `base(doc_id, <fpCol>)` in scope: identical
    * fingerprints collapse to their min-doc_id representative and the
    * other members attach by star edges at hamming 0; only
    * representatives band, (band, bits) buckets above `cap` distinct
    * fingerprints drop before the self-join, and cross-fingerprint pairs
    * relate representatives. Stars and representative pairs are disjoint
    * by construction (a star's b is never a representative), so UNION ALL
    * is exact. */
  private def hammingBandTailSql(fpCol: String, maxHamming: Int, cap: Int): String =
    s"""reps AS (
       |  SELECT $fpCol, min(doc_id) AS doc_id FROM base GROUP BY $fpCol
       |),
       |stars AS (
       |  SELECT r.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
       |  FROM base b JOIN reps r ON b.$fpCol = r.$fpCol AND b.doc_id <> r.doc_id
       |),
       |banded AS (
       |  SELECT doc_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM reps, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bucket_n FROM banded
       |  ) t WHERE bucket_n <= $cap
       |),
       |reppairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |         CAST(bit_count(xor(l.$fpCol, r.$fpCol)) AS BIGINT) AS hamming
       |  FROM capped l JOIN capped r ON l.band = r.band AND l.bits = r.bits AND l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.$fpCol, r.$fpCol)) <= $maxHamming
       |)
       |SELECT a, b, hamming FROM reppairs
       |UNION ALL
       |SELECT a, b, hamming FROM stars""".stripMargin

  /** Shared tail of the ingest-gate oracles — the exact mirror of
    * [[graft.dedup.Dedup.hammingMatchesAgainst]] with fresh = odd doc_ids
    * and index = even doc_ids, expecting a CTE `base(doc_id, <fpCol>)`:
    * the index collapses to distinct fingerprints keyed by min doc_id,
    * hot (band, bits) index buckets beyond `cap` drop, and each flagged
    * fresh doc reports its lexicographic-min (hamming, match_id) — the
    * two-stage min here is equivalent to the engine's min-of-struct. */
  private def hammingMatchTailSql(fpCol: String, maxHamming: Int, cap: Int): String =
    s"""fresh AS (SELECT doc_id, $fpCol FROM base WHERE doc_id % 2 = 1),
       |idx AS (SELECT $fpCol, min(doc_id) AS match_id FROM base WHERE doc_id % 2 = 0 GROUP BY $fpCol),
       |bidx AS (
       |  SELECT match_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM idx, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |cidx AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bucket_n FROM bidx
       |  ) t WHERE bucket_n <= $cap
       |),
       |bfresh AS (
       |  SELECT doc_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM fresh, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |cand AS (
       |  SELECT f.doc_id, i.match_id, CAST(bit_count(xor(f.$fpCol, i.$fpCol)) AS BIGINT) AS hamming
       |  FROM bfresh f JOIN cidx i ON f.band = i.band AND f.bits = i.bits
       |  WHERE bit_count(xor(f.$fpCol, i.$fpCol)) <= $maxHamming
       |),
       |best AS (SELECT doc_id, min(hamming) AS hamming FROM cand GROUP BY doc_id)
       |SELECT b.doc_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.hamming
       |FROM best b JOIN cand c ON c.doc_id = b.doc_id AND c.hamming = b.hamming
       |GROUP BY b.doc_id, b.hamming""".stripMargin

  /** [[hammingMatchTailSql]]'s algebra as COMPOSABLE CTEs (no final
    * SELECT, no parity split): `freshCte`/`idxCte` expose
    * (doc_id, <fpCol>), and the chain ends in `${px}match(doc_id,
    * match_id, hamming)` — each flagged fresh doc's lexicographic-min
    * (hamming, match_id) index match. Used by the composed ingest-gate
    * oracle, whose fresh and index sides come from different relations. */
  private def hammingMatchCtes(fpCol: String, maxHamming: Int, cap: Int,
                               freshCte: String, idxCte: String, px: String): String =
    s"""${px}idx AS (SELECT $fpCol, min(doc_id) AS match_id FROM $idxCte GROUP BY $fpCol),
       |${px}bidx AS (
       |  SELECT match_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM ${px}idx, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |${px}cidx AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bucket_n FROM ${px}bidx
       |  ) t WHERE bucket_n <= $cap
       |),
       |${px}bfresh AS (
       |  SELECT doc_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM $freshCte, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |${px}cand AS (
       |  SELECT f.doc_id, i.match_id, CAST(bit_count(xor(f.$fpCol, i.$fpCol)) AS BIGINT) AS hamming
       |  FROM ${px}bfresh f JOIN ${px}cidx i ON f.band = i.band AND f.bits = i.bits
       |  WHERE bit_count(xor(f.$fpCol, i.$fpCol)) <= $maxHamming
       |),
       |${px}besth AS (SELECT doc_id, min(hamming) AS hamming FROM ${px}cand GROUP BY doc_id),
       |${px}match AS (
       |  SELECT b.doc_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.hamming
       |  FROM ${px}besth b JOIN ${px}cand c ON c.doc_id = b.doc_id AND c.hamming = b.hamming
       |  GROUP BY b.doc_id, b.hamming
       |)""".stripMargin

  /** SimHash banded near-dup pairs (mirrors [[graft.dedup.Dedup.simhashPairs]]). */
  def simhashPairsSql(maxHamming: Int): String =
    s"""WITH base AS ($simhashSql),
       |${hammingBandTailSql("simhash", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Luminance (r+g+b, an integer) of grid cell (gx, gy) in the
    * generator-re-derived pixel string `px`: the same nearest-neighbor
    * index map as [[resizePpmSql]] onto an 11-wide × 6-high grid. */
  private def ppmLumSql(gx: String, gy: String): String = {
    val base = s"((($gy) * h // 6) * w + (($gx) * w // 11)) * 3"
    s"(unicode(substr(px, CAST($base + 1 AS INT), 1)) + " +
      s"unicode(substr(px, CAST($base + 2 AS INT), 1)) + " +
      s"unicode(substr(px, CAST($base + 3 AS INT), 1)))"
  }

  /** Generator-re-derived (doc_id, phash) CTEs over any relation exposing
    * (doc_id, text) — the exact mirror of
    * [[graft.multimodal.Multimodal.withPpmPayload]] + `imagePhash`:
    * dims from doc_id, pixel plane = ASCII-sanitized text right-padded to
    * the plane length, dHash bits off the 11×6 resampled luminance grid. */
  private def phashFpCtes(from: String, pbName: String, fpName: String): String =
    s"""$pbName AS (
       |  SELECT doc_id,
       |         CAST(doc_id % 5 + 2 AS INTEGER) AS w,
       |         CAST(doc_id % 3 + 2 AS INTEGER) AS h,
       |         rpad(regexp_replace(text, '$nonAsciiClass', '?', 'g'),
       |              CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3 AS INTEGER), 'x') AS px
       |  FROM $from
       |),
       |$fpName AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(0, 60), k ->
       |           CASE WHEN ${ppmLumSql("k % 10 + 1", "k // 10")} > ${ppmLumSql("k % 10", "k // 10")}
       |                THEN CAST(1 AS BIGINT) << CAST(k AS INT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
       |  FROM $pbName
       |)""".stripMargin

  /** The image pair/gate oracles' base over raw documents. */
  private def phashBaseSql: String = phashFpCtes("documents", "pb", "base")

  /** Perceptual-hash near-dup image pairs (mirrors
    * [[graft.dedup.Dedup.fingerprintPairs]] for
    * [[graft.multimodal.Modality.Image]]): re-derive the P6 pixel plane
    * from the generator's inputs (the Spark side parses the payload
    * bytes), resample to the 11×6 luminance grid, pack the 60 dHash bits
    * (bit k set iff lum(k%10+1, k/10) > lum(k%10, k/10)) into one
    * BIGINT, then the same 4×15-bit band join + exact bit_count verify
    * as [[simhashPairsSql]]. */
  def imagePhashPairsSql(maxHamming: Int): String =
    s"""WITH $phashBaseSql,
       |${hammingBandTailSql("phash", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Image ingest gate (mirrors the batch half of
    * [[graft.streaming.MultimodalDedupStream.gateBatch]]): odd-half
    * fresh docs matched against the even-half phash index. */
  def imagePhashGateSql(maxHamming: Int): String =
    s"""WITH $phashBaseSql,
       |${hammingMatchTailSql("phash", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Generator-re-derived (doc_id, afp) CTEs over any relation exposing
    * (doc_id, text) — parameterized so the composed ingest-gate oracle
    * can fingerprint arrival and index sides separately. */
  private def afpFpCtes(from: String, pbName: String, enName: String,
                        fpName: String): String =
    s"""$pbName AS (
       |  SELECT doc_id,
       |         CAST((doc_id % 41 + 4) * 2 AS INTEGER) AS dl,
       |         rpad(regexp_replace(text, '$nonAsciiClass', '?', 'g'),
       |              CAST((doc_id % 41 + 4) * 2 AS INTEGER), 'x') AS pcm
       |  FROM $from
       |),
       |$enName AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 61), i ->
       |      list_sum(list_transform(range(i * dl // 61, greatest((i + 1) * dl // 61, i * dl // 61 + 1)),
       |        j -> unicode(substr(pcm, CAST(j + 1 AS INT), 1))))) AS e
       |  FROM $pbName
       |),
       |$fpName AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 60), k ->
       |      CASE WHEN e[CAST(((k + 1) * 37) % 61 + 1 AS INT)] > e[CAST((k * 37) % 61 + 1 AS INT)]
       |           THEN CAST(1 AS BIGINT) << CAST(k AS INT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS afp
       |  FROM $enName
       |)""".stripMargin

  /** The audio pair/gate oracles' base over raw documents. */
  private def afpBaseSql: String = afpFpCtes("documents", "pb", "en", "base")

  /** Frame-energy audio fingerprint near-dup pairs (mirrors
    * [[graft.dedup.Dedup.fingerprintPairs]] for
    * [[graft.multimodal.Modality.Audio]]): re-derive the 8-bit PCM plane from the generator's inputs (the Spark side parses the RIFF
    * payload bytes), sum 61 nearest-neighbor frames, set bit k on the
    * sign of the energy delta between frames 37·(k+1) mod 61 and
    * 37·k mod 61 (the permuted schedule — see the engine scaladoc for the
    * measured adjacent-delta collapse it avoids), then the same 4×15-bit
    * band join + exact bit_count verify as [[simhashPairsSql]]. */
  def audioFingerprintPairsSql(maxHamming: Int): String =
    s"""WITH $afpBaseSql,
       |${hammingBandTailSql("afp", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Audio ingest gate (mirrors the batch half of
    * [[graft.streaming.MultimodalDedupStream.gateBatch]]): odd-half
    * fresh docs matched against the even-half fingerprint index. */
  def audioFpGateSql(maxHamming: Int): String =
    s"""WITH $afpBaseSql,
       |${hammingMatchTailSql("afp", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Generator-re-derived (doc_id, vfp) base CTEs — mirror of
    * [[graft.multimodal.Multimodal.videoFingerprint]]: 61 grayscale
    * frames of (doc_id%5+2)·(doc_id%3+2) bytes from the padded text,
    * per-frame unsigned byte-sum energies, sign-of-delta bits under the
    * fixed σ(k)=37k mod 61 comparison schedule (identity frame sampling —
    * the generator's containers declare exactly 61 frames). */
  private def vfpFpCtes(from: String, pbName: String, enName: String,
                        fpName: String): String =
    s"""$pbName AS (
       |  SELECT doc_id,
       |         CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) AS INTEGER) AS fl,
       |         rpad(regexp_replace(text, '$nonAsciiClass', '?', 'g'),
       |              CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) * 61 AS INTEGER), 'x') AS px
       |  FROM $from
       |),
       |$enName AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 61), i ->
       |      list_sum(list_transform(range(i * fl, (i + 1) * fl),
       |        j -> unicode(substr(px, CAST(j + 1 AS INT), 1))))) AS e
       |  FROM $pbName
       |),
       |$fpName AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 60), k ->
       |      CASE WHEN e[CAST(((k + 1) * 37) % 61 + 1 AS INT)] > e[CAST((k * 37) % 61 + 1 AS INT)]
       |           THEN CAST(1 AS BIGINT) << CAST(k AS INT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS vfp
       |  FROM $enName
       |)""".stripMargin

  private def vfpBaseSql: String = vfpFpCtes("documents", "pb", "en", "base")

  /** Temporal video fingerprint near-dup pairs (mirrors
    * [[graft.dedup.Dedup.fingerprintPairs]] for
    * [[graft.multimodal.Modality.Video]]) — the same guarded
    * star+representative band join as the simhash/image/audio oracles. */
  def videoFpPairsSql(maxHamming: Int): String =
    s"""WITH $vfpBaseSql,
       |${hammingBandTailSql("vfp", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  /** Video ingest gate (mirrors the batch half of
    * [[graft.streaming.MultimodalDedupStream.gateBatch]]): odd-half
    * fresh docs matched against the even-half fingerprint index. */
  def videoFpGateSql(maxHamming: Int): String =
    s"""WITH $vfpBaseSql,
       |${hammingMatchTailSql("vfp", maxHamming, graft.dedup.Dedup.MaxLshBucketSize)}""".stripMargin

  // ------------------------------------------------------------ embeddings

  /** Left-to-right dot product over 64 dims (mirrors zip_with+aggregate). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Zero-norm guard for a vector CTE: the Spark side drops vectors with
    * no defined cosine (`sqrt(dot(v,v)) > 0`), so every oracle CTE over
    * embeddings must too — otherwise a zero vector's NULL/NaN cosine rows
    * could rank into DuckDB's top-k while Spark never saw them. (DuckDB
    * lets a WHERE clause reference the SELECT alias.) */
  def normGuardSql(v: String): String = s"sqrt(${dotSql(v, v)}) > 0"

  /** Decontamination mirror of [[graft.dedup.Dedup.contamination]]:
    * cross-set LSH candidates, exact containment verify. `benchPred` is a
    * SQL predicate over `documents` marking the benchmark side. */
  def decontaminateSql(benchPred: String, minContainment: Double): String = {
    def slt(name: String, tclRel: String) =
      s"""$name AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
         |  FROM $tclRel WHERE len(tl) >= 3
         |)""".stripMargin
    s"""WITH ${tclCteNamed("tclb", s"(SELECT * FROM documents WHERE $benchPred)")},
       |${tclCteNamed("tclt", s"(SELECT * FROM documents WHERE NOT ($benchPred))")},
       |${shCteFrom("shb", "tclb")},
       |${shCteFrom("sht", "tclt")},
       |${mhCteFrom("b", "shb")},
       |${mhCteFrom("t", "sht")},
       |${bkCteFrom("b", "mhb")},
       |${bkCteFrom("t", "mht")},
       |cand AS (
       |  SELECT DISTINCT t.doc_id AS doc_id, b.doc_id AS bench_id
       |  FROM bkt t JOIN bkb b ON t.band = b.band AND t.sig = b.sig
       |),
       |${slt("slb", "tclb")},
       |${slt("slt2", "tclt")}
       |SELECT doc_id, bench_id, inter, nsh, containment FROM (
       |  SELECT cand.doc_id AS doc_id, cand.bench_id AS bench_id,
       |         CAST(len(list_intersect(st.sl, sb.sl)) AS BIGINT) AS inter,
       |         CAST(len(st.sl) AS BIGINT) AS nsh,
       |         round(len(list_intersect(st.sl, sb.sl)) / len(st.sl), 6) AS containment
       |  FROM cand JOIN slt2 st ON cand.doc_id = st.doc_id
       |            JOIN slb sb ON cand.bench_id = sb.doc_id
       |) WHERE containment >= $minContainment""".stripMargin
  }

  /** Banded sign-LSH embedding near-dup pairs (mirrors
    * [[graft.dedup.Dedup.embeddingLshPairs]]). */
  def embeddingLshSql(bands: Int, rowsPerBand: Int, minCos: Double): String = {
    val bandSelects = (0 until bands).map { b =>
      val bits = (b * rowsPerBand + 1 to (b + 1) * rowsPerBand)
        .map(i => s"(CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"SELECT vec_id, $b AS band, $bits AS bits FROM e"
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |bk AS (
       |  ${bandSelects.mkString("\n  UNION ALL ")}
       |),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.bits = r.bits AND l.vec_id < r.vec_id
       |)
       |SELECT a, b, cos FROM (
       |  SELECT a, b, round(${cosineSql("ea.v", "eb.v")}, 6) AS cos
       |  FROM cand JOIN e ea ON cand.a = ea.vec_id JOIN e eb ON cand.b = eb.vec_id
       |) WHERE cos >= $minCos""".stripMargin
  }

  /** Mirror of [[graft.dedup.Dedup.embeddingLshPairsGaussian]]: the seeded
    * hyperplanes are regenerated HERE with the identical
    * `scala.util.Random(seed)` draw order the Spark plan used (plane p,
    * component j = draw p*dim + j) and inlined as double literals — the
    * same injected-model pattern as the IVF/PQ oracles, except the model
    * is reproducible from the seed so the SQL needs no runtime stash.
    * Each sign bit is `v·h >= 0` written as an explicit left-associative
    * sum, the identical fold order to the codegen'd `graft_dot` loop, so
    * both engines compute the same double and the same bit. */
  def embeddingLshGaussianSql(dim: Int, bands: Int, rowsPerBand: Int,
                              minCos: Double, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * rowsPerBand)(Array.fill(dim)(rnd.nextGaussian()))
    def planeDot(v: String, p: Array[Double]): String =
      (0 until dim).map(j => s"$v[${j + 1}]*(${p(j)})").mkString(" + ")
    val bandSelects = (0 until bands).map { b =>
      val bits = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"(CASE WHEN ${planeDot("v", planes(i))} >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"SELECT vec_id, $b AS band, $bits AS bits FROM e"
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |bk AS (
       |  ${bandSelects.mkString("\n  UNION ALL ")}
       |),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.bits = r.bits AND l.vec_id < r.vec_id
       |)
       |SELECT a, b, cos FROM (
       |  SELECT a, b, round(${cosineSql("ea.v", "eb.v")}, 6) AS cos
       |  FROM cand JOIN e ea ON cand.a = ea.vec_id JOIN e eb ON cand.b = eb.vec_id
       |) WHERE cos >= $minCos""".stripMargin
  }

  /** Mirror of [[graft.dedup.Dedup.semanticDedup]] GIVEN the trained
    * centroids (injected as literal DOUBLE[] rows, the [[annIvfSql]]
    * pattern): argmax-dot assignment with smallest-cid ties, the
    * within-cluster cosine pair graph at `minCos`, and the exact
    * transitive closure + min label that the iterative
    * [[graft.dedup.Dedup.connectedComponents]] converges to. */
  def semanticDedupSql(cents: Seq[(Int, Array[Double])], minCos: Double): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |cents AS (
       |  $centRows
       |),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, v, cid, ${dotSql("v", "cv")} AS d FROM e CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |cand AS (
       |  SELECT l.vec_id AS a, r.vec_id AS b
       |  FROM asg l JOIN asg r ON l.cid = r.cid AND l.vec_id < r.vec_id
       |  WHERE round(${cosineSql("l.v", "r.v")}, 6) >= $minCos
       |),
       |bidir AS (SELECT a AS src, b AS dst FROM cand UNION SELECT b, a FROM cand),
       |reach(src, dst) AS (
       |  SELECT src, src FROM bidir
       |  UNION
       |  SELECT r.src, bd.dst FROM reach r JOIN bidir bd ON r.dst = bd.src
       |),
       |comp AS (SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src)
       |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
       |       COALESCE(comp.component, asg.vec_id) AS component,
       |       CAST(CASE WHEN COALESCE(comp.component, asg.vec_id) = asg.vec_id THEN 1 ELSE 0 END AS INT) AS keep
       |FROM asg LEFT JOIN comp ON asg.vec_id = comp.vec_id""".stripMargin
  }

  /** Mirror of [[graft.similarity.Ann.clusterCapSampleWith]]: literal
    * centroid argmax assignment (the semanticDedupSql asg pattern —
    * d DESC, cid ASC matches IvfCell's strict-> first-best rule), then
    * a cid-partitioned row_number/count window and the cap filter. */
  def clusterCapSampleSql(cents: Seq[(Int, Array[Double])], cap: Int): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |cents AS (
       |  $centRows
       |),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, cid, ${dotSql("v", "cv")} AS d FROM e CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |win AS (
       |  SELECT vec_id, cid,
       |         CAST(row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS BIGINT) AS rk,
       |         CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cell_n
       |  FROM asg
       |)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, rk, cell_n
       |FROM win WHERE rk <= $cap""".stripMargin
  }

  def clusterCapSampleSqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastClusterCapModel.map { case (cents, cap) =>
      clusterCapSampleSql(cents, cap)
    }

  /** Oracle SQL for the last-trained semantic-dedup model, if the query
    * has run (Verify's run-before-dump contract, as with the IVF/PQ
    * oracles). */
  def semanticDedupSqlFromLastModel: Option[String] =
    graft.dedup.Dedup.lastSemanticModel.map { case (cents, minCos) =>
      semanticDedupSql(cents, minCos)
    }

  /** Oracle for the serve-only twin, reading its DEDICATED stash — the
    * same recursive-closure SQL with the PERSISTED model's centroids
    * injected. */
  def semanticDedupSqlFromIndexedModel: Option[String] =
    graft.dedup.Dedup.lastSemanticModelIndexed.map { case (cents, minCos) =>
      semanticDedupSql(cents, minCos)
    }

  /** Mirror of [[graft.dedup.Dedup.semanticMatchesAgainst]] over the
    * even/odd split: the index side re-derives the even half's KEPT
    * representatives (argmax assignment under the injected centroids,
    * within-cell cosine pairs, exact closure, min-id survivors — the
    * [[semanticDedupSql]] algebra restricted to even vec_ids), the fresh
    * side is the odd half, and each flagged arrival reports its
    * highest-cosine (smallest-id on ties) kept match — the two-stage
    * max+min here is equivalent to the engine's min-of-(-cos, id)
    * struct. */
  def semanticGateSql(cents: Seq[(Int, Array[Double])], minCos: Double): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |cents AS (
       |  $centRows
       |),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, v, cid, ${dotSql("v", "cv")} AS d FROM e CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |candE AS (
       |  SELECT l.vec_id AS a, r.vec_id AS b
       |  FROM asg l JOIN asg r ON l.cid = r.cid AND l.vec_id < r.vec_id
       |  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 0
       |    AND round(${cosineSql("l.v", "r.v")}, 6) >= $minCos
       |),
       |bidir AS (SELECT a AS src, b AS dst FROM candE UNION SELECT b, a FROM candE),
       |reach(src, dst) AS (
       |  SELECT src, src FROM bidir
       |  UNION
       |  SELECT r.src, bd.dst FROM reach r JOIN bidir bd ON r.dst = bd.src
       |),
       |comp AS (SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src),
       |kept AS (
       |  SELECT a.vec_id, a.cid, a.v
       |  FROM asg a LEFT JOIN comp c ON a.vec_id = c.vec_id
       |  WHERE a.vec_id % 2 = 0 AND (c.vec_id IS NULL OR c.component = a.vec_id)
       |),
       |fresh AS (SELECT vec_id, cid, v FROM asg WHERE vec_id % 2 = 1),
       |cand AS (
       |  SELECT f.vec_id, k.vec_id AS match_id, round(${cosineSql("f.v", "k.v")}, 6) AS cos
       |  FROM fresh f JOIN kept k ON f.cid = k.cid
       |  WHERE round(${cosineSql("f.v", "k.v")}, 6) >= $minCos
       |),
       |best AS (SELECT vec_id, max(cos) AS cos FROM cand GROUP BY vec_id)
       |SELECT b.vec_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.cos
       |FROM best b JOIN cand c ON c.vec_id = b.vec_id AND c.cos = b.cos
       |GROUP BY b.vec_id, b.cos""".stripMargin
  }

  def semanticGateSqlFromLastModel: Option[String] =
    graft.dedup.Dedup.lastSemanticGateModel.map { case (cents, minCos) =>
      semanticGateSql(cents, minCos)
    }

  /** Shared CTE prefix of the semantic-decontamination oracles: argmax
    * assignment of every non-zero-norm embedding under the injected
    * centroids, split into the benchmark (vec_id % 10 = 0) and train
    * sides, candidates = within-cell cosine >= minCos — the
    * [[graft.dedup.Dedup.semanticDeconMatches]] algebra verbatim. */
  private def semanticDeconCtes(cents: Seq[(Int, Array[Double])], minCos: Double): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |cents AS (
       |  $centRows
       |),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, v, cid, ${dotSql("v", "cv")} AS d FROM e CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |bench AS (SELECT vec_id, cid, v FROM asg WHERE vec_id % 10 = 0),
       |fresh AS (SELECT vec_id, cid, v FROM asg WHERE vec_id % 10 <> 0),
       |cand AS (
       |  SELECT f.vec_id, b.vec_id AS match_id, round(${cosineSql("f.v", "b.v")}, 6) AS cos
       |  FROM fresh f JOIN bench b ON f.cid = b.cid
       |  WHERE round(${cosineSql("f.v", "b.v")}, 6) >= $minCos
       |)""".stripMargin
  }

  /** Mirror of [[graft.dedup.Dedup.semanticDeconMatches]]: each flagged
    * train vector reports its highest-cosine (smallest-id on ties)
    * benchmark match — the two-stage max+min equals the engine's
    * min-of-(-cos, id) struct. */
  def semanticDeconSql(cents: Seq[(Int, Array[Double])], minCos: Double): String =
    s"""WITH ${semanticDeconCtes(cents, minCos)},
       |best AS (SELECT vec_id, max(cos) AS cos FROM cand GROUP BY vec_id)
       |SELECT b.vec_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.cos
       |FROM best b JOIN cand c ON c.vec_id = b.vec_id AND c.cos = b.cos
       |GROUP BY b.vec_id, b.cos""".stripMargin

  /** The rewrite step: train vec_ids with every flagged row dropped.
    * Zero-norm vectors KEEP (cosine undefined means they cannot match a
    * benchmark vector), so the outer scan is the raw table, not `e`. */
  def scrubSemanticDeconSql(cents: Seq[(Int, Array[Double])], minCos: Double): String =
    s"""WITH ${semanticDeconCtes(cents, minCos)}
       |SELECT vec_id FROM embeddings
       |WHERE vec_id % 10 <> 0 AND vec_id NOT IN (SELECT vec_id FROM cand)""".stripMargin

  def semanticDeconSqlFromLastModel: Option[String] =
    graft.dedup.Dedup.lastSemanticDeconModel.map { case (cents, minCos) =>
      semanticDeconSql(cents, minCos)
    }

  def semanticDeconSqlFromIndexedModel: Option[String] =
    graft.dedup.Dedup.lastSemanticDeconModelIndexed.map { case (cents, minCos) =>
      semanticDeconSql(cents, minCos)
    }

  def scrubSemanticDeconSqlFromLastModel: Option[String] =
    graft.dedup.Dedup.lastSemanticDeconScrubModel.map { case (cents, minCos) =>
      scrubSemanticDeconSql(cents, minCos)
    }

  /** Mirror of [[graft.streaming.PretrainStream.gateBatch]] over the
    * odd-arrivals / even-index / benchmark split: the row-local clean
    * chain (dirtyPageV2 → NFC → C4 → PII, the pretrain chain's own
    * fragments), the classifier score under the injected weights, the
    * decon flag as shared-≥minLen-gram existence vs the benchmark side
    * — both on the PRE-PII text, see the gateBatch scaladoc — (the
    * anchor machinery's detection guarantee makes the two equivalent),
    * and the near-dup flag as banded-minhash candidates
    * (index side capped) exact-verified at `dupThreshold`, each flagged
    * arrival reporting its highest-jaccard smallest-id index match;
    * plus the language gate — the injected trained lang-ID model's
    * integer micro-nat scoring over the post-PII arrivals
    * ([[langIdPredCtes]]), lang_ok = prediction equals the declared
    * documents.lang, folded into keep — and the SEMANTIC decon gate:
    * every non-zero-norm embedding argmax-assigns under the injected
    * centroids, arrivals (embeddings joined to arr on vec_id = doc_id)
    * match their cell's benchmark (vec_id % 10 = 0) vectors at cosine
    * >= semMinCos, best match reported, flag folded into keep (an
    * arrival with no embedding row never flags); plus the SEMANTIC dup
    * gate — the kept representatives of the even half re-derive under
    * the injected SemDeDup gate centroids (within-cell cosine pairs,
    * exact closure, min-id survivors — the [[semanticGateSql]] algebra),
    * arrivals match their cell's kept reps at cosine >= semDupMinCos,
    * best match reported, flag folded into keep.
    *
    * The fingerprint CTEs re-derive EVERY document's fingerprint while
    * the engine filters col("valid") — safe because the payload
    * builders produce parseable containers for any input text, an
    * invariant DedupSpec pins over adversarial texts and the corpus. */
  def ingestGateSql(w: Seq[Double], thr: Double,
                    langModel: graft.text.LangIdClassifier.LangIdModel,
                    semCents: Seq[(Int, Array[Double])], semMinCos: Double,
                    semDupCents: Seq[(Int, Array[Double])], semDupMinCos: Double,
                    benchPredSql: String = "source = 'src0'",
                    minLineWords: Int = 3, minLen: Int = 30,
                    dupThreshold: Double = 0.5, maxHamming: Int = 3): String = {
    // an empty centroid seq would render a syntactically invalid empty
    // UNION ALL chain and fail the oracle with a parse error — name the
    // missing model instead (a corrupt/empty persisted centroids table
    // read back by readIvfModel is the only way to get here)
    require(semCents.nonEmpty, "semantic-decon centroid model is empty — corrupt or missing centroids artifact")
    require(semDupCents.nonEmpty, "SemDeDup gate centroid model is empty — corrupt or missing centroids artifact")
    import graft.text.TextAnalysis.{digitsPattern, emailPattern}
    val mmCap = graft.dedup.Dedup.MaxLshBucketSize
    // multimodal payload sides: the arrival's payloads ride its RAW
    // record (the text-dirtying simulates page-html noise, which never
    // touches binary payload columns); the index side mirrors the
    // even-half persisted fingerprint tables (all sources, the
    // writeFingerprintIndex-half convention)
    val mmFresh = s"(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1 AND NOT ($benchPredSql))"
    val mmIdx = "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)"
    // RECURSIVE for the SemDeDup gate's kept-set closure (sureach) —
    // DuckDB scopes the keyword to the whole WITH list, the
    // non-recursive CTEs are unaffected
    s"""WITH RECURSIVE gpp AS (
       |  SELECT doc_id, source,
       |${ppBodyV2Sql(benchPredSql)}
       |  FROM documents
       |),
       |gnn AS (
       |  SELECT doc_id, source,
       |    regexp_replace(
       |      replace(
       |        regexp_replace(
       |          regexp_replace(nfc_normalize(text), '\\r\\n?', chr(10), 'g'),
       |          '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
       |        chr(160), ' '),
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS text
       |  FROM gpp
       |),
       |gc4 AS (
       |  SELECT doc_id, source, COALESCE(array_to_string(kl, chr(10)), '') AS text
       |  FROM (SELECT doc_id, source, ${c4KeptSql(minLineWords)} AS kl
       |        FROM (SELECT doc_id, source, string_split(text, chr(10)) AS l FROM gnn))
       |),
       |gpl AS (
       |  SELECT DISTINCT doc_id, trim(raw) AS line
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS raw FROM gc4
       |        WHERE doc_id % 2 = 0 OR ($benchPredSql))
       |  WHERE length(trim(raw)) >= 10
       |),
       |gbl AS (
       |  SELECT COALESCE(list(line), []::VARCHAR[]) AS bl
       |  FROM (SELECT line FROM gpl GROUP BY line HAVING count(*) >= 3)
       |),
       |gbp AS (
       |  SELECT doc_id, source,
       |         COALESCE(array_to_string(list_filter(l, x -> NOT list_contains(bl, trim(x))), chr(10)), '') AS text
       |  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS l FROM gc4) CROSS JOIN gbl
       |),
       |gcl AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'), '$digitsPattern', '<NUM>', 'g') AS text
       |  FROM gbp
       |),
       |arr AS (SELECT * FROM gcl WHERE doc_id % 2 = 1 AND NOT ($benchPredSql)),
       |idx AS (SELECT * FROM gcl WHERE doc_id % 2 = 0 AND NOT ($benchPredSql)),
       |${tclCteNamed("gtcla", "(SELECT doc_id, 'x' AS lang, text FROM arr)")},
       |gqf AS (
       |  SELECT doc_id,
       |    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
       |    CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS sr,
       |    CASE WHEN n_tokens > 0 THEN n_distinct / n_tokens ELSE 0.0 END AS ttr,
       |    ln(1 + n_tokens) AS lt
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(tl) AS BIGINT) AS n_tokens,
       |      CAST(len(list_distinct(tl)) AS BIGINT) AS n_distinct,
       |      CAST(length(text) AS BIGINT) AS n_chars,
       |      CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |      CAST(len(list_filter(tl, t -> t IN (${Stopwords.sqlList}))) AS BIGINT) AS n_stop
       |    FROM gtcla
       |  )
       |),
       |gqs AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(${qcDot(w)}))), 6) AS score FROM gqf),
       |arrp AS (SELECT * FROM gbp WHERE doc_id % 2 = 1 AND NOT ($benchPredSql)),
       |bchp AS (SELECT * FROM gbp WHERE ($benchPredSql)),
       |ggt AS (
       |  SELECT doc_id, substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM (SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |        FROM arrp WHERE len(text) >= $minLen)
       |),
       |ggb AS (
       |  SELECT DISTINCT substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM (SELECT unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |        FROM bchp WHERE len(text) >= $minLen)
       |),
       |gdf AS (SELECT DISTINCT ggt.doc_id FROM ggt JOIN ggb ON ggt.gram = ggb.gram),
       |gslta AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM gtcla WHERE len(tl) >= 3
       |),
       |sha AS (SELECT doc_id, unnest(sl) AS shingle FROM gslta),
       |${tclCteNamed("gtcli", "(SELECT doc_id, 'x' AS lang, text FROM idx)")},
       |gslti AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS sl
       |  FROM gtcli WHERE len(tl) >= 3
       |),
       |shi AS (SELECT doc_id, unnest(sl) AS shingle FROM gslti),
       |${mhCteFrom("ga", "sha")},
       |${bkCteFrom("ga", "mhga")},
       |${mhCteFrom("gi", "shi")},
       |${bkCteFrom("gi", "mhgi")},
       |gcap AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, sig) AS bn FROM bkgi
       |  ) WHERE bn <= ${graft.dedup.Dedup.MaxLshBucketSize}
       |),
       |gcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, i.doc_id AS match_id
       |  FROM bkga a JOIN gcap i ON a.band = i.band AND a.sig = i.sig AND a.doc_id <> i.doc_id
       |),
       |gjac AS (
       |  SELECT doc_id, match_id, jaccard FROM (
       |    SELECT c.doc_id, c.match_id,
       |      round(len(list_intersect(la.sl, lb.sl)) / (len(la.sl) + len(lb.sl) - len(list_intersect(la.sl, lb.sl))), 6) AS jaccard
       |    FROM gcand c JOIN gslta la ON c.doc_id = la.doc_id JOIN gslti lb ON c.match_id = lb.doc_id
       |  ) WHERE jaccard >= $dupThreshold
       |),
       |gbmax AS (SELECT doc_id, max(jaccard) AS jaccard FROM gjac GROUP BY doc_id),
       |gbest AS (
       |  SELECT b.doc_id, CAST(min(j.match_id) AS BIGINT) AS match_id, b.jaccard
       |  FROM gbmax b JOIN gjac j ON j.doc_id = b.doc_id AND j.jaccard = b.jaccard
       |  GROUP BY b.doc_id, b.jaccard
       |),
       |${phashFpCtes(mmFresh, "gipbf", "gifpf")},
       |${phashFpCtes(mmIdx, "gipbi", "gifpi")},
       |${hammingMatchCtes("phash", maxHamming, mmCap, "gifpf", "gifpi", "gim")},
       |${afpFpCtes(mmFresh, "gapbf", "gaenf", "gafpf")},
       |${afpFpCtes(mmIdx, "gapbi", "gaeni", "gafpi")},
       |${hammingMatchCtes("afp", maxHamming, mmCap, "gafpf", "gafpi", "gau")},
       |${vfpFpCtes(mmFresh, "gvpbf", "gvenf", "gvfpf")},
       |${vfpFpCtes(mmIdx, "gvpbi", "gveni", "gvfpi")},
       |${hammingMatchCtes("vfp", maxHamming, mmCap, "gvfpf", "gvfpi", "gvi")},
       |sdae AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |sdcents AS (
       |  ${semCents.map { case (cid, arr) =>
             s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
           }.mkString("\n  UNION ALL ")}
       |),
       |sdasg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, v, cid, ${dotSql("v", "cv")} AS d FROM sdae CROSS JOIN sdcents)
       |  ) WHERE rn = 1
       |),
       |sdbench AS (SELECT vec_id, cid, v FROM sdasg WHERE vec_id % 10 = 0),
       |sdfresh AS (SELECT s.vec_id, s.cid, s.v FROM sdasg s JOIN arr a ON s.vec_id = a.doc_id),
       |sdcand AS (
       |  SELECT f.vec_id, b.vec_id AS match_id, round(${cosineSql("f.v", "b.v")}, 6) AS cos
       |  FROM sdfresh f JOIN sdbench b ON f.cid = b.cid
       |  WHERE round(${cosineSql("f.v", "b.v")}, 6) >= $semMinCos
       |),
       |sdmax AS (SELECT vec_id, max(cos) AS cos FROM sdcand GROUP BY vec_id),
       |sdbest AS (
       |  SELECT b.vec_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.cos
       |  FROM sdmax b JOIN sdcand c ON c.vec_id = b.vec_id AND c.cos = b.cos
       |  GROUP BY b.vec_id, b.cos
       |),
       |sucents AS (
       |  ${semDupCents.map { case (cid, arr) =>
             s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
           }.mkString("\n  UNION ALL ")}
       |),
       |suasg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, v, cid, ${dotSql("v", "cv")} AS d FROM sdae CROSS JOIN sucents)
       |  ) WHERE rn = 1
       |),
       |sucandE AS (
       |  SELECT l.vec_id AS a, r.vec_id AS b
       |  FROM suasg l JOIN suasg r ON l.cid = r.cid AND l.vec_id < r.vec_id
       |  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 0
       |    AND round(${cosineSql("l.v", "r.v")}, 6) >= $semDupMinCos
       |),
       |subidir AS (SELECT a AS src, b AS dst FROM sucandE UNION SELECT b, a FROM sucandE),
       |sureach(src, dst) AS (
       |  SELECT src, src FROM subidir
       |  UNION
       |  SELECT r.src, bd.dst FROM sureach r JOIN subidir bd ON r.dst = bd.src
       |),
       |sucomp AS (SELECT src AS vec_id, min(dst) AS component FROM sureach GROUP BY src),
       |sukept AS (
       |  SELECT a.vec_id, a.cid, a.v
       |  FROM suasg a LEFT JOIN sucomp c ON a.vec_id = c.vec_id
       |  WHERE a.vec_id % 2 = 0 AND (c.vec_id IS NULL OR c.component = a.vec_id)
       |),
       |sufresh AS (SELECT s.vec_id, s.cid, s.v FROM suasg s JOIN arr a ON s.vec_id = a.doc_id),
       |sucand AS (
       |  SELECT f.vec_id, k.vec_id AS match_id, round(${cosineSql("f.v", "k.v")}, 6) AS cos
       |  FROM sufresh f JOIN sukept k ON f.cid = k.cid
       |  WHERE round(${cosineSql("f.v", "k.v")}, 6) >= $semDupMinCos
       |),
       |sumax AS (SELECT vec_id, max(cos) AS cos FROM sucand GROUP BY vec_id),
       |subest AS (
       |  SELECT b.vec_id, CAST(min(c.match_id) AS BIGINT) AS match_id, b.cos
       |  FROM sumax b JOIN sucand c ON c.vec_id = b.vec_id AND c.cos = b.cos
       |  GROUP BY b.vec_id, b.cos
       |),
       |${langIdPredCtes(langModel, "arr", "gl")}
       |SELECT a.doc_id, a.source, q.score,
       |  CASE WHEN q.score >= $thr THEN 1 ELSE 0 END AS quality_pass,
       |  CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS decon_flag,
       |  CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup_flag,
       |  g.match_id AS dup_match_id,
       |  g.jaccard AS dup_jaccard,
       |  CASE WHEN mi.doc_id IS NOT NULL THEN 1 ELSE 0 END AS image_dup_flag,
       |  mi.match_id AS image_match_id,
       |  mi.hamming AS image_hamming,
       |  CASE WHEN au.doc_id IS NOT NULL THEN 1 ELSE 0 END AS audio_dup_flag,
       |  au.match_id AS audio_match_id,
       |  au.hamming AS audio_hamming,
       |  CASE WHEN vi.doc_id IS NOT NULL THEN 1 ELSE 0 END AS video_dup_flag,
       |  vi.match_id AS video_match_id,
       |  vi.hamming AS video_hamming,
       |  CASE WHEN sd.vec_id IS NOT NULL THEN 1 ELSE 0 END AS sem_decon_flag,
       |  sd.match_id AS sem_match_id,
       |  sd.cos AS sem_cos,
       |  CASE WHEN su.vec_id IS NOT NULL THEN 1 ELSE 0 END AS sem_dup_flag,
       |  su.match_id AS sem_dup_match_id,
       |  su.cos AS sem_dup_cos,
       |  lp.lang_pred,
       |  CASE WHEN lp.lang_pred = dl.lang THEN 1 ELSE 0 END AS lang_ok,
       |  CASE WHEN q.score >= $thr AND d.doc_id IS NULL AND g.doc_id IS NULL
       |        AND mi.doc_id IS NULL AND au.doc_id IS NULL AND vi.doc_id IS NULL
       |        AND sd.vec_id IS NULL AND su.vec_id IS NULL AND lp.lang_pred = dl.lang
       |       THEN 1 ELSE 0 END AS keep
       |FROM arr a
       |JOIN gqs q ON a.doc_id = q.doc_id
       |JOIN glpred lp ON a.doc_id = lp.doc_id
       |JOIN documents dl ON a.doc_id = dl.doc_id
       |LEFT JOIN gdf d ON a.doc_id = d.doc_id
       |LEFT JOIN gbest g ON a.doc_id = g.doc_id
       |LEFT JOIN gimmatch mi ON a.doc_id = mi.doc_id
       |LEFT JOIN gaumatch au ON a.doc_id = au.doc_id
       |LEFT JOIN gvimatch vi ON a.doc_id = vi.doc_id
       |LEFT JOIN sdbest sd ON a.doc_id = sd.vec_id
       |LEFT JOIN subest su ON a.doc_id = su.vec_id""".stripMargin
  }

  def ingestGateSqlFromLastGate: Option[String] =
    graft.streaming.PretrainStream.lastIngestGate.map {
      case (w, thr, lm, semCents, semMinCos, semDupCents, semDupMinCos) =>
        ingestGateSql(w, thr, lm, semCents, semMinCos, semDupCents, semDupMinCos)
    }

  /** Mirror of [[graft.text.LangIdClassifier.predictWith]] as
    * parameterized CTEs over any relation exposing (doc_id, text): the
    * trained integer micro-nat model injected as VALUES tables, per-doc
    * bigram weight sums (integer — order-free, bit-exact across
    * engines), and the argmax as a (score DESC, class ASC) row_number —
    * the engine's min-of-(-score, class) struct. Shared by the
    * standalone predict oracles and the ingest gate's language gate;
    * emits `${px}pred` (doc_id, lang_pred, score). */
  private def langIdPredCtes(model: graft.text.LangIdClassifier.LangIdModel,
                             rel: String, px: String): String = {
    def esc(s: String): String = s.replace("'", "''")
    val priRows = model.classes
      .map(c => s"('${esc(c)}', CAST(${model.priors(c)} AS BIGINT))").mkString(", ")
    val wtRows = model.classes.flatMap { c =>
      model.weights(c).toSeq.sortBy(_._1).map { case (b, w) =>
        s"('${esc(b)}', '${esc(c)}', CAST($w AS BIGINT))"
      }
    }.mkString(",\n    ")
    s"""${px}pri AS (SELECT * FROM (VALUES $priRows) p(class, w0)),
       |${px}wt AS (SELECT * FROM (VALUES
       |    $wtRows) w(b, class, w)),
       |${px}bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, length(text)), i -> substr(text, CAST(i AS INT), 2))) AS b
       |  FROM $rel
       |),
       |${px}bs AS (
       |  SELECT ${px}bg.doc_id, ${px}wt.class, CAST(sum(${px}wt.w) AS BIGINT) AS s
       |  FROM ${px}bg JOIN ${px}wt ON ${px}bg.b = ${px}wt.b GROUP BY 1, 2
       |),
       |${px}sc AS (
       |  SELECT d.doc_id, p.class, p.w0 + COALESCE(${px}bs.s, 0) AS score
       |  FROM $rel d CROSS JOIN ${px}pri p
       |  LEFT JOIN ${px}bs ON d.doc_id = ${px}bs.doc_id AND p.class = ${px}bs.class
       |),
       |${px}pred AS (
       |  SELECT doc_id, class AS lang_pred, CAST(score AS BIGINT) AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, class ASC) AS rn FROM ${px}sc)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  def langIdTrainedSql(model: graft.text.LangIdClassifier.LangIdModel): String =
    s"""WITH ${langIdPredCtes(model, "documents", "l")}
       |SELECT doc_id, lang_pred, score FROM lpred""".stripMargin

  /** The trained-model confusion table (labeled × predicted). */
  def langIdTrainedConfusionSql(model: graft.text.LangIdClassifier.LangIdModel): String =
    s"""SELECT d.lang, pred.lang_pred, CAST(count(*) AS BIGINT) AS n
       |FROM (${langIdTrainedSql(model)}) pred
       |JOIN documents d ON pred.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin

  def langIdTrainedSqlFromLastModel: Option[String] =
    graft.text.LangIdClassifier.lastLangIdModel.map(langIdTrainedSql)

  def langIdTrainedSqlFromIndexedModel: Option[String] =
    graft.text.LangIdClassifier.lastLangIdModelIndexed.map(langIdTrainedSql)

  def langIdTrainedConfusionSqlFromLastModel: Option[String] =
    graft.text.LangIdClassifier.lastLangIdModelEval.map(langIdTrainedConfusionSql)

  def annBruteSql(stride: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |scored AS (
       |  SELECT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM q JOIN c ON n_id != q_id
       |)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin

  def bucketSql(v: String, bits: Int): String =
    (1 to bits).map(i => s"(CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  def annBucketedSql(stride: Int, k: Int, bits: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |qb AS (SELECT *, ${bucketSql("qv", bits)} AS bkt FROM q),
       |cb AS (SELECT *, ${bucketSql("nv", bits)} AS bkt FROM c),
       |scored AS (
       |  SELECT q_id, qb.bkt AS bkt, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qb JOIN cb ON qb.bkt = cb.bkt AND n_id != q_id
       |)
       |SELECT q_id, bkt, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin

  private def flipBucketSql(v: String, bits: Int, flip: Int): String =
    (1 to bits).map { j =>
      val cond = s"$v[$j] >= 0"
      if (j == flip) s"(CASE WHEN $cond THEN '0' ELSE '1' END)"
      else s"(CASE WHEN $cond THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  def annMultiProbeSql(stride: Int, k: Int, bits: Int): String = {
    val probes = (bucketSql("qv", bits) +: (1 to bits).map(f => flipBucketSql("qv", bits, f))).mkString(", ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |qb AS (SELECT q_id, qv, unnest([$probes]) AS bkt FROM q),
       |cb AS (SELECT n_id, nv, ${bucketSql("nv", bits)} AS bkt FROM c),
       |scored AS (
       |  SELECT DISTINCT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qb JOIN cb USING (bkt) WHERE n_id != q_id
       |)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin
  }

  /** Mirror of [[graft.similarity.Ann.knnJoin]]: [[annMultiProbeSql]]
    * with the query side widened to the full corpus (no stride). */
  def knnJoinSql(k: Int, bits: Int): String = {
    val probes = (bucketSql("qv", bits) +: (1 to bits).map(f => flipBucketSql("qv", bits, f))).mkString(", ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |qb AS (SELECT q_id, qv, unnest([$probes]) AS bkt FROM q),
       |cb AS (SELECT n_id, nv, ${bucketSql("nv", bits)} AS bkt FROM c),
       |scored AS (
       |  SELECT DISTINCT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qb JOIN cb USING (bkt) WHERE n_id != q_id
       |)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin
  }

  /** Mirror of [[graft.similarity.Ann.hardNegatives]] GIVEN the trained
    * centroids: [[annMultiProbeSql]]'s bucket-join candidates with both
    * sides cluster-assigned (argmax dot, smallest-cid ties — the ivfCell
    * semantics) and the cross-cluster filter inside the join. */
  def hardNegativesSql(cents: Seq[(Int, Array[Double])], stride: Int,
                       k: Int, bits: Int): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    val probes = (bucketSql("qv", bits) +: (1 to bits).map(f => flipBucketSql("qv", bits, f))).mkString(", ")
    def assign(rel: String, idCol: String, vecCol: String, out: String) =
      s"""$out AS (
         |  SELECT $idCol, cid FROM (
         |    SELECT $idCol, cid, row_number() OVER (PARTITION BY $idCol ORDER BY d DESC, cid ASC) AS rn
         |    FROM (SELECT $idCol, cid, ${dotSql(vecCol, "cv")} AS d FROM $rel CROSS JOIN cents)
         |  ) WHERE rn = 1
         |)""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |cents AS (
       |  $centRows
       |),
       |${assign("q", "q_id", "qv", "qa")},
       |${assign("c", "n_id", "nv", "na")},
       |qb AS (SELECT q_id, qv, unnest([$probes]) AS bkt FROM q),
       |cb AS (SELECT n_id, nv, ${bucketSql("nv", bits)} AS bkt FROM c),
       |scored AS (
       |  SELECT DISTINCT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qb JOIN cb USING (bkt)
       |  JOIN qa USING (q_id) JOIN na USING (n_id)
       |  WHERE n_id != q_id AND qa.cid != na.cid
       |)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin
  }

  def hardNegativesSqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastHardNegModel.map { case (cents, stride, k, bits) =>
      hardNegativesSql(cents, stride, k, bits)
    }

  /** Mirror of [[graft.similarity.Ann.ivfTopK]] GIVEN the trained
    * centroids, injected as literal DOUBLE[] rows (the same
    * serve-a-model shape the Spark plan uses — centroids are plan
    * literals there too). `Double.toString` renders the shortest
    * round-tripping decimal and DuckDB's parser is correctly rounded, so
    * both engines see bit-identical centroid values; assignment is the
    * argmax dot with smallest-cid ties, exactly the `greatest(struct(d,
    * -cid))` on the Spark side. */
  def annIvfSql(cents: Seq[(Int, Array[Double])], stride: Int, k: Int, probes: Int): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |cents AS (
       |  $centRows
       |),
       |ca AS (
       |  SELECT n_id, nv, cid FROM (
       |    SELECT n_id, nv, cid, row_number() OVER (PARTITION BY n_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT n_id, nv, cid, ${dotSql("nv", "cv")} AS d FROM c CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |qp AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q_id, qv, cid, row_number() OVER (PARTITION BY q_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT q_id, qv, cid, ${dotSql("qv", "cv")} AS d FROM q CROSS JOIN cents)
       |  ) WHERE rn <= $probes
       |),
       |scored AS (
       |  SELECT DISTINCT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qp JOIN ca USING (cid) WHERE n_id != q_id
       |)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM scored
       |) WHERE rn <= $k""".stripMargin
  }

  /** Oracle SQL for the last-trained IVF model, if a query has run (the
    * Verify contract: queries execute before oracle SQL is dumped). */
  def annIvfSqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastIvfModel.map { case (cents, stride, k, probes) =>
      annIvfSql(cents, stride, k, probes)
    }

  /** Oracle SQL for the serve-only indexed twin, from its OWN stash —
    * never the rebuild entry's model. */
  def annIvfSqlFromIndexedModel: Option[String] =
    graft.similarity.Ann.lastIvfModelIndexed.map { case (cents, stride, k, probes) =>
      annIvfSql(cents, stride, k, probes)
    }

  /** Mirror of [[graft.similarity.Ann.recallEval]] GIVEN the trained
    * centroids: the [[annBruteSql]] truth CTE chain and the
    * [[annIvfSql]] approx chain side by side, full-outer-joined on
    * (q_id, n_id) into the one-row report. Mean cosines sum as exact
    * integer micros on both sides (cos is already rounded to 6dp), so
    * no float-accumulation-order drift can enter the compare. */
  def annRecallEvalSql(cents: Seq[(Int, Array[Double])], stride: Int,
                       k: Int, probes: Int): String = {
    val centRows = cents.map { case (cid, arr) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |tscored AS (
       |  SELECT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM q JOIN c ON n_id != q_id
       |),
       |truth AS (
       |  SELECT q_id, n_id, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM tscored
       |  ) WHERE rn <= $k
       |),
       |cents AS (
       |  $centRows
       |),
       |ca AS (
       |  SELECT n_id, nv, cid FROM (
       |    SELECT n_id, nv, cid, row_number() OVER (PARTITION BY n_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT n_id, nv, cid, ${dotSql("nv", "cv")} AS d FROM c CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |qp AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q_id, qv, cid, row_number() OVER (PARTITION BY q_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT q_id, qv, cid, ${dotSql("qv", "cv")} AS d FROM q CROSS JOIN cents)
       |  ) WHERE rn <= $probes
       |),
       |ascored AS (
       |  SELECT DISTINCT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM qp JOIN ca USING (cid) WHERE n_id != q_id
       |),
       |approx AS (
       |  SELECT q_id, n_id, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM ascored
       |  ) WHERE rn <= $k
       |),
       |j AS (
       |  SELECT t.cos AS tcos, a.cos AS acos
       |  FROM truth t FULL JOIN approx a ON t.q_id = a.q_id AND t.n_id = a.n_id
       |),
       |m AS (
       |  SELECT CAST(count(tcos) AS BIGINT) AS n_truth,
       |         CAST(count(acos) AS BIGINT) AS n_approx,
       |         CAST(count(CASE WHEN tcos IS NOT NULL AND acos IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit,
       |         CAST(sum(CAST(round(tcos * 1000000) AS BIGINT)) AS DOUBLE) AS tsum,
       |         CAST(sum(CAST(round(acos * 1000000) AS BIGINT)) AS DOUBLE) AS asum
       |  FROM j
       |)
       |SELECT n_truth, n_approx, n_hit,
       |       round(CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS recall,
       |       round(CASE WHEN n_truth > 0 THEN tsum / 1e6 / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS truth_mean_cos,
       |       round(CASE WHEN n_approx > 0 THEN asum / 1e6 / n_approx ELSE CAST(0 AS DOUBLE) END, 6) AS approx_mean_cos
       |FROM m""".stripMargin
  }

  /** Oracle SQL for `ann_recall_eval`, from its OWN stash. */
  def annRecallEvalSqlFromModel: Option[String] =
    graft.similarity.Ann.lastRecallEvalModel.map { case (cents, stride, k, probes) =>
      annRecallEvalSql(cents, stride, k, probes)
    }

  /** Shared assignment + own-centroid-cosine CTE chain (`c`, `cents`,
    * `ca`, `scored`) over literal (cid, cv, cn) rows — ONE definition for
    * the semantic-sort and diverse-batches oracles. */
  private def ownCosCtes(cents: Seq[(Int, Array[Double], Double)]): String = {
    val centRows = cents.map { case (cid, arr, cn) =>
      s"SELECT $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv, CAST($cn AS DOUBLE) AS cn"
    }.mkString("\n  UNION ALL ")
    s"""c AS (SELECT vec_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |cents AS (
       |  $centRows
       |),
       |ca AS (
       |  SELECT vec_id, nv, cid FROM (
       |    SELECT vec_id, nv, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
       |    FROM (SELECT vec_id, nv, cid, ${dotSql("nv", "cv")} AS d FROM c CROSS JOIN cents)
       |  ) WHERE rn = 1
       |),
       |scored AS (
       |  SELECT vec_id, cid,
       |         round(${dotSql("nv", "cv")} / (sqrt(${dotSql("nv", "nv")}) * cn), 6) AS cos
       |  FROM ca JOIN cents USING (cid)
       |)""".stripMargin
  }

  /** Mirror of [[graft.similarity.Ann.semanticSort]] GIVEN the trained
    * centroids: literal (cid, cv, cn) rows — `cn` is the Scala-computed
    * centroid norm shipped to both engines as the same literal —
    * assignment by max-dot (smallest-cid ties, as ivfCell), cosine to the
    * own centroid, global position by row_number over (cid, cos DESC,
    * vec_id). */
  def semanticSortSql(cents: Seq[(Int, Array[Double], Double)]): String =
    s"""WITH ${ownCosCtes(cents)}
       |SELECT vec_id, cid, cos,
       |       CAST(row_number() OVER (ORDER BY cid ASC, cos DESC, vec_id ASC) AS BIGINT) AS pos
       |FROM scored""".stripMargin

  def semanticSortSqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastSortModel.map(semanticSortSql)

  /** Mirror of [[graft.similarity.Ann.prototypicality]] GIVEN the trained
    * centroids: own-centroid cosine via the shared [[ownCosCtes]] chain,
    * corpus-quantile lo/hi thresholds rounded to 6 digits BEFORE the
    * comparisons (the qualityGate discipline — `percentile` vs
    * `quantile_cont` interpolation drift dies in the rounding). */
  def prototypicalitySql(cents: Seq[(Int, Array[Double], Double)],
                         loP: Double, hiP: Double): String =
    s"""WITH ${ownCosCtes(cents)},
       |thr AS (
       |  SELECT round(quantile_cont(cos, $loP), 6) AS lo,
       |         round(quantile_cont(cos, $hiP), 6) AS hi
       |  FROM scored
       |)
       |SELECT vec_id, cid, cos,
       |       CASE WHEN cos >= hi THEN 'prototype'
       |            WHEN cos <= lo THEN 'outlier'
       |            ELSE 'keep' END AS flag
       |FROM scored CROSS JOIN thr""".stripMargin

  def prototypicalitySqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastProtoModel.map { case (cents, lo, hi) =>
      prototypicalitySql(cents, lo, hi)
    }

  /** Mirror of [[graft.similarity.Pca.pcaProject]] GIVEN the trained
    * components: each pc is the SAME left-to-right literal fold as the
    * engine's compiled dot (`list_reduce` order = the codegen'd loop)
    * minus the same precomputed mean offset, so the doubles are
    * bit-identical before round-6. Training (DECIMAL moments + driver
    * Jacobi) is not SQL-mirrorable — the trained-model oracle
    * discipline, like IVF/PQ/BPE. */
  def pcaProjectSql(model: Seq[graft.similarity.Pca.Component]): String = {
    s"""SELECT vec_id,
       |  ${pcaProjColsSql(model)}
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin
  }

  /** The per-component projection column list shared by every PCA
    * oracle ([[pcaProjectSql]], [[pcaVarianceSql]] via it, and
    * [[driftEmbeddingSql]]) — ONE definition of the literal fold, so
    * the mirrors cannot drift apart. The literal array must
    * parenthesize: dotSql subscripts `$$b[i]`, and a bare
    * `[..]::DOUBLE[][i]` is a DuckDB parse error. */
  private def pcaProjColsSql(model: Seq[graft.similarity.Pca.Component]): String =
    model.map { m =>
      s"round(${dotSql("v", s"([${m.comp.mkString(", ")}]::DOUBLE[])")} - (${m.offset}), 6) AS pc${m.pc}"
    }.mkString(",\n  ")

  /** Mirror of [[graft.similarity.Pca.pcaVariance]]: the projection CTE
    * above, per-component exact integer-micro sums (the projections are
    * round-6, so both engines sum identical integers), and the model's
    * own eigenvalue/explained-share as the same pre-quantized literals
    * the engine attached. */
  def pcaVarianceSql(model: Seq[graft.similarity.Pca.Component]): String = {
    val pcs = model.map(_.pc)
    val eigq = model.map(m => math.rint(m.eigval * 1e6) / 1e6)
    val shareq = model.map(m => math.rint(m.eigval / m.trace * 1e6) / 1e6)
    s"""WITH proj AS (
       |${pcaProjectSql(model)}
       |),
       |plong AS (
       |  SELECT unnest([${pcs.mkString(", ")}]) AS pc,
       |         unnest([${pcs.map(p => s"pc$p").mkString(", ")}]) AS p
       |  FROM proj
       |),
       |g AS (
       |  SELECT pc, CAST(count(*) AS BIGINT) AS n,
       |         SUM(CAST(CAST(round(p * 1000000) AS BIGINT) AS DECIMAL(38,0))) AS s1,
       |         SUM(CAST(CAST(round(p * 1000000) AS BIGINT) * CAST(round(p * 1000000) AS BIGINT) AS DECIMAL(38,0))) AS s2
       |  FROM plong GROUP BY pc
       |),
       |e AS (
       |  SELECT unnest([${pcs.mkString(", ")}]) AS pc,
       |         unnest([${eigq.mkString(", ")}]::DOUBLE[]) AS eigq,
       |         unnest([${shareq.mkString(", ")}]::DOUBLE[]) AS shareq
       |)
       |SELECT g.pc AS pc, n,
       |       round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean_pc,
       |       round((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 1e12, 6) AS var_pc,
       |       round(eigq, 6) AS eigval,
       |       round(shareq, 6) AS explained_frac
       |FROM g JOIN e ON g.pc = e.pc
       |ORDER BY pc""".stripMargin
  }

  /** Mirror of [[graft.similarity.Pca.driftEmbeddingPca]] GIVEN the
    * persisted components (label groups, 10 exact-quantile bins,
    * eps = 1e-4): the projection CTE, per-pc quantile edges, and the
    * [[driftPsiQuantileSql]] PSI algebra keyed by (pc, label). */
  def driftEmbeddingSql(model: Seq[graft.similarity.Pca.Component],
                        nBins: Int, eps: Double): String = {
    val pcs = model.map(_.pc)
    val qs = (1 until nBins).map(i => i.toDouble / nBins).mkString(", ")
    s"""WITH proj AS (
       |SELECT label,
       |  ${pcaProjColsSql(model)}
       |FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
       |),
       |lng AS (
       |  SELECT label, unnest([${pcs.mkString(", ")}]) AS pc,
       |         unnest([${pcs.map(p => s"pc$p").mkString(", ")}]) AS x
       |  FROM proj
       |),
       |e AS (SELECT pc, list_transform(quantile_cont(x, [$qs]), v -> round(v, 6)) AS le FROM lng GROUP BY pc),
       |bb AS (SELECT label, lng.pc AS pc, CAST(len(list_filter(le, v -> x > v)) AS BIGINT) AS bin
       |       FROM lng JOIN e ON lng.pc = e.pc),
       |cur AS (SELECT pc, label, bin, count(*) AS cn FROM bb GROUP BY pc, label, bin),
       |ref AS (SELECT pc, bin, sum(cn) AS rn FROM cur GROUP BY pc, bin),
       |rt AS (SELECT pc, CAST(sum(rn) AS DOUBLE) AS rt FROM ref GROUP BY pc),
       |refp AS (SELECT ref.pc AS pc, bin, rn / rt AS pr FROM ref JOIN rt ON ref.pc = rt.pc),
       |ct AS (SELECT pc, label, CAST(sum(cn) AS DOUBLE) AS ct FROM cur GROUP BY pc, label),
       |grid AS (SELECT ct.pc AS pc, label, ct, bin, pr FROM ct JOIN refp ON ct.pc = refp.pc),
       |terms AS (
       |  SELECT pc, label, pr, greatest(COALESCE(cn, 0) / ct, CAST($eps AS DOUBLE)) AS pq
       |  FROM grid LEFT JOIN cur USING (pc, label, bin)
       |)
       |SELECT pc, label,
       |       round(CAST(sum(CAST((pq - pr) * ln(pq / pr) AS DECIMAL(28,18))) AS DOUBLE), 6) AS psi,
       |       CAST(count(*) AS BIGINT) AS n_bins
       |FROM terms GROUP BY pc, label""".stripMargin
  }

  def driftEmbeddingSqlFromLastModel(nBins: Int, eps: Double): Option[String] =
    graft.similarity.Pca.lastDriftModel.map(driftEmbeddingSql(_, nBins, eps))

  /** Mirror of [[graft.similarity.Pca.pcaRecallEval]] GIVEN the
    * components: the original-space brute-force truth chain, the
    * reduced-space chain over the projection CTE (k-element list
    * columns, [[dotSqlN]] folds — the engine's compiled dot walks the
    * same k elements left to right), the original-cosine re-score of
    * the reduced picks, and the [[annRecallEvalSql]] report tail. */
  def pcaRecallEvalSql(model: Seq[graft.similarity.Pca.Component],
                       stride: Int, k: Int): String = {
    val pk = model.length
    val vecExpr = model.map(m => s"pc${m.pc}").mkString("[", ", ", "]")
    def cosN(a: String, b: String) =
      s"${dotSqlN(a, b, pk)} / (sqrt(${dotSqlN(a, a, pk)}) * sqrt(${dotSqlN(b, b, pk)}))"
    s"""WITH proj AS (
       |SELECT vec_id,
       |  ${pcaProjColsSql(model)}
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")})
       |),
       |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings WHERE ${normGuardSql("nv")}),
       |tscored AS (
       |  SELECT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM q JOIN c ON n_id != q_id
       |),
       |truth AS (
       |  SELECT q_id, n_id, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM tscored
       |  ) WHERE rn <= $k
       |),
       |pq AS (SELECT vec_id AS q_id, $vecExpr::DOUBLE[] AS qv FROM proj WHERE vec_id % $stride = 0 AND sqrt(${dotSqlN("qv", "qv", pk)}) > 0),
       |pc2 AS (SELECT vec_id AS n_id, $vecExpr::DOUBLE[] AS nv FROM proj WHERE sqrt(${dotSqlN("nv", "nv", pk)}) > 0),
       |ascored AS (
       |  SELECT q_id, n_id, round(${cosN("qv", "nv")}, 6) AS rcos
       |  FROM pq JOIN pc2 ON n_id != q_id
       |),
       |approx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rcos DESC, n_id ASC) AS rn FROM ascored
       |  ) WHERE rn <= $k
       |),
       |resc AS (
       |  SELECT a.q_id, a.n_id, round(${cosineSql("eq.v", "en.v")}, 6) AS cos
       |  FROM approx a
       |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) eq ON a.q_id = eq.vec_id
       |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) en ON a.n_id = en.vec_id
       |),
       |j AS (
       |  SELECT t.cos AS tcos, r.cos AS acos
       |  FROM truth t FULL JOIN resc r ON t.q_id = r.q_id AND t.n_id = r.n_id
       |),
       |m AS (
       |  SELECT CAST(count(tcos) AS BIGINT) AS n_truth,
       |         CAST(count(acos) AS BIGINT) AS n_approx,
       |         CAST(count(CASE WHEN tcos IS NOT NULL AND acos IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit,
       |         CAST(sum(CAST(round(tcos * 1000000) AS BIGINT)) AS DOUBLE) AS tsum,
       |         CAST(sum(CAST(round(acos * 1000000) AS BIGINT)) AS DOUBLE) AS asum
       |  FROM j
       |)
       |SELECT n_truth, n_approx, n_hit,
       |       round(CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS recall,
       |       round(CASE WHEN n_truth > 0 THEN tsum / 1e6 / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS truth_mean_cos,
       |       round(CASE WHEN n_approx > 0 THEN asum / 1e6 / n_approx ELSE CAST(0 AS DOUBLE) END, 6) AS approx_mean_cos
       |FROM m""".stripMargin
  }

  def pcaRecallEvalSqlFromModel(stride: Int, k: Int): Option[String] =
    graft.similarity.Pca.lastPcaRecallModel.map(pcaRecallEvalSql(_, stride, k))

  def pcaProjectSqlFromLastModel: Option[String] =
    graft.similarity.Pca.lastPcaModel.map(pcaProjectSql)

  /** Oracle for the serve-only indexed twin, from its OWN stash. */
  def pcaProjectSqlFromIndexedModel: Option[String] =
    graft.similarity.Pca.lastPcaModelIndexed.map(pcaProjectSql)

  def pcaVarianceSqlFromLastModel: Option[String] =
    graft.similarity.Pca.lastPcaVarianceModel.map(pcaVarianceSql)

  /** Mirror of [[graft.similarity.Ann.diverseBatches]] GIVEN the trained
    * centroids: within-cluster rank, round-robin global position over
    * (rank, cid), integer-div batch chunking. */
  def diverseBatchesSql(cents: Seq[(Int, Array[Double], Double)], batchSize: Int): String =
    s"""WITH ${ownCosCtes(cents)},
       |ranked AS (
       |  SELECT vec_id, cid,
       |         CAST(row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
       |  FROM scored
       |),
       |positioned AS (
       |  SELECT vec_id, cid, rk,
       |         CAST(row_number() OVER (ORDER BY rk ASC, cid ASC) AS BIGINT) AS pos
       |  FROM ranked
       |)
       |SELECT vec_id, cid, rk, pos, (pos - 1) // $batchSize AS batch_id
       |FROM positioned""".stripMargin

  def diverseBatchesSqlFromLastModel: Option[String] =
    graft.similarity.Ann.lastDiverseModel.map { case (cents, bs) =>
      diverseBatchesSql(cents, bs)
    }

  /** Sub-dimensional dot for PQ subvectors (the 64-wide [[dotSql]] fold
    * restricted to `n` elements — same left-to-right order). */
  def dotSqlN(a: String, b: String, n: Int): String =
    s"list_reduce(list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Mirror of [[graft.similarity.Pq.pqTopK]] GIVEN the trained
    * codebooks, injected as literal (sub, cid, cv, half) rows — `half` =
    * c·c/2 is computed once in Scala and shipped to BOTH engines as the
    * same literal, so the encode argmax `dot(x_sub, c) − half` is
    * bit-identical by construction. The ADC sum re-derives each LUT
    * value as `dot(q_sub, c)` (the same left fold the driver used to
    * build the Spark-side literal LUTs) and folds the `m` per-subspace
    * contributions in sub order via array_agg(ORDER BY sub) +
    * list_reduce — matching Spark's left-assoc `reduce(_ + _)`; a plain
    * SUM would be scan-order-dependent. */
  /** The encode + LUT + ADC + top-k CTE chain GIVEN trained codebooks —
    * shared (with a CTE-name prefix, so two chains can coexist in one
    * query) by the plain-PQ, OPQ and quantizer-recall oracles, mirroring
    * the engine's shared [[graft.similarity.Pq.adcTopK]]. `cand` must
    * expose (n_id, nv), `probe` (q_id, qv); the chain ends in `${p}top`
    * with (q_id, n_id, adc). */
  private def pqAdcCtes(p: String, cand: String, probe: String,
                        books: Seq[graft.similarity.Pq.Codebook],
                        subDim: Int, k: Int): String = {
    val cbRows = books.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, arr, half) =>
        s"SELECT $s AS sub, $cid AS cid, [${arr.mkString(", ")}]::DOUBLE[] AS cv, CAST($half AS DOUBLE) AS half"
      }
    }.mkString("\n  UNION ALL ")
    s"""${p}cb AS (
       |  $cbRows
       |),
       |${p}sv AS (
       |  SELECT n_id, sub, cid, half, cv,
       |         list_slice(nv, sub * $subDim + 1, sub * $subDim + $subDim) AS svec
       |  FROM $cand CROSS JOIN ${p}cb
       |),
       |${p}enc AS (
       |  SELECT n_id, sub, cid AS code FROM (
       |    SELECT n_id, sub, cid,
       |           row_number() OVER (PARTITION BY n_id, sub
       |                              ORDER BY (${dotSqlN("svec", "cv", subDim)} - half) DESC, cid ASC) AS rn
       |    FROM ${p}sv
       |  ) WHERE rn = 1
       |),
       |${p}lut AS (
       |  SELECT q_id, sub, cid,
       |         ${dotSqlN(s"list_slice(qv, sub * $subDim + 1, sub * $subDim + $subDim)", "cv", subDim)} AS d
       |  FROM $probe CROSS JOIN ${p}cb
       |),
       |${p}scored AS (
       |  SELECT q_id, n_id,
       |         round(list_reduce(array_agg(d ORDER BY ${p}enc.sub), (x, y) -> x + y), 6) AS adc
       |  FROM ${p}enc JOIN ${p}lut ON ${p}enc.sub = ${p}lut.sub AND ${p}enc.code = ${p}lut.cid
       |  WHERE n_id != q_id
       |  GROUP BY q_id, n_id
       |),
       |${p}top AS (
       |  SELECT q_id, n_id, adc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id ASC) AS rn FROM ${p}scored
       |  ) WHERE rn <= $k
       |)""".stripMargin
  }

  def annPqSql(books: Seq[graft.similarity.Pq.Codebook], subDim: Int,
               stride: Int, k: Int): String =
    s"""WITH c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
       |      WHERE vec_id % $stride = 0 AND ${normGuardSql("qv")}),
       |${pqAdcCtes("", "c", "q", books, subDim, k)}
       |SELECT q_id, n_id, adc FROM top""".stripMargin

  /** The reduced-space vector as a literal projection list — the same
    * round-6 left-fold dots as [[pcaProjColsSql]], assembled into one
    * DOUBLE[] so the PQ chain can slice it like an embedding. */
  private def pcaProjListSql(model: Seq[graft.similarity.Pca.Component],
                             v: String): String =
    model.map { m =>
      s"round(${dotSql(v, s"([${m.comp.mkString(", ")}]::DOUBLE[])")} - (${m.offset}), 6)"
    }.mkString("[", ",\n    ", "]")

  /** Mirror of [[graft.similarity.Pq.opqTopK]] GIVEN the trained halves:
    * project every vector with the injected PCA components (bit-identical
    * round-6 folds), then run the injected-codebook ADC chain in the
    * reduced space. The probe guard is on the REDUCED norm — the chain
    * serves where it scores. */
  def annOpqSql(pcaModel: Seq[graft.similarity.Pca.Component],
                books: Seq[graft.similarity.Pq.Codebook], subDim: Int,
                stride: Int, k: Int): String = {
    val kDim = pcaModel.length
    s"""WITH red AS (
       |  SELECT vec_id, ${pcaProjListSql(pcaModel, "v")}::DOUBLE[] AS rv
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |),
       |c AS (SELECT vec_id AS n_id, rv AS nv FROM red),
       |q AS (SELECT vec_id AS q_id, rv AS qv FROM red
       |      WHERE vec_id % $stride = 0 AND sqrt(${dotSqlN("qv", "qv", kDim)}) > 0),
       |${pqAdcCtes("", "c", "q", books, subDim, k)}
       |SELECT q_id, n_id, adc FROM top""".stripMargin
  }

  def annOpqSqlFromLastModel: Option[String] =
    graft.similarity.Pq.lastOpqModel.map { case (pcaModel, books, subDim, stride, k) =>
      annOpqSql(pcaModel, books, subDim, stride, k)
    }

  /** Mirror of [[graft.similarity.Pq.quantRecallEval]]: exact brute-force
    * truth over the zero-norm-guarded corpus, the plain-PQ and OPQ ADC
    * chains (prefixes p/o) over the same corpus, picks re-scored by
    * original round-6 cosine, one labeled row per method. */
  def annQuantRecallEvalSql(pcaModel: Seq[graft.similarity.Pca.Component],
                            opqBooks: Seq[graft.similarity.Pq.Codebook], opqSubDim: Int,
                            pqBooks: Seq[graft.similarity.Pq.Codebook], pqSubDim: Int,
                            stride: Int, k: Int): String = {
    val kDim = pcaModel.length
    def rescoreAgg(p: String, method: String): String =
      s"""${p}rs AS (
         |  SELECT t.q_id, t.n_id, round(${cosineSql("a.v", "b.v")}, 6) AS acos
         |  FROM ${p}top t JOIN nz a ON a.vec_id = t.q_id JOIN nz b ON b.vec_id = t.n_id
         |),
         |${p}j AS (
         |  SELECT t.tcos AS tcos, a.acos AS acos
         |  FROM truth t FULL JOIN ${p}rs a ON t.q_id = a.q_id AND t.n_id = a.n_id
         |),
         |${p}m AS (
         |  SELECT CAST(count(tcos) AS BIGINT) AS n_truth,
         |         CAST(count(acos) AS BIGINT) AS n_approx,
         |         CAST(count(CASE WHEN tcos IS NOT NULL AND acos IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit,
         |         CAST(sum(CAST(round(tcos * 1000000) AS BIGINT)) AS DOUBLE) AS tsum,
         |         CAST(sum(CAST(round(acos * 1000000) AS BIGINT)) AS DOUBLE) AS asum
         |  FROM ${p}j
         |),
         |${p}row AS (
         |  SELECT '$method' AS method, n_truth, n_approx, n_hit,
         |         round(CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS recall,
         |         round(CASE WHEN n_truth > 0 THEN tsum / 1e6 / n_truth ELSE CAST(0 AS DOUBLE) END, 6) AS truth_mean_cos,
         |         round(CASE WHEN n_approx > 0 THEN asum / 1e6 / n_approx ELSE CAST(0 AS DOUBLE) END, 6) AS approx_mean_cos
         |  FROM ${p}m
         |)""".stripMargin
    s"""WITH nz AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE ${normGuardSql("v")}),
       |c AS (SELECT vec_id AS n_id, v AS nv FROM nz),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM nz WHERE vec_id % $stride = 0),
       |tscored AS (
       |  SELECT q_id, n_id, round(${cosineSql("qv", "nv")}, 6) AS cos
       |  FROM q JOIN c ON n_id != q_id
       |),
       |truth AS (
       |  SELECT q_id, n_id, cos AS tcos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn FROM tscored
       |  ) WHERE rn <= $k
       |),
       |${pqAdcCtes("p", "c", "q", pqBooks, pqSubDim, k)},
       |red AS (SELECT vec_id, ${pcaProjListSql(pcaModel, "v")}::DOUBLE[] AS rv FROM nz),
       |oc AS (SELECT vec_id AS n_id, rv AS nv FROM red),
       |oq AS (SELECT vec_id AS q_id, rv AS qv FROM red
       |       WHERE vec_id % $stride = 0 AND sqrt(${dotSqlN("qv", "qv", kDim)}) > 0),
       |${pqAdcCtes("o", "oc", "oq", opqBooks, opqSubDim, k)},
       |${rescoreAgg("p", "pq")},
       |${rescoreAgg("o", "opq")}
       |SELECT * FROM prow UNION ALL SELECT * FROM orow""".stripMargin
  }

  def annQuantRecallEvalSqlFromModel: Option[String] =
    graft.similarity.Pq.lastQuantRecallModel.map {
      case (pcaModel, opqBooks, opqSubDim, pqBooks, pqSubDim, stride, k) =>
        annQuantRecallEvalSql(pcaModel, opqBooks, opqSubDim, pqBooks, pqSubDim, stride, k)
    }

  /** Oracle SQL for the last-trained PQ model (same Verify contract as
    * [[annIvfSqlFromLastModel]]). */
  def annPqSqlFromLastModel: Option[String] =
    graft.similarity.Pq.lastPqModel.map { case (books, subDim, stride, k) =>
      annPqSql(books, subDim, stride, k)
    }

  /** Overlapping token-window chunking mirror of
    * [[graft.pipelines.Chunking.chunkDocuments]]: raw whitespace tokens,
    * starts 0, stride, … < n (and exactly [0] for an empty doc via
    * greatest(n, 1)), short trailing chunk kept. */
  def chunkSql(window: Int, stride: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), s -> length(s) > 0) AS toks
       |  FROM documents
       |),
       |st AS (
       |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), $stride)) AS start
       |  FROM t
       |)
       |SELECT doc_id,
       |       CAST(start // $stride AS BIGINT) AS chunk_id,
       |       CAST(len(toks[start + 1 : start + $window]) AS BIGINT) AS n_tokens,
       |       array_to_string(toks[start + 1 : start + $window], ' ') AS chunk_text
       |FROM st""".stripMargin

  /** Morton/z-value mirror of [[graft.ops.ZOrder.zValue]] over
    * modulus-quantized (l_partkey, l_suppkey): pure integer bit algebra
    * — shifts, masks and exact powers of two — so both engines compute
    * the identical BIGINT. */
  def zorderSql(bits: Int): String = {
    val terms = (for {
      (c, i) <- Seq("l_partkey", "l_suppkey").zipWithIndex
      j <- 0 until bits
    } yield s"(((($c % ${1L << bits}) >> $j) & 1) * ${1L << (j * 2 + i)})").mkString(" + ")
    s"SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zv FROM lineitem"
  }

  /** Temperature (α = 0.5) mixture mirror of
    * [[graft.text.TextAnalysis.temperatureMix]]: sqrt is correctly
    * rounded on both engines, and the normalizer folds per-source terms
    * in source order (list_reduce over array_agg ORDER BY source,
    * seeded 0.0 to match Spark's aggregate initial value). */
  val temperatureMixSql: String =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source
      |),
      |den AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), array_agg(sqrt(sum_chars) ORDER BY source)),
      |                     (x, y) -> x + y) AS z,
      |         CAST(sum(sum_chars) AS BIGINT) AS total_chars
      |  FROM per
      |)
      |SELECT source, n_docs, sum_chars,
      |       round(sum_chars / total_chars, 6) AS share,
      |       round(sqrt(sum_chars) / z, 6) AS p_alpha,
      |       round((sqrt(sum_chars) / z) / (sum_chars / total_chars), 6) AS boost
      |FROM per CROSS JOIN den""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.mixTokenBudget]] (α = 0.5):
    * whitespace-token availability per source, the temperatureMixSql
    * ordered-fold normalizer, and the cap arithmetic on the same
    * round-then-CAST path (budget and maxEpochs are the same literals
    * in both engines; round-6 p_alpha × budget steps in 0.1s at this
    * budget, so no representable half-tie can split the engines). */
  /** per → den → p → t CTE chain shared by [[mixTokenBudgetSql]] and
    * [[sampleTokenBudgetSql]] (the allocator and its executor must gate
    * against the same allocation arithmetic). */
  private def mixBudgetCtes(budgetTokens: Long, maxEpochs: Double): String =
    s"""per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0))) AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY source
       |),
       |den AS (
       |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), array_agg(sqrt(avail_tokens) ORDER BY source)),
       |                     (x, y) -> x + y) AS z
       |  FROM per
       |),
       |p AS (
       |  SELECT source, n_docs, avail_tokens,
       |         round(sqrt(avail_tokens) / z, 6) AS p_alpha
       |  FROM per CROSS JOIN den
       |),
       |t AS (
       |  SELECT *, CAST(round(p_alpha * CAST($budgetTokens AS DOUBLE)) AS BIGINT) AS target_tokens,
       |         CAST(round($maxEpochs * avail_tokens) AS BIGINT) AS cap
       |  FROM p
       |)""".stripMargin

  def mixTokenBudgetSql(budgetTokens: Long, maxEpochs: Double): String =
    s"""WITH ${mixBudgetCtes(budgetTokens, maxEpochs)}
       |SELECT source, n_docs, avail_tokens, p_alpha, target_tokens,
       |       CASE WHEN avail_tokens > 0
       |            THEN round(CAST(target_tokens AS DOUBLE) / avail_tokens, 6)
       |            ELSE CAST(0 AS DOUBLE) END AS epochs,
       |       target_tokens > cap AS over_cap,
       |       least(target_tokens, cap) AS alloc_tokens
       |FROM t""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.sampleTokenBudget]]: the same
    * allocation chain, md5-half content keys (the corpus_shuffle
    * discipline), and ONE per-source inclusive running sum ordered by
    * (bucket, x, y, doc_id) — exactly the total the engine's two-level
    * bucketed form computes, since integer sums are associative. */
  def sampleTokenBudgetSql(budgetTokens: Long, maxEpochs: Double,
                           nBuckets: Int): String =
    s"""WITH ${mixBudgetCtes(budgetTokens, maxEpochs)},
       |alloc AS (SELECT source, least(target_tokens, cap) AS alloc_tokens FROM t),
       |k AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), q -> length(q) > 0)) AS BIGINT) AS doc_tokens,
       |    CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS x,
       |    CAST('0x' || substr(md5(text), 8, 7) AS BIGINT) AS y
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, source, doc_tokens,
       |    CAST(sum(doc_tokens) OVER (PARTITION BY source ORDER BY x % $nBuckets, x, y, doc_id
       |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM k
       |)
       |SELECT doc_id, source, doc_tokens, cum_tokens
       |FROM c JOIN alloc USING (source) WHERE cum_tokens <= alloc_tokens""".stripMargin

  // ------------------------------------------------------------ text

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0)) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpePattern}', 0)) AS BIGINT) AS bpe_tokens
       |FROM documents""".stripMargin

  /** Shared CTE chain ending in r(doc_id, n_tokens, n_chars, pr, sr) —
    * one definition of the quality ratios, used by both the per-doc
    * report ([[qualitySql]]) and the quantile gate
    * ([[qualityGateSql]]). */
  private val qualityChain: String =
    s"""$tclCte,
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(tl) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(tl, t -> t IN (${Stopwords.sqlList}))) AS BIGINT) AS n_stop
       |  FROM tcl
       |),
       |r AS (
       |  SELECT doc_id, n_tokens, n_chars,
       |    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
       |    CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS sr
       |  FROM m
       |)""".stripMargin

  val qualitySql: String =
    s"""WITH $qualityChain
       |SELECT doc_id, n_tokens, n_chars, round(pr, 6) AS punct_ratio, round(sr, 6) AS stop_ratio,
       |       round(1.0 / (1.0 + exp(-(1.5 - 4.0 * pr - 1.0 * sr))), 6) AS quality
       |FROM r""".stripMargin

  /** Mirror of [[graft.ops.TableProfile.sourceOverlap]]: exact pairwise
    * source overlap over distinct 3-shingles, with the four engine-side
    * sketch-bound booleans mirrored as literal TRUEs (the approx_distinct
    * gate pattern — a sketch past its envelope fails the hash compare).
    * The oracle-side intersection is a plain shingle equi-join (fine at
    * gate scale; the engine's source-set explode is the scale path). */
  val sourceOverlapSql: String =
    s"""WITH st AS (
       |  SELECT source,
       |         list_filter(list_transform(string_split_regex(text, '\\s+'), s -> ${OracleSql.clean("s")}), s -> length(s) > 0) AS tl
       |  FROM documents
       |),
       |shp AS (
       |  SELECT DISTINCT source,
       |         unnest(list_transform(range(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])) AS shingle
       |  FROM st WHERE len(tl) >= 3
       |),
       |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM shp GROUP BY source),
       |pi AS (
       |  SELECT l.source AS a, r.source AS b, CAST(count(*) AS BIGINT) AS inter_exact
       |  FROM shp l JOIN shp r ON l.shingle = r.shingle AND l.source < r.source
       |  GROUP BY l.source, r.source
       |)
       |SELECT pi.a, pi.b, pa.n AS exact_a, pb.n AS exact_b, inter_exact,
       |       pa.n + pb.n - inter_exact AS union_exact,
       |       round(CAST(inter_exact AS DOUBLE) / (pa.n + pb.n - inter_exact), 6) AS jaccard,
       |       TRUE AS a_within_rsd, TRUE AS b_within_rsd,
       |       TRUE AS union_within_rsd, TRUE AS inter_within_bound
       |FROM pi JOIN per pa ON pi.a = pa.source JOIN per pb ON pi.b = pb.source""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.repetitionNgrams]]: the Gopher
    * repetition battery. Per-n gram streams unnest from the shared token
    * list, count per (doc, n, gram), and the top-gram argmax rides the
    * same `c·10⁹ + charlen` integer order encode as the engine (ties:
    * highest count, then longest gram — identical on both engines). All
    * ratios are divisions of exact longs; top and dup shares cap at 1.0
    * (overlapping occurrences double-count character mass). */
  def repetitionNgramsSql(tops: Seq[Int] = Seq(2, 3, 4),
                          dups: Seq[Int] = Seq(5, 8, 10)): String = {
    val ns = (tops ++ dups).distinct.sorted
    val gramSelects = ns.map { n =>
      s"""SELECT doc_id, $n AS n,
         |    unnest(list_transform(range(1, greatest(len(tl) - ${n - 1}, 0) + 1),
         |           i -> array_to_string(tl[i:i+${n - 1}], ' '))) AS gram
         |  FROM tcl""".stripMargin
    }.mkString("\n  UNION ALL ")
    val encAggs = tops.map(n =>
      s"max(CASE WHEN n = $n THEN c * 1000000000 + clen END) AS enc$n")
    val dupAggs = dups.map(n =>
      s"CAST(sum(CASE WHEN n = $n AND c > 1 THEN c * clen ELSE 0 END) AS BIGINT) AS dup$n")
    val outTops = tops.map(n =>
      s"""round(CASE WHEN total_chars > 0 AND enc$n IS NOT NULL
         |      THEN least(CAST((enc$n // 1000000000) * (enc$n % 1000000000) AS DOUBLE) / total_chars, 1.0)
         |      ELSE 0.0 END, 6) AS top${n}_frac""".stripMargin)
    val outDups = dups.map(n =>
      s"""round(CASE WHEN total_chars > 0
         |      THEN least(CAST(coalesce(dup$n, 0) AS DOUBLE) / total_chars, 1.0)
         |      ELSE 0.0 END, 6) AS dup${n}_frac""".stripMargin)
    s"""WITH $tclCte,
       |tc AS (
       |  SELECT doc_id,
       |         coalesce(CAST(list_sum(list_transform(tl, t -> length(t))) AS BIGINT), 0) AS total_chars
       |  FROM tcl
       |),
       |g AS (
       |  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c,
       |         CAST(length(gram) - (n - 1) AS BIGINT) AS clen
       |  FROM (
       |  $gramSelects
       |  ) GROUP BY doc_id, n, gram
       |),
       |per AS (
       |  SELECT doc_id, ${(encAggs ++ dupAggs).mkString(",\n    ")}
       |  FROM g GROUP BY doc_id
       |)
       |SELECT tc.doc_id, total_chars,
       |  ${(outTops ++ outDups).mkString(",\n  ")}
       |FROM tc LEFT JOIN per ON tc.doc_id = per.doc_id""".stripMargin
  }

  /** prev/cur snapshot derivation + digest full-outer join shared by the
    * corpus-diff oracles. Testdata ships ONE corpus version (the urlCtes
    * situation), so the "previous" snapshot is derived deterministically:
    * docs with doc_id%10=7 are absent from prev (→ added), docs with
    * doc_id%11=5 are absent from cur (→ removed), docs with doc_id%13=0
    * carry a mutated prev text (→ changed). */
  private val corpusDiffCtes: String =
    s"""prev AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' legacy-rev' ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 <> 7
       |),
       |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 5),
       |ph AS (SELECT doc_id, md5(text) AS h_prev FROM prev),
       |ch AS (SELECT doc_id, md5(text) AS h_cur FROM cur),
       |dj AS (
       |  SELECT coalesce(ph.doc_id, ch.doc_id) AS doc_id, h_prev, h_cur
       |  FROM ph FULL OUTER JOIN ch ON ph.doc_id = ch.doc_id
       |)""".stripMargin

  /** Mirror of [[graft.pipelines.CorpusDiff.diff]] over the derived
    * snapshots. */
  val corpusDiffSql: String =
    s"""WITH $corpusDiffCtes
       |SELECT doc_id,
       |  CASE WHEN h_prev IS NULL THEN 'added'
       |       WHEN h_cur IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status
       |FROM dj
       |WHERE h_prev IS NULL OR h_cur IS NULL OR h_prev <> h_cur""".stripMargin

  /** Mirror of [[graft.pipelines.CorpusDiff.diffStats]]. */
  val corpusDiffStatsSql: String =
    s"""WITH $corpusDiffCtes
       |SELECT
       |  CAST(sum(CASE WHEN h_prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(sum(CASE WHEN h_cur IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN h_prev IS NOT NULL AND h_cur IS NOT NULL AND h_prev <> h_cur THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN h_prev = h_cur THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
       |FROM dj""".stripMargin

  /** Feature chain for the TRAINED quality classifier (mirror of
    * [[graft.text.QualityClassifier.features]]): qcf(doc_id, label, pr,
    * sr, ttr, lt). pr/sr/ttr are exact double ratios of longs
    * (bit-identical across engines); lt = ln(1+n_tokens) has <=1-ulp
    * drift that dies in the round-6 score. */
  private val qcFeatureChain: String =
    s"""$tclCte,
       |qcm AS (
       |  SELECT doc_id, lang,
       |    CAST(len(tl) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(tl)) AS BIGINT) AS n_distinct,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(tl, t -> t IN (${Stopwords.sqlList}))) AS BIGINT) AS n_stop
       |  FROM tcl
       |),
       |qcf AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS label,
       |    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
       |    CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS sr,
       |    CASE WHEN n_tokens > 0 THEN n_distinct / n_tokens ELSE 0.0 END AS ttr,
       |    ln(1 + n_tokens) AS lt
       |  FROM qcm
       |)""".stripMargin

  /** w·x with LITERAL trained weights, written left-associated in weight
    * order — the same evaluation order the engine's `dot` Column builds,
    * so both engines round identically at every fused add. */
  private def qcDot(w: Seq[Double]): String =
    s"${w(0)} + ${w(1)} * pr + ${w(2)} * sr + ${w(3)} * ttr + ${w(4)} * lt"

  /** qcp(doc_id, label, score, pred): round-6 sigmoid score + threshold
    * on the ROUNDED value, shared by the score and eval oracles. */
  private def qcScoredChain(w: Seq[Double]): String =
    s"""$qcFeatureChain,
       |qcp AS (
       |  SELECT doc_id, label,
       |    round(1.0 / (1.0 + exp(-(${qcDot(w)}))), 6) AS score
       |  FROM qcf
       |)""".stripMargin

  /** Mirror of [[graft.text.QualityClassifier.score]] given the stashed
    * trained weights (the ann_ivf_topk pattern: deterministic training
    * isn't SQL-mirrorable, scoring given the model is). */
  def qualityClassifierScoreSql(w: Seq[Double]): String =
    s"""WITH ${qcScoredChain(w)}
       |SELECT doc_id, label, score,
       |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM qcp""".stripMargin

  /** Mirror of [[graft.text.QualityClassifier.eval]]: one-row confusion
    * counts + accuracy/precision/recall/F1 with the same zero-denominator
    * guards as the engine. */
  def qualityClassifierEvalSql(w: Seq[Double]): String =
    s"""WITH ${qcScoredChain(w)},
       |cm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN label = 1 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN label = 0 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN label = 1 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN label = 0 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM qcp
       |)
       |SELECT n, tp, fp, fn, tn,
       |  round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
       |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END, 6) AS precision,
       |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END, 6) AS recall,
       |  round(CASE WHEN 2.0 * tp + fp + fn > 0 THEN 2.0 * tp / (2.0 * tp + fp + fn) ELSE 0.0 END, 6) AS f1
       |FROM cm""".stripMargin

  /** Mirror of [[graft.text.QualityClassifier.calibration]]: score-decile
    * reliability table. Bins cut on the ROUNDED score; the per-bin mean
    * accumulates DECIMAL(28,18) and divides once (order-independent);
    * gap derives from the two already-rounded columns. */
  def qualityClassifierCalibrationSql(w: Seq[Double], nBins: Int = 10): String =
    s"""WITH ${qcScoredChain(w)},
       |cb AS (
       |  SELECT least(CAST(floor(score * $nBins) AS BIGINT), ${nBins - 1}) AS bin, label, score
       |  FROM qcp
       |),
       |cg AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS n_pos,
       |         sum(CAST(score AS DECIMAL(28,18))) AS s
       |  FROM cb GROUP BY bin
       |)
       |SELECT bin, n, n_pos, pos_rate, mean_score,
       |       round(abs(mean_score - pos_rate), 6) AS gap
       |FROM (
       |  SELECT bin, n, n_pos,
       |         round(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
       |         round(CAST(s AS DOUBLE) / n, 6) AS mean_score
       |  FROM cg
       |)""".stripMargin

  def qualityClassifierCalibrationSqlFromLastModel: Option[String] =
    graft.text.QualityClassifier.lastWeights.map(qualityClassifierCalibrationSql(_))

  /** Mirror of [[graft.text.QualityClassifier.aucScored]]: tie-averaged
    * Mann-Whitney rank-sum AUC — integer cumulatives over the per-score
    * tied-group table, DECIMAL(38,0) rank-sum accumulation, one final
    * float division. */
  def qualityClassifierAucSql(w: Seq[Double]): String =
    s"""WITH ${qcScoredChain(w)},
       |g AS (
       |  SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS np
       |  FROM qcp GROUP BY score
       |),
       |c AS (
       |  SELECT n, np,
       |         sum(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cumn
       |  FROM g
       |),
       |a AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(np) AS BIGINT) AS n_pos,
       |         CAST(sum(n - np) AS BIGINT) AS n_neg,
       |         CAST(sum(CAST(np AS HUGEINT) * (2 * (cumn - n) + n + 1)) AS DECIMAL(38,0)) AS s2
       |  FROM c
       |)
       |SELECT n, n_pos, n_neg,
       |  round(CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN CAST(s2 - CAST(n_pos * (n_pos + 1) AS DECIMAL(38,0)) AS DOUBLE) /
       |         (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
       |    ELSE 0.5 END, 6) AS auc
       |FROM a""".stripMargin

  def qualityClassifierAucSqlFromLastModel: Option[String] =
    graft.text.QualityClassifier.lastWeights.map(qualityClassifierAucSql)

  def qualityClassifierScoreSqlFromLastModel: Option[String] =
    graft.text.QualityClassifier.lastWeights.map(qualityClassifierScoreSql)

  def qualityClassifierEvalSqlFromLastModel: Option[String] =
    graft.text.QualityClassifier.lastWeights.map(qualityClassifierEvalSql)

  /** Mirror of the quantile quality gate: keep documents at or above the
    * corpus's own `p`-quantile of the (6-digit-rounded) quality score.
    * Both the scores and the threshold round to 6 digits BEFORE the
    * comparison — the 1-ulp interpolation drift between `percentile` and
    * `quantile_cont` dies in the rounding, so the boundary set is
    * engine-identical. */
  def qualityGateSql(p: Double): String =
    s"""WITH $qualityChain,
       |qv AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(1.5 - 4.0 * pr - 1.0 * sr))), 6) AS q FROM r),
       |t AS (SELECT round(quantile_cont(q, $p), 6) AS thr FROM qv)
       |SELECT qv.doc_id, d.lang, qv.q
       |FROM qv JOIN documents d ON qv.doc_id = d.doc_id CROSS JOIN t
       |WHERE qv.q >= t.thr""".stripMargin

  /** ONE definition of the lang-ID score selects and the argmax chain,
    * shared by [[langIdSql]] and [[langConfusionSql]] (a drifted copy
    * would break one query's parity while the other still passes). */
  private val langScoreSelects: String = {
    def occ(sig: String): String = {
      val esc = sig.replace("'", "''")
      s"((length(text) - length(replace(text, '$esc', ''))) // ${sig.length})"
    }
    TextAnalysis.profiles.map { case (l, sigs) =>
      s"CAST(${sigs.map(occ).mkString(" + ")} AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
  }
  private val langPredChain: String = {
    val langs = TextAnalysis.profiles.map(_._1)
    langs.zipWithIndex.init.foldRight(s"'${langs.last}'") {
      case ((l, i), rest) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN $conds THEN '$l' ELSE $rest END"
    }
  }

  /** Mirror of [[graft.pipelines.CorpusReport.report]]: the one-row
    * corpus summary; quality quartiles ride the shared quality chain and
    * round to 6 digits on both engines (the [[qualityGateSql]]
    * discipline). */
  val corpusReportSql: String =
    s"""WITH $qualityChain,
       |qv AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(1.5 - 4.0 * pr - 1.0 * sr))), 6) AS q FROM r),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
       |  FROM documents
       |),
       |cards AS (
       |  SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents
       |),
       |quart AS (
       |  SELECT round(quantile_cont(q, 0.25), 6) AS p25_quality,
       |         round(quantile_cont(q, 0.5), 6) AS p50_quality,
       |         round(quantile_cont(q, 0.75), 6) AS p75_quality
       |  FROM qv
       |)
       |SELECT n_docs, n_sources, n_langs, total_chars,
       |       round(total_chars / n_docs, 6) AS mean_chars,
       |       n_docs - n_distinct_texts AS n_dup_docs,
       |       p25_quality, p50_quality, p75_quality
       |FROM base CROSS JOIN cards CROSS JOIN quart""".stripMargin

  val langIdSql: String = {
    val langs = TextAnalysis.profiles.map(_._1)
    s"""WITH s AS (
       |  SELECT doc_id,
       |    $langScoreSelects
       |  FROM documents
       |)
       |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")}, $langPredChain AS lang_pred FROM s""".stripMargin
  }

  /** Mirror of [[graft.text.TextAnalysis.bpePairCounts]]: word-frequency
    * table, pair explode over distinct words (DuckDB `range(1, len)` is
    * half-open = Spark's inclusive `sequence(1, len - 1)`), weighted pair
    * counts, deterministic top-k. */
  def bpePairCountsSql(k: Int): String =
    s"""WITH $tclCte,
       |wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(tl) AS w FROM tcl) GROUP BY w
       |),
       |pr AS (
       |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
       |  FROM (SELECT w, wc, unnest(range(1, length(w))) AS i FROM wf WHERE length(w) >= 2)
       |),
       |pc AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS c FROM pr GROUP BY pair)
       |SELECT pair, c FROM pc ORDER BY c DESC, pair LIMIT $k""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.tokenizeBpe]] GIVEN the trained
    * merge table as literals (the ann_ivf_topk injected-model pattern):
    * greedy apply as a RECURSIVE CTE over the distinct-word table — each
    * step merges the LEFTMOST occurrence of the LOWEST-RANK applicable
    * pair (rank = list_position in the literal merge list), terminating
    * when no adjacent pair is in the table; the final state per word is
    * its minimum-length row. One-at-a-time is equivalent to
    * rank-order-all-occurrences apply (see BpeEncodeExpr's scaladoc),
    * and both engines break rank ties leftmost. Doc counts then join the
    * occurrence table on the word, as the engine does. */
  def tokenizeBpeSql(merges: Seq[(String, String)]): String =
    s"""WITH RECURSIVE ${tokenizeBpeCtes(merges)}
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
       |       CAST(sum(n * n_sub) AS BIGINT) AS n_bpe_tokens,
       |       round(CAST(sum(n * n_sub) AS DOUBLE) / sum(n), 6) AS subwords_per_word
       |FROM occ JOIN fin USING (w) GROUP BY doc_id""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.scrubSubstringDups]]: the merged
    * removal spans ([[substringSpansSql]]'s rs→mi chain) cut out of each
    * text — kept HEAD pieces via lag-window complements string_agg'd in
    * span order, plus the tail after the last span; span-free documents
    * pass through. Equivalent algebra to the engine's row-local fold
    * (spans are merged and disjoint, so piece order is unambiguous). */
  def scrubSubstringSql(minLen: Int): String =
    s"""WITH ${substringSpanCtes(minLen)},
       |kp AS (
       |  SELECT doc_id, s, e,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ps
       |  FROM sp2
       |),
       |agg AS (
       |  SELECT kp.doc_id,
       |         string_agg(substr(d.text, CAST(ps AS INT), CAST(s - ps AS INT)), '' ORDER BY s) AS headpieces,
       |         max(e) AS maxe, CAST(sum(e - s) AS BIGINT) AS removed
       |  FROM kp JOIN documents d ON kp.doc_id = d.doc_id GROUP BY kp.doc_id
       |)
       |SELECT d.doc_id,
       |       CASE WHEN a.doc_id IS NULL THEN d.text
       |            ELSE coalesce(a.headpieces, '') || substr(d.text, CAST(a.maxe AS INT)) END AS clean_text,
       |       coalesce(a.removed, CAST(0 AS BIGINT)) AS n_removed_chars
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Mirror of the pack_sequences_bpe registry entry: greedy packing by
    * REAL subword lengths — the [[packSql]] cumulative-bin construction
    * fed by the recursive-CTE BPE apply instead of n_chars. */
  def tokenizeBpePackSql(merges: Seq[(String, String)], windowSize: Long): String =
    s"""WITH RECURSIVE ${tokenizeBpeCtes(merges)},
       |bpedoc AS (
       |  SELECT doc_id, CAST(sum(n * n_sub) AS BIGINT) AS n_bpe_tokens
       |  FROM occ JOIN fin USING (w) GROUP BY doc_id
       |),
       |c AS (
       |  SELECT doc_id, n_bpe_tokens,
       |         sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM bpedoc
       |)
       |SELECT doc_id, n_bpe_tokens,
       |       CAST((cum - n_bpe_tokens) // $windowSize AS BIGINT) AS bin FROM c""".stripMargin

  private def tokenizeBpeCtes(merges: Seq[(String, String)]): String = {
    val lit = merges
      .map { case (a, b) => "'" + (a + " " + b).replace("'", "''") + "'" }
      .mkString("[", ", ", "]")
    s"""$tclCte,
       |occ AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, unnest(tl) AS w FROM tcl) GROUP BY doc_id, w
       |),
       |wl AS (SELECT DISTINCT w FROM occ),
       |init AS (
       |  SELECT w, list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT):CAST(i AS INT)]) AS syms
       |  FROM wl
       |),
       |enc AS (
       |  SELECT w, syms FROM init
       |  UNION ALL
       |  SELECT w, syms[1:pos-1] || [syms[pos] || syms[pos+1]] || syms[pos+2:] AS syms
       |  FROM (
       |    SELECT w, syms, list_min(rk) AS best,
       |           CAST(list_position(rk, list_min(rk)) AS INT) AS pos
       |    FROM (
       |      SELECT w, syms,
       |             list_transform(range(1, len(syms)),
       |               -- list_position returns 0 (not NULL) for a missing
       |               -- element on this engine; 0 would read as rank-0 and
       |               -- greedily merge UNKNOWN pairs — nullif maps it out
       |               i -> coalesce(nullif(list_position($lit, syms[i] || ' ' || syms[i+1]), 0), 1000000)) AS rk
       |      FROM enc
       |    )
       |  ) WHERE best < 1000000
       |),
       |fin AS (
       |  SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc
       |  QUALIFY row_number() OVER (PARTITION BY w ORDER BY len(syms) ASC) = 1
       |)""".stripMargin
  }

  def tokenizeBpeSqlFromLastModel: Option[String] =
    graft.text.TextAnalysis.lastBpeMerges.map(tokenizeBpeSql)

  /** Oracle SQL for the serve-only indexed twin, from its OWN stash —
    * never the rebuild entry's merge table. */
  def tokenizeBpeSqlFromIndexedModel: Option[String] =
    graft.text.TextAnalysis.lastBpeMergesIndexed.map(tokenizeBpeSql)

  def tokenizeBpePackSqlFromLastModel(windowSize: Long): Option[String] =
    graft.text.TextAnalysis.lastBpeMerges.map(tokenizeBpePackSql(_, windowSize))

  /** Mirror of [[graft.text.TextAnalysis.tokenizeUnigramWith]]: the
    * Viterbi-best piece count per distinct word as a recursive-CTE DP
    * over codepoint positions, then the same occurrence-join per-doc
    * aggregation as the BPE oracle. The (piece, packedVal) model is
    * injected as parallel literal lists — both engines sum the SAME
    * driver-quantized integers (see UnigramCountExpr's packing
    * contract), so the DP is exact integer arithmetic here too. The dp
    * CTE carries one row per (word, prefix length): `best[j+1]` is the
    * packed optimum for the length-j prefix, each step appends the max
    * over piece lengths 1..maxPieceLen, with the UNK fallback only at
    * l = 1 (a missing longer piece contributes NULL, which list-max
    * ignores). */
  def tokenizeUnigramSql(model: Seq[(String, Long)], maxPieceLen: Int): String = {
    val piecesLit = model.map { case (p, _) => "'" + p.replace("'", "''") + "'" }
      .mkString("[", ", ", "]")
    val valsLit = model.map { case (_, v) => v.toString }.mkString("[", ", ", "]")
    val unk = graft.functions.UnigramEncode.unkVal
    s"""WITH RECURSIVE $tclCte,
       |occ AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id, unnest(tl) AS w FROM tcl) GROUP BY doc_id, w
       |),
       |wl AS (SELECT DISTINCT w FROM occ),
       |dp AS (
       |  SELECT w, 0 AS i, [CAST(0 AS BIGINT)] AS best FROM wl
       |  UNION ALL
       |  SELECT w, i + 1,
       |         best || [list_aggregate(
       |           list_transform(range(1, least($maxPieceLen, i + 1) + 1),
       |             l -> best[CAST(i - l + 2 AS INT)] + coalesce(
       |                    ($valsLit::BIGINT[])[
       |                      nullif(list_position($piecesLit, w[CAST(i - l + 2 AS INT):CAST(i + 1 AS INT)]), 0)],
       |                    CASE WHEN l = 1 THEN CAST($unk AS BIGINT) END)),
       |           'max')]
       |  FROM dp WHERE i < length(w)
       |),
       |fin AS (
       |  SELECT w, CASE WHEN length(w) >= 1024 THEN CAST(length(w) AS BIGINT)
       |              ELSE ((-(best[CAST(length(w) + 1 AS INT)])) % 1024 + 1024) % 1024
       |            END AS n_sub
       |  FROM dp WHERE i = length(w)
       |)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
       |       CAST(sum(n * n_sub) AS BIGINT) AS n_unigram_tokens,
       |       round(CAST(sum(n * n_sub) AS DOUBLE) / sum(n), 6) AS pieces_per_word
       |FROM occ JOIN fin USING (w) GROUP BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.text.TextAnalysis.tokenizerEval]] GIVEN the two
    * persisted models: the BPE and unigram per-doc chains run as NESTED
    * recursive CTEs (their occ/wl/fin names shadow safely inside their
    * own scopes), the word/char totals come from one tcl pass, and the
    * five ratios derive from the same exact integer totals. */
  def tokenizerEvalSql(merges: Seq[(String, String)],
                       model: Seq[(String, Long)], maxPieceLen: Int): String =
    s"""WITH b AS (
       |${tokenizeBpeSql(merges)}
       |),
       |u AS (
       |${tokenizeUnigramSql(model, maxPieceLen)}
       |),
       |$tclCte,
       |cw AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(length(w)) AS BIGINT) AS n_chars
       |  FROM (SELECT unnest(tl) AS w FROM tcl)
       |),
       |bt AS (SELECT CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens FROM b),
       |ut AS (SELECT CAST(sum(n_unigram_tokens) AS BIGINT) AS n_unigram_tokens FROM u)
       |SELECT n_words, n_chars, n_bpe_tokens, n_unigram_tokens,
       |       round(CAST(n_chars AS DOUBLE) / n_words, 6) AS chars_per_word,
       |       round(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS bpe_per_word,
       |       round(CAST(n_unigram_tokens AS DOUBLE) / n_words, 6) AS pieces_per_word,
       |       round(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS chars_per_bpe_token,
       |       round(CAST(n_chars AS DOUBLE) / n_unigram_tokens, 6) AS chars_per_piece
       |FROM cw CROSS JOIN bt CROSS JOIN ut""".stripMargin

  def tokenizerEvalSqlFromLastModels(maxPieceLen: Int): Option[String] =
    for {
      m <- graft.text.TextAnalysis.lastEvalBpeMerges
      u <- graft.text.TextAnalysis.lastEvalUnigramModel
    } yield tokenizerEvalSql(m, u, maxPieceLen)

  def tokenizeUnigramSqlFromLastModel(maxPieceLen: Int): Option[String] =
    graft.text.TextAnalysis.lastUnigramModel.map(tokenizeUnigramSql(_, maxPieceLen))

  /** Oracle SQL for the serve-only indexed twin, from its OWN stash. */
  def tokenizeUnigramSqlFromIndexedModel(maxPieceLen: Int): Option[String] =
    graft.text.TextAnalysis.lastUnigramModelIndexed.map(tokenizeUnigramSql(_, maxPieceLen))

  /** raw -> s CTE chain shared by [[urlCanonicalSql]] and
    * [[urlDomainStatsSql]]: the deterministic messy-URL derivation (the
    * scrub_pii pattern — testdata has no url column, so one is built
    * from existing columns, exercising every canonicalization rule:
    * scheme/host case, www, default vs NON-default ports, trailing
    * slash, tracking params, fragments), then the same 6-rule algebra
    * as [[graft.ops.UrlOps.canonicalUrl]]. All regexes are anchored or
    * single-occurrence, so DuckDB's replace-first default matches
    * Spark's replace-all. */
  private val urlCtes: String =
    s"""raw AS (
       |  SELECT doc_id,
       |    (CASE doc_id % 4 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'https://WWW.'
       |          WHEN 2 THEN 'HTTPS://' ELSE 'http://www.' END) ||
       |    source || '.Example.COM' ||
       |    (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE '' END) ||
       |    '/Docs/' || lang || '/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
       |    '?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR) ||
       |    '&fbclid=xyz' ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '&ref=home' ELSE '' END) ||
       |    '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
       |  FROM documents
       |),
       |pp AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u FROM raw),
       |qq AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(u, '^([^:/?#]+)://', 1)) AS scheme,
       |    regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1) AS hostport,
       |    regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS pathq
       |  FROM pp
       |),
       |rr AS (
       |  SELECT doc_id, url, scheme,
       |    regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
       |    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$$', '')), '^www\\.', '') AS host,
       |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') AS path,
       |    regexp_extract(pathq, '\\?(.*)$$', 1) AS query
       |  FROM qq
       |),
       |ss AS (
       |  SELECT doc_id, url, scheme, host, path,
       |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |              OR (scheme = 'https' AND port = '443')
       |         THEN '' ELSE ':' || port END AS portpart,
       |    array_to_string(list_filter(string_split(query, '&'),
       |      x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'gclid=')
       |                OR starts_with(x, 'fbclid=') OR starts_with(x, 'ref=')
       |                OR x = '')), '&') AS kq
       |  FROM rr
       |),
       |canon AS (
       |  SELECT doc_id, url,
       |    scheme || '://' || host || portpart || path ||
       |      (CASE WHEN kq = '' THEN '' ELSE '?' || kq END) AS canonical_url,
       |    host AS domain
       |  FROM ss
       |)""".stripMargin

  /** Mirror of the url_canonical registry entry. */
  /** Derived multi-line page (mirror of `SparkEntry.pageText`):
    * corpus-wide banner, per-source nav, short repeated line, unique
    * body, doc_id-gated footer — `concat_ws` skips the NULL branch in
    * both engines. */
  private val pageTextCte: String =
    s"""pg AS (
       |  SELECT doc_id, concat_ws(chr(10),
       |    'Subscribe to our newsletter today!',
       |    'Navigation for ' || source || ': home | about | contact',
       |    'ok',
       |    text,
       |    CASE WHEN doc_id % 3 = 0 THEN '(c) Example Site - all rights reserved' ELSE NULL END) AS text
       |  FROM documents
       |)""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.boilerplateLines]] over the
    * derived page: distinct (doc, trimmed line) pass, df count,
    * deterministic (df desc, line asc) top-k. */
  def boilerplateLinesSql(minDf: Long, minLineChars: Int, topK: Int): String =
    s"""WITH $pageTextCte,
       |pl AS (
       |  SELECT DISTINCT doc_id, trim(raw) AS line
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS raw FROM pg)
       |  WHERE length(trim(raw)) >= $minLineChars
       |)
       |SELECT line, CAST(count(*) AS BIGINT) AS df
       |FROM pl GROUP BY line HAVING count(*) >= $minDf
       |ORDER BY df DESC, line ASC LIMIT $topK""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.scrubBoilerplateLines]]: the
    * same df set, then an ARRAY-LOCAL filter per document (order
    * preserved, original bytes kept — equal to the engine's
    * anti-join + pos-sorted reassembly). */
  def scrubBoilerplateLinesSql(minDf: Long, minLineChars: Int): String =
    s"""WITH $pageTextCte,
       |pl AS (
       |  SELECT DISTINCT doc_id, trim(raw) AS line
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS raw FROM pg)
       |  WHERE length(trim(raw)) >= $minLineChars
       |),
       |bp AS (
       |  -- COALESCE: an empty boilerplate set must keep every line
       |  -- (list_contains on NULL would NULL the lambda and drop all)
       |  SELECT COALESCE(list(line), []::VARCHAR[]) AS bl
       |  FROM (SELECT line FROM pl GROUP BY line HAVING count(*) >= $minDf)
       |)
       |SELECT doc_id,
       |       COALESCE(array_to_string(list_filter(l, x -> NOT list_contains(bl, trim(x))), chr(10)), '') AS clean_text,
       |       CAST(len(l) AS BIGINT) AS n_lines,
       |       CAST(len(list_filter(l, x -> NOT list_contains(bl, trim(x)))) AS BIGINT) AS n_kept_lines
       |FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM pg) CROSS JOIN bp""".stripMargin

  /** Mirror of the `extract_html_text` query: the deterministic page
    * derivation (mirror of `SparkEntry.messyHtml`) and the SAME
    * fixed-order extraction chain as
    * [[graft.text.TextAnalysis.extractHtmlText]] — lazy `(?s)` block
    * removal, tag strip, entity decode with `&amp;` last, whitespace
    * collapse; RE2's leftmost-shortest lazy match equals Java's, so the
    * strings agree byte-for-byte. */
  val extractHtmlSql: String = {
    val esc = "regexp_replace(regexp_replace(regexp_replace(text, '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g')"
    val html =
      s"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         |      '</title><style type="text/css">p {{ margin: 0; }}</style>' ||
         |      '<script>var t = "<p>not text</p>"; if (1 < 2) {{ t = t; }}</script></head><body>' ||
         |      CASE WHEN doc_id % 2 = 0 THEN '<h1 class="hd">Heading &amp; intro</h1>' ELSE '' END ||
         |      '<!-- boilerplate' || chr(10) || 'nav -->' ||
         |      '<p id="main">' || $esc || '</p><br/>' ||
         |      '<div><span>tail&nbsp;note &#39;quoted&#39;</span></div>' ||
         |      '</body></html>'""".stripMargin.replace("{{", "{").replace("}}", "}")
    s"""WITH raw AS (
       |  SELECT doc_id, $html AS html FROM documents
       |),
       |nb AS (
       |  SELECT doc_id, html,
       |    regexp_replace(regexp_replace(regexp_replace(html,
       |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '(?s)<!--.*?-->', ' ', 'g') AS s1
       |  FROM raw
       |),
       |dec AS (
       |  SELECT doc_id, html,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(s1, '<[^>]*>', ' ', 'g'),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |      '&#39;', CAST(chr(39) AS VARCHAR), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS s2
       |  FROM nb
       |)
       |SELECT doc_id,
       |       CAST(length(html) AS BIGINT) AS n_chars_html,
       |       CAST(length(trim(regexp_replace(s2, '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_text,
       |       trim(regexp_replace(s2, '\\s+', ' ', 'g')) AS clean_text
       |FROM dec""".stripMargin
  }

  def urlCanonicalSql: String =
    s"""WITH $urlCtes
       |SELECT doc_id, url, canonical_url, domain FROM canon""".stripMargin

  /** Mirror of the url_domain_stats registry entry: per-domain doc and
    * distinct-canonical-url counts — the per-domain dedup/mixture view. */
  def urlDomainStatsSql: String =
    s"""WITH $urlCtes
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_unique_urls,
       |       round(1.0 - CAST(count(DISTINCT canonical_url) AS DOUBLE) / count(*), 6) AS dup_ratio
       |FROM canon GROUP BY domain""".stripMargin

  /** Shared CTEs of the text_normalize_* queries: the deterministic
    * messy-text derivation (mirror of `SparkEntry.messyText` — chr()
    * codes, so no escape sequence survives a JSON round-trip) and the
    * fixed-order normalization chain (mirror of
    * [[graft.text.TextNormalize.normalizeText]]): NFC, then CRLF/CR to
    * LF, then zero-width removal, then NBSP to space, then C0/DEL strip
    * keeping LF+TAB. RE2's \x{...} classes are the Java \u classes;
    * nfc_normalize (utf8proc) and the JDK Normalizer both implement
    * UAX #15 canonical composition, which is version-stable. */
  private val textNormalizeCtes: String =
    s"""rawt AS (
       |  SELECT doc_id, lang,
       |    substr(text, 1, 60) ||
       |    (CASE doc_id % 4
       |       WHEN 0 THEN ' cafe' || chr(769)
       |       WHEN 1 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
       |       WHEN 2 THEN ' caf' || chr(233)
       |       ELSE '' END) ||
       |    (CASE doc_id % 3 WHEN 0 THEN chr(13) || chr(10)
       |          WHEN 1 THEN chr(13) ELSE chr(10) END) ||
       |    'tail' || chr(160) || 'x' ||
       |    (CASE WHEN doc_id % 5 = 0 THEN chr(8203) || 'zw' ELSE '' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END) AS raw
       |  FROM documents
       |),
       |norm AS (
       |  SELECT doc_id, lang, raw,
       |    regexp_replace(
       |      replace(
       |        regexp_replace(
       |          regexp_replace(nfc_normalize(raw), '\\r\\n?', chr(10), 'g'),
       |          '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
       |        chr(160), ' '),
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS text_norm
       |  FROM rawt
       |)""".stripMargin

  /** Mirror of the text_normalize_unicode registry entry. */
  def textNormalizeUnicodeSql: String =
    s"""WITH $textNormalizeCtes
       |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len, text_norm,
       |       CAST(length(text_norm) AS BIGINT) AS norm_len,
       |       CAST(length(raw) - length(text_norm) AS BIGINT) AS n_removed,
       |       CAST(CASE WHEN raw <> text_norm THEN 1 ELSE 0 END AS BIGINT) AS changed
       |FROM norm""".stripMargin

  /** Mirror of the text_normalize_stats registry entry: per-lang doc
    * and removed-char totals. */
  def textNormalizeStatsSql: String =
    s"""WITH $textNormalizeCtes
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN raw <> text_norm THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |       CAST(sum(length(raw) - length(text_norm)) AS BIGINT) AS chars_removed
       |FROM norm GROUP BY lang""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.noveltyScores]] with even doc_ids as
    * the reference corpus: distinct reference shingles, a shingle-keyed
    * membership probe, round-6 novelty. */
  val noveltySql: String =
    s"""WITH $tclCte,
       |$shCte,
       |ref AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
       |agg AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |         CAST(sum(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
       |  FROM sh s LEFT JOIN ref r ON s.shingle = r.shingle
       |  WHERE s.doc_id % 2 = 1 GROUP BY s.doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(agg.n_shingles, 0) AS n_shingles,
       |       COALESCE(agg.n_seen, 0) AS n_seen,
       |       CASE WHEN COALESCE(agg.n_shingles, 0) > 0
       |            THEN round(1.0 - CAST(agg.n_seen AS DOUBLE) / agg.n_shingles, 6)
       |            ELSE 0.0 END AS novelty
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |WHERE d.doc_id % 2 = 1""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.langConfusion]]: the labeled ×
    * predicted language contingency table. */
  val langConfusionSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    $langScoreSelects
       |  FROM documents
       |),
       |p AS (SELECT lang, $langPredChain AS lang_pred FROM s)
       |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY lang, lang_pred""".stripMargin

  /** Mirror of [[graft.dedup.Dedup.clusterSizeHistogram]]: component
    * sizes from the shared exact transitive closure, plus the singleton
    * row (corpus minus graph vertices). */
  val clusterSizeHistogramSql: String =
    s"""WITH RECURSIVE $componentsChain,
       |sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component),
       |hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY cluster_size),
       |singleton AS (
       |  SELECT CAST(1 AS BIGINT) AS cluster_size,
       |         CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS BIGINT) AS n_clusters
       |),
       |uni AS (SELECT * FROM hist UNION ALL SELECT * FROM singleton WHERE n_clusters > 0)
       |SELECT cluster_size, n_clusters, CAST(cluster_size * n_clusters AS BIGINT) AS n_docs FROM uni""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.perplexityBuckets]]: the full
    * LM-score query as a nested CTE, tercile thresholds via
    * `quantile_cont` rounded to 6 digits before comparing (the
    * [[qualityGateSql]] boundary discipline). */
  // lazy: textually precedes the lmScoreSql val it embeds — a strict val
  // would interpolate null during object init
  lazy val perplexityBucketsSql: String =
    s"""WITH ls AS (
       |$lmScoreSql
       |),
       |thr AS (
       |  SELECT round(quantile_cont(avg_logprob, CAST(1.0/3.0 AS DOUBLE)), 6) AS t1,
       |         round(quantile_cont(avg_logprob, CAST(2.0/3.0 AS DOUBLE)), 6) AS t2
       |  FROM ls
       |)
       |SELECT doc_id, avg_logprob,
       |       CASE WHEN avg_logprob >= t2 THEN 'head'
       |            WHEN avg_logprob >= t1 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM ls CROSS JOIN thr""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.gopherRules]] at its default
    * thresholds (50/100000 words, mean len 3-10, symbol ratio 0.1,
    * bullet 0.9 / ellipsis 0.3 line shares, alpha 0.8, 2 required
    * stopwords). Signals round to 6 digits BEFORE the threshold
    * comparison on both engines, so the pass boolean is boundary-safe. */
  val gopherRulesSql: String = {
    val stops = TextAnalysis.gopherReqStops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CASE WHEN len(w) > 0 THEN round(list_sum(list_transform(w, x -> length(x))) / len(w), 6) ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN len(w) > 0 THEN round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) // 3) / len(w), 6) ELSE 0.0 END AS symbol_ratio,
       |    round(len(list_filter(l, x -> starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•'))) / len(l), 6) AS bullet_frac,
       |    round(len(list_filter(l, x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…'))) / len(l), 6) AS ellipsis_frac,
       |    CASE WHEN len(w) > 0 THEN round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w), 6) ELSE 0.0 END AS alpha_frac,
       |    CAST(len(list_intersect(list_distinct(string_split_regex(lower(text), '[^a-z]+')), $stops)) AS BIGINT) AS n_req_stops
       |  FROM (
       |    SELECT doc_id, text,
       |           list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS w,
       |           string_split(text, chr(10)) AS l
       |    FROM documents
       |  )
       |)
       |SELECT *,
       |       (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |        AND alpha_frac >= 0.8 AND n_req_stops >= 2) AS pass_gopher
       |FROM sig""".stripMargin
  }

  /** The retained-line lambda shared by the two C4 mirrors — same
    * predicate order as [[graft.text.TextAnalysis]]'s `c4KeptLines`. */
  private def c4KeptSql(minLineWords: Int): String =
    s"""list_filter(l, x -> (ends_with(rtrim(x), '.') OR ends_with(rtrim(x), '!') OR ends_with(rtrim(x), '?') OR ends_with(rtrim(x), '"'))
       |      AND len(list_filter(string_split_regex(x, '\\s+'), y -> length(y) > 0)) >= $minLineWords
       |      AND NOT contains(lower(x), 'javascript'))""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.c4Rules]] (minLineWords=3,
    * minSentences=5): line splits, the retained-line predicate, terminal
    * punctuation counts over the retained text via the same
    * length-difference trick, and the page tells. */
  val c4RulesSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, string_split(text, chr(10)) AS l FROM documents
       |),
       |k AS (
       |  SELECT doc_id, text,
       |    CAST(len(l) AS BIGINT) AS n_lines,
       |    CAST(len(l) AS BIGINT) > 0 AS has_lines,
       |    ${c4KeptSql(3)} AS kl
       |  FROM base
       |),
       |s AS (
       |  SELECT doc_id, n_lines, has_lines,
       |    CAST(len(kl) AS BIGINT) AS n_kept,
       |    CAST(length(kt) - length(replace(kt, '.', '')) AS BIGINT)
       |      + CAST(length(kt) - length(replace(kt, '!', '')) AS BIGINT)
       |      + CAST(length(kt) - length(replace(kt, '?', '')) AS BIGINT) AS n_sentences,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM (SELECT *, COALESCE(array_to_string(kl, chr(10)), '') AS kt FROM k)
       |)
       |SELECT doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
       |       CASE WHEN has_lines THEN round(n_kept / n_lines, 6) ELSE 0.0 END AS kept_frac,
       |       (NOT has_lorem AND NOT has_brace AND n_sentences >= 5 AND n_kept >= 1) AS pass_c4
       |FROM s""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.scrubC4Lines]] (minLineWords=3). */
  val scrubC4LinesSql: String =
    s"""SELECT doc_id,
       |       COALESCE(array_to_string(kl, chr(10)), '') AS clean_text,
       |       CAST(len(l) AS BIGINT) AS n_lines,
       |       CAST(len(kl) AS BIGINT) AS n_kept
       |FROM (
       |  SELECT doc_id, l, ${c4KeptSql(3)} AS kl
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents)
       |)""".stripMargin

  /** The full pretrain-pipeline CTE chain (mirrors
    * [[graft.pipelines.PretrainCorpus]] stage for stage): the derived
    * dirty page (`pp`, verbatim mirror of `dirtyPage`), the fixed-order
    * unicode canonicalization (`nn`, the textNormalizeCtes chain), the C4
    * line scrub (`c4`), the cross-document boilerplate scrub (`bp`), the
    * keep-canonical dedup via the recursive exact closure over the
    * scrubbed corpus (`ded`), the cross-side substring decontamination
    * scrub (`dc`, the crossSubstringSpanCtes construction over `ded`),
    * the α-mix token-budget sample (`smp`), and the packing input
    * (`fin`/`pk`). Ends in pk(doc_id, source, n_chars, cum). */
  /** The dirtyPageV2 mirror (verbatim twin of
    * [[graft.pipelines.PretrainCorpus.dirtyPageV2]]) — shared by the
    * v2/v3 pretrain chains and the ingest-gate oracle. */
  private def ppBodyV2Sql(benchPredSql: String): String = {
    val leak = graft.pipelines.PretrainCorpus.LeakSentence
    val idL = "translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')"
    val pairL = "translate(CAST((doc_id // 50) * 50 AS VARCHAR), '0123456789', 'abcdefghij')"
    s"""    'Subscribe to our newsletter today!' || chr(10) ||
       |    'Navigation for ' || source || ': home | about | contact' || chr(10) ||
       |    (CASE WHEN doc_id % 50 IN (7, 8)
       |          THEN 'duplicate payload ' || $pairL || ' quick brown fox jumps tonight'
       |          ELSE text END) || ' cafe' || chr(769) || '.' ||
       |    (CASE WHEN doc_id % 50 NOT IN (7, 8) AND doc_id % 3 = 1
       |          THEN chr(10) || 'Contact u' || $idL || ' at user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555' || CAST(doc_id AS VARCHAR) || '0 now.'
       |          ELSE '' END) ||
       |    (CASE WHEN doc_id % 50 = 11 OR ($benchPredSql)
       |          THEN chr(10) || 'Ref ' || $idL || ': $leak.'
       |          ELSE '' END) ||
       |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '(c) Example Site - all rights reserved.' ELSE '' END) AS text""".stripMargin
  }

  /** One perceptual keep-canonical stage as CTEs (the ladder's
    * image/audio/video stages all stamp this shape): min-id
    * representative collapse over identical fingerprints (+ star edges),
    * capped 4×15-bit pigeonhole band join over representatives with the
    * exact bit_count verify, recursive closure, and the min-id survivor
    * left-anti — the [[graft.dedup.Dedup.bandedHammingPairs]] semantics
    * verbatim. `fpCte` must expose (doc_id, `fpCol`); `fromRel` is the
    * stage input (doc_id, source, text); `outName` the survivor CTE. */
  private def keepCanonChain(px: String, fpCte: String, fpCol: String,
                             fromRel: String, outName: String): String =
    s"""${px}reps AS (SELECT $fpCol, min(doc_id) AS doc_id FROM $fpCte GROUP BY $fpCol),
       |${px}stars AS (
       |  SELECT r.doc_id AS a, f.doc_id AS b
       |  FROM $fpCte f JOIN ${px}reps r ON f.$fpCol = r.$fpCol AND f.doc_id <> r.doc_id
       |),
       |${px}band AS (
       |  SELECT doc_id, $fpCol, band, ($fpCol >> (15 * band)) % 32768 AS bits
       |  FROM ${px}reps, (SELECT unnest([0, 1, 2, 3]) AS band)
       |),
       |${px}cap AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bucket_n FROM ${px}band
       |  ) t WHERE bucket_n <= ${graft.dedup.Dedup.MaxLshBucketSize}
       |),
       |${px}pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM ${px}cap l JOIN ${px}cap r ON l.band = r.band AND l.bits = r.bits AND l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.$fpCol, r.$fpCol)) <= 3
       |  UNION
       |  SELECT a, b FROM ${px}stars
       |),
       |${px}bidir AS (SELECT a AS src, b AS dst FROM ${px}pairs UNION SELECT b, a FROM ${px}pairs),
       |${px}reach(src, dst) AS (
       |  SELECT src, src FROM ${px}bidir
       |  UNION
       |  SELECT r.src, bd.dst FROM ${px}reach r JOIN ${px}bidir bd ON r.dst = bd.src
       |),
       |${px}comp AS (SELECT src AS doc_id, min(dst) AS component FROM ${px}reach GROUP BY src),
       |$outName AS MATERIALIZED (
       |  SELECT q.doc_id, q.source, q.text
       |  FROM $fromRel q LEFT JOIN ${px}comp c ON q.doc_id = c.doc_id
       |  WHERE c.doc_id IS NULL OR c.doc_id = c.component
       |)""".stripMargin

  private def pretrainChainCtes(benchPredSql: String, minLineWords: Int,
                                bpMinDf: Long, bpMinLineChars: Int, minLen: Int,
                                budgetTokens: Long, maxEpochs: Double,
                                nBuckets: Int,
                                gate: Option[(Seq[Double], Double)] = None,
                                imageDedup: Boolean = false,
                                avDedup: Boolean = false): String = {
    require(!avDedup || imageDedup,
      "audio/video keep-canonical composes on top of the image stage (v4 ⊃ v3)")
    val leak = graft.pipelines.PretrainCorpus.LeakSentence
    // v1 page: planted doc_ids stay numeric. v2 page (mirror of
    // dirtyPageV2): planted doc_ids LETTERS-encode (translate) so the PII
    // stage's [0-9]{3,} rule can't merge pair bodies or leak prefixes,
    // plus the per-doc PII line (email + phone) on doc_id % 3 == 1
    // non-pair docs.
    val ppBody =
      if (gate.isEmpty)
        s"""    'Subscribe to our newsletter today!' || chr(10) ||
           |    'Navigation for ' || source || ': home | about | contact' || chr(10) ||
           |    (CASE WHEN doc_id % 50 IN (7, 8)
           |          THEN 'duplicate payload ' || CAST((doc_id // 50) * 50 AS VARCHAR) || ' quick brown fox jumps tonight'
           |          ELSE text END) || ' cafe' || chr(769) || '.' ||
           |    (CASE WHEN doc_id % 50 = 11 OR ($benchPredSql)
           |          THEN chr(10) || 'Ref ' || CAST(doc_id AS VARCHAR) || ': $leak.'
           |          ELSE '' END) ||
           |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '(c) Example Site - all rights reserved.' ELSE '' END) AS text""".stripMargin
      else ppBodyV2Sql(benchPredSql)
    // v2 mid-chain: PII scrub (same regexes as scrub_pii), feature CTE
    // over the scrubbed text (the qcFeatureChain algebra on a lang-less
    // relation), round-6 sigmoid score under the injected literal
    // weights, and the gate (benchmark docs bypass — they are the decon
    // reference set). `preDedup` is what dedup and everything after read.
    val (midCtes, preDedup) = gate match {
      case None => ("", "bp")
      case Some((w, thr)) =>
        import graft.text.TextAnalysis.{digitsPattern, emailPattern}
        (s""",
           |pii AS MATERIALIZED (
           |  SELECT doc_id, source,
           |    regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'), '$digitsPattern', '<NUM>', 'g') AS text
           |  FROM bp
           |),
           |${tclCteNamed("tclq", "(SELECT doc_id, 'x' AS lang, text FROM pii)")},
           |qf AS (
           |  SELECT doc_id,
           |    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
           |    CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS sr,
           |    CASE WHEN n_tokens > 0 THEN n_distinct / n_tokens ELSE 0.0 END AS ttr,
           |    ln(1 + n_tokens) AS lt
           |  FROM (
           |    SELECT doc_id,
           |      CAST(len(tl) AS BIGINT) AS n_tokens,
           |      CAST(len(list_distinct(tl)) AS BIGINT) AS n_distinct,
           |      CAST(length(text) AS BIGINT) AS n_chars,
           |      CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS n_punct,
           |      CAST(len(list_filter(tl, t -> t IN (${Stopwords.sqlList}))) AS BIGINT) AS n_stop
           |    FROM tclq
           |  )
           |),
           |qs AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(${qcDot(w)}))), 6) AS score FROM qf),
           |qg AS MATERIALIZED (
           |  SELECT p.doc_id, p.source, p.text
           |  FROM pii p JOIN qs USING (doc_id)
           |  WHERE ($benchPredSql) OR qs.score >= $thr
           |)""".stripMargin, "qg")
    }
    // v3 stage (mirror of the engine's image keep-canonical between the
    // quality gate and text dedup): phash over the post-gate text, the
    // GUARDED star+representative pair graph (identical collapse, capped
    // hot buckets — the bandedHammingPairs semantics verbatim), recursive
    // closure, keep min-id per component. `dedupInput` is what text dedup
    // and everything after read.
    val (imgCtes, postImg) =
      if (!imageDedup) ("", preDedup)
      else (s""",
           |${phashFpCtes(preDedup, "iqpb", "iqfp")},
           |${keepCanonChain("iq", "iqfp", "phash", preDedup, "img")}""".stripMargin, "img")
    // v4 stages (mirror of the engine's cascaded audio then video
    // keep-canonical after the image stage): each modality fingerprints
    // only the previous stage's survivors, through the same guarded
    // band-join + closure + min-id chain.
    val (avCtes, dedupInput) =
      if (!avDedup) ("", postImg)
      else (s""",
           |${afpFpCtes(postImg, "aqpb", "aqen", "aqfp")},
           |${keepCanonChain("aq", "aqfp", "afp", postImg, "aud")},
           |${vfpFpCtes("aud", "vqpb", "vqen", "vqfp")},
           |${keepCanonChain("vq", "vqfp", "vfp", "aud", "vid")}""".stripMargin, "vid")
    s"""pp AS (
       |  SELECT doc_id, source,
       |$ppBody
       |  FROM documents
       |),
       |nn AS (
       |  SELECT doc_id, source,
       |    regexp_replace(
       |      replace(
       |        regexp_replace(
       |          regexp_replace(nfc_normalize(text), '\\r\\n?', chr(10), 'g'),
       |          '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
       |        chr(160), ' '),
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS text
       |  FROM pp
       |),
       |c4 AS MATERIALIZED (
       |  SELECT doc_id, source, COALESCE(array_to_string(kl, chr(10)), '') AS text
       |  FROM (SELECT doc_id, source, ${c4KeptSql(minLineWords)} AS kl
       |        FROM (SELECT doc_id, source, string_split(text, chr(10)) AS l FROM nn))
       |),
       |pl AS (
       |  SELECT DISTINCT doc_id, trim(raw) AS line
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS raw FROM c4)
       |  WHERE length(trim(raw)) >= $bpMinLineChars
       |),
       |bpl AS (
       |  SELECT COALESCE(list(line), []::VARCHAR[]) AS bl
       |  FROM (SELECT line FROM pl GROUP BY line HAVING count(*) >= $bpMinDf)
       |),
       |bp AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         COALESCE(array_to_string(list_filter(l, x -> NOT list_contains(bl, trim(x))), chr(10)), '') AS text
       |  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS l FROM c4) CROSS JOIN bpl
       |)$midCtes$imgCtes$avCtes,
       |${tclCteNamed("tclp", s"(SELECT doc_id, 'x' AS lang, text FROM $dedupInput)")},
       |${shCteFrom("shp", "tclp")},
       |${mhCteFrom("p", "shp")},
       |${bkCteFrom("p", "mhp")},
       |candp AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bkp l JOIN bkp r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |),
       |bidirp AS (SELECT a AS src, b AS dst FROM candp UNION SELECT b, a FROM candp),
       |reachp(src, dst) AS (
       |  SELECT src, src FROM bidirp
       |  UNION
       |  SELECT r.src, bd.dst FROM reachp r JOIN bidirp bd ON r.dst = bd.src
       |),
       |compp AS (SELECT src AS doc_id, min(dst) AS component FROM reachp GROUP BY src),
       |ded AS MATERIALIZED (
       |  SELECT pd.doc_id, pd.source, pd.text
       |  FROM $dedupInput pd LEFT JOIN compp c ON pd.doc_id = c.doc_id
       |  WHERE c.doc_id IS NULL OR c.doc_id = c.component
       |),
       |gt AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM ded WHERE NOT ($benchPredSql) AND len(text) >= $minLen
       |),
       |gb AS (
       |  SELECT doc_id, unnest(range(1, len(text) - $minLen + 2)) AS pos, text
       |  FROM ded WHERE ($benchPredSql) AND len(text) >= $minLen
       |),
       |gt2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM gt
       |),
       |gb2 AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         substr(text, CAST(pos AS INT), $minLen) AS gram
       |  FROM gb
       |),
       |m AS (
       |  SELECT gt2.doc_id AS a, gb2.doc_id AS b, gt2.pos AS pa, gb2.pos AS pb
       |  FROM gt2 JOIN gb2 ON gt2.gram = gb2.gram
       |),
       |isl AS (
       |  SELECT a, b, pb - pa AS delta, pa, pb,
       |         pa - row_number() OVER (PARTITION BY a, b, pb - pa ORDER BY pa) AS grp
       |  FROM m
       |),
       |sp AS (
       |  SELECT a, b, CAST(min(pa) AS BIGINT) AS sa,
       |         CAST(max(pa) - min(pa) + $minLen AS BIGINT) AS match_len
       |  FROM isl GROUP BY a, b, delta, grp
       |),
       |rs AS (SELECT DISTINCT a AS doc_id, sa AS s, sa + match_len AS e FROM sp),
       |mk AS (
       |  SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
       |              THEN 1 ELSE 0 END AS new_isl
       |  FROM rs
       |),
       |mi AS (
       |  SELECT doc_id, s, e,
       |         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e) AS isl2
       |  FROM mk
       |),
       |sp2 AS (
       |  SELECT doc_id, CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
       |  FROM mi GROUP BY doc_id, isl2
       |),
       |kp AS (
       |  SELECT doc_id, s, e,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ps
       |  FROM sp2
       |),
       |aggd AS (
       |  SELECT kp.doc_id,
       |         string_agg(substr(d.text, CAST(ps AS INT), CAST(s - ps AS INT)), '' ORDER BY s) AS headpieces,
       |         max(e) AS maxe
       |  FROM kp JOIN ded d ON kp.doc_id = d.doc_id GROUP BY kp.doc_id
       |),
       |dc AS MATERIALIZED (
       |  SELECT d.doc_id, d.source,
       |         CASE WHEN a.doc_id IS NULL THEN d.text
       |              ELSE coalesce(a.headpieces, '') || substr(d.text, CAST(a.maxe AS INT)) END AS text
       |  FROM ded d LEFT JOIN aggd a ON d.doc_id = a.doc_id
       |  WHERE NOT ($benchPredSql)
       |),
       |perp AS (
       |  SELECT source, CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0))) AS BIGINT) AS avail_tokens
       |  FROM dc GROUP BY source
       |),
       |denp AS (
       |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), array_agg(sqrt(avail_tokens) ORDER BY source)),
       |                     (x, y) -> x + y) AS z
       |  FROM perp
       |),
       |alloc AS (
       |  SELECT source, least(
       |           CAST(round(round(sqrt(avail_tokens) / z, 6) * CAST($budgetTokens AS DOUBLE)) AS BIGINT),
       |           CAST(round($maxEpochs * avail_tokens) AS BIGINT)) AS alloc_tokens
       |  FROM perp CROSS JOIN denp
       |),
       |kk AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), q -> length(q) > 0)) AS BIGINT) AS doc_tokens,
       |    CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) AS x,
       |    CAST('0x' || substr(md5(text), 8, 7) AS BIGINT) AS y
       |  FROM dc
       |),
       |cc AS (
       |  SELECT doc_id, source, doc_tokens,
       |    CAST(sum(doc_tokens) OVER (PARTITION BY source ORDER BY x % $nBuckets, x, y, doc_id
       |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM kk
       |),
       |smp AS (SELECT doc_id, source, doc_tokens FROM cc JOIN alloc USING (source) WHERE cum_tokens <= alloc_tokens),
       |fin AS (
       |  SELECT dc.doc_id, dc.source, CAST(length(dc.text) AS BIGINT) AS n_chars
       |  FROM dc JOIN smp ON dc.doc_id = smp.doc_id
       |),
       |pk AS (
       |  SELECT doc_id, source, n_chars,
       |         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM fin
       |)""".stripMargin
  }

  /** Mirror of [[graft.pipelines.PretrainCorpus.pipeline]] end to end. */
  def pretrainCorpusSql(benchPredSql: String, minLineWords: Int, bpMinDf: Long,
                        bpMinLineChars: Int, minLen: Int, budgetTokens: Long,
                        maxEpochs: Double, nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets)}
       |SELECT doc_id, source, n_chars,
       |       CAST((cum - n_chars) // $windowSize AS BIGINT) AS bin
       |FROM pk""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.report]]: per-stage doc
    * and char survival counted from the same chain CTEs the engine's
    * observe nodes ride, one row. */
  def pretrainReportSql(benchPredSql: String, minLineWords: Int, bpMinDf: Long,
                        bpMinLineChars: Int, minLen: Int, budgetTokens: Long,
                        maxEpochs: Double, nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets)},
       |a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS chars_raw FROM pp),
       |a2 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_nfc FROM nn),
       |a3 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_c4 FROM c4),
       |a4 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_bp FROM bp),
       |a5 AS (SELECT CAST(count(*) AS BIGINT) AS docs_dedup, CAST(sum(length(text)) AS BIGINT) AS chars_dedup FROM ded),
       |a6 AS (SELECT CAST(count(*) AS BIGINT) AS docs_decon, CAST(sum(length(text)) AS BIGINT) AS chars_decon FROM dc),
       |a7 AS (SELECT CAST(count(*) AS BIGINT) AS docs_sampled, CAST(sum(doc_tokens) AS BIGINT) AS tokens_sampled FROM smp),
       |a8 AS (SELECT COALESCE(CAST(max((cum - n_chars) // $windowSize) + 1 AS BIGINT), 0) AS n_bins FROM pk),
       |rep AS (
       |  SELECT * FROM a1 CROSS JOIN a2 CROSS JOIN a3 CROSS JOIN a4
       |  CROSS JOIN a5 CROSS JOIN a6 CROSS JOIN a7 CROSS JOIN a8
       |)
       |SELECT *,
       |       CASE WHEN chars_raw > 0 THEN round(1.0 - CAST(chars_bp AS DOUBLE) / chars_raw, 6) END AS scrub_char_cut,
       |       CASE WHEN n_docs > 0 THEN round(1.0 - CAST(docs_dedup AS DOUBLE) / n_docs, 6) END AS dedup_doc_cut
       |FROM rep""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.pipeline]] with a gate end to end —
    * the v1 chain with the PII scrub and the trained quality gate
    * (injected literal weights, the qualityClassifierScoreSql pattern)
    * composed between the scrubs and dedup. */
  def pretrainCorpusV2Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)))}
       |SELECT doc_id, source, n_chars,
       |       CAST((cum - n_chars) // $windowSize AS BIGINT) AS bin
       |FROM pk""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.report]] with a gate. */
  def pretrainReportV2Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)))},
       |a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS chars_raw FROM pp),
       |a2 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_nfc FROM nn),
       |a3 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_c4 FROM c4),
       |a4 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_bp FROM bp),
       |a4p AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_pii FROM pii),
       |a4q AS (SELECT CAST(count(*) AS BIGINT) AS docs_quality, CAST(sum(length(text)) AS BIGINT) AS chars_quality FROM qg),
       |a5 AS (SELECT CAST(count(*) AS BIGINT) AS docs_dedup, CAST(sum(length(text)) AS BIGINT) AS chars_dedup FROM ded),
       |a6 AS (SELECT CAST(count(*) AS BIGINT) AS docs_decon, CAST(sum(length(text)) AS BIGINT) AS chars_decon FROM dc),
       |a7 AS (SELECT CAST(count(*) AS BIGINT) AS docs_sampled, CAST(sum(doc_tokens) AS BIGINT) AS tokens_sampled FROM smp),
       |a8 AS (SELECT COALESCE(CAST(max((cum - n_chars) // $windowSize) + 1 AS BIGINT), 0) AS n_bins FROM pk),
       |rep AS (
       |  SELECT * FROM a1 CROSS JOIN a2 CROSS JOIN a3 CROSS JOIN a4
       |  CROSS JOIN a4p CROSS JOIN a4q
       |  CROSS JOIN a5 CROSS JOIN a6 CROSS JOIN a7 CROSS JOIN a8
       |)
       |SELECT n_docs, chars_raw, chars_nfc, chars_c4, chars_bp,
       |       chars_pii, docs_quality, chars_quality,
       |       docs_dedup, chars_dedup, docs_decon, chars_decon,
       |       docs_sampled, tokens_sampled, n_bins,
       |       CASE WHEN chars_raw > 0 THEN round(1.0 - CAST(chars_bp AS DOUBLE) / chars_raw, 6) END AS scrub_char_cut,
       |       CASE WHEN n_docs > 0 THEN round(1.0 - CAST(docs_quality AS DOUBLE) / n_docs, 6) END AS quality_doc_cut,
       |       CASE WHEN docs_quality > 0 THEN round(1.0 - CAST(docs_dedup AS DOUBLE) / docs_quality, 6) END AS dedup_doc_cut
       |FROM rep""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.pipeline]] with a gate
    * and the image stage — the v2 chain with the image keep-canonical
    * stage composed between the gate and text dedup. */
  def pretrainCorpusV3Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)), imageDedup = true)}
       |SELECT doc_id, source, n_chars,
       |       CAST((cum - n_chars) // $windowSize AS BIGINT) AS bin
       |FROM pk""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.report]] with a gate and
    * the image stage. */
  def pretrainReportV3Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)), imageDedup = true)},
       |a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS chars_raw FROM pp),
       |a2 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_nfc FROM nn),
       |a3 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_c4 FROM c4),
       |a4 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_bp FROM bp),
       |a4p AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_pii FROM pii),
       |a4q AS (SELECT CAST(count(*) AS BIGINT) AS docs_quality, CAST(sum(length(text)) AS BIGINT) AS chars_quality FROM qg),
       |a4i AS (SELECT CAST(count(*) AS BIGINT) AS docs_image, CAST(sum(length(text)) AS BIGINT) AS chars_image FROM img),
       |a5 AS (SELECT CAST(count(*) AS BIGINT) AS docs_dedup, CAST(sum(length(text)) AS BIGINT) AS chars_dedup FROM ded),
       |a6 AS (SELECT CAST(count(*) AS BIGINT) AS docs_decon, CAST(sum(length(text)) AS BIGINT) AS chars_decon FROM dc),
       |a7 AS (SELECT CAST(count(*) AS BIGINT) AS docs_sampled, CAST(sum(doc_tokens) AS BIGINT) AS tokens_sampled FROM smp),
       |a8 AS (SELECT COALESCE(CAST(max((cum - n_chars) // $windowSize) + 1 AS BIGINT), 0) AS n_bins FROM pk),
       |rep AS (
       |  SELECT * FROM a1 CROSS JOIN a2 CROSS JOIN a3 CROSS JOIN a4
       |  CROSS JOIN a4p CROSS JOIN a4q CROSS JOIN a4i
       |  CROSS JOIN a5 CROSS JOIN a6 CROSS JOIN a7 CROSS JOIN a8
       |)
       |SELECT n_docs, chars_raw, chars_nfc, chars_c4, chars_bp,
       |       chars_pii, docs_quality, chars_quality,
       |       docs_image, chars_image,
       |       docs_dedup, chars_dedup, docs_decon, chars_decon,
       |       docs_sampled, tokens_sampled, n_bins,
       |       CASE WHEN chars_raw > 0 THEN round(1.0 - CAST(chars_bp AS DOUBLE) / chars_raw, 6) END AS scrub_char_cut,
       |       CASE WHEN n_docs > 0 THEN round(1.0 - CAST(docs_quality AS DOUBLE) / n_docs, 6) END AS quality_doc_cut,
       |       CASE WHEN docs_quality > 0 THEN round(1.0 - CAST(docs_image AS DOUBLE) / docs_quality, 6) END AS image_doc_cut,
       |       CASE WHEN docs_image > 0 THEN round(1.0 - CAST(docs_dedup AS DOUBLE) / docs_image, 6) END AS dedup_doc_cut
       |FROM rep""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.pipeline]] with a gate
    * and every modality — the v3 chain with audio and video
    * keep-canonical cascaded after the image stage. */
  def pretrainCorpusV4Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)), imageDedup = true, avDedup = true)}
       |SELECT doc_id, source, n_chars,
       |       CAST((cum - n_chars) // $windowSize AS BIGINT) AS bin
       |FROM pk""".stripMargin

  /** Mirror of [[graft.pipelines.PretrainCorpus.report]] with a gate and
    * every modality. */
  def pretrainReportV4Sql(w: Seq[Double], thr: Double, benchPredSql: String,
                          minLineWords: Int, bpMinDf: Long, bpMinLineChars: Int,
                          minLen: Int, budgetTokens: Long, maxEpochs: Double,
                          nBuckets: Int, windowSize: Long): String =
    s"""WITH RECURSIVE ${pretrainChainCtes(benchPredSql, minLineWords, bpMinDf,
           bpMinLineChars, minLen, budgetTokens, maxEpochs, nBuckets,
           Some((w, thr)), imageDedup = true, avDedup = true)},
       |a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS chars_raw FROM pp),
       |a2 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_nfc FROM nn),
       |a3 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_c4 FROM c4),
       |a4 AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_bp FROM bp),
       |a4p AS (SELECT CAST(sum(length(text)) AS BIGINT) AS chars_pii FROM pii),
       |a4q AS (SELECT CAST(count(*) AS BIGINT) AS docs_quality, CAST(sum(length(text)) AS BIGINT) AS chars_quality FROM qg),
       |a4i AS (SELECT CAST(count(*) AS BIGINT) AS docs_image, CAST(sum(length(text)) AS BIGINT) AS chars_image FROM img),
       |a4a AS (SELECT CAST(count(*) AS BIGINT) AS docs_audio, CAST(sum(length(text)) AS BIGINT) AS chars_audio FROM aud),
       |a4v AS (SELECT CAST(count(*) AS BIGINT) AS docs_video, CAST(sum(length(text)) AS BIGINT) AS chars_video FROM vid),
       |a5 AS (SELECT CAST(count(*) AS BIGINT) AS docs_dedup, CAST(sum(length(text)) AS BIGINT) AS chars_dedup FROM ded),
       |a6 AS (SELECT CAST(count(*) AS BIGINT) AS docs_decon, CAST(sum(length(text)) AS BIGINT) AS chars_decon FROM dc),
       |a7 AS (SELECT CAST(count(*) AS BIGINT) AS docs_sampled, CAST(sum(doc_tokens) AS BIGINT) AS tokens_sampled FROM smp),
       |a8 AS (SELECT COALESCE(CAST(max((cum - n_chars) // $windowSize) + 1 AS BIGINT), 0) AS n_bins FROM pk),
       |rep AS (
       |  SELECT * FROM a1 CROSS JOIN a2 CROSS JOIN a3 CROSS JOIN a4
       |  CROSS JOIN a4p CROSS JOIN a4q CROSS JOIN a4i
       |  CROSS JOIN a4a CROSS JOIN a4v
       |  CROSS JOIN a5 CROSS JOIN a6 CROSS JOIN a7 CROSS JOIN a8
       |)
       |SELECT n_docs, chars_raw, chars_nfc, chars_c4, chars_bp,
       |       chars_pii, docs_quality, chars_quality,
       |       docs_image, chars_image,
       |       docs_audio, chars_audio,
       |       docs_video, chars_video,
       |       docs_dedup, chars_dedup, docs_decon, chars_decon,
       |       docs_sampled, tokens_sampled, n_bins,
       |       CASE WHEN chars_raw > 0 THEN round(1.0 - CAST(chars_bp AS DOUBLE) / chars_raw, 6) END AS scrub_char_cut,
       |       CASE WHEN n_docs > 0 THEN round(1.0 - CAST(docs_quality AS DOUBLE) / n_docs, 6) END AS quality_doc_cut,
       |       CASE WHEN docs_quality > 0 THEN round(1.0 - CAST(docs_image AS DOUBLE) / docs_quality, 6) END AS image_doc_cut,
       |       CASE WHEN docs_image > 0 THEN round(1.0 - CAST(docs_audio AS DOUBLE) / docs_image, 6) END AS audio_doc_cut,
       |       CASE WHEN docs_audio > 0 THEN round(1.0 - CAST(docs_video AS DOUBLE) / docs_audio, 6) END AS video_doc_cut,
       |       CASE WHEN docs_video > 0 THEN round(1.0 - CAST(docs_dedup AS DOUBLE) / docs_video, 6) END AS dedup_doc_cut
       |FROM rep""".stripMargin

  def pretrainCorpusV2SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainCorpusV2Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  def pretrainReportV2SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainReportV2Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  def pretrainCorpusV3SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainCorpusV3Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  def pretrainReportV3SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainReportV3Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  def pretrainCorpusV4SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainCorpusV4Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  def pretrainReportV4SqlFromLastGate: Option[String] =
    graft.pipelines.PretrainCorpus.lastGate.map { case (w, thr) =>
      pretrainReportV4Sql(w, thr, "source = 'src0'", 3, 3, 10, 30, 20000L, 4.0, 64, 2048L)
    }

  /** Mirror of [[graft.pipelines.Dsir.importanceWeights]] with
    * `lang = 'en'` as the target slice and 1024 hash buckets: the same
    * md5-prefix bucket, smoothed per-bucket log-ratio, and
    * DECIMAL(28,18) per-doc accumulation. */
  val dsirSql: String =
    s"""WITH $tclCte,
       |tok AS (
       |  SELECT doc_id, (lang = 'en') AS is_t,
       |         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1024 AS b
       |  FROM (SELECT doc_id, lang, unnest(tl) AS w FROM tcl)
       |),
       |model AS (
       |  SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |         CAST(count(*) AS BIGINT) AS cr
       |  FROM tok GROUP BY b
       |),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM model),
       |lrt AS (
       |  SELECT b, ln((ct + 1) / (nt + 1024)) - ln((cr + 1) / (nr + 1024)) AS lr
       |  FROM model CROSS JOIN tot
       |),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         round(CAST(sum(CAST(lr AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logratio
       |  FROM tok JOIN lrt USING (b) GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(pd.n_tokens, 0) AS n_tokens,
       |       COALESCE(pd.avg_logratio, 0.0) AS avg_logratio,
       |       COALESCE(pd.avg_logratio, 0.0) > 0.0 AS selected
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin

  /** Repetition metrics mirror of [[graft.text.TextAnalysis.repetition]]. */
  val repetitionSql: String =
    s"""WITH $tclCte,
       |base AS (
       |  SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(tl)) AS BIGINT) AS n_distinct
       |  FROM tcl
       |),
       |bgt AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tl)), i -> tl[i] || ' ' || tl[i+1])) AS b
       |  FROM tcl WHERE len(tl) >= 2
       |),
       |bc AS (SELECT doc_id, b, count(*) AS c FROM bgt GROUP BY doc_id, b),
       |bm AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram FROM bc GROUP BY doc_id)
       |SELECT base.doc_id, n_tokens, n_distinct,
       |       CASE WHEN n_tokens > 0 THEN round(n_distinct / n_tokens, 6) ELSE 0.0 END AS distinct_ratio,
       |       CASE WHEN n_tokens > 1 THEN round(COALESCE(top_bigram, 0) / (n_tokens - 1), 6) ELSE 0.0 END AS top_bigram_frac
       |FROM base LEFT JOIN bm ON base.doc_id = bm.doc_id""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.tokenEntropy]]: per-token counts,
    * Σ c·ln c accumulated in DECIMAL(28,18) (same exact-associative
    * discipline as [[lmScoreSql]]), entropy rounded to 6 digits. */
  val tokenEntropySql: String =
    s"""WITH $tclCte,
       |tok AS (SELECT doc_id, unnest(tl) AS w FROM tcl),
       |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
       |agg AS (
       |  SELECT doc_id,
       |         CAST(sum(c) AS BIGINT) AS n_tokens,
       |         CAST(count(*) AS BIGINT) AS n_distinct,
       |         CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18))) AS DOUBLE) AS sclnc
       |  FROM tc GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(agg.n_tokens, 0) AS n_tokens,
       |       COALESCE(agg.n_distinct, 0) AS n_distinct,
       |       CASE WHEN agg.n_tokens > 0
       |            THEN round(ln(CAST(agg.n_tokens AS DOUBLE)) - sclnc / agg.n_tokens, 6)
       |            ELSE 0.0 END AS entropy
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin

  /** Mixture-weight mirror of [[graft.text.TextAnalysis.mixWeights]]. */
  val mixWeightsSql: String =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source
      |),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sources, CAST(sum(sum_chars) AS BIGINT) AS total_chars FROM per)
      |SELECT source, n_docs, sum_chars,
      |       round(sum_chars / total_chars, 6) AS share,
      |       round((1.0 / n_sources) / (sum_chars / total_chars), 6) AS weight
      |FROM per CROSS JOIN tot""".stripMargin

  /** Greedy sequence-packing mirror of
    * [[graft.pipelines.Packing.packSequences]]. */
  def packSql(windowSize: Long): String =
    s"""WITH c AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM documents
       |)
       |SELECT doc_id, n_chars, CAST((cum - n_chars) // $windowSize AS BIGINT) AS bin FROM c""".stripMargin

  /** PII-scrub mirror of [[graft.text.TextAnalysis.scrub]] over the events
    * `props` payload (the documents corpus carries no digits/emails). */
  val scrubSql: String = {
    import graft.text.TextAnalysis.{digitsPattern, emailPattern}
    s"""SELECT event_id,
       |  regexp_replace(regexp_replace(props, '$emailPattern', '<EMAIL>', 'g'), '$digitsPattern', '<NUM>', 'g') AS scrubbed,
       |  CAST(len(regexp_extract_all(props, '$emailPattern', 0)) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(props, '$digitsPattern', 0)) AS BIGINT) AS n_nums
       |FROM events""".stripMargin
  }

  /** Mirror of [[graft.dedup.Dedup.hotGrams]]: every k-char gram at every
    * offset, grouped, doc-frequency top-N with the full deterministic
    * tie-break (gram is unique per group, so the order is total). */
  def hotGramsSql(k: Int, topN: Int): String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(length(text) - ${k - 1}, 0) + 1),
       |           i -> text[CAST(i AS INT):CAST(i + ${k - 1} AS INT)])) AS gram
       |  FROM documents
       |)
       |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_occ
       |FROM g GROUP BY gram
       |ORDER BY n_docs DESC, n_occ DESC, gram ASC LIMIT $topN""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.piiReport]] — same regexes, same
    * bounded group-key aggregation. */
  val piiReportSql: String = {
    import graft.text.TextAnalysis.{digitsPattern, emailPattern}
    s"""WITH c AS (
       |  SELECT event_type,
       |         CAST(len(regexp_extract_all(props, '$emailPattern', 0)) AS BIGINT) AS ne,
       |         CAST(len(regexp_extract_all(props, '$digitsPattern', 0)) AS BIGINT) AS nn
       |  FROM events
       |)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(ne) AS BIGINT) AS n_emails,
       |       CAST(sum(nn) AS BIGINT) AS n_nums,
       |       CAST(sum(CASE WHEN ne + nn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_with_pii,
       |       round(CAST(sum(CASE WHEN ne + nn > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pii_frac
       |FROM c GROUP BY event_type""".stripMargin
  }

  /** Mirror of [[graft.sources.Bucketing.fileLayoutPlan]]. */
  def fileLayoutPlanSql(targetBytes: Long): String =
    s"""WITH a AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(length(text)) AS BIGINT) AS total_chars
       |  FROM documents GROUP BY source
       |)
       |SELECT source, n_docs, total_chars,
       |       CAST(greatest(1, ceil(CAST(total_chars AS DOUBLE) / $targetBytes)) AS BIGINT) AS n_files,
       |       CAST(ceil(CAST(n_docs AS DOUBLE) /
       |                 greatest(1, ceil(CAST(total_chars AS DOUBLE) / $targetBytes))) AS BIGINT) AS docs_per_file
       |FROM a""".stripMargin

  /** Bigram-LM score mirror of [[graft.text.TextAnalysis.lmScore]]. The
    * per-term DECIMAL cast before the sum matches the Spark side, making
    * the order-sensitive float sum exactly associative on both engines. */
  val lmScoreSql: String =
    s"""WITH ${OracleSql.toksCte},
       |uni AS (SELECT lang, w AS w1, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY lang, w),
       |vocab AS (SELECT lang, CAST(count(*) AS BIGINT) AS v FROM uni GROUP BY lang),
       |bg AS (
       |  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |),
       |bgc AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY lang, w1, w2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       round(CAST(sum(CAST(ln((c12 + 1) / (c1 + v)) AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logprob
       |FROM bg
       |JOIN bgc USING (lang, w1, w2)
       |JOIN uni USING (lang, w1)
       |JOIN vocab USING (lang)
       |GROUP BY doc_id""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.lmScoreKn]]: the same exact
    * integer KN statistics, the probability expression in the same fixed
    * operation order, per-term DECIMAL(28,18) ln casts. */
  def lmScoreKnSql(discount: Double): String =
    s"""WITH ${OracleSql.toksCte},
       |bg AS (
       |  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |),
       |bgc AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY lang, w1, w2),
       |ctx AS (SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS ctx, CAST(count(*) AS BIGINT) AS n1f
       |        FROM bgc GROUP BY lang, w1),
       |rev AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS n1r FROM bgc GROUP BY lang, w2),
       |alltypes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n1a FROM bgc GROUP BY lang)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       round(CAST(sum(CAST(ln(
       |         (CAST(c12 AS DOUBLE) - $discount) / CAST(ctx AS DOUBLE)
       |         + $discount * CAST(n1f AS DOUBLE) / CAST(ctx AS DOUBLE)
       |           * (CAST(n1r AS DOUBLE) / CAST(n1a AS DOUBLE))
       |       ) AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logprob
       |FROM bg
       |JOIN bgc USING (lang, w1, w2)
       |JOIN ctx USING (lang, w1)
       |JOIN rev USING (lang, w2)
       |JOIN alltypes USING (lang)
       |GROUP BY doc_id""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.lmScoreKnPruned]]: the same
    * rebuild with a HAVING count-threshold on the type table (the serve
    * model trains on the same corpus, so rebuild == pruned persisted
    * model), statistics derived from the SURVIVING rows only, and the
    * coverage wrapper — every ≥2-token doc keeps its row, NULL
    * avg_logprob when nothing survives. */
  def lmScoreKnPrunedSql(minCount: Long, discount: Double): String =
    s"""WITH ${OracleSql.toksCte},
       |bg AS (
       |  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total_bigrams FROM bg GROUP BY doc_id),
       |bgc AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY lang, w1, w2
       |        HAVING count(*) >= $minCount),
       |ctx AS (SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS ctx, CAST(count(*) AS BIGINT) AS n1f
       |        FROM bgc GROUP BY lang, w1),
       |rev AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS n1r FROM bgc GROUP BY lang, w2),
       |alltypes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n1a FROM bgc GROUP BY lang),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         round(CAST(sum(CAST(ln(
       |           (CAST(c12 AS DOUBLE) - $discount) / CAST(ctx AS DOUBLE)
       |           + $discount * CAST(n1f AS DOUBLE) / CAST(ctx AS DOUBLE)
       |             * (CAST(n1r AS DOUBLE) / CAST(n1a AS DOUBLE))
       |         ) AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logprob
       |  FROM bg
       |  JOIN bgc USING (lang, w1, w2)
       |  JOIN ctx USING (lang, w1)
       |  JOIN rev USING (lang, w2)
       |  JOIN alltypes USING (lang)
       |  GROUP BY doc_id
       |)
       |SELECT t.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       t.n_total_bigrams,
       |       round(CAST(COALESCE(sc.n_bigrams, 0) AS DOUBLE) / t.n_total_bigrams, 6) AS coverage,
       |       sc.avg_logprob
       |FROM tot t LEFT JOIN sc ON t.doc_id = sc.doc_id""".stripMargin

  /** Shared trigram-KN statistics CTE chain (no leading WITH): the
    * occurrence stream `tg`, the type table `tgc` (optionally
    * count-pruned), and the five vocabulary-bounded statistics tables of
    * [[graft.text.TextAnalysis.lmScoreKn3Over]]. */
  private def kn3Ctes(havingMin: Option[Long]): String = {
    val having = havingMin.map(m => s"\n        HAVING count(*) >= $m").getOrElse("")
    s"""${OracleSql.toksCte},
       |tg AS (
       |  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2, c.w AS w3
       |  FROM toks a
       |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
       |),
       |tgc AS (SELECT lang, w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
       |        FROM tg GROUP BY lang, w1, w2, w3$having),
       |ctx12 AS (SELECT lang, w1, w2, CAST(sum(c123) AS BIGINT) AS ctx, CAST(count(*) AS BIGINT) AS n1f12
       |          FROM tgc GROUP BY lang, w1, w2),
       |cont23 AS (SELECT lang, w2, w3, CAST(count(*) AS BIGINT) AS n1r23 FROM tgc GROUP BY lang, w2, w3),
       |mid2 AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS m2, CAST(count(DISTINCT w3) AS BIGINT) AS n1f2
       |         FROM tgc GROUP BY lang, w2),
       |cw3 AS (SELECT lang, w3, CAST(count(DISTINCT w2) AS BIGINT) AS n1r3 FROM tgc GROUP BY lang, w3),
       |all23 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n1a
       |          FROM (SELECT DISTINCT lang, w2, w3 FROM tgc) GROUP BY lang)""".stripMargin
  }

  /** The KN3 per-occurrence log-probability expression — one fixed
    * operation order, identical to the engine's Column tree. */
  private def kn3LpSql(discount: Double): String =
    s"""ln(
       |           (CAST(c123 AS DOUBLE) - $discount) / CAST(ctx AS DOUBLE)
       |           + $discount * CAST(n1f12 AS DOUBLE) / CAST(ctx AS DOUBLE)
       |             * ((CAST(n1r23 AS DOUBLE) - $discount) / CAST(m2 AS DOUBLE)
       |               + $discount * CAST(n1f2 AS DOUBLE) / CAST(m2 AS DOUBLE)
       |                 * (CAST(n1r3 AS DOUBLE) / CAST(n1a AS DOUBLE)))
       |         )""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.lmScoreKn3]]: the same exact
    * integer order-3 KN statistics (all read off the trigram-type table),
    * the probability expression in the same fixed operation order,
    * per-term DECIMAL(28,18) ln casts. */
  def lmScoreKn3Sql(discount: Double): String =
    s"""WITH ${kn3Ctes(None)}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |       round(CAST(sum(CAST(${kn3LpSql(discount)} AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logprob
       |FROM tg
       |JOIN tgc USING (lang, w1, w2, w3)
       |JOIN ctx12 USING (lang, w1, w2)
       |JOIN cont23 USING (lang, w2, w3)
       |JOIN mid2 USING (lang, w2)
       |JOIN cw3 USING (lang, w3)
       |JOIN all23 USING (lang)
       |GROUP BY doc_id""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.lmScoreKn3Pruned]]: rebuild on
    * the count-pruned type table, coverage reported per ≥3-token doc. */
  def lmScoreKn3PrunedSql(minCount: Long, discount: Double): String =
    s"""WITH ${kn3Ctes(Some(minCount))},
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total_trigrams FROM tg GROUP BY doc_id),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |         round(CAST(sum(CAST(${kn3LpSql(discount)} AS DECIMAL(28,18))) AS DOUBLE) / count(*), 6) AS avg_logprob
       |  FROM tg
       |  JOIN tgc USING (lang, w1, w2, w3)
       |  JOIN ctx12 USING (lang, w1, w2)
       |  JOIN cont23 USING (lang, w2, w3)
       |  JOIN mid2 USING (lang, w2)
       |  JOIN cw3 USING (lang, w3)
       |  JOIN all23 USING (lang)
       |  GROUP BY doc_id
       |)
       |SELECT t.doc_id, CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |       t.n_total_trigrams,
       |       round(CAST(COALESCE(sc.n_trigrams, 0) AS DOUBLE) / t.n_total_trigrams, 6) AS coverage,
       |       sc.avg_logprob
       |FROM tot t LEFT JOIN sc ON t.doc_id = sc.doc_id""".stripMargin

  /** TF-IDF mirror of [[graft.text.TextAnalysis.tfidf]]. */
  val tfidfSql: String =
    s"""WITH ${OracleSql.toksCte},
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, w),
       |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |ntab AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       |SELECT doc_id, w, tf, df, round(tf * ln((n + 1) / (df + 1)), 6) AS tfidf
       |FROM tf JOIN dfreq USING (w) CROSS JOIN ntab""".stripMargin

  /** Mirror of [[graft.pipelines.Sampling.batchByLength]]: the oracle runs
    * the global window the scale-safe rank is bit-identical to. */
  def batchByLengthSql(batchSize: Int): String =
    s"""WITH $tclCte
       |SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens,
       |       CAST((row_number() OVER (ORDER BY len(tl), doc_id) - 1) // $batchSize AS BIGINT) AS batch
       |FROM tcl""".stripMargin

  /** Mirror of [[graft.pipelines.Sampling.weightedSample]] over the
    * documents table with weight = n_chars. 2^28 + 1 = 268435457. */
  def weightedSampleSql(k: Int): String =
    s"""SELECT doc_id, w, priority FROM (
       |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
       |         round(-ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) + CAST(1.0 AS DOUBLE))
       |                   / CAST(268435457.0 AS DOUBLE)) / CAST(n_chars AS DOUBLE), 9) AS priority
       |  FROM documents WHERE n_chars > 0)
       |ORDER BY priority, doc_id LIMIT $k""".stripMargin

  /** BM25 mirror of [[graft.text.TextAnalysis.bm25TopK]]. Every fractional
    * constant CASTs to DOUBLE (bare decimals are DECIMAL in DuckDB and
    * would infect the score arithmetic); scores round to 6 digits BEFORE
    * the (score desc, doc_id) ranking so the top-k boundary is
    * engine-identical. */
  /** tcl → bmscore(doc_id, score) CTE chain shared by [[bm25Sql]] and
    * [[hybridRrfSql]] (no leading WITH). */
  private def bm25ScoreCtes(query: Seq[String], k1: Double, b: Double): String = {
    // SQL-escape each term (' -> '') — a quote in a query term must not
    // break out of (or inject into) the generated literal list
    val terms = query.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""$tclCte,
       |d AS (SELECT doc_id, tl, CAST(len(tl) AS BIGINT) AS dl FROM tcl),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(tl) AS w FROM d)
       |  WHERE w IN ($terms) GROUP BY doc_id, dl, w
       |),
       |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |bmscore AS (
       |  SELECT doc_id,
       |         round(sum(
       |           ln(CAST(1.0 AS DOUBLE) + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
       |           * (tf * CAST(${k1 + 1.0} AS DOUBLE))
       |           / (tf + CAST($k1 AS DOUBLE) * (CAST(${1.0 - b} AS DOUBLE) + CAST($b AS DOUBLE) * dl / avgdl))
       |         ), 6) AS score
       |  FROM tf JOIN dfq USING (w) CROSS JOIN st
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  def bm25Sql(query: Seq[String], k1: Double, b: Double, k: Int): String =
    s"""WITH ${bm25ScoreCtes(query, k1, b)}
       |SELECT doc_id, score FROM bmscore
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  /** Mirror of [[graft.similarity.Retrieval.hybridRrf]]: BM25 and
    * query-vector cosine each rank their own top-`nPer` under round-6
    * scores with doc_id tie-breaks; RRF fuses over the full-outer union
    * with the identical `1/(rrfK + rank)` + coalesce-to-0 algebra. The
    * query vector is read in-database from the same `embeddings` row
    * whose collected literal the engine ships, and the norm is the same
    * left-to-right `list_reduce` fold — identical doubles throughout. */
  def hybridRrfSql(query: Seq[String], queryVecId: Long, nPer: Int,
                   rrfK: Int, k: Int, k1: Double, b: Double): String =
    s"""WITH ${bm25ScoreCtes(query, k1, b)},
       |lext AS (SELECT doc_id, score FROM bmscore ORDER BY score DESC, doc_id LIMIT $nPer),
       |lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
       |  FROM lext
       |),
       |qe AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $queryVecId),
       |ce AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS nv FROM embeddings
       |       WHERE ${normGuardSql("nv")} AND vec_id <> $queryVecId),
       |semsc AS (
       |  SELECT doc_id,
       |         round(${dotSql("nv", "qv")} / (sqrt(${dotSql("nv", "nv")}) * sqrt(${dotSql("qv", "qv")})), 6) AS cos
       |  FROM ce CROSS JOIN qe
       |),
       |semt AS (SELECT doc_id, cos FROM semsc ORDER BY cos DESC, doc_id LIMIT $nPer),
       |sem AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_sem
       |  FROM semt
       |),
       |fused AS (
       |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
       |         round(COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + rank_lex), CAST(0.0 AS DOUBLE)) +
       |               COALESCE(CAST(1.0 AS DOUBLE) / ($rrfK + rank_sem), CAST(0.0 AS DOUBLE)), 6) AS rrf
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |)
       |SELECT doc_id, rank_lex, rank_sem, rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused
       |) WHERE rank <= $k""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.vocabCoverage]]: token counts,
    * top-k with (count desc, token asc) total order, running coverage
    * share over an explicit ROWS frame. */
  def vocabCoverageSql(k: Int): String =
    s"""WITH ${OracleSql.toksCte},
       |counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
       |ntab AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
       |top AS (SELECT w, c FROM counts ORDER BY c DESC, w ASC LIMIT $k)
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS BIGINT) AS rank, w, c,
       |       round(CAST(sum(c) OVER (ORDER BY c DESC, w ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / n, 6) AS coverage
       |FROM top CROSS JOIN ntab""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.vocabZipf]]: identical rank
    * order, per-term DECIMAL(28,18) sums, and the exact cov/var
    * operation order. */
  def vocabZipfSql(k: Int): String = {
    val lx = "ln(CAST(rank AS DOUBLE))"
    val ly = "ln(CAST(c AS DOUBLE))"
    s"""WITH ${OracleSql.toksCte},
       |counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
       |top AS (SELECT w, c FROM counts ORDER BY c DESC, w ASC LIMIT $k),
       |rk AS (SELECT w, c, CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS BIGINT) AS rank FROM top),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         sum(CAST($lx AS DECIMAL(28,18))) AS sx,
       |         sum(CAST($ly AS DECIMAL(28,18))) AS sy,
       |         sum(CAST($lx * $lx AS DECIMAL(28,18))) AS sxx,
       |         sum(CAST($ly * $ly AS DECIMAL(28,18))) AS syy,
       |         sum(CAST($lx * $ly AS DECIMAL(28,18))) AS sxy
       |  FROM rk
       |),
       |t AS (
       |  SELECT n, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
       |         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cov,
       |         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS vx,
       |         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS vy
       |  FROM s
       |)
       |SELECT n,
       |       round(CASE WHEN vx <> 0 THEN cov / vx ELSE CAST(0 AS DOUBLE) END, 6) AS slope,
       |       round((syd - (CASE WHEN vx <> 0 THEN cov / vx ELSE CAST(0 AS DOUBLE) END) * sxd) / n, 6) AS intercept,
       |       round(CASE WHEN vx * vy <> 0 THEN cov * cov / (vx * vy) ELSE CAST(0 AS DOUBLE) END, 6) AS r2
       |FROM t""".stripMargin
  }

  val fingerprintSql: String =
    s"""WITH $tclCte
       |SELECT doc_id, md5(array_to_string(list_sort(list_distinct(tl)), ' ')) AS fp FROM tcl""".stripMargin

  /** Composed clean-corpus pipeline: quality gate -> exact dedup (keep min
    * doc_id per text hash) -> LSH near-dedup (drop the larger id of each
    * candidate pair). Mirrors [[graft.pipelines.CleanCorpus.clean]]. */
  def cleanCorpusSql(minQuality: Double): String =
    s"""WITH RECURSIVE ${tclCteFrom("documents")},
       |m AS (
       |  SELECT doc_id, text, lang,
       |    CAST(len(tl) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(tl, t -> t IN (${Stopwords.sqlList}))) AS BIGINT) AS n_stop
       |  FROM tcl
       |),
       |q AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT doc_id, text, lang,
       |      round(1.0 / (1.0 + exp(-(1.5 - 4.0 * (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)
       |                                  - 1.0 * (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END)))), 6) AS quality
       |    FROM m
       |  ) WHERE quality >= $minQuality
       |),
       |keep1 AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT doc_id, text, lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn FROM q
       |  ) WHERE rn = 1
       |),
       |tcl2 AS (
       |  SELECT doc_id, lang, text,
       |         list_filter(list_transform(string_split_regex(text, '\\s+'), s -> ${OracleSql.clean("s")}), s -> length(s) > 0) AS tl
       |  FROM keep1
       |),
       |${shCteFrom("sh2", "tcl2")},
       |${mhCteFrom("2", "sh2")},
       |${bkCteFrom("2", "mh2")},
       |cand2 AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bk2 l JOIN bk2 r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |),
       |bidir2 AS (SELECT a AS src, b AS dst FROM cand2 UNION SELECT b, a FROM cand2),
       |reach2(src, dst) AS (
       |  SELECT src, src FROM bidir2
       |  UNION
       |  SELECT r.src, bd.dst FROM reach2 r JOIN bidir2 bd ON r.dst = bd.src
       |),
       |comp2 AS (SELECT src AS doc_id, min(dst) AS component FROM reach2 GROUP BY src)
       |SELECT k.doc_id, k.lang
       |FROM keep1 k LEFT JOIN comp2 c ON k.doc_id = c.doc_id
       |WHERE c.doc_id IS NULL OR c.doc_id = c.component""".stripMargin

  // ------------------------------------------------- raw n-gram TSV path

  /** Root of the reference-format TSV fixtures the driver's DuckDB can
    * read directly (same files [[graft.collocations.NGramCollocations
    * .fromPaths]] ingests in the Spark query). Overridable for checkouts
    * rooted elsewhere; the default resolves against the working directory
    * when the canonical absolute path is absent. */
  val ngramFixtureDir: String = sys.props.get("graft.ngram.fixtures")
    .orElse(sys.env.get("GRAFT_NGRAM_FIXTURES"))
    .getOrElse {
      val canonical = "/root/repo/src/test/resources/ngrams"
      if (new java.io.File(canonical).isDirectory) canonical
      else new java.io.File("src/test/resources/ngrams").getAbsolutePath
    }

  /** The reference's per-language stopword routing (`Stopwords.java:26-30`
    * + `NGramUtils.java:51-79`) — shared with the documents-path CTEs. */
  private def notStop(w: String): String = OracleSql.notStop(w)

  /** Whole-line TSV ingestion mirroring `spark.read.text` + `split`:
    * `read_text` keeps ragged rows (extra trailing fields ignored, short
    * rows parse to NULLs and drop) — `read_csv` would reject them. Lang
    * comes from the file path exactly as in the Spark source. */
  private def ngramRawCte(name: String, glob: String): String =
    s"""$name AS (
       |  SELECT CASE WHEN lower(filename) LIKE '%heb%' THEN 'he' ELSE 'en' END AS lang,
       |         string_split(line, chr(9)) AS f
       |  FROM (SELECT filename, unnest(string_split(content, chr(10))) AS line
       |        FROM read_text('$ngramFixtureDir/$glob'))
       |)""".stripMargin

  /** End-to-end oracle for the reference's true unit of work: pre-counted
    * n-grams at (lang, decade) grain with occurrence weights, lang from
    * path, per-language stopwords, LLR, top-k (mirrors
    * [[graft.collocations.NGramCollocations.fromPaths]]). */
  def ngramDecadeSql(k: Int): String = {
    val decade = "CAST(floor(year / 10) * 10 AS BIGINT)"
    s"""WITH ${ngramRawCte("raw1", "*-1gram.tsv")},
       |${ngramRawCte("raw2", "*-2gram.tsv")},
       |u0 AS (
       |  SELECT lang, f[1] AS ngram, TRY_CAST(f[2] AS INTEGER) AS year, TRY_CAST(f[3] AS BIGINT) AS occ
       |  FROM raw1
       |),
       |u1 AS (
       |  SELECT lang, ${OracleSql.clean("ngram")} AS w, year, occ FROM u0
       |  WHERE ngram IS NOT NULL AND year IS NOT NULL AND occ IS NOT NULL AND occ > 0
       |),
       |uni AS (
       |  SELECT lang, $decade AS decade, w, CAST(sum(occ) AS BIGINT) AS c1
       |  FROM u1 WHERE length(w) > 0 AND ${notStop("w")}
       |  GROUP BY lang, decade, w
       |),
       |b0 AS (
       |  SELECT lang, f[1] AS ngram, TRY_CAST(f[2] AS INTEGER) AS year, TRY_CAST(f[3] AS BIGINT) AS occ
       |  FROM raw2
       |),
       |b1 AS (
       |  SELECT lang, string_split_regex(ngram, '\\s+') AS p, year, occ FROM b0
       |  WHERE ngram IS NOT NULL AND year IS NOT NULL AND occ IS NOT NULL AND occ > 0
       |),
       |b2 AS (
       |  SELECT lang, ${OracleSql.clean("p[1]")} AS w1, ${OracleSql.clean("p[2]")} AS w2, year, occ
       |  FROM b1 WHERE len(p) >= 2
       |),
       |bg AS (
       |  SELECT lang, $decade AS decade, w1, w2, CAST(sum(occ) AS BIGINT) AS c12
       |  FROM b2 WHERE length(w1) > 0 AND length(w2) > 0 AND ${notStop("w1")} AND ${notStop("w2")}
       |  GROUP BY lang, decade, w1, w2
       |),
       |ntab AS (SELECT lang, decade, CAST(sum(c1) AS BIGINT) AS n FROM uni GROUP BY lang, decade),
       |joined AS (
       |  SELECT bg.lang, bg.decade, bg.w1, bg.w2, bg.c12, u1.c1 AS c1, u2.c1 AS c2, ntab.n
       |  FROM bg
       |  JOIN uni u1 ON bg.lang = u1.lang AND bg.decade = u1.decade AND bg.w1 = u1.w
       |  JOIN uni u2 ON bg.lang = u2.lang AND bg.decade = u2.decade AND bg.w2 = u2.w
       |  JOIN ntab ON bg.lang = ntab.lang AND bg.decade = ntab.decade
       |),
       |${OracleSql.scoredChainCte("lang, decade, w1, w2")},
       |final AS (
       |  SELECT lang, decade, w1, w2, round(llr_raw, 6) AS llr
       |  FROM scored WHERE NOT isnan(llr_raw)
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang, decade ORDER BY llr DESC, w1 ASC, w2 ASC) AS rn
       |  FROM final
       |)
       |SELECT lang, decade, w1, w2, llr FROM ranked WHERE rn <= $k""".stripMargin
  }

  // ------------------------------------------------------------ multimodal

  /** Mirror of [[graft.multimodal.Multimodal.decodePpm]]: the oracle
    * re-derives the PPM header fields and pixel plane from the GENERATOR's
    * inputs (dims from doc_id, pixels from the sanitized text) while the
    * Spark side parses them back out of the actual payload bytes — equal
    * results prove the encode → binary → parse round trip. Pixels are
    * ASCII by construction, so `unicode` per char equals the unsigned
    * byte the parser sums. */
  val ppmDecodeSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 5 + 2 AS INTEGER) AS width,
      |         CAST(doc_id % 3 + 2 AS INTEGER) AS height,
      |         rpad(regexp_replace(text, '[^\x20-\x7e]', '?', 'g'),
      |              CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3 AS INTEGER), 'x') AS px
      |  FROM documents
      |)
      |SELECT doc_id, TRUE AS valid, width, height, CAST(255 AS INTEGER) AS maxval,
      |       CAST(width * height AS BIGINT) AS n_pix,
      |       CAST(list_sum(list_transform(range(1, length(px) + 1), i -> unicode(substr(px, i, 1)))) AS BIGINT) AS pix_sum
      |FROM b""".stripMargin

  /** Mirror of [[graft.multimodal.Multimodal.decodeWav]]: re-derives the
    * generator's channel count, data length and PCM bytes; the Spark side
    * parses them back out of the RIFF binary, so parity proves the
    * encode → binary → parse round trip (same pattern as
    * [[ppmDecodeSql]]). Data length is even by construction, so
    * n_samples = data/align is exact. */
  val wavDecodeSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
      |         CAST((doc_id % 41 + 4) * 2 AS INTEGER) AS dl,
      |         rpad(regexp_replace(text, '[^\x20-\x7e]', '?', 'g'),
      |              CAST((doc_id % 41 + 4) * 2 AS INTEGER), 'x') AS pcm
      |  FROM documents
      |)
      |SELECT doc_id, TRUE AS valid, channels,
      |       CAST(11025 AS INTEGER) AS sample_rate, CAST(8 AS INTEGER) AS bits,
      |       CAST(dl // channels AS BIGINT) AS n_samples,
      |       CAST(list_sum(list_transform(range(1, length(pcm) + 1), i -> unicode(substr(pcm, i, 1)))) AS BIGINT) AS pcm_sum
      |FROM b""".stripMargin

  /** Rolling-hash fold over a SQL string expression (mirror of
    * [[graft.functions.RollingHashExpr]]). */
  private def rollSql(s: String): String =
    s"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($s) + 1), q -> CAST(unicode(substr($s, q, 1)) AS BIGINT))), (a, c) -> (a * 31 + c) % 1000000007) AS BIGINT)"

  /** Frame-sampling mirror of [[graft.multimodal.Multimodal.sampleFrames]]. */
  def framesSql(nFrames: Int, frameLen: Int): String =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(i * (length(text) // $nFrames) + 1 AS BIGINT) AS off,
       |         substr(text, CAST(i * (length(text) // $nFrames) + 1 AS INT), $frameLen) AS frame
       |  FROM documents, (SELECT unnest(range(0, $nFrames)) AS i)
       |)
       |SELECT doc_id, off, CAST(length(frame) AS BIGINT) AS f_len, ${rollSql("frame")} AS f_hash
       |FROM f""".stripMargin

  /** The generator's ASCII-sanitization class, kept in a RAW string so it
    * can interpolate into s-strings (whose literal parts would reject the
    * \x escape). */
  private val nonAsciiClass = """[^\x20-\x7e]"""

  /** Mirror of [[graft.multimodal.Multimodal.resizePpm]]: re-derives the
    * PPM dims and pixel plane from the GENERATOR's inputs (the Spark side
    * parses them from the payload bytes), then applies the identical
    * nearest-neighbor index map — target pixel q ∈ [0, th·tw·3) reads
    * source byte (⌊y'·h/th⌋·w + ⌊x'·w/tw⌋)·3 + c with y' = (q÷3)÷tw,
    * x' = (q÷3) mod tw, c = q mod 3 — and folds the same byte sum and
    * rolling hash. Integer `//` matches Scala's Int division on the
    * non-negative operands here. */
  def resizePpmSql(tw: Int, th: Int): String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |         CAST(doc_id % 5 + 2 AS INTEGER) AS w,
       |         CAST(doc_id % 3 + 2 AS INTEGER) AS h,
       |         rpad(regexp_replace(text, '$nonAsciiClass', '?', 'g'),
       |              CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3 AS INTEGER), 'x') AS px
       |  FROM documents
       |),
       |r AS (
       |  SELECT doc_id,
       |         array_to_string(list_transform(range(0, ${th * tw * 3}),
       |           q -> substr(px, CAST((((q//3)//$tw * h // $th) * w + ((q//3)%$tw * w // $tw)) * 3 + (q%3) + 1 AS INT), 1)), '') AS rs
       |  FROM b
       |)
       |SELECT doc_id, TRUE AS valid,
       |       CAST($tw AS INTEGER) AS r_w, CAST($th AS INTEGER) AS r_h,
       |       CAST(list_sum(list_transform(range(1, length(rs) + 1), i -> unicode(substr(rs, i, 1)))) AS BIGINT) AS r_sum,
       |       ${rollSql("rs")} AS r_hash
       |FROM r""".stripMargin

  /** Mirror of [[graft.multimodal.Multimodal.sampleFramesPpm]]: frame i
    * samples pixel row ⌊i·h/n⌋; the row's w·3 bytes fold into the same
    * sum and rolling hash. */
  def framesPpmSql(nFrames: Int): String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |         CAST(doc_id % 5 + 2 AS INTEGER) AS w,
       |         CAST(doc_id % 3 + 2 AS INTEGER) AS h,
       |         rpad(regexp_replace(text, '$nonAsciiClass', '?', 'g'),
       |              CAST((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3 AS INTEGER), 'x') AS px
       |  FROM documents
       |),
       |f AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         CAST(i * h // $nFrames AS INTEGER) AS src_row,
       |         substr(px, CAST((i * h // $nFrames) * w * 3 + 1 AS INT), w * 3) AS rs
       |  FROM b, (SELECT unnest(range(0, $nFrames)) AS i)
       |)
       |SELECT doc_id, frame_idx, src_row,
       |       CAST(list_sum(list_transform(range(1, length(rs) + 1), i -> unicode(substr(rs, i, 1)))) AS BIGINT) AS row_sum,
       |       ${rollSql("rs")} AS row_hash,
       |       TRUE AS valid
       |FROM f""".stripMargin

  /** Byte-resize mirror of [[graft.multimodal.Multimodal.resize]]. */
  def resizeSql(target: Int): String =
    s"""WITH b AS (
       |  SELECT doc_id, text, greatest(length(text) // $target, 1) AS stride FROM documents
       |),
       |r AS (
       |  SELECT doc_id, array_to_string(list_transform(range(0, $target), j -> substr(text, CAST(j * stride + 1 AS INT), 1)), '') AS r
       |  FROM b
       |)
       |SELECT doc_id, CAST(length(r) AS BIGINT) AS r_len, ${rollSql("r")} AS r_hash FROM r""".stripMargin

  // ------------------------------------------------------------ events

  val hourlySql: String =
    """SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour, event_type,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** sparse -> grid -> gf CTE chain: the gap-filled hourly series — ONE
    * definition shared by [[hourlyGapFillSql]] and [[hourlyAnomalySql]]
    * (a drifted copy would break one query's parity while the other
    * still passes). */
  private val gapfillCtes: String =
    """sparse AS (
      |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour, event_type,
      |         CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2
      |),
      |grid AS (
      |  SELECT event_type, unnest(range(lo, hi + 1)) AS hour
      |  FROM (SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM sparse GROUP BY event_type)
      |),
      |gf AS (
      |  SELECT grid.hour, grid.event_type,
      |         COALESCE(sparse.cnt, 0) AS cnt,
      |         COALESCE(sparse.sum_value, 0.0) AS sum_value
      |  FROM grid LEFT JOIN sparse ON grid.event_type = sparse.event_type AND grid.hour = sparse.hour
      |)""".stripMargin

  /** Mirror of [[graft.events.Events.hourlyGapFill]]: the sparse hourly
    * counts densified onto each type's [lo, hi] hour grid. */
  val hourlyGapFillSql: String =
    s"""WITH $gapfillCtes
       |SELECT hour, event_type, cnt, sum_value FROM gf""".stripMargin

  /** Mirror of [[graft.events.Events.hourlyAnomaly]]: integer frame sums
    * (order-independent across DuckDB's segment-tree and Spark's buffer
    * walk), one fixed double expression for mean/variance with the 1.0
    * floor, round-6 z. */
  def hourlyAnomalySql(window: Int, minHist: Int, zThreshold: Double): String =
    s"""WITH $gapfillCtes,
       |win AS (
       |  SELECT hour, event_type, cnt,
       |         CAST(sum(cnt) OVER w AS BIGINT) AS s,
       |         CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss,
       |         CAST(count(*) OVER w AS BIGINT) AS nw
       |  FROM gf
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour ASC
       |               ROWS BETWEEN $window PRECEDING AND 1 PRECEDING)
       |),
       |m AS (
       |  SELECT hour, event_type, cnt, nw,
       |         CAST(s AS DOUBLE) / nw AS mean,
       |         greatest((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nw) / nw, 1.0) AS varr
       |  FROM win WHERE nw >= $minHist
       |),
       |z AS (
       |  SELECT hour, event_type, cnt, nw, mean,
       |         round((cnt - mean) / sqrt(varr), 6) AS z
       |  FROM m
       |)
       |SELECT hour, event_type, cnt, nw AS n_window,
       |       round(mean, 6) AS baseline_mean, z,
       |       abs(z) >= $zThreshold AS is_anomaly
       |FROM z""".stripMargin

  /** Mirror of [[graft.events.Events.transitions]]. */
  val transitionsSql: String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |nx AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS to_type
       |  FROM ev
       |),
       |pairs AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type
       |),
       |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs GROUP BY from_type)
       |SELECT pairs.from_type, to_type, n,
       |       round(CAST(n AS DOUBLE) / n_from, 6) AS p
       |FROM pairs JOIN tot ON pairs.from_type = tot.from_type""".stripMargin

  /** Mirror of [[graft.events.Events.retention]]. */
  def retentionSql(periodUs: Long, maxPeriods: Int): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) // $periodUs AS p FROM events),
       |first AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY user_id),
       |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM first GROUP BY cohort),
       |act AS (
       |  SELECT cohort, p - cohort AS "offset", CAST(count(*) AS BIGINT) AS n_active FROM (
       |    SELECT DISTINCT e.user_id, cohort, p
       |    FROM e JOIN first ON e.user_id = first.user_id
       |    WHERE p - cohort < $maxPeriods
       |  ) GROUP BY cohort, p - cohort
       |)
       |SELECT act.cohort, "offset", n_active, cohort_size,
       |       round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
       |FROM act JOIN sizes ON act.cohort = sizes.cohort""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.keywords]]: the tfidf chain plus
    * a doc-partitioned rank over the round-6 score. */
  def keywordsSql(k: Int): String =
    s"""WITH ${OracleSql.toksCte},
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, w),
       |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |ntab AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |sc AS (
       |  SELECT doc_id, w, round(tf * ln((n + 1) / (df + 1)), 6) AS tfidf
       |  FROM tf JOIN dfreq USING (w) CROSS JOIN ntab
       |)
       |SELECT doc_id, rk, w, tfidf FROM (
       |  SELECT doc_id, w, tfidf,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS BIGINT) AS rk
       |  FROM sc
       |) WHERE rk <= $k""".stripMargin

  /** Mirror of [[graft.events.Events.funnel]]: chained per-user earliest
    * step times (strictly-after within the window), one count row per
    * step, step-1 total attached by cross join. */
  def funnelSql(steps: Seq[String], windowUs: Long): String = {
    val stepCtes = steps.zipWithIndex.map { case (st, i) =>
      val esc = st.replace("'", "''")
      if (i == 0)
        s"""s1 AS (
           |  SELECT user_id, min(ts_us) AS t FROM ev
           |  WHERE event_type = '$esc' GROUP BY user_id
           |)""".stripMargin
      else
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.ts_us) AS t
           |  FROM ev e JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$esc' AND e.ts_us > p.t AND e.ts_us <= p.t + $windowUs
           |  GROUP BY e.user_id
           |)""".stripMargin
    }.mkString(",\n")
    val countRows = steps.zipWithIndex.map { case (st, i) =>
      val esc = st.replace("'", "''")
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$esc' AS event_type, CAST(count(*) AS BIGINT) AS n_users FROM s${i + 1}"
    }.mkString("\n  UNION ALL ")
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |$stepCtes,
       |c AS (
       |  $countRows
       |),
       |b AS (SELECT n_users AS n_base FROM c WHERE step = 1)
       |SELECT step, event_type, n_users,
       |       round(CASE WHEN n_base > 0 THEN CAST(n_users AS DOUBLE) / n_base ELSE 0.0 END, 6) AS conversion
       |FROM c CROSS JOIN b""".stripMargin
  }

  def sessionizeSql(gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000 * 1000
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |lagd AS (
       |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev FROM ev
       |),
       |ns AS (
       |  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > $gapUs THEN 1 ELSE 0 END AS new_s FROM lagd
       |),
       |sid AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM ns
       |)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us
       |FROM sid GROUP BY user_id, session_id""".stripMargin
  }

  /** Mirror of the `profile_incremental` entry: exact per-source stats +
    * a literal TRUE for the engine-side sketch bound (|merged HLL
    * estimate − exact| <= 4·rsd·exact — the approx_distinct gate shape). */
  val profileIncrementalSql: String =
    s"""WITH $tclCte,
       |$shCte,
       |ds AS (
       |  SELECT d.source, CAST(count(DISTINCT s.shingle) AS BIGINT) AS exact_shingles
       |  FROM sh s JOIN documents d USING (doc_id) GROUP BY d.source
       |),
       |st AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars
       |  FROM documents GROUP BY source
       |)
       |SELECT source, n_docs, total_chars, exact_shingles,
       |       TRUE AS within_rsd
       |FROM st JOIN ds USING (source)""".stripMargin

  /** Mirror of [[graft.ops.TableProfile.driftPsi]] over documents.n_chars
    * grouped by source. Same DECIMAL(28,18) per-term accumulation as the
    * LM score so the float sum is exactly associative on both engines. */
  def driftPsiSql(column: String, lo: Double, width: Double, eps: Double): String =
    s"""WITH b AS (
       |  SELECT source, CAST(floor((CAST($column AS DOUBLE) - $lo) / $width) AS BIGINT) AS bin
       |  FROM documents WHERE $column IS NOT NULL
       |),
       |ref AS (SELECT bin, count(*) AS rn FROM b GROUP BY bin),
       |rt AS (SELECT CAST(sum(rn) AS DOUBLE) AS rt FROM ref),
       |refp AS (SELECT bin, rn / rt AS pr FROM ref, rt),
       |cur AS (SELECT source, bin, count(*) AS cn FROM b GROUP BY source, bin),
       |ct AS (SELECT source, CAST(sum(cn) AS DOUBLE) AS ct FROM cur GROUP BY source),
       |grid AS (SELECT source, ct, bin, pr FROM ct, refp),
       |terms AS (
       |  SELECT source, pr, greatest(COALESCE(cn, 0) / ct, CAST($eps AS DOUBLE)) AS pc
       |  FROM grid LEFT JOIN cur USING (source, bin)
       |)
       |SELECT source,
       |       round(CAST(sum(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(28,18))) AS DOUBLE), 6) AS psi,
       |       CAST(count(*) AS BIGINT) AS n_bins
       |FROM terms GROUP BY source""".stripMargin

  /** Mirror of [[graft.text.TextAnalysis.oovRate]]: top-`v` vocabulary by
    * (count DESC, token ASC), per-doc occurrence counts outside it. */
  def oovRateSql(v: Int): String =
    s"""WITH $tclCte,
       |tk AS (SELECT doc_id, unnest(tl) AS w FROM tcl),
       |vocab AS (
       |  SELECT w FROM (SELECT w, count(*) AS c FROM tk GROUP BY w ORDER BY c DESC, w ASC LIMIT $v)
       |)
       |SELECT t.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       round(CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |             / CAST(count(*) AS BIGINT), 6) AS oov_rate
       |FROM tk t LEFT JOIN vocab ON t.w = vocab.w
       |GROUP BY t.doc_id""".stripMargin

  /** Mirror of [[graft.ops.TableProfile.keySkewProfile]] over a lineitem
    * key column. */
  def keySkewSql(keyCol: String, topK: Int): String =
    s"""WITH c AS (
       |  SELECT $keyCol AS key, CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem WHERE $keyCol IS NOT NULL GROUP BY 1
       |),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM c),
       |t AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT $topK),
       |r AS (
       |  SELECT key, cnt,
       |         CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rank,
       |         CAST(sum(cnt) OVER (ORDER BY cnt DESC, key ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT rank, key, cnt,
       |       round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
       |       round(CAST(cum AS DOUBLE) / n_rows, 6) AS cum_share,
       |       round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS hot_ratio,
       |       n_keys, n_rows
       |FROM r, s""".stripMargin

  /** Mirror of [[graft.ops.TableProfile.driftKs]]: exact integer
    * cumulative counts over the bin axis, one double division per CDF
    * value, max gap rounded to 6. */
  def driftKsSql(column: String, lo: Double, width: Double): String =
    s"""WITH b AS (
       |  SELECT source, CAST(floor((CAST($column AS DOUBLE) - $lo) / $width) AS BIGINT) AS bin
       |  FROM documents WHERE $column IS NOT NULL
       |),
       |cur AS (SELECT source, bin, count(*) AS cn FROM b GROUP BY source, bin),
       |ref AS (SELECT bin, sum(cn) AS rn FROM cur GROUP BY bin),
       |rt AS (SELECT sum(rn) AS rt FROM ref),
       |refc AS (SELECT bin, sum(rn) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS crn FROM ref),
       |ct AS (SELECT source, sum(cn) AS ct FROM cur GROUP BY source),
       |grid AS (SELECT source, ct, bin, crn FROM ct, refc),
       |cum AS (
       |  SELECT source, ct, crn,
       |         sum(COALESCE(cn, 0)) OVER (PARTITION BY source ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ccn
       |  FROM grid LEFT JOIN cur USING (source, bin)
       |)
       |SELECT source, round(max(abs(ccn / ct - crn / rt)), 6) AS ks,
       |       CAST(count(*) AS BIGINT) AS n_bins
       |FROM cum, rt GROUP BY source""".stripMargin

  /** Mirror of [[graft.ops.TableProfile.driftPsiQuantile]] (exact-edge
    * twin): pooled `nBins`-ile edges, round-6 values and edges before the
    * strict `>` bin comparisons, then the same ε-clamped DECIMAL PSI
    * tail as [[driftPsiSql]]. */
  def driftPsiQuantileSql(column: String, nBins: Int, eps: Double): String = {
    val qs = (1 until nBins).map(i => i.toDouble / nBins).mkString(", ")
    s"""WITH b AS (
       |  SELECT source, round(CAST($column AS DOUBLE), 6) AS x
       |  FROM documents WHERE $column IS NOT NULL
       |),
       |e AS (SELECT list_transform(quantile_cont(x, [$qs]), v -> round(v, 6)) AS le FROM b),
       |bb AS (SELECT source, CAST(len(list_filter(le, v -> x > v)) AS BIGINT) AS bin FROM b, e),
       |cur AS (SELECT source, bin, count(*) AS cn FROM bb GROUP BY source, bin),
       |ref AS (SELECT bin, sum(cn) AS rn FROM cur GROUP BY bin),
       |rt AS (SELECT CAST(sum(rn) AS DOUBLE) AS rt FROM ref),
       |refp AS (SELECT bin, rn / rt AS pr FROM ref, rt),
       |ct AS (SELECT source, CAST(sum(cn) AS DOUBLE) AS ct FROM cur GROUP BY source),
       |grid AS (SELECT source, ct, bin, pr FROM ct, refp),
       |terms AS (
       |  SELECT source, pr, greatest(COALESCE(cn, 0) / ct, CAST($eps AS DOUBLE)) AS pc
       |  FROM grid LEFT JOIN cur USING (source, bin)
       |)
       |SELECT source,
       |       round(CAST(sum(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(28,18))) AS DOUBLE), 6) AS psi,
       |       CAST(count(*) AS BIGINT) AS n_bins
       |FROM terms GROUP BY source""".stripMargin
  }

  // ------------------------------------------------------ count-min sketch

  /** Row-i CMS bucket over md5 halves x/y — the single definition all CMS
    * oracles share, mirroring [[graft.ops.CountMin]]'s affine family. */
  private def cmsBucket(i: Int, width: Int): String = {
    import graft.ops.CountMin.{cmsA, cmsB, cmsC, CmsP}
    s"((${cmsA(i)} * x + ${cmsB(i)} * y + ${cmsC(i)}) % $CmsP) % $width"
  }

  /** Bigram-occurrence relation `bg(item)` + its md5 halves `bghx(item, x,
    * y)` (one row PER OCCURRENCE — CMS counts occurrences, not distincts). */
  private val cmsBgCtes: String =
    s"""$tclCte,
       |bg AS (
       |  SELECT unnest(list_transform(range(1, len(tl)), i -> tl[i] || ' ' || tl[i+1])) AS item
       |  FROM tcl WHERE len(tl) >= 2
       |),
       |bghx AS (
       |  SELECT item,
       |         CAST('0x' || substr(m, 1, 7) AS BIGINT) AS x,
       |         CAST('0x' || substr(m, 8, 7) AS BIGINT) AS y
       |  FROM (SELECT item, md5(item) AS m FROM bg)
       |)""".stripMargin

  /** Probe relation `pr(rw, bkt)`: one row per (hash row, bucket) per
    * occurrence, from which the sketch is a plain GROUP BY count. */
  private def cmsProbeCte(depth: Int, width: Int): String = {
    val rows = (0 until depth).map(i =>
      s"SELECT $i AS rw, ${cmsBucket(i, width)} AS bkt FROM bghx")
    s"""pr AS (
       |  ${rows.mkString("\n  UNION ALL ")}
       |)""".stripMargin
  }

  /** Flat single-pass sketch build — the oracle for BOTH
    * `cms_sketch_bigrams` (direct build) and `cms_sketch_merged` (two
    * split sketches summed cell-wise): merge-exactness means both Spark
    * forms must hash-match this one relation. */
  def cmsSketchSql(depth: Int, width: Int): String =
    s"""WITH $cmsBgCtes,
       |${cmsProbeCte(depth, width)}
       |SELECT rw, bkt, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY rw, bkt""".stripMargin

  /** Heavy hitters with CMS point estimates: exact counts >= minCount,
    * est = min over the depth rows of the item's cell (CMS never
    * undercounts, so overcount >= 0 — the spec pins that; here the values
    * themselves are hash-compared). */
  def cmsHeavyHittersSql(depth: Int, width: Int, minCount: Long): String = {
    val qprobes = (0 until depth).map(i =>
      s"SELECT item, $i AS rw, ${cmsBucket(i, width)} AS bkt FROM exhx")
    s"""WITH $cmsBgCtes,
       |${cmsProbeCte(depth, width)},
       |cells AS (SELECT rw, bkt, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY rw, bkt),
       |ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_n FROM bg GROUP BY item HAVING count(*) >= $minCount),
       |exhx AS (
       |  SELECT item,
       |         CAST('0x' || substr(m, 1, 7) AS BIGINT) AS x,
       |         CAST('0x' || substr(m, 8, 7) AS BIGINT) AS y
       |  FROM (SELECT item, md5(item) AS m FROM ex)
       |),
       |qp AS (
       |  ${qprobes.mkString("\n  UNION ALL ")}
       |),
       |est AS (
       |  SELECT item, min(COALESCE(cnt, 0)) AS est
       |  FROM qp LEFT JOIN cells USING (rw, bkt) GROUP BY item
       |)
       |SELECT item, exact_n, est AS est_n, est - exact_n AS overcount
       |FROM est JOIN ex USING (item)""".stripMargin
  }
}
