package graft

import graft.ops.Stopwords

/** DuckDB oracle SQL builders. Each fragment mirrors the corresponding
  * Spark `Column` composition *operation-for-operation* (see scaladoc on
  * the ops) so integer results match exactly and floating-point results
  * match after `round(x, 6)`: both engines are IEEE-754 doubles, identical
  * evaluation order, and the only platform-dependent primitive (`ln`)
  * differs by at most 1 ulp.
  */
object OracleSql {

  /** `NGramUtils.cleanToken` in DuckDB (RE2 shares `\p{L}`/`\p{N}` with
    * Java regex on the classes used). `x` is a SQL expression. */
  def clean(x: String): String =
    s"lower(trim(regexp_replace(regexp_replace(" +
      s"CASE WHEN instr(trim($x), '_') > 1 THEN substr(trim($x), 1, CAST(instr(trim($x), '_') AS INTEGER) - 1) ELSE trim($x) END, " +
      s"'^[^\\p{L}\\p{N}]+', ''), '[^\\p{L}\\p{N}]+$$', '')))"

  /** Per-language stopword routing, the same in-row set test as
    * `Stopwords.anti`: `he` rows check the Hebrew set, every other
    * language — including a NULL lang, which Spark's otherwise-branch
    * sends to English — the English one. The CASE keeps three-valued
    * logic out: the old conjunction form evaluated to NULL (row dropped)
    * for NULL lang whenever the word sat in either list, diverging from
    * Spark. */
  def notStop(w: String, lang: String = "lang"): String =
    s"(CASE WHEN COALESCE($lang, '') = 'he' THEN $w NOT IN (${Stopwords.heSqlList}) " +
      s"ELSE $w NOT IN (${Stopwords.sqlList}) END)"

  /** CTE block producing `toks(doc_id, lang, w, pos)` — cleaned non-empty
    * tokens with 1-based positions, mirroring `Normalize.tokensCol`. */
  val toksCte: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (
       |    SELECT doc_id, lang,
       |           list_filter(list_transform(string_split_regex(text, '\\s+'), s -> ${clean("s")}), s -> length(s) > 0) AS tl
       |    FROM documents
       |  )
       |)""".stripMargin

  /** uni(lang, w, c): stopword-filtered unigram counts (A2). */
  val uniCte: String =
    s"""uni AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |  FROM toks WHERE ${notStop("w")}
       |  GROUP BY lang, w
       |)""".stripMargin

  /** ntab(lang, n): grand total per lang (A4). */
  val nCte: String =
    s"""ntab AS (
       |  SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY lang
       |)""".stripMargin

  /** bg(lang, w1, w2, c12): adjacent-pair counts, both words non-stop (A3). */
  val bgCte: String =
    s"""bg AS (
       |  SELECT a.lang, a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  WHERE ${notStop("a.w", "a.lang")} AND ${notStop("b.w", "a.lang")}
       |  GROUP BY a.lang, a.w, b.w
       |)""".stripMargin

  /** joined(lang, w1, w2, c12, c1, c2, n): J1+J2+J3. */
  val joinedCte: String =
    s"""joined AS (
       |  SELECT bg.lang, bg.w1, bg.w2, bg.c12, u1.c AS c1, u2.c AS c2, ntab.n
       |  FROM bg
       |  JOIN uni u1 ON bg.lang = u1.lang AND bg.w1 = u1.w
       |  JOIN uni u2 ON bg.lang = u2.lang AND bg.w2 = u2.w
       |  JOIN ntab ON bg.lang = ntab.lang
       |)""".stripMargin

  /** scored(<carryCols>, llr_raw): F3 with the reference's guard/term
    * semantics (`LLR.java:16-47`), llr NOT yet rounded. `carryCols` are
    * the group/key columns carried through from a CTE named `joined` that
    * must provide them plus c12, c1, c2, n. */
  def scoredChainCte(carryCols: String): String = {
    def term(k: String, e: String): String =
      s"(CASE WHEN $k = 0 OR $e <= 0 THEN 0.0 ELSE CAST($k AS DOUBLE) * ln(CAST($k AS DOUBLE) / $e) END)"
    s"""ks AS (
       |  SELECT *, c12 AS k11, c1 - c12 AS k12, c2 - c12 AS k21, n - c1 - c2 + c12 AS k22
       |  FROM joined
       |),
       |rc AS (
       |  SELECT *, CAST(k11 + k12 AS DOUBLE) AS row1, CAST(k21 + k22 AS DOUBLE) AS row2,
       |            CAST(k11 + k21 AS DOUBLE) AS col1, CAST(k12 + k22 AS DOUBLE) AS col2
       |  FROM ks
       |),
       |tot AS (SELECT *, row1 + row2 AS total FROM rc),
       |es AS (
       |  SELECT *, row1 * col1 / total AS e11, row1 * col2 / total AS e12,
       |            row2 * col1 / total AS e21, row2 * col2 / total AS e22
       |  FROM tot
       |),
       |scored AS (
       |  SELECT $carryCols, c12, c1, c2, n,
       |    CASE WHEN k11 < 0 OR k12 < 0 OR k21 < 0 OR k22 < 0
       |              OR n <= 0 OR c1 <= 0 OR c2 <= 0 OR c12 <= 0 OR total <= 0
       |         THEN CAST('nan' AS DOUBLE)
       |         ELSE 2.0 * ((((${term("k11", "e11")} + ${term("k12", "e12")}) + ${term("k21", "e21")}) + ${term("k22", "e22")}))
       |    END AS llr_raw
       |  FROM es
       |)""".stripMargin
  }

  /** The lang-grained instantiation used by the documents-table queries. */
  val scoredCte: String = scoredChainCte("lang, w1, w2")

  /** All collocation CTEs chained; append a final SELECT. */
  val collocationCtes: String =
    s"WITH $toksCte,\n$uniCte,\n$nCte,\n$bgCte,\n$joinedCte,\n$scoredCte"

  /** Full flagship oracle: Top-K per lang, rounded, deterministic ties. */
  def topCollocationsSql(k: Int): String =
    s"""$collocationCtes,
       |final AS (
       |  SELECT lang, w1, w2, round(llr_raw, 6) AS llr
       |  FROM scored WHERE NOT isnan(llr_raw)
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY llr DESC, w1 ASC, w2 ASC) AS rn
       |  FROM final
       |)
       |SELECT lang, w1, w2, llr FROM ranked WHERE rn <= $k""".stripMargin

  /** Mirror of [[graft.collocations.Collocations.pipelineCounters]]: the
    * engine reports its stage counts via `observe` nodes riding the one
    * top-k action; the oracle computes the SAME counts directly — each
    * counter is a plain aggregate over the shared CTE chain (raw pairs =
    * the pos+1 self-join before the stopword predicate; pre_agg = after
    * it; post_agg = the grouped table; pre_topk = non-NaN scored rows) —
    * and derives the three reduction ratios with the identical
    * `round(1.0 - CAST(x AS DOUBLE)/y, 6)` algebra. */
  def pipelineCountersSql(k: Int): String =
    s"""$collocationCtes,
       |final AS (
       |  SELECT lang, w1, w2, round(llr_raw, 6) AS llr
       |  FROM scored WHERE NOT isnan(llr_raw)
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY llr DESC, w1 ASC, w2 ASC) AS rn
       |  FROM final
       |),
       |cnt AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       |    (SELECT CAST(count(*) AS BIGINT)
       |       FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1) AS raw_pair_records,
       |    (SELECT CAST(count(*) AS BIGINT)
       |       FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |       WHERE ${notStop("a.w", "a.lang")} AND ${notStop("b.w", "a.lang")}) AS pre_agg_records,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bg) AS post_agg_groups,
       |    (SELECT CAST(count(*) AS BIGINT) FROM final) AS pre_topk_records,
       |    (SELECT CAST(count(*) AS BIGINT) FROM ranked WHERE rn <= $k) AS topk_rows
       |)
       |SELECT n_docs, raw_pair_records, pre_agg_records, post_agg_groups,
       |       pre_topk_records, topk_rows,
       |  round(1.0 - CAST(pre_agg_records AS DOUBLE) / raw_pair_records, 6) AS stopword_cut,
       |  round(1.0 - CAST(post_agg_groups AS DOUBLE) / pre_agg_records, 6) AS combiner_cut,
       |  round(1.0 - CAST(topk_rows AS DOUBLE) / pre_topk_records, 6) AS topk_cut
       |FROM cnt""".stripMargin
}
