package graft.oracles

/** DuckDB oracle SQL for the corpusstats family — split out of SparkEntry
  * (round 9) purely for registry file size; keys and SQL are the
  * unchanged driver contract (SURVEY §5). */
private[graft] object CorpusStatsOracles {
  import OracleFragments._

  val sql: Map[String, String] = Map(

    // idf is the RATIO (N+1)/(df+1), not ln of it: +,*,/ are IEEE
    // correctly-rounded (bit-identical between engines); libm ln is
    // not. Rounded score is what both engines rank on.
    "tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, token, tf, df,
        |        ROUND(CAST(tf AS DOUBLE) *
        |          (CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 4) AS score
        |      FROM tf JOIN df USING (token), n),
        |r AS (SELECT doc_id, token, tf, df, score,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, token) AS INT) AS rank
        |      FROM s)
        |SELECT doc_id, token, tf, df, score, rank FROM r WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,

    "repetition_stats" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |b AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |        CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
        |        CASE WHEN len(toks) >= 2
        |          THEN list_transform(generate_series(1, len(toks) - 1),
        |                 i -> toks[i] || ' ' || toks[i+1])
        |          ELSE [] END AS bigrams
        |      FROM t),
        |tb AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count FROM (
        |         SELECT doc_id, bg, COUNT(*) AS c
        |         FROM (SELECT doc_id, unnest(bigrams) AS bg FROM b)
        |         GROUP BY doc_id, bg) GROUP BY doc_id),
        |j AS (SELECT b.doc_id, b.n_tokens, b.n_distinct,
        |        ROUND(CAST(b.n_distinct AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 4)
        |          AS distinct_ratio,
        |        COALESCE(tb.top_bigram_count, 0) AS top_bigram_count,
        |        CASE WHEN b.n_tokens >= 2
        |          THEN ROUND(CAST(COALESCE(tb.top_bigram_count, 0) AS DOUBLE) /
        |                 CAST(b.n_tokens - 1 AS DOUBLE), 4)
        |          ELSE 0.0 END AS top_bigram_frac
        |      FROM b LEFT JOIN tb USING (doc_id))
        |SELECT doc_id, n_tokens, n_distinct, distinct_ratio, top_bigram_count,
        |  top_bigram_frac,
        |  (distinct_ratio >= 0.3 AND top_bigram_frac <= 0.2) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,

    // Collocation salience is lift = P(w1 w2)/(P(w1)P(w2)) — the
    // log-free PMI variant, same IEEE-only-arithmetic rationale as
    // tfidf_top_terms. Parenthesization matches the Spark side exactly.
    "collocations" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |big AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
        |          CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM (SELECT unnest(CASE WHEN len(toks) >= 2
        |                THEN list_transform(generate_series(1, len(toks) - 1),
        |                       i -> toks[i] || ' ' || toks[i+1])
        |                ELSE [] END) AS bg FROM t)
        |        GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_uni,
        |               CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS n_big
        |        FROM t)
        |SELECT w1, w2, c12,
        |  ROUND((CAST(c12 AS DOUBLE) / CAST(n_big AS DOUBLE)) /
        |        ((CAST(a.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
        |         (CAST(b.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE))), 4) AS lift
        |FROM big JOIN uni a ON big.w1 = a.token JOIN uni b ON big.w2 = b.token, tot
        |ORDER BY c12 DESC, lift DESC, w1, w2 LIMIT 50""".stripMargin,

    "lang_quality_gate" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang, $QualitySqlExpr AS quality
        |  FROM documents),
        |th AS (SELECT lang,
        |         floor(quantile_cont(quality, 0.75) * 1e4 + 0.5) / 1e4 AS lang_p75
        |       FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality, th.lang_p75
        |FROM scored s JOIN th USING (lang)
        |WHERE s.quality >= th.lang_p75 ORDER BY s.doc_id""".stripMargin,

    // Trigram extraction mirrors TextF.charTrigrams (lower, collapse
    // whitespace runs to one space, 1-based substr windows); the score
    // keeps all integer sums exact and divides once (see
    // CorpusStats.lmQualityOf).
    "lm_quality" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |                          i -> substr(t, i, 3))) AS g
        |  FROM t),
        |model AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY g),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_grams FROM model),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(m.cnt) AS BIGINT) AS sum_cnt
        |  FROM g JOIN model m USING (g) GROUP BY doc_id)
        |SELECT doc_id, n_grams,
        |  floor(CAST(sum_cnt AS DOUBLE) * 1e6
        |    / (CAST(n_grams AS DOUBLE) * CAST(total_grams AS DOUBLE))
        |    * 1e4 + 0.5) / 1e4 AS score_ppm
        |FROM per, tot ORDER BY doc_id""".stripMargin,

    // Source TVD: top-100 + OTHER coarsened partition, exact ppm
    // shares, common-cell |Δ| plus each side's missing mass, div 2.
    "source_word_tvd" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |counts AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |top AS (SELECT t FROM (SELECT t, CAST(SUM(c) AS BIGINT) AS cnt
        |    FROM counts GROUP BY t)
        |  ORDER BY cnt DESC, t LIMIT 100),
        |cells AS (SELECT source,
        |    CASE WHEN t IN (SELECT t FROM top) THEN t
        |         ELSE '__OTHER__' END AS cell,
        |    CAST(SUM(c) AS BIGINT) AS c
        |  FROM counts GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS total
        |  FROM counts GROUP BY source),
        |prof AS (SELECT c2.source, c2.cell,
        |    CAST((c2.c * 1000000) // tot.total AS BIGINT) AS p
        |  FROM cells c2 JOIN tot ON c2.source = tot.source),
        |sums AS (SELECT source, CAST(SUM(p) AS BIGINT) AS sp
        |  FROM prof GROUP BY source),
        |cm AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(SUM(abs(a.p - b.p)) AS BIGINT) AS dcommon,
        |    CAST(SUM(a.p) AS BIGINT) AS ca, CAST(SUM(b.p) AS BIGINT) AS cb
        |  FROM prof a JOIN prof b
        |    ON a.cell = b.cell AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT x.source AS source_a, y.source AS source_b,
        |  CAST((COALESCE(cm.dcommon, 0) + (x.sp - COALESCE(cm.ca, 0))
        |    + (y.sp - COALESCE(cm.cb, 0))) // 2 AS BIGINT) AS tvd_ppm
        |FROM sums x JOIN sums y ON x.source < y.source
        |LEFT JOIN cm ON cm.source_a = x.source AND cm.source_b = y.source
        |ORDER BY source_a, source_b""".stripMargin,

    // CCNet buckets: lm_quality's model CTEs verbatim, nearest-rank
    // tercile cutpoints on the (lang, score-grid) cumulative frame,
    // all bucket stats off the grid.
    "ccnet_buckets" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |                          i -> substr(t, i, 3))) AS g
        |  FROM t),
        |model AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY g),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_grams FROM model),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(m.cnt) AS BIGINT) AS sum_cnt
        |  FROM g JOIN model m USING (g) GROUP BY doc_id),
        |sc AS (SELECT doc_id,
        |    floor(CAST(sum_cnt AS DOUBLE) * 1e6
        |      / (CAST(n_grams AS DOUBLE) * CAST(total_grams AS DOUBLE))
        |      * 1e4 + 0.5) / 1e4 AS score_ppm
        |  FROM per, tot),
        |dj AS (SELECT s.doc_id, d.lang,
        |    CAST(floor(s.score_ppm * 1e4 + 0.5) AS BIGINT) AS sq,
        |    CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT)
        |      AS tok
        |  FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
        |grid AS (SELECT lang, sq, CAST(COUNT(*) AS BIGINT) AS c,
        |    SUM(CAST(tok AS HUGEINT)) AS tokc
        |  FROM dj GROUP BY 1, 2),
        |w2 AS (SELECT *,
        |    CAST(SUM(c) OVER (PARTITION BY lang ORDER BY sq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM grid),
        |cuts AS (SELECT lang,
        |    MIN(CASE WHEN cumc >= (total + 2) // 3 THEN sq END) AS cut1,
        |    MIN(CASE WHEN cumc >= (2 * total + 2) // 3 THEN sq END) AS cut2
        |  FROM w2 GROUP BY lang),
        |b AS (SELECT g2.lang,
        |    CASE WHEN g2.sq <= cuts.cut1 THEN 'tail'
        |         WHEN g2.sq <= cuts.cut2 THEN 'middle'
        |         ELSE 'head' END AS bucket,
        |    g2.c, g2.tokc, CAST(g2.sq AS HUGEINT) * g2.c AS sqs
        |  FROM grid g2 JOIN cuts ON g2.lang = cuts.lang)
        |SELECT lang, bucket, CAST(SUM(c) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokc) AS BIGINT) AS tokens,
        |  floor(CAST(SUM(sqs) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) + 0.5) / 1e4
        |    AS mean_score
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    // The vocabulary subquery is vocab_df's oracle verbatim (same
    // ordering and LIMIT), so the coverage metric and the vocabulary
    // builder can never drift apart.
    "oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |vocab AS (SELECT token FROM (
        |  SELECT token, COUNT(*) AS df, SUM(tf) AS cf
        |  FROM tf GROUP BY token
        |  ORDER BY df DESC, cf DESC, token LIMIT 100)),
        |per AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tok t LEFT JOIN vocab v USING (token) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_oov AS BIGINT) AS n_oov,
        |  floor(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS oov_rate
        |FROM per ORDER BY doc_id""".stripMargin,

    // Whitespace is the explicit class (Java \s ≠ RE2 \s); mean word
    // length = non-ws chars / tokens; ratios floor-round half-up like
    // the quality oracle.
    "gopher_rules" ->
      """WITH b AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS char_len
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_word_len,
        |    floor(CAST(len(list_filter(toks, t -> starts_with(t, '#') OR contains(t, '...'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS symbol_frac,
        |    floor(CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
        |  FROM b)
        |SELECT *,
        |  n_tokens >= 50 AND n_tokens <= 100000 AND
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
        |  symbol_frac <= 0.1 AND alpha_frac >= 0.8 AND n_stop_hits >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // df/cf/rank are all windows over the token partition — mirrors
    // the single-shuffle Spark plan; (tf DESC, doc_id) tiebreak.
    "inverted_index" ->
      """WITH tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents)
        |  GROUP BY 1, 2),
        |w AS (SELECT token, doc_id, tf,
        |    CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df,
        |    CAST(SUM(tf) OVER (PARTITION BY token) AS BIGINT) AS cf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS INT) AS rank
        |  FROM tf)
        |SELECT token, df, cf, doc_id, tf, rank FROM w
        |WHERE df >= 5 AND rank <= 3 ORDER BY token, rank""".stripMargin,

    // One per-doc projection reusing the quality / BPE / Gopher
    // fragments verbatim, then exact-integer sums; both means divide
    // once and round half-up at the end.
    "corpus_card" ->
      s"""WITH b AS (SELECT lang, source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks,
        |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g')) AS char_len
        |  FROM documents),
        |g AS (SELECT lang, source, text, toks,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_word_len,
        |    floor(CAST(len(list_filter(toks, t -> starts_with(t, '#') OR contains(t, '...'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS symbol_frac,
        |    floor(CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
        |  FROM b),
        |m AS (SELECT lang, source,
        |    CAST(len(toks) AS BIGINT) AS t_ws,
        |    CAST(len(regexp_extract_all(text, ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+')) AS BIGINT) AS t_bpe,
        |    CAST(floor(($QualitySqlExpr) * 1e4 + 0.5) AS BIGINT) AS qq,
        |    CASE WHEN n_tokens >= 50 AND n_tokens <= 100000
        |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |      AND symbol_frac <= 0.1 AND alpha_frac >= 0.8
        |      AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM g)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(t_ws) AS BIGINT) AS tokens_ws,
        |  CAST(SUM(t_bpe) AS BIGINT) AS tokens_bpe,
        |  floor(CAST(SUM(qq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4
        |    AS mean_quality,
        |  floor(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS gopher_keep_frac
        |FROM m GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Distinct (token, source) first; Jaccard of vocabularies with one
    // division, 4dp half-up. The COUNT compare needs no hash twin for
    // Spark's xxhash64 token key (dup_matrix's argument).
    "vocab_overlap" ->
      """WITH vs AS (SELECT DISTINCT token, source FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |    FROM documents)),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vs GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_shared
        |      FROM vs a JOIN vs b ON a.token = b.token AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
        |  floor(CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS jaccard
        |FROM p JOIN sz sa ON sa.source = p.source_a
        |JOIN sz sb ON sb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // Add-one smoothed relative-frequency ratio (ratio form, no libm);
    // one multiply per side of ONE division, rounded then ranked.
    "term_keyness" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT token,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS f_focus,
        |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS f_rest
        |  FROM tok GROUP BY 1),
        |t AS (SELECT CAST(SUM(f_focus) AS BIGINT) AS nf,
        |        CAST(SUM(f_rest) AS BIGINT) AS nr,
        |        CAST(COUNT(*) AS BIGINT) AS v FROM tf)
        |SELECT token, f_focus, f_rest,
        |  floor((CAST(f_focus + 1 AS DOUBLE) * CAST(nr + v AS DOUBLE))
        |    / (CAST(f_rest + 1 AS DOUBLE) * CAST(nf + v AS DOUBLE)) * 1e4 + 0.5) / 1e4
        |    AS keyness
        |FROM tf CROSS JOIN t WHERE f_focus >= 5
        |ORDER BY keyness DESC, token LIMIT 50""".stripMargin,

    // Bin on the already-4dp score (exact); mean via the 1e4-integer
    // sum; both ratios divide once and round half-up.
    "calibration_curve" ->
      s"""WITH s AS (SELECT $QualitySqlExpr AS q, lang FROM documents),
        |b AS (SELECT CAST(least(floor(q * 20), 19) AS BIGINT) AS bin,
        |        CAST(floor(q * 1e4 + 0.5) AS BIGINT) AS qq,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |      FROM s)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  floor(CAST(SUM(qq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4
        |    AS mean_score,
        |  floor(CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // Murphy decomposition over calibration_curve's binned frame; the
    // per-bin reliability/resolution terms quantize through the SAME
    // fixed-order double chain as the engine (floor to micros), so
    // every published component is engine-identical.
    "brier_decomposition" ->
      s"""WITH s AS (SELECT $QualitySqlExpr AS q, lang FROM documents),
        |pd AS (SELECT CAST(least(floor(q * 20), 19) AS BIGINT) AS bin,
        |        CAST(floor(q * 1e4 + 0.5) AS BIGINT) AS qq,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |      FROM s),
        |cells AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(qq) AS BIGINT) AS qsum,
        |        CAST(SUM(pos) AS BIGINT) AS npos,
        |        SUM(CAST(qq - pos * 10000 AS DECIMAL(38,0)) * (qq - pos * 10000)) AS sqerr
        |      FROM pd GROUP BY bin),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |        CAST(SUM(npos) AS BIGINT) AS tpos,
        |        SUM(CAST(sqerr AS DECIMAL(38,0))) AS tsqerr
        |      FROM cells),
        |qt AS (SELECT nn, tpos, tsqerr,
        |        CAST(floor((CAST(qsum AS DOUBLE) - CAST(npos AS DOUBLE) * 1e4)
        |            * (CAST(qsum AS DOUBLE) - CAST(npos AS DOUBLE) * 1e4)
        |            / CAST(n AS DOUBLE) / 1e8 * 1e6 + 0.5) AS BIGINT) AS rel_t,
        |        CAST(floor((CAST(npos AS DOUBLE) * CAST(nn AS DOUBLE)
        |              - CAST(tpos AS DOUBLE) * CAST(n AS DOUBLE))
        |            * (CAST(npos AS DOUBLE) * CAST(nn AS DOUBLE)
        |              - CAST(tpos AS DOUBLE) * CAST(n AS DOUBLE))
        |            / CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)
        |            * 1e6 + 0.5) AS BIGINT) AS res_t
        |      FROM cells, t),
        |a AS (SELECT nn, tpos, tsqerr,
        |        CAST(SUM(rel_t) AS BIGINT) AS rel_sum,
        |        CAST(SUM(res_t) AS BIGINT) AS res_sum
        |      FROM qt GROUP BY 1, 2, 3),
        |f AS (SELECT nn, tpos,
        |        CAST(tsqerr AS DOUBLE) / CAST(nn AS DOUBLE) / 1e8 AS brier,
        |        CAST(rel_sum AS DOUBLE) / 1e6 / CAST(nn AS DOUBLE) AS rel,
        |        CAST(res_sum AS DOUBLE) / 1e6 / CAST(nn AS DOUBLE) AS res,
        |        CAST(tpos AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(tpos AS DOUBLE))
        |          / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS unc
        |      FROM a)
        |SELECT nn AS n_docs, tpos AS n_pos,
        |  floor(brier * 1e6 + 0.5) / 1e6 AS brier,
        |  floor(rel * 1e6 + 0.5) / 1e6 AS reliability,
        |  floor(res * 1e6 + 0.5) / 1e6 AS resolution,
        |  floor(unc * 1e6 + 0.5) / 1e6 AS uncertainty,
        |  floor((brier - (rel - res + unc)) * 1e6 + 0.5) / 1e6 AS within_bin
        |FROM f""".stripMargin,

    // Isotonic (PAVA) fit via the minimax identity over the
    // calibration-curve bins: fitted(i) = max_{j<=i} min_{k>=i}
    // pooledRate(j..k), pooled rates quantized to the 1e-12 integer
    // grid by HUGEINT floor-division BEFORE min/max (DECIMAL-//
    // rounds in DuckDB — the Q8 pitfall).
    "isotonic_calibration" ->
      s"""WITH s AS (SELECT $QualitySqlExpr AS q, lang FROM documents),
        |b AS (SELECT CAST(least(floor(q * 20), 19) AS BIGINT) AS bin,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |      FROM s),
        |cells AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(pos) AS BIGINT) AS n_pos
        |      FROM b GROUP BY bin),
        |pref AS (SELECT bin, n_docs, n_pos,
        |        SUM(n_docs) OVER (ORDER BY bin) AS cn,
        |        SUM(n_pos) OVER (ORDER BY bin) AS cr
        |      FROM cells),
        |iv AS (SELECT l.bin AS j, h.bin AS k,
        |        CAST((CAST(h.cr - (l.cr - l.n_pos) AS HUGEINT) * 1000000000000)
        |          // CAST(h.cn - (l.cn - l.n_docs) AS HUGEINT) AS BIGINT) AS re12
        |      FROM pref l JOIN pref h ON l.bin <= h.bin),
        |fit AS (SELECT i, MAX(mn) AS fe12 FROM
        |        (SELECT c.bin AS i, iv.j, MIN(iv.re12) AS mn
        |         FROM iv JOIN cells c ON iv.j <= c.bin AND c.bin <= iv.k
        |         GROUP BY 1, 2)
        |      GROUP BY i)
        |SELECT c.bin, c.n_docs, c.n_pos,
        |  CAST((c.n_pos * 1000000) // c.n_docs AS BIGINT) AS raw_ppm,
        |  CAST(fit.fe12 // 1000000 AS BIGINT) AS iso_ppm
        |FROM cells c JOIN fit ON c.bin = fit.i
        |ORDER BY c.bin""".stripMargin,

    // Cochran's Q over the three gates (gopher conjunction, quality
    // threshold, lang=='en'): all-integer cells off one scan, one
    // double division, chi2 df=2 verdict.
    "cochran_q_gates" ->
      s"""WITH b AS (SELECT lang,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks,
        |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g'))
        |      AS char_len,
        |    $QualitySqlExpr AS q
        |  FROM documents),
        |g AS (SELECT
        |    COALESCE(CAST(len(toks) AS INT) >= 50 AND CAST(len(toks) AS INT) <= 100000
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 >= 3.0
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 <= 10.0
        |     AND floor(CAST(len(list_filter(toks, t -> starts_with(t, '#')
        |           OR contains(t, '...'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 <= 0.1
        |     AND floor(CAST(len(list_filter(toks,
        |           t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 >= 0.8
        |     AND CAST(len(list_intersect(list_distinct(toks),
        |       ['the','be','to','of','and','that','have','with']))
        |       AS BIGINT) >= 2, FALSE) AS g1,
        |    COALESCE(q >= 0.9, FALSE) AS g2,
        |    COALESCE(lang = 'en', FALSE) AS g3
        |  FROM b),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c_gopher,
        |    CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS c_quality,
        |    CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS c_lang,
        |    CAST(SUM((CASE WHEN g1 THEN 1 ELSE 0 END)
        |           + (CASE WHEN g2 THEN 1 ELSE 0 END)
        |           + (CASE WHEN g3 THEN 1 ELSE 0 END)) AS BIGINT) AS t,
        |    CAST(SUM(((CASE WHEN g1 THEN 1 ELSE 0 END)
        |            + (CASE WHEN g2 THEN 1 ELSE 0 END)
        |            + (CASE WHEN g3 THEN 1 ELSE 0 END))
        |           * ((CASE WHEN g1 THEN 1 ELSE 0 END)
        |            + (CASE WHEN g2 THEN 1 ELSE 0 END)
        |            + (CASE WHEN g3 THEN 1 ELSE 0 END))) AS BIGINT) AS r2
        |  FROM g),
        |f AS (SELECT n_docs, c_gopher, c_quality, c_lang,
        |    floor(
        |      2.0 * CAST(3 * (CAST(c_gopher AS HUGEINT) * c_gopher
        |          + CAST(c_quality AS HUGEINT) * c_quality
        |          + CAST(c_lang AS HUGEINT) * c_lang)
        |        - CAST(t AS HUGEINT) * t AS DOUBLE)
        |      / NULLIF(CAST(3 * t - r2 AS DOUBLE), 0.0)
        |      * 1e6 + 0.5) / 1e6 AS q_cochran
        |  FROM t)
        |SELECT n_docs, c_gopher, c_quality, c_lang, q_cochran,
        |  CASE WHEN q_cochran IS NULL THEN FALSE
        |       ELSE q_cochran > 5.991465 END AS significant
        |FROM f""".stripMargin,

    // Fleiss' kappa over the same three gates: denominators cleared
    // to exact integers, one double division, Landis-Koch bands on
    // the rounded kappa.
    "fleiss_kappa_gates" ->
      s"""WITH b AS (SELECT lang,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks,
        |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g'))
        |      AS char_len,
        |    $QualitySqlExpr AS q
        |  FROM documents),
        |g AS (SELECT
        |    (CASE WHEN COALESCE(CAST(len(toks) AS INT) >= 50 AND CAST(len(toks) AS INT) <= 100000
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 >= 3.0
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 <= 10.0
        |     AND floor(CAST(len(list_filter(toks, t -> starts_with(t, '#')
        |           OR contains(t, '...'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 <= 0.1
        |     AND floor(CAST(len(list_filter(toks,
        |           t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 >= 0.8
        |     AND CAST(len(list_intersect(list_distinct(toks),
        |       ['the','be','to','of','and','that','have','with']))
        |       AS BIGINT) >= 2, FALSE) THEN 1 ELSE 0 END)
        |    + (CASE WHEN COALESCE(q >= 0.9, FALSE) THEN 1 ELSE 0 END)
        |    + (CASE WHEN COALESCE(lang = 'en', FALSE) THEN 1 ELSE 0 END)
        |      AS r
        |  FROM b),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(r) AS BIGINT) AS t,
        |    CAST(SUM(r * r) AS BIGINT) AS r2
        |  FROM g),
        |f AS (SELECT n_docs, t,
        |    floor(
        |      CAST(3 * CAST(n_docs AS HUGEINT) * (r2 - 3 * t + 3 * n_docs)
        |        - (CAST(t AS HUGEINT) * t
        |           + (3 * CAST(n_docs AS HUGEINT) - t)
        |             * (3 * CAST(n_docs AS HUGEINT) - t)) AS DOUBLE)
        |      / NULLIF(CAST(9 * CAST(n_docs AS HUGEINT) * n_docs
        |        - (CAST(t AS HUGEINT) * t
        |           + (3 * CAST(n_docs AS HUGEINT) - t)
        |             * (3 * CAST(n_docs AS HUGEINT) - t)) AS DOUBLE), 0.0)
        |      * 1e6 + 0.5) / 1e6 AS kappa
        |  FROM t)
        |SELECT n_docs, t, kappa,
        |  CASE WHEN kappa IS NULL THEN 'undefined'
        |       WHEN kappa >= 0.8 THEN 'almost_perfect'
        |       WHEN kappa >= 0.6 THEN 'substantial'
        |       WHEN kappa >= 0.4 THEN 'moderate'
        |       WHEN kappa >= 0.2 THEN 'fair'
        |       WHEN kappa >= 0.0 THEN 'slight'
        |       ELSE 'poor' END AS agreement
        |FROM f""".stripMargin,

    // McNemar over the two gates on ONE scan: the gopher keep
    // conjunction (the gopher_rules fragments verbatim) paired with
    // the quality threshold; continuity-corrected chi2, engine chain.
    "mcnemar_test" ->
      s"""WITH b AS (SELECT
        |    regexp_split_to_array(trim(text), '\\s+') AS toks,
        |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g'))
        |      AS char_len,
        |    $QualitySqlExpr AS q
        |  FROM documents),
        |g AS (SELECT
        |    COALESCE(CAST(len(toks) AS INT) >= 50 AND CAST(len(toks) AS INT) <= 100000
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 >= 3.0
        |     AND floor(CAST(char_len AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |         * 1e4 + 0.5) / 1e4 <= 10.0
        |     AND floor(CAST(len(list_filter(toks, t -> starts_with(t, '#')
        |           OR contains(t, '...'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 <= 0.1
        |     AND floor(CAST(len(list_filter(toks,
        |           t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) * 1e4 + 0.5) / 1e4 >= 0.8
        |     AND CAST(len(list_intersect(list_distinct(toks),
        |       ['the','be','to','of','and','that','have','with']))
        |       AS BIGINT) >= 2, FALSE) AS g1,
        |    COALESCE(q >= 0.9, FALSE) AS g2
        |  FROM b),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_both,
        |    CAST(SUM(CASE WHEN g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_only_gopher,
        |    CAST(SUM(CASE WHEN NOT g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_only_quality,
        |    CAST(SUM(CASE WHEN NOT g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neither
        |  FROM g),
        |f AS (SELECT n_docs, n_both, n_only_gopher, n_only_quality, n_neither,
        |    floor(
        |      CAST(greatest(abs(n_only_gopher - n_only_quality) - 1, 0)
        |           AS DOUBLE)
        |      * CAST(greatest(abs(n_only_gopher - n_only_quality) - 1, 0)
        |           AS DOUBLE)
        |      / NULLIF(CAST(n_only_gopher + n_only_quality AS DOUBLE), 0.0)
        |      * 1e6 + 0.5) / 1e6 AS chi2_mcnemar
        |  FROM t)
        |SELECT n_docs, n_both, n_only_gopher, n_only_quality, n_neither,
        |  chi2_mcnemar,
        |  CASE WHEN chi2_mcnemar IS NULL THEN FALSE
        |       ELSE chi2_mcnemar > 3.841459 END AS significant
        |FROM f""".stripMargin,

    // Mann-Whitney AUC with tie credit 1/2 in doubled-integer space:
    // 2U = Σ np·(2·nn_below + nn) is an exact BIGINT; one division at
    // the end, rounded half-up to 6 dp.
    "auc_quality" ->
      s"""WITH s AS (SELECT source, $QualitySqlExpr AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (SELECT source, score, CAST(SUM(pos) AS BIGINT) AS np,
        |    CAST(SUM(1 - pos) AS BIGINT) AS nn FROM s GROUP BY 1, 2),
        |w AS (SELECT *, COALESCE(CAST(SUM(nn) OVER (PARTITION BY source ORDER BY score
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS nn_below
        |      FROM g),
        |a AS (SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(nn) AS BIGINT) AS n_neg,
        |    CAST(SUM(np * (2 * nn_below + nn)) AS BIGINT) AS u2
        |  FROM w GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  floor(CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0 ORDER BY source""".stripMargin,

    // PR-AUC: distinct-score blocks descending, nano-grid integer
    // block precision ((cumTP·1e9) // cumAll), np-weighted HUGEINT
    // sum, one double chain at the edge.
    "pr_auc" ->
      s"""WITH s AS (SELECT source, $QualitySqlExpr AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (SELECT source, score, CAST(SUM(pos) AS BIGINT) AS np,
        |    CAST(COUNT(*) AS BIGINT) AS nb FROM s GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(np) OVER (PARTITION BY source ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp,
        |    CAST(SUM(nb) OVER (PARTITION BY source ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
        |  FROM g),
        |q AS (SELECT source, np, nb,
        |    CAST(np AS HUGEINT) *
        |      ((CAST(cum_tp AS HUGEINT) * 1000000000) // CAST(cum_all AS HUGEINT))
        |      AS tq
        |  FROM w)
        |SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nb - np) AS BIGINT) AS n_neg,
        |  floor(CAST(SUM(tq) AS DOUBLE) / CAST(SUM(np) AS DOUBLE) / 1e3 + 0.5)
        |    / 1e6 AS pr_auc
        |FROM q GROUP BY source HAVING SUM(np) > 0 ORDER BY source""".stripMargin,

    // Source ablation: per-source HUGEINT sums, 1-row global, LOO
    // algebra with single divisions; quality lossless on its 1e-4 grid.
    "source_ablation" ->
      s"""WITH s AS (SELECT source,
        |    CAST(floor(($QualitySqlExpr) * 1e4 + 0.5) AS BIGINT) AS qq,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
        |  FROM documents),
        |ps AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(qq AS HUGEINT)) AS q, SUM(CAST(tok AS HUGEINT)) AS t,
        |    SUM(CAST(en AS HUGEINT)) AS e
        |  FROM s GROUP BY source),
        |g AS (SELECT CAST(SUM(n) AS HUGEINT) AS gn, CAST(SUM(q) AS HUGEINT) AS gq,
        |    CAST(SUM(t) AS HUGEINT) AS gt, CAST(SUM(e) AS HUGEINT) AS ge FROM ps)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  floor(CAST(gq AS DOUBLE) / CAST(gn AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4
        |    AS mean_quality_all,
        |  floor(CAST(gq - q AS DOUBLE) / CAST(NULLIF(gn - n, 0) AS DOUBLE) / 1e4
        |    * 1e4 + 0.5) / 1e4 AS mean_quality_loo,
        |  floor((CAST(gq - q AS DOUBLE) / CAST(NULLIF(gn - n, 0) AS DOUBLE) / 1e4
        |    - CAST(gq AS DOUBLE) / CAST(gn AS DOUBLE) / 1e4) * 1e6 + 0.5) / 1e6
        |    AS quality_delta,
        |  floor(CAST(gt - t AS DOUBLE) / CAST(NULLIF(gn - n, 0) AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS mean_tokens_loo,
        |  CAST(((ge - e) * 1000000) // NULLIF(gn - n, 0) AS BIGINT)
        |    AS en_share_loo_ppm
        |FROM ps, g ORDER BY source""".stripMargin,

    // Odds-form RSJ idf (no log), k1=1.2 b=0.75, len/avgdl expanded to
    // len·N/total; per-term weights quantize to 1e-6 ints before the
    // per-doc sum. Parenthesization mirrors the Spark expression.
    "bm25_search" ->
      """WITH lens AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len) AS BIGINT) AS total_tokens FROM lens),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents)
        |  WHERE token IN ('spark', 'merge', 'window')
        |  GROUP BY 1, 2),
        |d AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df FROM tf),
        |s AS (SELECT d.doc_id,
        |    CAST(floor(
        |      (CAST(tf AS DOUBLE) * 2.2 /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(len AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))))) *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * 1e6 + 0.5) AS BIGINT) AS qw
        |  FROM d JOIN lens ON d.doc_id = lens.doc_id, tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  floor(CAST(SUM(qw) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score
        |FROM s GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // Rocchio PRF: the bm25_search chain twice, HUGEINT
    // tfb·ratio-idf expansion weights between them; seed terms,
    // stopwords and 1-char tokens banned from expansion.
    "prf_search" ->
      """WITH lens AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len) AS BIGINT) AS total_tokens FROM lens),
        |ex AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf1 AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM ex WHERE token IN ('spark', 'merge', 'window')
        |  GROUP BY 1, 2),
        |d1 AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT)
        |    AS df FROM tf1),
        |s1 AS (SELECT d1.doc_id,
        |    CAST(floor(
        |      (CAST(tf AS DOUBLE) * 2.2 /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(len AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))))) *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * 1e6 + 0.5) AS BIGINT) AS qw
        |  FROM d1 JOIN lens ON d1.doc_id = lens.doc_id, tot),
        |fb AS (SELECT doc_id FROM (
        |    SELECT doc_id,
        |      floor(CAST(SUM(qw) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score
        |    FROM s1 GROUP BY doc_id)
        |  ORDER BY score DESC, doc_id LIMIT 5),
        |cand AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tfb
        |  FROM ex WHERE doc_id IN (SELECT doc_id FROM fb)
        |    AND length(token) >= 2
        |    AND token NOT IN ('the', 'a', 'spark', 'merge', 'window')
        |  GROUP BY 1),
        |dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM ex
        |        WHERE token IN (SELECT token FROM cand))
        |  GROUP BY 1),
        |expt AS (SELECT token FROM (
        |    SELECT c.token,
        |      CAST(c.tfb AS HUGEINT)
        |        * ((CAST(tot.n_docs AS HUGEINT) * 1000000) // dfc.df) AS wq
        |    FROM cand c JOIN dfc ON dfc.token = c.token, tot)
        |  ORDER BY wq DESC, token LIMIT 3),
        |terms AS (SELECT DISTINCT token FROM (
        |  SELECT unnest(['spark', 'merge', 'window']) AS token
        |  UNION ALL SELECT token FROM expt)),
        |tf2 AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM ex WHERE token IN (SELECT token FROM terms)
        |  GROUP BY 1, 2),
        |d2 AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT)
        |    AS df FROM tf2),
        |s2 AS (SELECT d2.doc_id,
        |    CAST(floor(
        |      (CAST(tf AS DOUBLE) * 2.2 /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(len AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE))))) *
        |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * 1e6 + 0.5) AS BIGINT) AS qw
        |  FROM d2 JOIN lens ON d2.doc_id = lens.doc_id, tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  floor(CAST(SUM(qw) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score
        |FROM s2 GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // Complete 10-band grid (empty bands report zeros), descending
    // running sum = >= -threshold retention.
    "quality_retention" ->
      s"""WITH d AS (SELECT $QualitySqlExpr AS q,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS t
        |  FROM documents),
        |b AS (SELECT LEAST(CAST(floor(q * 10) AS INT), 9) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(t) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1),
        |g AS (SELECT CAST(range AS INT) AS bucket FROM range(0, 10)),
        |j AS (SELECT g.bucket, COALESCE(n_docs, 0) AS n_docs,
        |    COALESCE(n_tokens, 0) AS n_tokens
        |  FROM g LEFT JOIN b ON g.bucket = b.bucket),
        |c AS (SELECT bucket,
        |    CAST(SUM(n_docs) OVER (ORDER BY bucket DESC) AS BIGINT) AS docs_kept,
        |    CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC) AS BIGINT) AS tokens_kept,
        |    CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
        |  FROM j)
        |SELECT CAST(bucket AS DOUBLE) / 10.0 AS threshold, docs_kept, tokens_kept,
        |  floor(CAST(docs_kept AS DOUBLE) / CAST(total_docs AS DOUBLE) * 1e4 + 0.5)
        |    / 1e4 AS doc_frac,
        |  floor(CAST(tokens_kept AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 1e4 + 0.5)
        |    / 1e4 AS token_frac
        |FROM c ORDER BY threshold""".stripMargin,

    // Within-source rank -> 101-point global quantile grid
    // (quantile_cont of integer-quantized scores: the same IEEE
    // interpolation Spark's percentile runs — earnings_percentiles'
    // precedent).
    "quantile_normalize" ->
      s"""WITH s AS (SELECT doc_id, source,
        |    CAST(floor(($QualitySqlExpr) * 1e4 + 0.5) AS BIGINT) AS qq
        |  FROM documents),
        |g AS (SELECT quantile_cont(qq, [0.0, 0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07, 0.08, 0.09, 0.1, 0.11, 0.12, 0.13, 0.14, 0.15, 0.16, 0.17, 0.18, 0.19, 0.2, 0.21, 0.22, 0.23, 0.24, 0.25, 0.26, 0.27, 0.28, 0.29, 0.3, 0.31, 0.32, 0.33, 0.34, 0.35, 0.36, 0.37, 0.38, 0.39, 0.4, 0.41, 0.42, 0.43, 0.44, 0.45, 0.46, 0.47, 0.48, 0.49, 0.5, 0.51, 0.52, 0.53, 0.54, 0.55, 0.56, 0.57, 0.58, 0.59, 0.6, 0.61, 0.62, 0.63, 0.64, 0.65, 0.66, 0.67, 0.68, 0.69, 0.7, 0.71, 0.72, 0.73, 0.74, 0.75, 0.76, 0.77, 0.78, 0.79, 0.8, 0.81, 0.82, 0.83, 0.84, 0.85, 0.86, 0.87, 0.88, 0.89, 0.9, 0.91, 0.92, 0.93, 0.94, 0.95, 0.96, 0.97, 0.98, 0.99, 1.0]) AS gl FROM s),
        |r AS (SELECT doc_id, source, qq,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY qq, doc_id) AS BIGINT)
        |      AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        |  FROM s)
        |SELECT doc_id, source, CAST(qq AS DOUBLE) / 1e4 AS q_raw,
        |  floor(gl[CAST(CASE WHEN n_s > 1 THEN ((r - 1) * 100) // (n_s - 1)
        |                     ELSE 50 END AS INT) + 1] / 1e4 * 1e4 + 0.5) / 1e4
        |    AS q_norm
        |FROM r, g ORDER BY doc_id""".stripMargin,

    // Unigrams = whitespace tokens ([""] for empty docs); n >= 2 =
    // STRICT shingles (no unigram fallback faking diversity).
    "ngram_diversity" ->
      """WITH toks AS (SELECT source,
        |    regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |g1 AS (SELECT source, 1 AS n, unnest(tk) AS g FROM toks),
        |g2 AS (SELECT source, 2 AS n,
        |    unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i + 1])) AS g
        |  FROM toks WHERE len(tk) >= 2),
        |g3 AS (SELECT source, 3 AS n,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |  FROM toks WHERE len(tk) >= 3),
        |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL
        |      SELECT * FROM g3)
        |SELECT source, n, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
        |  floor(CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS ttr
        |FROM u GROUP BY source, n ORDER BY source, n""".stripMargin,

    // Round-10 pinned frames: the `approx = true` sketch paths,
    // driver-value-checked. HLL++/quantile-summary merges are
    // order-blind, so both reproduce bit-stably on the fixed sf0.01
    // corpus; ScaleApproxSpec bands each against its exact twin.
    "ngram_diversity_approx" ->
      """WITH r(source, n, total_ngrams, distinct_ngrams, ttr) AS (VALUES
        |  ('src0', 1, 1435, 31, 0.0216),
        |  ('src0', 2, 1410, 710, 0.5035),
        |  ('src0', 3, 1385, 1364, 0.9848),
        |  ('src1', 1, 1540, 31, 0.0201),
        |  ('src1', 2, 1515, 724, 0.4779),
        |  ('src1', 3, 1490, 1474, 0.9893),
        |  ('src10', 1, 1303, 31, 0.0238),
        |  ('src10', 2, 1278, 675, 0.5282),
        |  ('src10', 3, 1253, 1228, 0.98),
        |  ('src11', 1, 1522, 30, 0.0197),
        |  ('src11', 2, 1497, 744, 0.497),
        |  ('src11', 3, 1472, 1443, 0.9803),
        |  ('src12', 1, 1272, 31, 0.0244),
        |  ('src12', 2, 1247, 681, 0.5461),
        |  ('src12', 3, 1222, 1186, 0.9705),
        |  ('src13', 1, 1553, 31, 0.02),
        |  ('src13', 2, 1528, 716, 0.4686),
        |  ('src13', 3, 1503, 1438, 0.9568),
        |  ('src14', 1, 1318, 31, 0.0235),
        |  ('src14', 2, 1293, 684, 0.529),
        |  ('src14', 3, 1268, 1227, 0.9677),
        |  ('src15', 1, 1298, 31, 0.0239),
        |  ('src15', 2, 1273, 683, 0.5365),
        |  ('src15', 3, 1248, 1197, 0.9591),
        |  ('src16', 1, 1351, 31, 0.0229),
        |  ('src16', 2, 1326, 673, 0.5075),
        |  ('src16', 3, 1301, 1292, 0.9931),
        |  ('src17', 1, 1373, 31, 0.0226),
        |  ('src17', 2, 1348, 691, 0.5126),
        |  ('src17', 3, 1323, 1295, 0.9788),
        |  ('src18', 1, 1364, 31, 0.0227),
        |  ('src18', 2, 1339, 677, 0.5056),
        |  ('src18', 3, 1314, 1302, 0.9909),
        |  ('src19', 1, 1147, 30, 0.0262),
        |  ('src19', 2, 1122, 625, 0.557),
        |  ('src19', 3, 1097, 1097, 1.0),
        |  ('src2', 1, 1407, 31, 0.022),
        |  ('src2', 2, 1382, 704, 0.5094),
        |  ('src2', 3, 1357, 1347, 0.9926),
        |  ('src3', 1, 1384, 31, 0.0224),
        |  ('src3', 2, 1359, 697, 0.5129),
        |  ('src3', 3, 1334, 1289, 0.9663),
        |  ('src4', 1, 1294, 30, 0.0232),
        |  ('src4', 2, 1269, 666, 0.5248),
        |  ('src4', 3, 1244, 1193, 0.959),
        |  ('src5', 1, 1329, 31, 0.0233),
        |  ('src5', 2, 1304, 672, 0.5153),
        |  ('src5', 3, 1279, 1239, 0.9687),
        |  ('src6', 1, 1266, 31, 0.0245),
        |  ('src6', 2, 1241, 656, 0.5286),
        |  ('src6', 3, 1216, 1193, 0.9811),
        |  ('src7', 1, 1507, 31, 0.0206),
        |  ('src7', 2, 1482, 703, 0.4744),
        |  ('src7', 3, 1457, 1404, 0.9636),
        |  ('src8', 1, 1136, 31, 0.0273),
        |  ('src8', 2, 1111, 630, 0.5671),
        |  ('src8', 3, 1086, 1077, 0.9917),
        |  ('src9', 1, 1366, 31, 0.0227),
        |  ('src9', 2, 1341, 683, 0.5093),
        |  ('src9', 3, 1316, 1269, 0.9643))
        |SELECT CAST(source AS VARCHAR) AS source, CAST(n AS INT) AS n, CAST(total_ngrams AS BIGINT) AS total_ngrams, CAST(distinct_ngrams AS BIGINT) AS distinct_ngrams, CAST(ttr AS DOUBLE) AS ttr FROM r""".stripMargin,


    "quantile_normalize_approx" ->
      """WITH r(doc_id, source, q_raw, q_norm) AS (VALUES
        |  (0, 'src0', 0.92, 0.8367),
        |  (1, 'src1', 0.9639, 0.9685),
        |  (2, 'src2', 0.9796, 0.9749),
        |  (3, 'src3', 0.8987, 0.8656),
        |  (4, 'src4', 0.9648, 0.9655),
        |  (5, 'src5', 0.956, 0.9576),
        |  (6, 'src6', 0.7467, 0.8117),
        |  (7, 'src7', 0.9685, 0.9655),
        |  (8, 'src8', 0.9817, 0.9795),
        |  (9, 'src9', 0.9725, 0.9671),
        |  (10, 'src10', 0.9842, 0.9977),
        |  (11, 'src11', 0.973, 0.9711),
        |  (12, 'src12', 0.9705, 0.9685),
        |  (13, 'src13', 0.9611, 0.9576),
        |  (14, 'src14', 0.9577, 0.9623),
        |  (15, 'src15', 0.9581, 0.9576),
        |  (16, 'src16', 0.7667, 0.8367),
        |  (17, 'src17', 0.963, 0.95),
        |  (18, 'src18', 0.9678, 0.9671),
        |  (19, 'src19', 0.742, 0.6967),
        |  (20, 'src0', 0.9647, 0.9623),
        |  (21, 'src1', 0.959, 0.9639),
        |  (22, 'src2', 0.9665, 0.9639),
        |  (23, 'src3', 0.9156, 0.95),
        |  (24, 'src4', 0.9637, 0.9623),
        |  (25, 'src5', 0.9784, 0.9795),
        |  (26, 'src6', 0.7217, 0.6967),
        |  (27, 'src7', 0.9656, 0.9595),
        |  (28, 'src8', 0.9667, 0.9685),
        |  (29, 'src9', 0.9727, 0.9685),
        |  (30, 'src10', 0.9273, 0.95),
        |  (31, 'src11', 0.9733, 0.9725),
        |  (32, 'src12', 0.9751, 0.9733),
        |  (33, 'src13', 0.979, 0.9733),
        |  (34, 'src14', 0.8917, 0.8997),
        |  (35, 'src15', 0.9696, 0.9671),
        |  (36, 'src16', 0.8417, 0.95),
        |  (37, 'src17', 0.9645, 0.9595),
        |  (38, 'src18', 0.9778, 0.9854),
        |  (39, 'src19', 0.8523, 0.8656),
        |  (40, 'src0', 0.9728, 0.9711),
        |  (41, 'src1', 0.9719, 0.9795),
        |  (42, 'src2', 0.9679, 0.9671),
        |  (43, 'src3', 0.8819, 0.8367),
        |  (44, 'src4', 0.8578, 0.8997),
        |  (45, 'src5', 0.9708, 0.9699),
        |  (46, 'src6', 0.9733, 0.9763),
        |  (47, 'src7', 0.9663, 0.9639),
        |  (48, 'src8', 0.89, 0.9263),
        |  (49, 'src9', 0.9645, 0.9623),
        |  (50, 'src10', 0.9648, 0.9623),
        |  (51, 'src11', 0.9902, 0.9977),
        |  (52, 'src12', 0.7704, 0.7661),
        |  (53, 'src13', 0.9431, 0.9263),
        |  (54, 'src14', 0.9603, 0.9655),
        |  (55, 'src15', 0.9704, 0.9685),
        |  (56, 'src16', 0.9637, 0.9685),
        |  (57, 'src17', 0.9741, 0.9749),
        |  (58, 'src18', 0.9731, 0.9763),
        |  (59, 'src19', 0.855, 0.8997),
        |  (60, 'src0', 0.9751, 0.9749),
        |  (61, 'src1', 0.9726, 0.9821),
        |  (62, 'src2', 0.9685, 0.9699),
        |  (63, 'src3', 0.9674, 0.9699),
        |  (64, 'src4', 0.855, 0.8656),
        |  (65, 'src5', 0.8168, 0.8367),
        |  (66, 'src6', 0.9715, 0.9725),
        |  (67, 'src7', 0.9773, 0.9749),
        |  (68, 'src8', 0.9469, 0.9576),
        |  (69, 'src9', 0.9851, 0.9763),
        |  (70, 'src10', 0.9819, 0.9795),
        |  (71, 'src11', 0.9556, 0.8656),
        |  (72, 'src12', 0.9579, 0.95),
        |  (73, 'src13', 0.9751, 0.9699),
        |  (74, 'src14', 0.6967, 0.6967),
        |  (75, 'src15', 0.9944, 0.9854),
        |  (76, 'src16', 0.9735, 0.9763),
        |  (77, 'src17', 0.9734, 0.9733),
        |  (78, 'src18', 0.9659, 0.9639),
        |  (79, 'src19', 0.7661, 0.7661),
        |  (80, 'src0', 0.945, 0.8656),
        |  (81, 'src1', 0.9553, 0.9576),
        |  (82, 'src2', 0.9642, 0.9576),
        |  (83, 'src3', 0.7856, 0.6967),
        |  (84, 'src4', 0.9731, 0.9725),
        |  (85, 'src5', 0.9212, 0.9263),
        |  (86, 'src6', 0.8467, 0.8656),
        |  (87, 'src7', 0.8445, 0.8117),
        |  (88, 'src8', 0.9631, 0.9671),
        |  (89, 'src9', 0.8764, 0.7661),
        |  (90, 'src10', 0.8478, 0.8117),
        |  (91, 'src11', 0.9673, 0.9639),
        |  (92, 'src12', 0.8985, 0.9263),
        |  (93, 'src13', 0.8733, 0.7661),
        |  (94, 'src14', 0.8689, 0.8656),
        |  (95, 'src15', 0.9742, 0.9725),
        |  (96, 'src16', 0.9582, 0.9639),
        |  (97, 'src17', 0.9726, 0.9711),
        |  (98, 'src18', 0.9715, 0.9733),
        |  (99, 'src19', 0.9609, 0.9699),
        |  (100, 'src0', 0.9741, 0.9725),
        |  (101, 'src1', 0.95, 0.8656),
        |  (102, 'src2', 0.9866, 0.9795),
        |  (103, 'src3', 0.9608, 0.9639),
        |  (104, 'src4', 0.9576, 0.9263),
        |  (105, 'src5', 0.9722, 0.9725),
        |  (106, 'src6', 0.7333, 0.7661),
        |  (107, 'src7', 0.9583, 0.8997),
        |  (108, 'src8', 0.7808, 0.8117),
        |  (109, 'src9', 0.9595, 0.9576),
        |  (110, 'src10', 0.7067, 0.6967),
        |  (111, 'src11', 0.9571, 0.95),
        |  (112, 'src12', 0.9787, 0.9821),
        |  (113, 'src13', 0.9795, 0.9749),
        |  (114, 'src14', 0.9685, 0.9699),
        |  (115, 'src15', 0.8367, 0.8367),
        |  (116, 'src16', 0.72, 0.6967),
        |  (117, 'src17', 0.9784, 0.9821),
        |  (118, 'src18', 0.9738, 0.9795),
        |  (119, 'src19', 0.7825, 0.8117),
        |  (120, 'src0', 0.968, 0.9685),
        |  (121, 'src1', 0.9078, 0.8367),
        |  (122, 'src2', 0.8218, 0.8117),
        |  (123, 'src3', 0.9038, 0.8997),
        |  (124, 'src4', 0.9778, 0.9795),
        |  (125, 'src5', 0.9446, 0.95),
        |  (126, 'src6', 0.9685, 0.9699),
        |  (127, 'src7', 0.9661, 0.9623),
        |  (128, 'src8', 0.9623, 0.9639),
        |  (129, 'src9', 0.9706, 0.9655),
        |  (130, 'src10', 0.9011, 0.9263),
        |  (131, 'src11', 0.9685, 0.9671),
        |  (132, 'src12', 0.9823, 0.9854),
        |  (133, 'src13', 0.9926, 0.9977),
        |  (134, 'src14', 0.8506, 0.8367),
        |  (135, 'src15', 0.9912, 0.9821),
        |  (136, 'src16', 0.9659, 0.9725),
        |  (137, 'src17', 0.981, 0.9854),
        |  (138, 'src18', 0.9702, 0.9699),
        |  (139, 'src19', 0.9976, 0.9977),
        |  (140, 'src0', 0.8902, 0.8117),
        |  (141, 'src1', 0.9544, 0.9263),
        |  (142, 'src2', 0.9921, 0.9821),
        |  (143, 'src3', 0.9639, 0.9655),
        |  (144, 'src4', 0.7835, 0.7661),
        |  (145, 'src5', 0.9639, 0.9595),
        |  (146, 'src6', 0.8468, 0.8997),
        |  (147, 'src7', 0.9738, 0.9711),
        |  (148, 'src8', 0.981, 0.9763),
        |  (149, 'src9', 0.8907, 0.8117),
        |  (150, 'src10', 0.9639, 0.9595),
        |  (151, 'src11', 0.9642, 0.9576),
        |  (152, 'src12', 0.9756, 0.9763),
        |  (153, 'src13', 0.9756, 0.9711),
        |  (154, 'src14', 0.9781, 0.9763),
        |  (155, 'src15', 0.9799, 0.9763),
        |  (156, 'src16', 0.82, 0.8997),
        |  (157, 'src17', 0.7879, 0.6967),
        |  (158, 'src18', 0.7933, 0.7661),
        |  (159, 'src19', 0.9597, 0.9671),
        |  (160, 'src0', 0.9803, 0.9821),
        |  (161, 'src1', 0.9655, 0.9711),
        |  (162, 'src2', 0.9703, 0.9725),
        |  (163, 'src3', 0.9574, 0.9595),
        |  (164, 'src4', 0.8142, 0.8367),
        |  (165, 'src5', 0.8125, 0.8117),
        |  (166, 'src6', 0.9828, 0.9821),
        |  (167, 'src7', 0.9814, 0.9821),
        |  (168, 'src8', 0.9833, 0.9821),
        |  (169, 'src9', 0.9645, 0.9639),
        |  (170, 'src10', 0.8385, 0.7661),
        |  (171, 'src11', 0.9719, 0.9699),
        |  (172, 'src12', 0.8217, 0.8117),
        |  (173, 'src13', 0.9706, 0.9639),
        |  (174, 'src14', 0.9675, 0.9685),
        |  (175, 'src15', 0.903, 0.8997),
        |  (176, 'src16', 0.9652, 0.9711),
        |  (177, 'src17', 0.9704, 0.9671),
        |  (178, 'src18', 0.9763, 0.9821),
        |  (179, 'src19', 0.973, 0.9821),
        |  (180, 'src0', 0.9458, 0.8997),
        |  (181, 'src1', 0.8334, 0.7661),
        |  (182, 'src2', 0.976, 0.9733),
        |  (183, 'src3', 0.815, 0.7661),
        |  (184, 'src4', 0.975, 0.9763),
        |  (185, 'src5', 0.973, 0.9749),
        |  (186, 'src6', 0.9875, 0.9854),
        |  (187, 'src7', 0.983, 0.9977),
        |  (188, 'src8', 0.9855, 0.9977),
        |  (189, 'src9', 0.959, 0.95),
        |  (190, 'src10', 0.9714, 0.9699),
        |  (191, 'src11', 0.8133, 0.6967),
        |  (192, 'src12', 0.8854, 0.8997),
        |  (193, 'src13', 0.9074, 0.8367),
        |  (194, 'src14', 0.8997, 0.9263),
        |  (195, 'src15', 0.9672, 0.9655),
        |  (196, 'src16', 0.9556, 0.9576),
        |  (197, 'src17', 0.9746, 0.9763),
        |  (198, 'src18', 0.9642, 0.9623),
        |  (199, 'src19', 0.9178, 0.9576),
        |  (200, 'src0', 0.9626, 0.9576),
        |  (201, 'src1', 0.9679, 0.9733),
        |  (202, 'src2', 0.9683, 0.9685),
        |  (203, 'src3', 0.8439, 0.8117),
        |  (204, 'src4', 0.8117, 0.8117),
        |  (205, 'src5', 0.9693, 0.9685),
        |  (206, 'src6', 0.86, 0.9263),
        |  (207, 'src7', 0.9637, 0.9576),
        |  (208, 'src8', 0.8235, 0.8656),
        |  (209, 'src9', 0.9727, 0.9699),
        |  (210, 'src10', 0.9748, 0.9749),
        |  (211, 'src11', 0.9696, 0.9685),
        |  (212, 'src12', 0.9655, 0.9623),
        |  (213, 'src13', 0.9841, 0.9821),
        |  (214, 'src14', 0.7573, 0.7661),
        |  (215, 'src15', 0.9976, 0.9977),
        |  (216, 'src16', 0.9645, 0.9699),
        |  (217, 'src17', 0.9753, 0.9795),
        |  (218, 'src18', 0.9706, 0.9711),
        |  (219, 'src19', 0.9083, 0.9263),
        |  (220, 'src0', 0.9702, 0.9699),
        |  (221, 'src1', 0.9897, 0.9977),
        |  (222, 'src2', 0.9977, 0.9977),
        |  (223, 'src3', 0.9696, 0.9711),
        |  (224, 'src4', 0.9716, 0.9699),
        |  (225, 'src5', 0.9719, 0.9711),
        |  (226, 'src6', 0.8317, 0.8367),
        |  (227, 'src7', 0.9706, 0.9685),
        |  (228, 'src8', 0.9733, 0.9725),
        |  (229, 'src9', 0.977, 0.9725),
        |  (230, 'src10', 0.9803, 0.9763),
        |  (231, 'src11', 0.8997, 0.8117),
        |  (232, 'src12', 0.9672, 0.9639),
        |  (233, 'src13', 0.9661, 0.9595),
        |  (234, 'src14', 0.9854, 0.9821),
        |  (235, 'src15', 0.9671, 0.9639),
        |  (236, 'src16', 0.72, 0.7661),
        |  (237, 'src17', 0.9711, 0.9685),
        |  (238, 'src18', 0.9708, 0.9725),
        |  (239, 'src19', 0.9122, 0.95),
        |  (240, 'src0', 0.9786, 0.9795),
        |  (241, 'src1', 0.9754, 0.9854),
        |  (242, 'src2', 0.9597, 0.95),
        |  (243, 'src3', 0.9436, 0.9576),
        |  (244, 'src4', 0.96, 0.95),
        |  (245, 'src5', 0.9821, 0.9854),
        |  (246, 'src6', 0.9495, 0.9595),
        |  (247, 'src7', 0.975, 0.9725),
        |  (248, 'src8', 0.9627, 0.9655),
        |  (249, 'src9', 0.9947, 0.9977),
        |  (250, 'src10', 0.9727, 0.9725),
        |  (251, 'src11', 0.9677, 0.9655),
        |  (252, 'src12', 0.9717, 0.9711),
        |  (253, 'src13', 0.9801, 0.9763),
        |  (254, 'src14', 0.7883, 0.8117),
        |  (255, 'src15', 0.9021, 0.8656),
        |  (256, 'src16', 0.72, 0.8117),
        |  (257, 'src17', 0.8225, 0.8117),
        |  (258, 'src18', 0.9725, 0.9749),
        |  (259, 'src19', 0.9574, 0.9655),
        |  (260, 'src0', 0.8656, 0.7661),
        |  (261, 'src1', 0.9659, 0.9725),
        |  (262, 'src2', 0.9926, 0.9854),
        |  (263, 'src3', 0.9741, 0.9763),
        |  (264, 'src4', 0.9635, 0.9595),
        |  (265, 'src5', 0.9642, 0.9623),
        |  (266, 'src6', 0.9663, 0.9685),
        |  (267, 'src7', 0.9714, 0.9699),
        |  (268, 'src8', 0.9842, 0.9854),
        |  (269, 'src9', 0.981, 0.9733),
        |  (270, 'src10', 0.9823, 0.9821),
        |  (271, 'src11', 0.9563, 0.8997),
        |  (272, 'src12', 0.9754, 0.9749),
        |  (273, 'src13', 0.8783, 0.8117),
        |  (274, 'src14', 0.9743, 0.9749),
        |  (275, 'src15', 0.7317, 0.7661),
        |  (276, 'src16', 0.9569, 0.9595),
        |  (277, 'src17', 0.9196, 0.8656),
        |  (278, 'src18', 0.9593, 0.95),
        |  (279, 'src19', 0.9761, 0.9854),
        |  (280, 'src0', 0.9803, 0.9854),
        |  (281, 'src1', 0.9017, 0.8117),
        |  (282, 'src2', 0.9342, 0.9263),
        |  (283, 'src3', 0.9659, 0.9685),
        |  (284, 'src4', 0.9696, 0.9685),
        |  (285, 'src5', 0.9677, 0.9671),
        |  (286, 'src6', 0.9717, 0.9733),
        |  (287, 'src7', 0.822, 0.7661),
        |  (288, 'src8', 0.9308, 0.95),
        |  (289, 'src9', 0.9588, 0.9263),
        |  (290, 'src10', 0.9713, 0.9685),
        |  (291, 'src11', 0.9763, 0.9763),
        |  (292, 'src12', 0.9694, 0.9671),
        |  (293, 'src13', 0.9735, 0.9671),
        |  (294, 'src14', 0.9701, 0.9725),
        |  (295, 'src15', 0.9267, 0.95),
        |  (296, 'src16', 0.9753, 0.9977),
        |  (297, 'src17', 0.9823, 0.9977),
        |  (298, 'src18', 0.9317, 0.8997),
        |  (299, 'src19', 0.9677, 0.9749),
        |  (300, 'src0', 0.9671, 0.9671),
        |  (301, 'src1', 0.9679, 0.9749),
        |  (302, 'src2', 0.9689, 0.9711),
        |  (303, 'src3', 0.9701, 0.9725),
        |  (304, 'src4', 0.9976, 0.9977),
        |  (305, 'src5', 0.7217, 0.6967),
        |  (306, 'src6', 0.9722, 0.9749),
        |  (307, 'src7', 0.9685, 0.9671),
        |  (308, 'src8', 0.7783, 0.7661),
        |  (309, 'src9', 0.9727, 0.9711),
        |  (310, 'src10', 0.888, 0.8656),
        |  (311, 'src11', 0.987, 0.9854),
        |  (312, 'src12', 0.9749, 0.9725),
        |  (313, 'src13', 0.7876, 0.6967),
        |  (314, 'src14', 0.9694, 0.9711),
        |  (315, 'src15', 0.973, 0.9711),
        |  (316, 'src16', 0.9635, 0.9671),
        |  (317, 'src17', 0.9593, 0.9263),
        |  (318, 'src18', 0.962, 0.9595),
        |  (319, 'src19', 0.9615, 0.9711),
        |  (320, 'src0', 0.9811, 0.9977),
        |  (321, 'src1', 0.9567, 0.9595),
        |  (322, 'src2', 0.9648, 0.9595),
        |  (323, 'src3', 0.9823, 0.9854),
        |  (324, 'src4', 0.9733, 0.9733),
        |  (325, 'src5', 0.9667, 0.9639),
        |  (326, 'src6', 0.9652, 0.9655),
        |  (327, 'src7', 0.9183, 0.8367),
        |  (328, 'src8', 0.9725, 0.9711),
        |  (329, 'src9', 0.9854, 0.9795),
        |  (330, 'src10', 0.9726, 0.9711),
        |  (331, 'src11', 0.9565, 0.9263),
        |  (332, 'src12', 0.9685, 0.9655),
        |  (333, 'src13', 0.9221, 0.8997),
        |  (334, 'src14', 0.9899, 0.9854),
        |  (335, 'src15', 0.9773, 0.9733),
        |  (336, 'src16', 0.9598, 0.9655),
        |  (337, 'src17', 0.9733, 0.9725),
        |  (338, 'src18', 0.8128, 0.8367),
        |  (339, 'src19', 0.9388, 0.9623),
        |  (340, 'src0', 0.9576, 0.9263),
        |  (341, 'src1', 0.9708, 0.9763),
        |  (342, 'src2', 0.81, 0.7661),
        |  (343, 'src3', 0.9095, 0.9263),
        |  (344, 'src4', 0.963, 0.9576),
        |  (345, 'src5', 0.9726, 0.9733),
        |  (346, 'src6', 0.9635, 0.9639),
        |  (347, 'src7', 0.9565, 0.8656),
        |  (348, 'src8', 0.835, 0.8997),
        |  (349, 'src9', 0.9897, 0.9854),
        |  (350, 'src10', 0.9696, 0.9671),
        |  (351, 'src11', 0.955, 0.8367),
        |  (352, 'src12', 0.9775, 0.9795),
        |  (353, 'src13', 0.9839, 0.9795),
        |  (354, 'src14', 0.9719, 0.9733),
        |  (355, 'src15', 0.9828, 0.9795),
        |  (356, 'src16', 0.9699, 0.9749),
        |  (357, 'src17', 0.9713, 0.9699),
        |  (358, 'src18', 0.715, 0.6967),
        |  (359, 'src19', 0.9722, 0.9795),
        |  (360, 'src0', 0.9753, 0.9763),
        |  (361, 'src1', 0.9551, 0.95),
        |  (362, 'src2', 0.7739, 0.6967),
        |  (363, 'src3', 0.9656, 0.9671),
        |  (364, 'src4', 0.9642, 0.9639),
        |  (365, 'src5', 0.7283, 0.7661),
        |  (366, 'src6', 0.9621, 0.9623),
        |  (367, 'src7', 0.9756, 0.9733),
        |  (368, 'src8', 0.7383, 0.6967),
        |  (369, 'src9', 0.9833, 0.9749),
        |  (370, 'src10', 0.95, 0.9576),
        |  (371, 'src11', 0.9654, 0.9595),
        |  (372, 'src12', 0.8652, 0.8656),
        |  (373, 'src13', 0.9786, 0.9725),
        |  (374, 'src14', 0.92, 0.9576),
        |  (375, 'src15', 0.9712, 0.9699),
        |  (376, 'src16', 0.9742, 0.9795),
        |  (377, 'src17', 0.9578, 0.8997),
        |  (378, 'src18', 0.9865, 0.9977),
        |  (379, 'src19', 0.9639, 0.9733),
        |  (380, 'src0', 0.975, 0.9733),
        |  (381, 'src1', 0.95, 0.8997),
        |  (382, 'src2', 0.8767, 0.8367),
        |  (383, 'src3', 0.9727, 0.9749),
        |  (384, 'src4', 0.77, 0.6967),
        |  (385, 'src5', 0.9786, 0.9821),
        |  (386, 'src6', 0.9879, 0.9977),
        |  (387, 'src7', 0.9585, 0.9263),
        |  (388, 'src8', 0.9606, 0.9623),
        |  (389, 'src9', 0.8938, 0.8367),
        |  (390, 'src10', 0.8835, 0.8367),
        |  (391, 'src11', 0.9655, 0.9623),
        |  (392, 'src12', 0.8417, 0.8367),
        |  (393, 'src13', 0.9582, 0.95),
        |  (394, 'src14', 0.9594, 0.9639),
        |  (395, 'src15', 0.9623, 0.9595),
        |  (396, 'src16', 0.9576, 0.9623),
        |  (397, 'src17', 0.9689, 0.9655),
        |  (398, 'src18', 0.8092, 0.8117),
        |  (399, 'src19', 0.9617, 0.9725),
        |  (400, 'src0', 0.8533, 0.6967),
        |  (401, 'src1', 0.9632, 0.9671),
        |  (402, 'src2', 0.9263, 0.8997),
        |  (403, 'src3', 0.9578, 0.9623),
        |  (404, 'src4', 0.9655, 0.9671),
        |  (405, 'src5', 0.9738, 0.9763),
        |  (406, 'src6', 0.9781, 0.9795),
        |  (407, 'src7', 0.8133, 0.6967),
        |  (408, 'src8', 0.7825, 0.8367),
        |  (409, 'src9', 0.9877, 0.9821),
        |  (410, 'src10', 0.9678, 0.9655),
        |  (411, 'src11', 0.9795, 0.9795),
        |  (412, 'src12', 0.9923, 0.9977),
        |  (413, 'src13', 0.9711, 0.9655),
        |  (414, 'src14', 0.997, 0.9977),
        |  (415, 'src15', 0.9787, 0.9749),
        |  (416, 'src16', 0.9752, 0.9854),
        |  (417, 'src17', 0.9643, 0.9576),
        |  (418, 'src18', 0.9543, 0.9263),
        |  (419, 'src19', 0.8067, 0.8367),
        |  (420, 'src0', 0.9583, 0.95),
        |  (421, 'src1', 0.958, 0.9623),
        |  (422, 'src2', 0.9652, 0.9623),
        |  (423, 'src3', 0.9705, 0.9733),
        |  (424, 'src4', 0.9728, 0.9711),
        |  (425, 'src5', 0.8628, 0.8997),
        |  (426, 'src6', 0.9703, 0.9711),
        |  (427, 'src7', 0.9795, 0.9763),
        |  (428, 'src8', 0.95, 0.9595),
        |  (429, 'src9', 0.957, 0.8997),
        |  (430, 'src10', 0.9731, 0.9733),
        |  (431, 'src11', 0.9738, 0.9733),
        |  (432, 'src12', 0.9603, 0.9595),
        |  (433, 'src13', 0.9208, 0.8656),
        |  (434, 'src14', 0.9627, 0.9671),
        |  (435, 'src15', 0.9058, 0.9263),
        |  (436, 'src16', 0.9696, 0.9733),
        |  (437, 'src17', 0.9665, 0.9623),
        |  (438, 'src18', 0.9033, 0.8656),
        |  (439, 'src19', 0.9536, 0.9639),
        |  (440, 'src0', 0.9659, 0.9655),
        |  (441, 'src1', 0.9601, 0.9655),
        |  (442, 'src2', 0.9857, 0.9763),
        |  (443, 'src3', 0.9827, 0.9977),
        |  (444, 'src4', 0.9811, 0.9854),
        |  (445, 'src5', 0.9672, 0.9655),
        |  (446, 'src6', 0.8633, 0.95),
        |  (447, 'src7', 0.9823, 0.9854),
        |  (448, 'src8', 0.9747, 0.9733),
        |  (449, 'src9', 0.9319, 0.8656),
        |  (450, 'src10', 0.8933, 0.8997),
        |  (451, 'src11', 0.82, 0.7661),
        |  (452, 'src12', 0.9705, 0.9699),
        |  (453, 'src13', 0.9741, 0.9685),
        |  (454, 'src14', 0.9074, 0.95),
        |  (455, 'src15', 0.715, 0.6967),
        |  (456, 'src16', 0.8357, 0.9263),
        |  (457, 'src17', 0.968, 0.9639),
        |  (458, 'src18', 0.9669, 0.9655),
        |  (459, 'src19', 0.9693, 0.9763),
        |  (460, 'src0', 0.9636, 0.9595),
        |  (461, 'src1', 0.9649, 0.9699),
        |  (462, 'src2', 0.9667, 0.9655),
        |  (463, 'src3', 0.9756, 0.9795),
        |  (464, 'src4', 0.9786, 0.9821),
        |  (465, 'src5', 0.9823, 0.9977),
        |  (466, 'src6', 0.9655, 0.9671),
        |  (467, 'src7', 0.9803, 0.9795),
        |  (468, 'src8', 0.9671, 0.9699),
        |  (469, 'src9', 0.7117, 0.6967),
        |  (470, 'src10', 0.9659, 0.9639),
        |  (471, 'src11', 0.9817, 0.9821),
        |  (472, 'src12', 0.9588, 0.9576),
        |  (473, 'src13', 0.9689, 0.9623),
        |  (474, 'src14', 0.9799, 0.9795),
        |  (475, 'src15', 0.7672, 0.8117),
        |  (476, 'src16', 0.7775, 0.8656),
        |  (477, 'src17', 0.8921, 0.8367),
        |  (478, 'src18', 0.97, 0.9685),
        |  (479, 'src19', 0.9597, 0.9685),
        |  (480, 'src0', 0.9656, 0.9639),
        |  (481, 'src1', 0.7583, 0.6967),
        |  (482, 'src2', 0.9139, 0.8656),
        |  (483, 'src3', 0.9784, 0.9821),
        |  (484, 'src4', 0.9733, 0.9749),
        |  (485, 'src5', 0.8462, 0.8656),
        |  (486, 'src6', 0.9121, 0.9576),
        |  (487, 'src7', 0.9613, 0.95),
        |  (488, 'src8', 0.9778, 0.9749),
        |  (489, 'src9', 0.9617, 0.9595),
        |  (490, 'src10', 0.9833, 0.9854),
        |  (491, 'src11', 0.9749, 0.9749),
        |  (492, 'src12', 0.745, 0.6967),
        |  (493, 'src13', 0.9841, 0.9854),
        |  (494, 'src14', 0.95, 0.9595),
        |  (495, 'src15', 0.9643, 0.9623),
        |  (496, 'src16', 0.9747, 0.9821),
        |  (497, 'src17', 0.8217, 0.7661),
        |  (498, 'src18', 0.9612, 0.9576),
        |  (499, 'src19', 0.9327, 0.9595))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(source AS VARCHAR) AS source, CAST(q_raw AS DOUBLE) AS q_raw, CAST(q_norm AS DOUBLE) AS q_norm FROM r""".stripMargin,

    // HHI = Σn_l²/n² exact ints; dominant language = (count DESC,
    // lang) rank 1.
    "lang_hhi" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM documents GROUP BY 1, 2),
        |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |        CAST(COUNT(*) AS BIGINT) AS n_langs,
        |        CAST(SUM(c * c) AS BIGINT) AS ssq
        |      FROM c GROUP BY 1),
        |top AS (SELECT source, lang AS top_lang, c AS top_c FROM (
        |        SELECT source, lang, c,
        |          ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
        |        FROM c) WHERE rn = 1)
        |SELECT g.source, n_docs, n_langs,
        |  floor(CAST(ssq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) * 1e4 + 0.5)
        |    / 1e4 AS hhi,
        |  top_lang,
        |  floor(CAST(top_c AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS top_share
        |FROM g JOIN top ON top.source = g.source
        |ORDER BY g.source""".stripMargin,

    // Simpson λ over (source, token) counts: HUGEINT c(c-1)/N(N-1)
    // mass, exact-ppm integer division, one double division for the
    // inverse; 1-token sources null via NULLIF / div-by-zero-NULL.
    "simpson_diversity" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    SUM(CAST(c AS HUGEINT) * (c - 1)) AS rep2
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  CAST((rep2 * 1000000) //
        |    NULLIF(CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 0)
        |    AS BIGINT) AS simpson_ppm,
        |  floor(CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS DOUBLE)
        |    / CAST(rep2 AS DOUBLE) * 1e4 + 0.5) / 1e4 AS effective_types
        |FROM s ORDER BY source""".stripMargin,

    // Burrows' Delta: exact-ppb shares on the dense sources × top-k
    // cross, cleared-denominator z quantized to 1e-6 BEFORE the
    // pairwise |Δ| integer sums; zero-variance words drop.
    "burrows_delta" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS total
        |  FROM c GROUP BY 1),
        |topk AS (SELECT token FROM (SELECT token, SUM(c) AS tc
        |    FROM c GROUP BY 1 ORDER BY tc DESC, token LIMIT 30)),
        |dense AS (SELECT tot.source, k.token,
        |    CAST((CAST(COALESCE(c.c, 0) AS HUGEINT) * 1000000000)
        |      // tot.total AS BIGINT) AS f
        |  FROM tot CROSS JOIN topk k
        |  LEFT JOIN c ON c.source = tot.source AND c.token = k.token),
        |w AS (SELECT *,
        |    CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS s_src,
        |    SUM(CAST(f AS HUGEINT)) OVER (PARTITION BY token) AS sw,
        |    SUM(CAST(f AS HUGEINT) * f) OVER (PARTITION BY token) AS sww
        |  FROM dense),
        |z AS (SELECT source, token,
        |    CAST(floor(CAST(s_src * f - sw AS DOUBLE)
        |      / sqrt(CAST(s_src * sww - sw * sw AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS zq
        |  FROM w WHERE s_src * sww - sw * sw > 0)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  floor(CAST(SUM(abs(a.zq - b.zq)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS delta
        |FROM z a JOIN z b ON b.token = a.token AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Church-Gale burstiness: cleared-denominator Fano factor
    // (N·Σc² − cf²)/(N·cf) per term, HUGEINT products, zero docs
    // implicit (they add nothing to either sum).
    "term_burstiness" ->
      """WITH pd AS (SELECT doc_id, tok AS token,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |m AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(c) AS BIGINT) AS cf,
        |    SUM(CAST(c AS HUGEINT) * c) AS c2
        |  FROM pd GROUP BY 1)
        |SELECT token, cf, df,
        |  CAST(((nd.n_docs * c2 - CAST(cf AS HUGEINT) * cf) * 1000000)
        |    // (CAST(nd.n_docs AS HUGEINT) * cf) AS BIGINT)
        |    AS dispersion_ppm
        |FROM m, nd ORDER BY cf DESC, token LIMIT 50""".stripMargin,

    // RAKE: zipped unnest for (pos, tok), per-doc stopword cumsum
    // segments phrases, 1e-6-quantized degree/freq word scores,
    // integer phrase sums, (score DESC, phrase) top-k.
    "rake_keywords" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |flat AS (SELECT doc_id,
        |    unnest(generate_series(1, len(toks))) AS pos,
        |    unnest(toks) AS tok FROM d),
        |f2 AS (SELECT doc_id, pos, tok,
        |    CASE WHEN tok IN ('the', 'a') OR length(tok) < 2
        |      THEN 1 ELSE 0 END AS st FROM flat),
        |sg AS (SELECT *, SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM f2),
        |ph AS (SELECT doc_id, seg,
        |    array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS plen
        |  FROM sg WHERE st = 0 GROUP BY 1, 2),
        |phf AS (SELECT * FROM ph WHERE plen <= 4),
        |ws AS (SELECT tok,
        |    CAST((CAST(SUM(plen) AS HUGEINT) * 1000000) // COUNT(*)
        |      AS BIGINT) AS wscore
        |  FROM (SELECT unnest(string_split(phrase, ' ')) AS tok, plen
        |        FROM phf) GROUP BY 1),
        |occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |    CAST(MIN(plen) AS BIGINT) AS n_words
        |  FROM phf GROUP BY 1 HAVING COUNT(*) >= 2),
        |sc AS (SELECT o.phrase, o.n_words, o.n_occurrences,
        |    CAST(SUM(ws.wscore) AS BIGINT) AS score_q
        |  FROM (SELECT phrase, n_words, n_occurrences,
        |          unnest(string_split(phrase, ' ')) AS tok FROM occ) o
        |  JOIN ws ON ws.tok = o.tok
        |  GROUP BY 1, 2, 3)
        |SELECT phrase, n_words, n_occurrences,
        |  CAST(score_q AS DOUBLE) / 1e6 AS score
        |FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin,

    // Rank vocabulary by (count DESC, token), int64 cumsum, probe the
    // clamped rank per k.
    "coverage_curve" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |      FROM documents),
        |v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok
        |      WHERE token <> '' GROUP BY 1),
        |r AS (SELECT token, c,
        |        CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT) AS "rank",
        |        CAST(SUM(c) OVER (ORDER BY c DESC, token
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM v),
        |t AS (SELECT MAX(cum) AS total, MAX("rank") AS n_vocab FROM r),
        |ks AS (SELECT unnest([100, 1000, 10000]) AS k)
        |SELECT CAST(k AS INT) AS k, n_vocab, total AS total_tokens,
        |  cum AS covered_tokens,
        |  floor(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS coverage
        |FROM ks CROSS JOIN t JOIN r ON r."rank" = least(CAST(ks.k AS BIGINT), t.n_vocab)
        |ORDER BY k""".stripMargin,

    // Heaps curve: per-token first doc, 10-row threshold probe.
    "heaps_curve" ->
      """WITH fd AS (SELECT token, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |      FROM (SELECT doc_id,
        |              unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |            FROM documents) GROUP BY 1),
        |b AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM documents),
        |th AS (SELECT CAST(p AS INT) AS pct10, ((max_id + 1) * p) // 10 AS cutoff
        |       FROM b, unnest(generate_series(1, 10)) AS g(p))
        |SELECT pct10 * 10 AS pct_docs, cutoff,
        |  CAST(SUM(CASE WHEN first_doc < cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_size
        |FROM fd, th GROUP BY 1, 2 ORDER BY pct_docs""".stripMargin,

    // Skyline: two windows on the quality grid (RANGE-to-strictly-
    // above max length + same-quality tie max); survivors beat both.
    "pareto_frontier" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(floor($QualitySqlExpr * 1e4 + 0.5) AS BIGINT) AS q4,
        |    CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |w AS (SELECT *,
        |    MAX(n_chars) OVER (ORDER BY q4
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS max_above,
        |    MAX(n_chars) OVER (PARTITION BY q4) AS max_tie
        |  FROM d)
        |SELECT doc_id, CAST(q4 AS DOUBLE) / 1e4 AS quality, n_chars
        |FROM w
        |WHERE (max_above IS NULL OR max_above < n_chars)
        |  AND max_tie <= n_chars
        |ORDER BY quality DESC, doc_id""".stripMargin,

    // Histogram split finder: exact int64 count polynomials per
    // threshold, fixed L-then-R double fold, nano-quantized gain
    // argmax (ties to smallest threshold).
    "best_split" ->
      s"""WITH d AS (SELECT
        |    CAST(floor($QualitySqlExpr * 1e4 + 0.5) AS BIGINT) AS q4,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |x AS (SELECT q4, y, CAST(unnest(generate_series(1, 19)) * 500 AS BIGINT) AS t4
        |      FROM d),
        |g AS (SELECT t4, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS n1,
        |        CAST(SUM(CASE WHEN q4 < t4 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |        CAST(SUM(CASE WHEN q4 < t4 THEN y ELSE 0 END) AS BIGINT) AS nl1
        |      FROM x GROUP BY 1),
        |m AS (SELECT *, n - nl AS nr, n1 - nl1 AS nr1, nl - nl1 AS nl0
        |      FROM g),
        |sc AS (SELECT *,
        |    (CASE WHEN nl = 0 THEN 0.0 ELSE
        |      CAST(nl * nl - nl1 * nl1 - nl0 * nl0 AS DOUBLE) / CAST(nl AS DOUBLE)
        |     END +
        |     CASE WHEN nr = 0 THEN 0.0 ELSE
        |      CAST(nr * nr - nr1 * nr1 - (nr - nr1) * (nr - nr1) AS DOUBLE)
        |        / CAST(nr AS DOUBLE)
        |     END) AS child,
        |    CAST(n * n - n1 * n1 - (n - n1) * (n - n1) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS parent
        |  FROM m),
        |q AS (SELECT *, CAST(floor((parent - child) / CAST(n AS DOUBLE)
        |        * 1e9 + 0.5) AS BIGINT) AS gain_q FROM sc)
        |SELECT CAST(t4 AS DOUBLE) / 1e4 AS threshold, n, nl AS n_left,
        |  nr AS n_right, CAST(gain_q AS DOUBLE) / 1e9 AS gini_gain,
        |  floor(CAST(nl1 AS DOUBLE) / CAST(nl AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS target_rate_left,
        |  floor(CAST(nr1 AS DOUBLE) / CAST(nr AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS target_rate_right
        |FROM q ORDER BY gain_q DESC, t4 LIMIT 1""".stripMargin,

    // Pairwise source Hellinger: per-term √((ca·cb)/(na·nb)) in one
    // fixed double sequence, 1e-9-quantized, HUGEINT sums.
    "hellinger_matrix" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_shared,
        |        SUM(CAST(floor(sqrt(CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)
        |            / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)))
        |          * 1e9 + 0.5) AS HUGEINT)) AS bcq
        |      FROM c a JOIN c b ON a.token = b.token AND a.source < b.source
        |      JOIN n na ON na.source = a.source
        |      JOIN n nb ON nb.source = b.source
        |      GROUP BY 1, 2),
        |sc AS (SELECT na.source AS source_a, nb.source AS source_b
        |      FROM n na JOIN n nb ON na.source < nb.source)
        |SELECT sc.source_a, sc.source_b,
        |  COALESCE(p.n_shared, 0) AS n_shared,
        |  floor(COALESCE(CAST(p.bcq AS DOUBLE), 0.0) / 1e9 * 1e6 + 0.5) / 1e6
        |    AS bhattacharyya,
        |  floor(sqrt(greatest(0.0,
        |      1.0 - COALESCE(CAST(p.bcq AS DOUBLE), 0.0) / 1e9))
        |    * 1e6 + 0.5) / 1e6 AS hellinger
        |FROM sc LEFT JOIN p USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,

    // Zipf doubling-grid slope: ⌊log2⌋ via bin(), token-weighted OLS
    // on exact integer sums, one slope division + a fixed intercept
    // chain.
    "zipf_slope" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f
        |      FROM tok GROUP BY 1, 2),
        |rk AS (SELECT source, f,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY f DESC, token) AS BIGINT) AS r
        |      FROM c),
        |xy AS (SELECT source,
        |        CAST(length(bin(r)) - 1 AS BIGINT) AS x,
        |        CAST(length(bin(f)) - 1 AS BIGINT) AS y
        |      FROM rk),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
        |        CAST(COUNT(DISTINCT x) AS BIGINT) AS n_buckets,
        |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |        SUM(CAST(x * y AS HUGEINT)) AS sxy,
        |        SUM(CAST(x * x AS HUGEINT)) AS sxx
        |      FROM xy GROUP BY 1),
        |sl AS (SELECT source, n_types, n_buckets, sx, sy,
        |        CAST(CAST(n_types AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |          / NULLIF(CAST(CAST(n_types AS HUGEINT) * sxx - sx * sx
        |            AS DOUBLE), 0.0) AS slope
        |      FROM a)
        |SELECT source, n_types, n_buckets,
        |  floor(slope * 1e6 + 0.5) / 1e6 AS slope,
        |  floor((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / CAST(n_types AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept
        |FROM sl ORDER BY source""".stripMargin,

    // Skip-gram collocations: ±3-window unordered pairs, the
    // collocations lift form on the window-pair mass.
    "skipgram_pairs" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |pg AS (SELECT split_part(pg, ' ', 1) AS w1, split_part(pg, ' ', 2) AS w2,
        |          CAST(COUNT(*) AS BIGINT) AS cp
        |        FROM (SELECT unnest(flatten(list_transform([1, 2, 3], o ->
        |                CASE WHEN len(toks) >= o + 1
        |                  THEN list_transform(generate_series(1, len(toks) - o),
        |                         i -> least(toks[i], toks[i+o]) || ' ' ||
        |                              greatest(toks[i], toks[i+o]))
        |                  ELSE [] END))) AS pg FROM t)
        |        GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_uni,
        |          CAST(SUM(GREATEST(len(toks) - 1, 0)
        |            + GREATEST(len(toks) - 2, 0)
        |            + GREATEST(len(toks) - 3, 0)) AS BIGINT) AS n_pairs
        |        FROM t)
        |SELECT w1, w2, cp,
        |  ROUND((CAST(cp AS DOUBLE) / CAST(n_pairs AS DOUBLE)) /
        |        ((CAST(a.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
        |         (CAST(b.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE))), 4) AS lift
        |FROM pg JOIN uni a ON pg.w1 = a.token JOIN uni b ON pg.w2 = b.token, tot
        |ORDER BY lift DESC, cp DESC, w1, w2 LIMIT 20""".stripMargin,

    // TextRank keywords: skipgram-window edges on the stopword-
    // filtered token sequence, then the PagerankSql unrolled
    // exact-integer iteration over the word graph.
    "textrank_keywords" -> {
      val step = (i: Int) => s"""it$i AS (
        |  SELECT n2.token,
        |    CAST(15000000000000 // (100 * (SELECT nn FROM n))
        |      + (85 * COALESCE(fl.inflow, 0)) // 100 AS BIGINT) AS rq
        |  FROM nodes n2 LEFT JOIN (
        |    SELECT e.dst, CAST(SUM((CAST(p.rq AS HUGEINT) * e.w) // o.ow) AS BIGINT) AS inflow
        |    FROM it${i - 1} p JOIN e ON e.src = p.token
        |    JOIN outw o ON o.src = p.token
        |    GROUP BY 1) fl ON fl.dst = n2.token)""".stripMargin
      """WITH t AS (SELECT list_filter(
        |      regexp_split_to_array(trim(text), '\s+'),
        |      x -> x NOT IN ('the', 'a') AND len(x) >= 2) AS toks
        |    FROM documents),
        |pg AS (SELECT split_part(pg, ' ', 1) AS w1, split_part(pg, ' ', 2) AS w2,
        |          CAST(COUNT(*) AS BIGINT) AS cp
        |        FROM (SELECT unnest(flatten(list_transform([1, 2], o ->
        |                CASE WHEN len(toks) >= o + 1
        |                  THEN list_transform(generate_series(1, len(toks) - o),
        |                         i -> least(toks[i], toks[i+o]) || ' ' ||
        |                              greatest(toks[i], toks[i+o]))
        |                  ELSE [] END))) AS pg FROM t)
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |pgf AS (SELECT * FROM pg WHERE w1 <> w2),
        |e AS (SELECT w1 AS src, w2 AS dst, cp AS w FROM pgf
        |      UNION ALL SELECT w2, w1, cp FROM pgf),
        |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS token FROM e),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nodes),
        |it0 AS (SELECT token,
        |    CAST(1000000000000 // (SELECT nn FROM n) AS BIGINT) AS rq
        |  FROM nodes),
        |""".stripMargin +
        (1 to 10).map(step).mkString(",\n") + """
        |SELECT token, rq,
        |  floor(CAST(rq AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS score
        |FROM it10 ORDER BY rq DESC, token LIMIT 20""".stripMargin
    },

    // DeLong SE for the AUC: per-cell placement deviations with
    // cleared denominators (exact HUGEINT squares), one mirrored
    // double chain for SE and the 95% band.
    "auc_delong_se" ->
      s"""WITH s AS (SELECT source, $QualitySqlExpr AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (SELECT source, score, CAST(SUM(pos) AS BIGINT) AS np,
        |    CAST(SUM(1 - pos) AS BIGINT) AS nn FROM s GROUP BY 1, 2),
        |w AS (SELECT *,
        |    COALESCE(CAST(SUM(nn) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS nn_below,
        |    COALESCE(CAST(SUM(np) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT),
        |      0) AS np_above
        |  FROM g),
        |a AS (SELECT source, CAST(SUM(np) AS BIGINT) AS tp,
        |    CAST(SUM(nn) AS BIGINT) AS tn,
        |    CAST(SUM(np * (2 * nn_below + nn)) AS BIGINT) AS u2
        |  FROM w GROUP BY 1),
        |dv AS (SELECT w.source,
        |    SUM(CAST(w.np AS HUGEINT)
        |      * CAST((2 * w.nn_below + w.nn) * a.tp - a.u2 AS HUGEINT)
        |      * CAST((2 * w.nn_below + w.nn) * a.tp - a.u2 AS HUGEINT))
        |      AS s10,
        |    SUM(CAST(w.nn AS HUGEINT)
        |      * CAST((2 * w.np_above + w.np) * a.tn - a.u2 AS HUGEINT)
        |      * CAST((2 * w.np_above + w.np) * a.tn - a.u2 AS HUGEINT))
        |      AS s01
        |  FROM w JOIN a ON a.source = w.source GROUP BY 1),
        |f AS (SELECT a.source, a.tp, a.tn, a.u2, dv.s10, dv.s01,
        |    CAST(a.u2 AS DOUBLE) / (2.0 * CAST(a.tp AS DOUBLE)
        |      * CAST(a.tn AS DOUBLE)) AS auc,
        |    sqrt(CAST(dv.s10 AS DOUBLE) / (4.0 * CAST(a.tp AS DOUBLE)
        |        * CAST(a.tp AS DOUBLE) * CAST(a.tn AS DOUBLE)
        |        * CAST(a.tn AS DOUBLE)
        |        * NULLIF(CAST(a.tp AS DOUBLE) - 1.0, 0.0)
        |        * CAST(a.tp AS DOUBLE))
        |      + CAST(dv.s01 AS DOUBLE) / (4.0 * CAST(a.tp AS DOUBLE)
        |        * CAST(a.tp AS DOUBLE) * CAST(a.tn AS DOUBLE)
        |        * CAST(a.tn AS DOUBLE)
        |        * NULLIF(CAST(a.tn AS DOUBLE) - 1.0, 0.0)
        |        * CAST(a.tn AS DOUBLE))) AS se
        |  FROM a JOIN dv ON dv.source = a.source
        |  WHERE a.tp > 0 AND a.tn > 0)
        |SELECT source, tp AS n_pos, tn AS n_neg,
        |  floor(auc * 1e6 + 0.5) / 1e6 AS auc,
        |  floor(se * 1e6 + 0.5) / 1e6 AS delong_se,
        |  floor((auc - 1.959964 * se) * 1e6 + 0.5) / 1e6 AS ci_lo,
        |  floor((auc + 1.959964 * se) * 1e6 + 0.5) / 1e6 AS ci_hi
        |FROM f ORDER BY source""".stripMargin,

    // Decile lift table: NTILE(10) ≡ the operator's two-phase
    // ntileFromRank bit-for-bit; exact ppm divisions throughout.
    "lift_table" ->
      s"""WITH s AS (SELECT doc_id, $QualitySqlExpr AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |d AS (SELECT NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile,
        |        pos FROM s),
        |per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
        |    CAST(SUM(n_pos) AS BIGINT) AS np FROM per),
        |c AS (SELECT *, CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT)
        |    AS cum_pos FROM per)
        |SELECT decile, n_docs, n_pos,
        |  CAST((n_pos * 1000000) // n_docs AS BIGINT) AS pos_rate_ppm,
        |  CASE WHEN np > 0 THEN CAST((CAST(n_pos AS HUGEINT) * nn * 1000000)
        |    // (CAST(n_docs AS HUGEINT) * np) AS BIGINT)
        |    ELSE NULL END AS lift_ppm,
        |  CASE WHEN np > 0 THEN CAST((cum_pos * 1000000) // np AS BIGINT)
        |    ELSE NULL END AS capture_ppm
        |FROM c, tot ORDER BY decile""".stripMargin,

    // Arrival-decile quality & mix: map-side deciles off the 1-row id
    // bounds; 1e4-quantized quality summed exactly, one edge division.
    "arrival_quality_mix" ->
      s"""WITH b AS (SELECT MIN(doc_id) AS id0, MAX(doc_id) AS id1
        |  FROM documents),
        |m AS (SELECT
        |    LEAST(9, ((d.doc_id - b.id0) * 10) // (b.id1 - b.id0 + 1))
        |      AS decile,
        |    d.source,
        |    CAST(floor(($QualitySqlExpr) * 1e4 + 0.5) AS BIGINT) AS q4,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
        |      AS ws_toks,
        |    CAST(len(regexp_extract_all(text,
        |      ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+'))
        |      AS BIGINT) AS bpe_toks
        |  FROM documents d, b)
        |SELECT decile, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  floor(CAST(SUM(q4) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e4
        |    * 1e4 + 0.5) / 1e4 AS mean_quality,
        |  CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(bpe_toks) AS BIGINT) AS bpe_tokens
        |FROM m GROUP BY 1, 2 ORDER BY decile, source""".stripMargin,
  )
}
