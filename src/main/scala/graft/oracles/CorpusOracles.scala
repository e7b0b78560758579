package graft.oracles

/** DuckDB oracle SQL for the corpus family — split out of SparkEntry
  * (round 9) purely for registry file size; keys and SQL are the
  * unchanged driver contract (SURVEY §5). */
private[graft] object CorpusOracles {
  import OracleFragments._

  val sql: Map[String, String] = Map(

    // DSIR importance weights: md5-prefix buckets (train_split's
    // cross-engine hash), integer Laplace counts, the two-division
    // ratio tree parenthesized identically to the Spark build, 1e-6
    // quantization before the per-doc sum.
    "dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, substr(md5(tok), 1, 3) AS b
        |  FROM (SELECT doc_id, source,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)),
        |c AS (SELECT b,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS cr
        |  FROM tk GROUP BY b),
        |t AS (SELECT
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END) AS BIGINT) AS t_tot,
        |    CAST(COUNT(*) AS BIGINT) AS r_tot
        |  FROM tk),
        |r AS (SELECT b, CAST(floor(
        |    CAST(ct + 1 AS DOUBLE) / CAST(t_tot + 4096 AS DOUBLE)
        |      / (CAST(cr + 1 AS DOUBLE) / CAST(r_tot + 4096 AS DOUBLE))
        |    * 1e6 + 0.5) AS BIGINT) AS r6
        |  FROM c, t),
        |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(r6) AS BIGINT) AS sr
        |  FROM tk JOIN r USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  floor(CAST(sr AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS weight
        |FROM s ORDER BY doc_id""".stripMargin,

    // Markup stripping on the planted-fragment construction (the
    // pii-family convention); tags strip before entities on both
    // engines, lengths are ASCII-identical.
    "strip_markup" ->
      """WITH s AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0
        |       THEN '<div class="d' || CAST(doc_id % 7 AS VARCHAR) || '"><p>'
        |       ELSE '' END)
        |    || text
        |    || (CASE WHEN doc_id % 4 = 0 THEN '</p></div>' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |       THEN ' &amp; tail&nbsp;' || CAST(doc_id % 9 AS VARCHAR)
        |       ELSE '' END) AS synth
        |  FROM documents),
        |t AS (SELECT doc_id, synth,
        |    regexp_replace(synth, '<[^<>]+>', '', 'g') AS stripped FROM s),
        |c AS (SELECT doc_id, synth, stripped,
        |    regexp_replace(stripped, '&[A-Za-z]{2,8};', ' ', 'g') AS clean FROM t)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(synth, '<[^<>]+>')) AS INT) AS n_tags,
        |  CAST(len(regexp_extract_all(stripped, '&[A-Za-z]{2,8};')) AS INT) AS n_entities,
        |  CAST(length(synth) - length(clean) AS INT) AS chars_removed,
        |  md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // Mojibake incidence on planted encoding artifacts; the pattern
    // is a literal alternation so Java regex and RE2 agree byte-wise.
    // Script mix: identical literal codepoint-range classes both
    // engines; subtractive counting; ppm by integer division.
    "script_mix" ->
      """WITH d AS (SELECT lang,
        |    ((length(text) - length(regexp_replace(text, '[A-Za-zÀ-ɏ]', '', 'g')))
        |      * 1000000) // length(text) AS latin_ppm,
        |    ((length(text) - length(regexp_replace(text, '[一-鿿぀-ヿ]', '', 'g')))
        |      * 1000000) // length(text) AS cjk_ppm,
        |    ((length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')))
        |      * 1000000) // length(text) AS cyrillic_ppm
        |  FROM documents WHERE length(text) > 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(latin_ppm) // COUNT(*) AS BIGINT) AS mean_latin_ppm,
        |  CAST(SUM(cjk_ppm) // COUNT(*) AS BIGINT) AS mean_cjk_ppm,
        |  CAST(SUM(cyrillic_ppm) // COUNT(*) AS BIGINT) AS mean_cyrillic_ppm
        |FROM d GROUP BY 1 ORDER BY lang""".stripMargin,

    "mojibake_stats" ->
      """WITH s AS (SELECT source,
        |    text
        |    || (CASE WHEN doc_id % 6 = 0 THEN ' cafÃ© menu' ELSE '' END)
        |    || (CASE WHEN doc_id % 8 = 0 THEN ' itâ€™s fine' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN ' bad�byte' ELSE '' END) AS synth
        |  FROM documents),
        |h AS (SELECT source,
        |    CAST(len(regexp_extract_all(synth, 'Ã.|â€.|�')) AS INT) AS hits
        |  FROM s)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS affected_docs,
        |  CAST(SUM(hits) AS BIGINT) AS artifact_hits,
        |  floor(CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS affected_rate
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    "token_count_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS INT) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Bland-Altman agreement of the two token counters: exact integer
    // diffs, HUGEINT moments, the engine's fixed double chains.
    "bland_altman" ->
      """WITH d AS (SELECT
        |    CAST(length(text) AS BIGINT) // 4
        |    - CAST(len(regexp_extract_all(text,
        |      ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
        |      AS BIGINT) AS d
        |  FROM documents),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(d AS HUGEINT)) AS sd1,
        |    SUM(CAST(d AS HUGEINT) * d) AS sd2
        |  FROM d),
        |lim AS (SELECT n,
        |    CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d,
        |    sqrt((CAST(sd2 AS DOUBLE)
        |      - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / NULLIF(CAST(n - 1 AS DOUBLE), 0.0)) AS sd_d
        |  FROM mom),
        |lim2 AS (SELECT n, mean_d, sd_d,
        |    mean_d - 1.96 * sd_d AS lo, mean_d + 1.96 * sd_d AS hi
        |  FROM lim),
        |f AS (SELECT l.n AS n_docs, l.mean_d, l.sd_d, l.lo, l.hi,
        |    CAST(SUM(CASE WHEN CAST(d.d AS DOUBLE) < l.lo
        |          OR CAST(d.d AS DOUBLE) > l.hi THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_out
        |  FROM d, lim2 l GROUP BY 1, 2, 3, 4, 5)
        |SELECT n_docs,
        |  floor(mean_d * 1e4 + 0.5) / 1e4 AS mean_diff,
        |  floor(sd_d * 1e4 + 0.5) / 1e4 AS sd_diff,
        |  floor(lo * 1e4 + 0.5) / 1e4 AS loa_low,
        |  floor(hi * 1e4 + 0.5) / 1e4 AS loa_high,
        |  CAST((n_out * 1000000) // n_docs AS BIGINT) AS outside_ppm
        |FROM f""".stripMargin,

    // Tokenizer economics per language: character/word/BPE-token sums,
    // two 4-dp ratios; len() counts characters in both engines.
    "tokenizer_efficiency" ->
      """WITH c AS (SELECT lang, len(text) AS chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS ws,
        |    len(regexp_extract_all(text,
        |      ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
        |      AS bpe
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(chars) AS BIGINT) AS n_chars,
        |    CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
        |    CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens
        |  FROM c GROUP BY 1)
        |SELECT lang, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
        |  floor(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS chars_per_bpe,
        |  floor(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS bpe_per_word
        |FROM g ORDER BY lang""".stripMargin,

    "token_count" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(MAX(len(regexp_split_to_array(trim(text), '\s+'))) AS INT) AS max_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "text_stats" ->
      """SELECT lang, docs, total_chars, total_tokens,
        |  ROUND(CAST(total_chars AS DOUBLE) / CAST(docs AS DOUBLE), 4) AS avg_chars,
        |  ROUND(CAST(total_tokens AS DOUBLE) / CAST(docs AS DOUBLE), 4) AS avg_tokens
        |FROM (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY lang)
        |ORDER BY lang""".stripMargin,

    "quality_score" ->
      s"""SELECT doc_id, $QualitySqlExpr AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    // One total order (quality DESC, md5 tiebreak, doc_id) shared by
    // rank, ntile(4) tier and the derived batch_id.
    "curriculum_order" ->
      s"""WITH q AS (SELECT doc_id, $QualitySqlExpr AS quality,
        |    md5(CAST(doc_id AS VARCHAR)) AS tie
        |  FROM documents),
        |r AS (SELECT doc_id, quality,
        |    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS "rank",
        |    CAST(NTILE(4) OVER w AS INT) AS tier
        |  FROM q WINDOW w AS (ORDER BY quality DESC, tie, doc_id))
        |SELECT doc_id, quality, "rank", tier, "rank" // 64 AS batch_id
        |FROM r ORDER BY "rank"""".stripMargin,

    // Winnowing: md5-hex gram STRINGS, window min = lexicographic
    // min (no hex→int conversion to disagree on), HUGEINT density.
    "winnow_fingerprints" ->
      """WITH d AS (SELECT source, doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT source, doc_id,
        |    CASE WHEN len(toks) >= 5 THEN
        |      list_transform(generate_series(1, len(toks) - 4),
        |        i -> md5(array_to_string(toks[i:i+4], ' ')))
        |    ELSE [] END AS grams
        |  FROM d),
        |p AS (SELECT source, doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |    CASE WHEN len(grams) >= 1 THEN
        |      list_distinct(list_transform(
        |        generate_series(1, greatest(len(grams) - 3, 1)),
        |        j -> list_aggregate(grams[j:j+3], 'min')))
        |    ELSE [] END AS prints
        |  FROM g),
        |bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |    CAST(SUM(len(prints)) AS BIGINT) AS n_prints
        |  FROM p GROUP BY 1),
        |sp AS (SELECT source, unnest(prints) AS pr, doc_id FROM p),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct_prints,
        |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared_prints
        |  FROM (SELECT source, pr, CAST(COUNT(*) AS BIGINT) AS nd
        |        FROM sp GROUP BY 1, 2) GROUP BY 1)
        |SELECT bs.source, n_docs, n_grams, n_prints,
        |  CAST((CAST(n_prints AS HUGEINT) * 1000000)
        |    // NULLIF(CAST(n_grams AS HUGEINT), 0) AS BIGINT) AS density_ppm,
        |  COALESCE(n_distinct_prints, 0) AS n_distinct_prints,
        |  COALESCE(n_shared_prints, 0) AS n_shared_prints
        |FROM bs LEFT JOIN ps ON ps.source = bs.source
        |ORDER BY bs.source""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(trim(text), '\s+'),
        |        t -> CAST(length(t) AS BIGINT) * 131 +
        |             CAST(ascii(substr(t, 1, 1)) AS BIGINT) * 31 +
        |             CAST(ascii(substr(t, -1, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 1000003 + c) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // CDC: the boundary hash mirrors doc_fingerprint's token codes;
    // ((c2*K + c1) % M * K + c) % M % D spelled identically both sides.
    "cdc_chunks" ->
      """WITH t AS (SELECT doc_id, source,
        |        regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents),
        |p AS (SELECT doc_id, source,
        |        generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
        |      FROM t),
        |cd AS (SELECT doc_id, source, pos, tok,
        |        CAST(length(tok) AS BIGINT) * 131 +
        |        CAST(ascii(substr(tok, 1, 1)) AS BIGINT) * 31 +
        |        CAST(ascii(substr(tok, -1, 1)) AS BIGINT) AS c
        |      FROM p),
        |w AS (SELECT *, lag(c, 1) OVER win AS c1, lag(c, 2) OVER win AS c2
        |      FROM cd WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |bf AS (SELECT *, CASE WHEN c2 IS NOT NULL AND
        |          ((c2 * 1000003 + c1) % 2147483647 * 1000003 + c)
        |            % 2147483647 % 16 = 0
        |        THEN 1 ELSE 0 END AS b FROM w),
        |ch AS (SELECT *, COALESCE(SUM(b) OVER (PARTITION BY doc_id
        |          ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS chunk_id FROM bf),
        |g AS (SELECT doc_id, source, chunk_id,
        |        CAST(COUNT(*) AS BIGINT) AS n_toks,
        |        md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        |      FROM ch GROUP BY 1, 2, 3),
        |s AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |        CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS distinct_chunks,
        |        CAST(SUM(n_toks) AS BIGINT) AS tot
        |      FROM g GROUP BY 1)
        |SELECT source, n_docs, n_chunks, distinct_chunks,
        |  ((n_chunks - distinct_chunks) * 1000000) // n_chunks AS dup_chunk_ppm,
        |  floor(CAST(tot AS DOUBLE) / CAST(n_chunks AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS mean_chunk_toks
        |FROM s ORDER BY source""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  hex(encode(left(text, 4))) AS prefix_hex, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_clean" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang, n_chars, $QualitySqlExpr AS quality
        |  FROM documents
        |  WHERE lang IN ('en','es','de','fr') AND n_chars BETWEEN 100 AND 500)
        |SELECT doc_id, lang, n_chars, quality FROM scored
        |WHERE quality >= 0.9 ORDER BY doc_id""".stripMargin,

    // Argmax over per-language profile-word hits; ties break on the
    // GREATEST language code (= Spark's array_max over struct(score,
    // lang)), 'und' when nothing matched.
    "lang_id" -> LangIdSql,

    "pii_redact" ->
      """WITH s AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 > 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
        |      ELSE '' END AS synth
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(synth, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(synth, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(synth,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')) AS redacted_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    // regexp_replace('^\s+|\s+$') — not trim(), which strips only
    // spaces: the Spark side tokenizes with the native byte scanner,
    // which has no phantom empty token when text leads with a tab.
    "decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(t) >= 8
        |      THEN list_distinct(list_transform(generate_series(1, len(t) - 7),
        |             i -> array_to_string(t[i:i+7], ' ')))
        |      ELSE [] END AS gs
        |  FROM toks),
        |bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
        |corp AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE source <> 'src0'),
        |m AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
        |      FROM corp c JOIN bench b USING (gram) GROUP BY c.doc_id)
        |SELECT d.doc_id, COALESCE(m.shared, 0) AS shared_grams,
        |  COALESCE(m.shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin,

    "vocab_df" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
        |FROM tf GROUP BY token
        |ORDER BY df DESC, cf DESC, token LIMIT 100""".stripMargin,

    "stratified_sample" ->
      """WITH h AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
        |r AS (SELECT doc_id, lang,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rn,
        |        COUNT(*) OVER (PARTITION BY lang) AS cnt
        |      FROM h)
        |SELECT doc_id, lang, rn FROM r WHERE rn <= (cnt + 4) // 5
        |ORDER BY lang, rn""".stripMargin,

    "chunk_docs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |st AS (SELECT doc_id, toks,
        |         unnest(generate_series(0, GREATEST(len(toks) - 1, 0), 48)) AS start_tok
        |       FROM t),
        |c AS (SELECT doc_id, CAST(start_tok // 48 AS INT) AS chunk_idx,
        |        CAST(start_tok AS INT) AS start_tok,
        |        toks[start_tok + 1 : start_tok + 64] AS chunk
        |      FROM st
        |      WHERE start_tok = 0 OR start_tok - 48 + 64 < len(toks))
        |SELECT doc_id, chunk_idx, start_tok, CAST(len(chunk) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "pack_greedy" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
        |           FROM documents),
        |w AS (SELECT doc_id, source, n_tokens,
        |        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          - n_tokens AS start_off
        |      FROM d)
        |SELECT doc_id, source, n_tokens,
        |  start_off // 256 AS seq_id, start_off % 256 AS seq_offset
        |FROM w ORDER BY source, doc_id""".stripMargin,

    "train_split" ->
      """WITH h AS (SELECT doc_id,
        |             substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 2) AS bucket
        |           FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 'e6' THEN 'train'
        |       WHEN bucket < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    // Same ceil(frac·cnt) double math, same parenthesization → same
    // IEEE result both engines; ranks are content-keyed md5 order.
    "mix_sources" ->
      """WITH h AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |r AS (SELECT doc_id, source,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS INT) AS rn,
        |        COUNT(*) OVER (PARTITION BY source) AS cnt
        |      FROM h),
        |f AS (SELECT *, CASE source WHEN 'src0' THEN CAST(1.0 AS DOUBLE)
        |                 WHEN 'src1' THEN CAST(0.6 AS DOUBLE)
        |                 ELSE CAST(0.2 AS DOUBLE) END AS frac
        |      FROM r)
        |SELECT doc_id, source, rn FROM f
        |WHERE rn <= CAST(ceil(frac * cnt) AS BIGINT)
        |ORDER BY source, rn""".stripMargin,

    // Same strict-8-gram construction as the decontaminate oracle
    // (string grams; the Spark side matches on 63-bit xxhash64 values
    // — collision odds are nil and the hash compare itself verifies).
    "boilerplate_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
        |          i -> array_to_string(t[i:i+7], ' ')))) AS gram
        |      FROM toks WHERE len(t) >= 8),
        |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df FROM g),
        |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |      FROM d GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_dup,
        |  floor(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_frac
        |FROM s ORDER BY doc_id""".stripMargin,

    // sqrt is correctly rounded under IEEE 754 in every engine (the
    // one libm function that is), so √n quantized to micro-units is
    // cross-engine exact; fractions/targets are single identically-
    // parenthesized double expressions.
    "source_temperature" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qw
        |      FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
        |        CAST(SUM(qw) AS BIGINT) AS qwsum FROM c)
        |SELECT source, n_docs,
        |  floor(CAST(qw AS DOUBLE) / CAST(qwsum AS DOUBLE) * 1e4 + 0.5) / 1e4 AS frac,
        |  CAST(floor(CAST(qw AS DOUBLE) * CAST(total_docs AS DOUBLE)
        |    / CAST(qwsum AS DOUBLE)) AS BIGINT) AS target_docs
        |FROM c, t ORDER BY source""".stripMargin,

    // Nests the lang_id oracle verbatim — the confusion matrix can
    // never drift from the per-document prediction oracle.
    // Code-switch: the langId stopword lists as exact list_filter
    // counts (no 12-bit lane saturation), per-doc purity division,
    // ppm source rollup.
    "code_switch" ->
      """WITH t AS (SELECT source,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT source,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','you','that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','ser','se','no'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','in','den','von','zu','das','mit','sich'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','est','un','une','que'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('的','一','是','不','了','人','我','在','有','他'))) AS BIGINT) AS s_zh
        |  FROM t),
        |d AS (SELECT source,
        |    s_en + s_es + s_de + s_fr + s_zh AS total,
        |    greatest(s_en, s_es, s_de, s_fr, s_zh) AS best
        |  FROM s),
        |f AS (SELECT source, total, best, total > 0 AS matched,
        |    total - best >= 2 AS mixed FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matched,
        |  CAST(SUM(CASE WHEN matched AND mixed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mixed,
        |  CAST((SUM(CASE WHEN matched AND mixed THEN 1 ELSE 0 END) * 1000000)
        |    // NULLIF(SUM(CASE WHEN matched THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS mixed_share_ppm,
        |  CAST(SUM(CASE WHEN matched THEN (best * 1000000) // total
        |    ELSE 0 END)
        |    // NULLIF(SUM(CASE WHEN matched THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS mean_purity_ppm
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin,

    "lang_confusion" ->
      s"""WITH p AS (SELECT lang, pred_lang FROM ($LangIdSql)),
        |g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM p GROUP BY 1, 2),
        |r AS (SELECT *, SUM(n) OVER (PARTITION BY lang) AS lang_total FROM g)
        |SELECT lang, pred_lang, n,
        |  floor(CAST(n AS DOUBLE) / CAST(lang_total AS DOUBLE) * 1e4 + 0.5) / 1e4 AS frac
        |FROM r ORDER BY lang, pred_lang""".stripMargin,

    // Nests the lang_id builder with `source` carried through — the
    // kappa can never drift from the per-document prediction oracle.
    // Probability arithmetic mirrors the Spark expression ORDER
    // (diag/n, pe_num/(n·n), then the nullif'd kappa division).
    "cohen_kappa" ->
      s"""WITH p AS (SELECT source, lang, pred_lang
        |           FROM (${OracleFragments.langIdSqlWith(", source")})),
        |cells AS (SELECT source, lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM p GROUP BY 1, 2, 3),
        |r AS (SELECT source, lang AS cls, CAST(SUM(n) AS BIGINT) AS rt
        |      FROM cells GROUP BY 1, 2),
        |c AS (SELECT source, pred_lang AS cls, CAST(SUM(n) AS BIGINT) AS ct
        |      FROM cells GROUP BY 1, 2),
        |pe AS (SELECT source,
        |         SUM(CAST(COALESCE(rt, 0) AS DECIMAL(38,0)) * COALESCE(ct, 0)) AS pe_num
        |       FROM r FULL OUTER JOIN c USING (source, cls) GROUP BY source),
        |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |        CAST(SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS diag
        |      FROM cells GROUP BY source)
        |SELECT source, n_docs,
        |  floor(CAST(diag AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) / 1e6 AS po,
        |  floor(CAST(pe_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS pe,
        |  floor((CAST(diag AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |      - CAST(pe_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
        |    / NULLIF(1.0 - CAST(pe_num AS DOUBLE)
        |        / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)), 0.0)
        |    * 1e6 + 0.5) / 1e6 AS kappa
        |FROM t JOIN pe USING (source) ORDER BY source""".stripMargin,

    // Positional grams (pos, 8 tokens joined by one space) → df >= 2
    // across distinct docs → cut every covered token position →
    // reassemble survivors in order. md5 hash-checks the reassembled
    // CONTENT (cf. pii_redact); md5('') covers fully-cut docs on both
    // engines.
    "span_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |gp AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
        |           i -> struct_pack(pos := i, gram := array_to_string(t[i:i+7], ' ')))) AS s
        |       FROM toks),
        |g AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM gp),
        |common AS (SELECT gram FROM g GROUP BY gram
        |           HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, cpos FROM (
        |          SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS cpos
        |          FROM g JOIN common USING (gram))),
        |tp AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t)),
        |           i -> struct_pack(pos := i, tok := t[i]))) AS s
        |       FROM toks),
        |t2 AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM tp),
        |j AS (SELECT t2.doc_id, t2.pos, t2.tok,
        |        cov.cpos IS NOT NULL AS removed
        |      FROM t2 LEFT JOIN cov ON t2.doc_id = cov.doc_id AND t2.pos = cov.cpos)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(array_to_string(list(tok ORDER BY pos) FILTER (WHERE NOT removed), ' '), '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Max of w md5 pseudo-uniforms per doc (A-Res in hex-string space,
    // no libm pow); hex strings order identically in both engines
    // (bootstrap_ci precedent). Top-100 by (key DESC, doc_id).
    "weighted_sample" ->
      """WITH w AS (SELECT doc_id,
        |    CAST(1 + least(n_chars // 500, 9) AS BIGINT) AS weight
        |  FROM documents),
        |d AS (SELECT doc_id, weight,
        |    unnest(list_transform(generate_series(1, weight),
        |      i -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)))) AS u
        |  FROM w),
        |m AS (SELECT doc_id, any_value(weight) AS weight, max(u) AS key
        |      FROM d GROUP BY doc_id)
        |SELECT doc_id, weight, key FROM m
        |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    // Bucket hash on the GROUP key (source) — all docs of a source
    // share a split; same hex-bucket arithmetic as train_split.
    "grouped_split" ->
      """SELECT doc_id, source, substr(md5(source), 1, 2) AS bucket,
        |  CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Buckets of 64 tokens, batches of 32 in doc_id order inside each
    // bucket; padding = batch max − own length.
    "length_batching" ->
      """WITH l AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens, n_tokens // 64 AS bucket,
        |    ROW_NUMBER() OVER (PARTITION BY n_tokens // 64 ORDER BY doc_id) AS rn
        |  FROM l),
        |b AS (SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
        |    CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
        |    CAST((rn - 1) % 32 AS BIGINT) AS pos_in_batch
        |  FROM r)
        |SELECT doc_id, n_tokens, bucket, batch_id, pos_in_batch,
        |  CAST(MAX(n_tokens) OVER (PARTITION BY bucket, batch_id) - n_tokens AS INT) AS padding
        |FROM b ORDER BY doc_id""".stripMargin,

    // First-8-token prefix md5; ≥ 2-member groups; saved prefill =
    // (n_docs − 1) · 8.
    "prefix_cache_groups" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, md5(array_to_string(toks[1:8], ' ')) AS prefix_key
        |      FROM t WHERE len(toks) >= 8)
        |SELECT prefix_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS cache_owner,
        |  CAST((COUNT(*) - 1) * 8 AS BIGINT) AS tokens_saved
        |FROM p GROUP BY prefix_key HAVING COUNT(*) >= 2
        |ORDER BY prefix_key""".stripMargin,

    // Same planted patterns and RE2/Java-identical regexes as the
    // pii_redact oracle; per-source incidence + one rounded rate.
    "pii_by_source" ->
      """WITH s AS (
        |  SELECT source, text ||
        |    CASE WHEN doc_id % 3 > 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
        |      ELSE '' END AS synth
        |  FROM documents),
        |c AS (SELECT source,
        |    len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |    len(regexp_extract_all(synth, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS p,
        |    len(regexp_extract_all(synth, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS i
        |  FROM s)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
        |  CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
        |  CAST(SUM(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ip,
        |  CAST(SUM(e + p + i) AS BIGINT) AS total_hits,
        |  floor(CAST(SUM(e + p + i) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS hits_per_doc
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // Integer equal-share targets; slack REPORTED as unfilled.
    "mixture_plan" ->
      """WITH a AS (SELECT lang,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |      AS available_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS n_langs FROM a)
        |SELECT lang, available_tokens,
        |  least(available_tokens, 100000 // n_langs) AS target_tokens,
        |  (100000 // n_langs) - least(available_tokens, 100000 // n_langs) AS unfilled,
        |  floor(CAST(least(available_tokens, 100000 // n_langs) AS DOUBLE)
        |    / CAST(available_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4 AS sample_frac
        |FROM w ORDER BY lang""".stripMargin,

    // Power-of-two buckets via binary-string length — no libm log2.
    "token_len_histogram" ->
      """WITH t AS (SELECT
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT CASE WHEN n > 0 THEN CAST(length(bin(n)) AS INT) ELSE 0 END
        |        AS bucket, n FROM t)
        |SELECT bucket,
        |  CASE WHEN bucket > 0 THEN CAST(1 AS BIGINT) << (bucket - 1)
        |       ELSE CAST(0 AS BIGINT) END AS bucket_lo,
        |  (CAST(1 AS BIGINT) << bucket) - 1 AS bucket_hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n) AS BIGINT) AS min_tokens,
        |  CAST(MAX(n) AS BIGINT) AS max_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Padding waste per pow-2 length bucket + the -1 global row:
    // exact HUGEINT (n·max − Σ)·10⁶ // (n·max) shares.
    "padding_waste" ->
      """WITH t AS (SELECT
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT CASE WHEN n > 0 THEN CAST(length(bin(n)) AS BIGINT)
        |        ELSE 0 END AS bucket, n FROM t),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n) AS BIGINT) AS total_tokens,
        |    CAST(MAX(n) AS BIGINT) AS max_tokens
        |  FROM b GROUP BY 1),
        |pb AS (SELECT bucket, n_docs, max_tokens, total_tokens,
        |    CAST(((CAST(n_docs AS HUGEINT) * max_tokens - total_tokens)
        |        * 1000000)
        |      // NULLIF(CAST(n_docs AS HUGEINT) * max_tokens, 0) AS BIGINT)
        |      AS pad_waste_ppm
        |  FROM g),
        |gl AS (SELECT CAST(-1 AS BIGINT) AS bucket,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |    CAST(MAX(max_tokens) AS BIGINT) AS max_tokens,
        |    CAST(SUM(total_tokens) AS BIGINT) AS total_tokens
        |  FROM g),
        |gl2 AS (SELECT bucket, n_docs, max_tokens, total_tokens,
        |    CAST(((CAST(n_docs AS HUGEINT) * max_tokens - total_tokens)
        |        * 1000000)
        |      // NULLIF(CAST(n_docs AS HUGEINT) * max_tokens, 0) AS BIGINT)
        |      AS pad_waste_ppm
        |  FROM gl)
        |SELECT * FROM pb UNION ALL SELECT * FROM gl2
        |ORDER BY bucket""".stripMargin,

    // 0-based match position (pos), 1-based list slicing; left context
    // is the up-to-ctx tokens before the match, right the 3 after.
    "kwic_snippets" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |tp AS (SELECT doc_id, t,
        |         unnest(list_transform(generate_series(1, len(t)),
        |           i -> struct_pack(pos := i, tok := t[i]))) AS s
        |       FROM toks),
        |m AS (SELECT doc_id, t, s.pos AS p, s.tok AS tok FROM tp
        |      WHERE s.tok = 'spark')
        |SELECT doc_id, CAST(p - 1 AS INT) AS pos,
        |  COALESCE(array_to_string(t[greatest(p - 3, 1):p - 1], ' '), '') AS left_ctx,
        |  tok AS match,
        |  COALESCE(array_to_string(t[p + 1:p + 3], ' '), '') AS right_ctx
        |FROM m ORDER BY doc_id, pos""".stripMargin,

    // ---- Pinned-contract oracles -------------------------------------
    // The four below are DETERMINISTIC but not SQL-expressible (BPE
    // merge learning, banded-MinHash recall, KLL and HLL sketches have
    // no RNG — their output is a pure function of the corpus). The
    // literal frame IS the contract at the driver's verification scale
    // (sf0.01): any implementation drift changes the values and fails
    // the hash, upgrading what was a rows-only check. Scalatest
    // properties cover the algebra at every other scale
    // (TokenizerSpec, DedupSpec lsh-recall, Report/AlertsSpec sketch
    // error bands).

    // The first 5 merges learned from the sf0.01 corpus — the merge
    // table is the tokenizer's spec (Sennrich'16), stable by corpus.
    "bpe_merges" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS INTEGER), 'e', 'r', 'er', CAST(4568 AS BIGINT)),
        |  (CAST(2 AS INTEGER), 'i', 'n', 'in', CAST(2760 AS BIGINT)),
        |  (CAST(3 AS INTEGER), 'o', 'w', 'ow', CAST(2747 AS BIGINT)),
        |  (CAST(4 AS INTEGER), 'o', 'r', 'or', CAST(2696 AS BIGINT)),
        |  (CAST(5 AS INTEGER), 's', 't', 'st', CAST(2676 AS BIGINT))
        |) AS t("rank", "left", "right", merged, merged_count)""".stripMargin,

    // Ascending-capacity greedy water-fill; integer water level,
    // flooring remainder REPORTED (mixture_plan's contract).
    "waterfill_budget" ->
      """WITH caps AS (SELECT source,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |s AS (SELECT source, cap,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS i,
        |    CAST(SUM(cap) OVER (ORDER BY cap, source) AS BIGINT) AS cum,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM caps),
        |f AS (SELECT *, cap * (n - i + 1) <= 15000 - (cum - cap) AS is_full FROM s),
        |g AS (SELECT *,
        |    MAX(CASE WHEN is_full THEN i ELSE 0 END) OVER () AS istar,
        |    MAX(CASE WHEN is_full THEN cum ELSE 0 END) OVER () AS cumstar FROM f),
        |a AS (SELECT source, cap,
        |    CASE WHEN is_full THEN cap
        |         ELSE (15000 - cumstar) // (n - istar) END AS alloc_tokens,
        |    is_full FROM g)
        |SELECT source, cap AS available_tokens,
        |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
        |  is_full AS fully_funded,
        |  floor(CAST(alloc_tokens AS DOUBLE) / CAST(cap AS DOUBLE) * 1e4 + 0.5) / 1e4
        |    AS sample_frac,
        |  CAST(15000 - SUM(alloc_tokens) OVER () AS BIGINT) AS undistributed
        |FROM a ORDER BY source""".stripMargin,

    // Round-robin along the content-keyed per-language rank:
    // stratified, balanced, reproducible.
    "kfold_assign" ->
      """WITH r AS (SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(text), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, CAST((rn - 1) % 5 AS INT) AS fold
        |FROM r ORDER BY doc_id""".stripMargin,

    // Fold-balance audit: the kfold_assign CTE + a (lang, fold)
    // aggregate and exact-ppm spread.
    "kfold_balance" ->
      """WITH r AS (SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(text), doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |a AS (SELECT lang, CAST((rn - 1) % 5 AS INT) AS fold FROM r),
        |g AS (SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM a GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_folds,
        |  CAST(MIN(n) AS BIGINT) AS min_fold_n,
        |  CAST(MAX(n) AS BIGINT) AS max_fold_n,
        |  CAST(((MAX(n) - MIN(n)) * 1000000) // MAX(n) AS BIGINT)
        |    AS imbalance_ppm
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    // sklearn-"balanced" inverse-frequency weights, alpha = 0.
    "class_weights" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS n_classes FROM c)
        |SELECT lang, n_docs,
        |  floor(CAST(n_total AS DOUBLE)
        |    / (CAST(n_classes AS DOUBLE) * CAST(n_docs AS DOUBLE))
        |    * 1e4 + 0.5) / 1e4 AS weight
        |FROM t ORDER BY lang""".stripMargin,

    // REAL WAV decode (round 10): text bytes -> deterministic PCM16
    // -> RIFF/WAVE encode -> WavCodec chunk-walk decode -> integer
    // features. Pinned frame (byte-level WAV parsing is not
    // SQL-expressible); MultimodalSpec pins the codec algebra.
    "audio_features" ->
      """WITH r(doc_id, sample_rate, n_samples, duration_ms, peak, rms_q, zero_crossings) AS (VALUES
        |(0,8000,157,19,15552,1252686,92), (1,8000,406,50,15552,1280595,240), (2,8000,246,30,15296,1268843,144), (3,8000,147,18,15296,1263133,91),
        |(4,8000,250,31,15552,1275894,146), (5,8000,314,39,15552,1273135,180), (6,8000,78,9,15296,1263458,39), (7,8000,402,50,15552,1273915,223),
        |(8,8000,470,58,15296,1277234,268), (9,8000,391,48,15552,1263081,225), (10,8000,214,26,15552,1275947,124), (11,8000,304,38,15552,1266386,183),
        |(12,8000,348,43,15552,1275914,191), (13,8000,346,43,15552,1281726,201), (14,8000,495,61,15552,1274880,302), (15,8000,228,28,15552,1267641,136),
        |(16,8000,90,11,15552,1277453,56), (17,8000,426,53,15552,1280244,246), (18,8000,423,52,15552,1275090,239), (19,8000,57,7,15552,1291015,31),
        |(20,8000,394,49,15552,1287992,221), (21,8000,217,27,15552,1285838,119), (22,8000,454,56,15552,1281247,275), (23,8000,166,20,15552,1273488,98),
        |(24,8000,535,66,15552,1275188,309), (25,8000,505,63,15552,1274536,273), (26,8000,63,7,15552,1271219,34), (27,8000,346,43,15552,1272731,204),
        |(28,8000,334,41,15552,1281776,194), (29,8000,196,24,15552,1286095,112), (30,8000,167,20,15552,1278414,93), (31,8000,250,31,15552,1280143,144),
        |(32,8000,513,64,15552,1271013,288), (33,8000,247,30,15552,1274101,146), (34,8000,165,20,15552,1290050,96), (35,8000,452,56,15552,1271621,251),
        |(36,8000,135,16,15552,1291574,81), (37,8000,378,47,15552,1273034,218), (38,8000,203,25,15552,1281389,117), (39,8000,124,15,15552,1280355,69),
        |(40,8000,421,52,15552,1281947,251), (41,8000,337,42,15552,1273083,197), (42,8000,303,37,15552,1277648,172), (43,8000,152,19,15552,1282744,84),
        |(44,8000,128,16,15296,1267420,80), (45,8000,432,54,15552,1275388,263), (46,8000,492,61,15552,1279106,275), (47,8000,224,28,15552,1268687,131),
        |(48,8000,164,20,15296,1278971,93), (49,8000,256,32,15552,1279121,149), (50,8000,256,32,15552,1280300,156), (51,8000,326,40,15552,1276158,179),
        |(52,8000,63,7,15296,1256633,33), (53,8000,190,23,15552,1280999,117), (54,8000,357,44,15552,1274721,218), (55,8000,196,24,15296,1270394,111),
        |(56,8000,549,68,15552,1276036,308), (57,8000,447,55,15552,1268435,260), (58,8000,389,48,15552,1268701,239), (59,8000,118,14,15296,1250483,70),
        |(60,8000,493,61,15552,1267710,282), (61,8000,309,38,15552,1255177,185), (62,8000,392,49,15552,1274493,217), (63,8000,529,66,15552,1278264,313),
        |(64,8000,135,16,15552,1268849,77), (65,8000,99,12,15552,1264257,58), (66,8000,352,44,15552,1286362,197), (67,8000,333,41,15552,1268477,193),
        |(68,8000,186,23,15552,1284673,97), (69,8000,308,38,15552,1272537,175), (70,8000,509,63,15552,1267987,302), (71,8000,336,42,15552,1277660,191),
        |(72,8000,230,28,15552,1280015,126), (73,8000,503,62,15552,1261373,296), (74,8000,48,6,15552,1248282,31), (75,8000,312,39,15552,1270670,177),
        |(76,8000,382,47,15552,1272986,222), (77,8000,319,39,15552,1276581,182), (78,8000,233,29,15552,1274175,135), (79,8000,63,7,15552,1289435,37),
        |(80,8000,172,21,15552,1263047,91), (81,8000,357,44,15552,1281385,214), (82,8000,260,32,15552,1271366,146), (83,8000,88,11,15552,1296957,53),
        |(84,8000,403,50,15552,1274330,228), (85,8000,155,19,15552,1244459,85), (86,8000,138,17,15552,1300562,87), (87,8000,128,16,15552,1286782,77),
        |(88,8000,289,36,15552,1278950,155), (89,8000,141,17,15296,1268718,87), (90,8000,112,14,15552,1248916,67), (91,8000,431,53,15552,1273531,258),
        |(92,8000,146,18,15552,1282244,86), (93,8000,130,16,15552,1271160,77), (94,8000,143,17,15552,1298151,82), (95,8000,296,37,15552,1268707,177),
        |(96,8000,454,56,15552,1278128,255), (97,8000,320,40,15552,1267546,187), (98,8000,526,65,15552,1269754,317), (99,8000,196,24,15552,1255530,116),
        |(100,8000,461,57,15552,1278331,257), (101,8000,232,29,15552,1271823,131), (102,8000,515,64,15552,1278532,293), (103,8000,527,65,15552,1276785,310),
        |(104,8000,246,30,15552,1266283,155), (105,8000,328,41,15552,1277067,184), (106,8000,70,8,15552,1292657,35), (107,8000,212,26,15552,1275886,118),
        |(108,8000,86,10,15552,1249734,53), (109,8000,395,49,15552,1274312,229), (110,8000,54,6,15552,1257496,29), (111,8000,529,66,15552,1279253,315),
        |(112,8000,322,40,15552,1274220,186), (113,8000,428,53,15552,1271396,231), (114,8000,207,25,15552,1280815,120), (115,8000,132,16,15552,1280181,76),
        |(116,8000,62,7,15552,1320675,34), (117,8000,246,30,15552,1262835,145), (118,8000,396,49,15552,1276908,227), (119,8000,87,10,15552,1281100,46),
        |(120,8000,211,26,15552,1286452,121), (121,8000,168,21,15552,1283331,100), (122,8000,102,12,15552,1274559,60), (123,8000,158,19,15552,1286261,88),
        |(124,8000,311,38,15552,1265493,191), (125,8000,185,23,15552,1275524,111), (126,8000,509,63,15552,1273035,293), (127,8000,434,54,15552,1257693,233),
        |(128,8000,455,56,15552,1272810,269), (129,8000,439,54,15552,1266606,260), (130,8000,150,18,15552,1276042,91), (131,8000,293,36,15552,1270698,176),
        |(132,8000,330,41,15552,1261230,190), (133,8000,500,62,15552,1269318,285), (134,8000,132,16,15552,1285428,79), (135,8000,538,67,15552,1274339,313),
        |(136,8000,334,41,15552,1263371,194), (137,8000,233,29,15552,1274005,138), (138,8000,364,45,15552,1277193,203), (139,8000,294,36,15552,1262945,180),
        |(140,8000,157,19,15552,1280773,86), (141,8000,432,54,15552,1281900,248), (142,8000,512,64,15552,1269626,306), (143,8000,411,51,15552,1283540,233),
        |(144,8000,89,11,15552,1269497,48), (145,8000,401,50,15552,1273850,244), (146,8000,129,16,15296,1283021,78), (147,8000,442,55,15552,1261533,254),
        |(148,8000,197,24,15552,1278031,119), (149,8000,157,19,15552,1284763,95), (150,8000,274,34,15552,1289821,161), (151,8000,519,64,15552,1271450,303),
        |(152,8000,218,27,15296,1265035,124), (153,8000,433,54,15552,1274861,259), (154,8000,443,55,15552,1271617,260), (155,8000,367,45,15552,1276425,207),
        |(156,8000,122,15,15552,1292273,64), (157,8000,91,11,15296,1268322,48), (158,8000,106,13,15168,1288467,60), (159,8000,379,47,15552,1274725,227),
        |(160,8000,246,30,15552,1273476,143), (161,8000,473,59,15552,1273401,269), (162,8000,458,57,15552,1274178,261), (163,8000,257,32,15552,1283600,152),
        |(164,8000,108,13,15552,1291650,58), (165,8000,108,13,15552,1264569,63), (166,8000,327,40,15552,1260945,187), (167,8000,475,59,15552,1273385,286),
        |(168,8000,228,28,15552,1287044,130), (169,8000,398,49,15552,1284013,238), (170,8000,124,15,15552,1273797,69), (171,8000,328,41,15552,1274673,188),
        |(172,8000,103,12,15552,1272029,58), (173,8000,540,67,15552,1270639,316), (174,8000,315,39,15552,1281684,186), (175,8000,158,19,15552,1291140,88),
        |(176,8000,491,61,15552,1269263,290), (177,8000,263,32,15552,1265512,151), (178,8000,214,26,15296,1265474,122), (179,8000,484,60,15552,1279864,271),
        |(180,8000,185,23,15552,1281679,105), (181,8000,109,13,15552,1291294,58), (182,8000,343,42,15552,1268573,200), (183,8000,99,12,15552,1252762,57),
        |(184,8000,441,55,15552,1272097,257), (185,8000,305,38,15552,1255357,183), (186,8000,413,51,15552,1277804,246), (187,8000,497,62,15552,1266336,289),
        |(188,8000,246,30,15552,1259823,163), (189,8000,207,25,15552,1275196,120), (190,8000,428,53,15552,1278503,254), (191,8000,118,14,15552,1268828,63),
        |(192,8000,132,16,15552,1264790,78), (193,8000,168,21,15552,1270237,94), (194,8000,156,19,15552,1276137,92), (195,8000,318,39,15552,1268794,180),
        |(196,8000,339,42,15552,1278309,195), (197,8000,522,65,15552,1273739,308), (198,8000,254,31,15296,1271582,140), (199,8000,154,19,15552,1261854,88),
        |(200,8000,303,37,15552,1287304,173), (201,8000,315,39,15552,1270288,188), (202,8000,481,60,15552,1270334,284), (203,8000,128,16,15552,1276526,78),
        |(204,8000,117,14,15296,1285177,64), (205,8000,376,47,15552,1272796,208), (206,8000,130,16,15552,1263613,72), (207,8000,385,48,15552,1257803,214),
        |(208,8000,115,14,15552,1256481,71), (209,8000,223,27,15552,1262969,132), (210,8000,515,64,15552,1275912,285), (211,8000,279,34,15552,1279189,154),
        |(212,8000,254,31,15552,1288729,136), (213,8000,467,58,15552,1266717,267), (214,8000,69,8,15552,1285131,36), (215,8000,527,65,15552,1272656,304),
        |(216,8000,529,66,15552,1284123,299), (217,8000,350,43,15552,1268991,195), (218,8000,455,56,15552,1282826,273), (219,8000,175,21,15168,1285899,92),
        |(220,8000,553,69,15552,1279044,323), (221,8000,221,27,15552,1266588,123), (222,8000,261,32,15552,1254232,151), (223,8000,459,57,15552,1269884,257),
        |(224,8000,442,55,15552,1279470,246), (225,8000,419,52,15552,1273889,234), (226,8000,109,13,15552,1276854,61), (227,8000,468,58,15552,1287706,258),
        |(228,8000,464,58,15552,1272373,255), (229,8000,409,51,15552,1276802,239), (230,8000,311,38,15552,1280958,178), (231,8000,155,19,15296,1278874,94),
        |(232,8000,316,39,15552,1269172,175), (233,8000,458,57,15552,1270447,257), (234,8000,344,43,15552,1261577,200), (235,8000,224,28,15552,1285014,134),
        |(236,8000,62,7,15040,1260678,38), (237,8000,416,52,15552,1261518,246), (238,8000,257,32,15552,1275449,165), (239,8000,164,20,15296,1281193,90),
        |(240,8000,380,47,15552,1273015,211), (241,8000,511,63,15552,1274916,316), (242,8000,388,48,15552,1276508,221), (243,8000,178,22,15552,1277074,92),
        |(244,8000,371,46,15552,1276101,217), (245,8000,466,58,15296,1277538,266), (246,8000,175,21,15552,1260578,94), (247,8000,430,53,15552,1271200,249),
        |(248,8000,446,55,15552,1277192,256), (249,8000,431,53,15552,1263933,250), (250,8000,247,30,15296,1267205,150), (251,8000,523,65,15552,1273243,317),
        |(252,8000,252,31,15552,1264434,148), (253,8000,197,24,15552,1267292,116), (254,8000,103,12,15552,1283896,57), (255,8000,157,19,15296,1281375,97),
        |(256,8000,62,7,15552,1298290,35), (257,8000,114,14,15296,1272476,68), (258,8000,396,49,15552,1260888,222), (259,8000,259,32,15296,1275789,154),
        |(260,8000,134,16,15552,1251673,82), (261,8000,472,59,15552,1271830,278), (262,8000,256,32,15552,1272599,151), (263,8000,447,55,15552,1268266,268),
        |(264,8000,544,68,15552,1272452,320), (265,8000,268,33,15552,1281134,144), (266,8000,225,28,15552,1271131,126), (267,8000,424,53,15552,1276022,259),
        |(268,8000,216,27,15552,1267432,124), (269,8000,467,58,15552,1272164,282), (270,8000,499,62,15552,1268639,298), (271,8000,295,36,15552,1280848,166),
        |(272,8000,486,60,15552,1271404,275), (273,8000,157,19,15552,1289983,90), (274,8000,537,67,15552,1275296,303), (275,8000,49,6,15296,1276338,29),
        |(276,8000,538,67,15552,1276357,308), (277,8000,163,20,15552,1268002,103), (278,8000,394,49,15552,1269038,220), (279,8000,281,35,15552,1278117,161),
        |(280,8000,470,58,15552,1267657,266), (281,8000,171,21,15552,1284712,103), (282,8000,178,22,15552,1277428,101), (283,8000,471,58,15552,1283221,257),
        |(284,8000,278,34,15552,1269775,171), (285,8000,512,64,15552,1267522,315), (286,8000,258,32,15552,1278804,154), (287,8000,101,12,15296,1293542,61),
        |(288,8000,176,22,15552,1281658,93), (289,8000,224,28,15552,1292629,135), (290,8000,530,66,15552,1269542,319), (291,8000,417,52,15552,1278329,230),
        |(292,8000,458,57,15552,1263279,265), (293,8000,385,48,15552,1268983,237), (294,8000,470,58,15552,1281537,272), (295,8000,186,23,15552,1291287,107),
        |(296,8000,359,44,15552,1270449,212), (297,8000,322,40,15552,1268126,195), (298,8000,189,23,15552,1279471,99), (299,8000,502,62,15552,1276003,301),
        |(300,8000,216,27,15552,1275775,124), (301,8000,508,63,15552,1267726,313), (302,8000,484,60,15552,1273766,290), (303,8000,454,56,15552,1272293,257),
        |(304,8000,219,27,15552,1265834,119), (305,8000,63,7,15296,1278152,32), (306,8000,421,52,15552,1272049,237), (307,8000,302,37,15552,1286938,168),
        |(308,8000,97,12,15296,1288519,54), (309,8000,238,29,15552,1268142,132), (310,8000,148,18,15552,1283462,88), (311,8000,495,61,15552,1272931,286),
        |(312,8000,369,46,15552,1274858,229), (313,8000,87,10,15296,1251245,55), (314,8000,190,23,15552,1269763,112), (315,8000,460,57,15552,1268486,273),
        |(316,8000,407,50,15552,1266019,247), (317,8000,408,51,15552,1281291,222), (318,8000,456,57,15552,1275954,263), (319,8000,513,64,15552,1287183,298),
        |(320,8000,405,50,15552,1270011,239), (321,8000,292,36,15552,1282216,180), (322,8000,255,31,15552,1273392,140), (323,8000,331,41,15552,1260710,189),
        |(324,8000,228,28,15552,1275935,142), (325,8000,328,41,15552,1278660,191), (326,8000,198,24,15552,1272343,110), (327,8000,181,22,15552,1277324,99),
        |(328,8000,495,61,15552,1277193,289), (329,8000,353,44,15552,1275126,195), (330,8000,316,39,15552,1266746,181), (331,8000,300,37,15552,1288478,169),
        |(332,8000,207,25,15552,1287308,119), (333,8000,177,22,15552,1281298,97), (334,8000,484,60,15552,1261722,286), (335,8000,325,40,15552,1262529,176),
        |(336,8000,376,47,15552,1270151,231), (337,8000,242,30,15552,1281885,148), (338,8000,91,11,15552,1270782,56), (339,8000,187,23,15552,1290130,105),
        |(340,8000,247,30,15552,1270794,152), (341,8000,427,53,15552,1270887,240), (342,8000,116,14,15552,1280083,62), (343,8000,155,19,15296,1255840,94),
        |(344,8000,417,52,15552,1280492,230), (345,8000,323,40,15552,1277261,182), (346,8000,409,51,15552,1270994,243), (347,8000,282,35,15552,1275956,172),
        |(348,8000,131,16,15552,1273536,75), (349,8000,457,57,15552,1268983,274), (350,8000,467,58,15552,1279755,249), (351,8000,368,46,15552,1276988,218),
        |(352,8000,536,67,15552,1279627,297), (353,8000,315,39,15552,1266363,187), (354,8000,426,53,15552,1282358,237), (355,8000,353,44,15552,1290381,207),
        |(356,8000,359,44,15552,1274907,202), (357,8000,253,31,15552,1273554,137), (358,8000,59,7,14912,1269485,38), (359,8000,328,41,15552,1269721,182),
        |(360,8000,443,55,15552,1275344,255), (361,8000,363,45,15552,1276203,204), (362,8000,81,10,15552,1287232,51), (363,8000,357,44,15552,1271571,203),
        |(364,8000,270,33,15552,1283559,164), (365,8000,67,8,15296,1284484,40), (366,8000,311,38,15296,1271494,179), (367,8000,213,26,15552,1273719,117),
        |(368,8000,73,9,15168,1275718,48), (369,8000,273,34,15552,1272795,151), (370,8000,246,30,15552,1286161,150), (371,8000,350,43,15552,1269737,190),
        |(372,8000,142,17,15552,1270181,78), (373,8000,388,48,15552,1277285,230), (374,8000,182,22,15552,1292364,105), (375,8000,343,42,15552,1276486,199),
        |(376,8000,367,45,15552,1263372,223), (377,8000,234,29,15552,1279363,128), (378,8000,337,42,15552,1266480,194), (379,8000,403,50,15552,1275684,238),
        |(380,8000,443,55,15552,1279546,256), (381,8000,353,44,15552,1271363,207), (382,8000,132,16,15552,1275090,76), (383,8000,254,31,15552,1279541,146),
        |(384,8000,92,11,15552,1278896,44), (385,8000,399,49,15552,1277555,224), (386,8000,471,58,15552,1268723,281), (387,8000,208,26,15552,1276542,115),
        |(388,8000,345,43,15552,1275129,199), (389,8000,152,19,15552,1282371,91), (390,8000,137,17,15552,1275996,78), (391,8000,238,29,15552,1275795,147),
        |(392,8000,135,16,15552,1291574,84), (393,8000,465,58,15552,1278555,272), (394,8000,404,50,15552,1273692,239), (395,8000,479,59,15552,1287435,286),
        |(396,8000,248,31,15552,1274231,143), (397,8000,294,36,15552,1275048,169), (398,8000,105,13,15552,1281406,59), (399,8000,309,38,15552,1277134,175),
        |(400,8000,134,16,15552,1263581,80), (401,8000,438,54,15552,1283118,255), (402,8000,160,20,15552,1277712,93), (403,8000,473,59,15552,1277135,266),
        |(404,8000,221,27,15552,1260905,124), (405,8000,314,39,15552,1281252,176), (406,8000,460,57,15552,1278060,268), (407,8000,108,13,15552,1261251,64),
        |(408,8000,87,10,15552,1283366,59), (409,8000,273,34,15552,1262018,160), (410,8000,413,51,15552,1277824,242), (411,8000,411,51,15552,1266766,241),
        |(412,8000,365,45,15552,1268800,205), (413,8000,428,53,15552,1275702,261), (414,8000,408,51,15552,1266515,235), (415,8000,313,39,15552,1275169,184),
        |(416,8000,287,35,15552,1278558,163), (417,8000,520,65,15552,1272384,289), (418,8000,439,54,15552,1274228,251), (419,8000,114,14,15552,1282113,70),
        |(420,8000,461,57,15552,1278873,269), (421,8000,460,57,15552,1270993,266), (422,8000,365,45,15552,1272228,223), (423,8000,363,45,15552,1271673,214),
        |(424,8000,409,51,15552,1279260,236), (425,8000,131,16,15296,1275339,76), (426,8000,452,56,15552,1275589,268), (427,8000,420,52,15552,1272593,253),
        |(428,8000,279,34,15552,1283119,162), (429,8000,537,67,15552,1277455,317), (430,8000,399,49,15552,1272439,232), (431,8000,307,38,15552,1276777,178),
        |(432,8000,359,44,15552,1276235,209), (433,8000,176,22,15552,1279972,107), (434,8000,423,52,15552,1264146,241), (435,8000,167,20,15552,1269868,94),
        |(436,8000,277,34,15296,1272490,153), (437,8000,440,55,15552,1266887,261), (438,8000,172,21,15552,1281347,96), (439,8000,184,23,15552,1272670,110),
        |(440,8000,243,30,15552,1278107,144), (441,8000,542,67,15552,1273286,331), (442,8000,455,56,15552,1267067,287), (443,8000,280,35,15552,1277387,166),
        |(444,8000,419,52,15552,1279000,245), (445,8000,307,38,15552,1268587,174), (446,8000,132,16,15296,1266637,82), (447,8000,505,63,15552,1268196,299),
        |(448,8000,286,35,15552,1275187,168), (449,8000,177,22,15552,1281477,104), (450,8000,142,17,15552,1283377,84), (451,8000,112,14,15552,1287915,62),
        |(452,8000,358,44,15552,1274301,205), (453,8000,519,64,15552,1268957,303), (454,8000,153,19,15552,1268571,84), (455,8000,59,7,15552,1273221,32),
        |(456,8000,114,14,15552,1259451,67), (457,8000,202,25,15552,1271736,113), (458,8000,323,40,15552,1268751,186), (459,8000,376,47,15552,1270810,212),
        |(460,8000,261,32,15552,1274271,150), (461,8000,372,46,15552,1271782,224), (462,8000,327,40,15552,1268419,189), (463,8000,491,61,15552,1267681,285),
        |(464,8000,204,25,15552,1292953,113), (465,8000,320,40,15552,1262648,183), (466,8000,471,58,15552,1267419,277), (467,8000,360,45,15552,1264190,207),
        |(468,8000,207,25,15552,1277866,118), (469,8000,57,7,15552,1300049,33), (470,8000,232,29,15552,1278024,131), (471,8000,335,41,15552,1265853,191),
        |(472,8000,208,26,15552,1278952,119), (473,8000,293,36,15552,1281563,173), (474,8000,356,44,15552,1269090,216), (475,8000,77,9,15552,1276082,47),
        |(476,8000,84,10,15552,1269208,45), (477,8000,151,18,15552,1267431,93), (478,8000,290,36,15552,1286987,165), (479,8000,389,48,15552,1278541,226),
        |(480,8000,359,44,15552,1279536,195), (481,8000,85,10,15296,1273037,56), (482,8000,165,20,15552,1277062,97), (483,8000,245,30,15552,1266627,152),
        |(484,8000,221,27,15552,1263525,133), (485,8000,129,16,15552,1286612,74), (486,8000,171,21,15552,1269207,96), (487,8000,321,40,15552,1279308,180),
        |(488,8000,205,25,15552,1286123,120), (489,8000,317,39,15552,1279440,171), (490,8000,271,33,15552,1279725,153), (491,8000,368,46,15552,1273739,207),
        |(492,8000,77,9,15552,1285045,47), (493,8000,465,58,15552,1268760,273), (494,8000,206,25,15296,1270445,122), (495,8000,384,48,15552,1274038,233),
        |(496,8000,457,57,15552,1279684,280), (497,8000,123,15,15296,1290027,65), (498,8000,485,60,15552,1272446,293), (499,8000,166,20,15552,1259599,101))
        |SELECT doc_id, sample_rate, n_samples, duration_ms, peak, rms_q,
        |  zero_crossings
        |FROM r ORDER BY doc_id""".stripMargin,
    // REAL P6 decode (round 10): text bytes -> deterministic
    // near-square P6 image -> PpmCodec parse -> mean/std-RGB
    // features, fingerprinted. Pinned frame (features are not
    // SQL-expressible); MultimodalSpec pins the codec algebra.
    "multimodal_features" ->
      """WITH r(doc_id, width, height, n_bytes, features_fp) AS (VALUES
        |  (0,7,8,179,5123888215964777030), (1,11,13,442,742885352033450657), (2,9,10,282,-1015731063746164806), (3,7,7,158,-4387528404869569973), (4,9,10,282,-70991800040394596),
        |  (5,10,11,343,-5647185599683869806), (6,5,6,101,-7375526879260948055), (7,11,13,442,5671653763502442876), (8,12,14,517,198568119595426381), (9,11,12,409,4925396909232622434),
        |  (10,8,9,227,2048036168623443555), (11,10,11,343,6744260511649080390), (12,10,12,373,-3649280356515197715), (13,10,12,373,8199435983914446466), (14,12,14,517,4474447149342632015),
        |  (15,8,10,252,1183493575465459221), (16,5,6,101,8778328366276763035), (17,11,13,442,-2625054069706495253), (18,11,13,442,1222522074219283409), (19,4,5,71,3479110524285998052),
        |  (20,11,12,409,8782132741888389738), (21,8,10,252,-7096565200036046053), (22,12,13,481,-3255227624874833014), (23,7,8,179,6159783669954489869), (24,13,14,559,-4570849881608532498),
        |  (25,13,13,520,6232801436636976009), (26,4,6,83,-2403278340370100838), (27,10,12,373,3433553277982471429), (28,10,12,373,7911268612533632517), (29,8,9,227,-1016537244625694342),
        |  (30,7,8,179,6134862183468707314), (31,9,10,282,-3526706647326114115), (32,13,14,559,4994857629525656857), (33,9,10,282,-4092020097473923307), (34,7,8,179,8580390830990106222),
        |  (35,12,13,481,-7880646390312757055), (36,6,8,155,6236605378743672696), (37,11,12,409,-2766085988331295060), (38,8,9,227,-315613398181475452), (39,6,7,137,-3884945647985928667),
        |  (40,11,13,442,1941915104604462528), (41,10,12,373,7933356886670719126), (42,10,11,343,-3970148636376542871), (43,7,8,179,2461325446077686935), (44,6,8,155,-7305197027250797781),
        |  (45,12,12,445,-265746656118290920), (46,12,14,517,-3990808306476475658), (47,8,10,252,-4465414909360488978), (48,7,8,179,8895713567977019258), (49,9,10,282,-7611349833939030149),
        |  (50,9,10,282,-2792757416718868249), (51,10,11,343,-1958375944971174543), (52,4,6,83,6040830987618591377), (53,8,8,203,-4756814970855490339), (54,10,12,373,-7955556602683291012),
        |  (55,8,9,227,5674251476157414684), (56,13,15,598,1716199194525353034), (57,12,13,481,-6753964226677787190), (58,11,12,409,-781154391793304534), (59,6,7,137,-164951356582375289),
        |  (60,12,14,517,-8093282662297269803), (61,10,11,343,5836722597573399825), (62,11,12,409,7752449574790078675), (63,13,14,559,5262391474873660306), (64,6,8,155,-8389359159766779613),
        |  (65,5,7,116,-1845803808789810614), (66,10,12,373,-3977843792615140336), (67,10,12,373,590715338781395184), (68,7,9,200,-2178227510744804573), (69,10,11,343,-1132227529790237413),
        |  (70,13,14,559,8967340952755237069), (71,10,12,373,-5825455613891135066), (72,8,10,252,207316837012661650), (73,12,14,517,6674801886538543851), (74,4,4,59,6756076463249099549),
        |  (75,10,11,343,-8225715138503823565), (76,11,12,409,-4121490551820607991), (77,10,11,343,6752734108295763162), (78,8,10,252,-7811604898593071905), (79,4,6,83,4501531309070781588),
        |  (80,7,9,200,-8089848487481992595), (81,10,12,373,-2874846139197851581), (82,9,10,282,3253260329979617200), (83,5,6,101,5648439090491352201), (84,11,13,442,-4693989699068830961),
        |  (85,7,8,179,4380116078955177706), (86,6,8,155,-9052743203483405375), (87,6,8,155,3067379835097623486), (88,9,11,309,952235022228265609), (89,6,8,155,2987290260853853873),
        |  (90,6,7,137,6956499843316585119), (91,12,12,445,-817553158243054470), (92,7,7,158,2022173052813588775), (93,6,8,155,6237086680758580316), (94,6,8,155,6152554906384526125),
        |  (95,9,11,309,1922318434324937112), (96,12,13,481,-3255990181253703335), (97,10,11,343,-8319805854651308433), (98,13,14,559,4552661692789158236), (99,8,9,227,2539337142404020141),
        |  (100,12,13,481,2675439748496110270), (101,8,10,252,7053016486577616863), (102,13,14,559,-1109147775240242840), (103,13,14,559,3890823805459081298), (104,9,10,282,2057295357322168692),
        |  (105,10,11,343,-6917341218414536015), (106,4,6,83,-3899547846584919178), (107,8,9,227,7716939328867327850), (108,5,6,101,2527953987928465886), (109,11,12,409,2871537105210291962),
        |  (110,4,5,71,-8079697527442170530), (111,13,14,559,-7150611687855668162), (112,10,11,343,7376673410345787424), (113,11,13,442,2662957303528223092), (114,8,9,227,-5036649156280322588),
        |  (115,6,8,155,1205556426050257223), (116,4,6,83,-3024394464983432947), (117,9,10,282,5894945356411330235), (118,11,12,409,-81614803753198135), (119,5,6,101,-4090200039322789714),
        |  (120,8,9,227,-4361628811878327118), (121,7,8,179,8109467357950341937), (122,5,7,116,-6861945082026335043), (123,7,8,179,-4185222538324543693), (124,10,11,343,8164676389911563570),
        |  (125,7,9,200,-1448571697164861386), (126,13,14,559,5686924571024081131), (127,12,13,481,4105963232444680353), (128,12,13,481,-6408724010289056008), (129,12,13,481,-5084935987279863098),
        |  (130,7,8,179,-1285059545361344582), (131,9,11,309,161705331221659095), (132,10,11,343,-5387392169616063376), (133,12,14,517,1950637751467451091), (134,6,8,155,-5050648564476569630),
        |  (135,13,14,559,-5407839229809803155), (136,10,12,373,-7692660947518587594), (137,8,10,252,3244000858695209385), (138,11,12,409,-7738627673100824099), (139,9,11,309,1944581368345997294),
        |  (140,7,8,179,-3597577382369696329), (141,12,12,445,6868434703916531504), (142,13,14,559,7529181505978413977), (143,11,13,442,106977490112546752), (144,5,6,101,2187510007537134166),
        |  (145,11,13,442,-4623775004513613539), (146,6,8,155,8300676960608892175), (147,12,13,481,8361930273906644467), (148,8,9,227,-466173063246882762), (149,7,8,179,-1122606838858220832),
        |  (150,9,11,309,6221600823552534693), (151,13,14,559,-920277930617972066), (152,8,10,252,-3476778421314929977), (153,12,13,481,4216216777033530887), (154,12,13,481,-3480340830082762356),
        |  (155,11,12,409,-2499166526307715263), (156,6,7,137,8520037082710343831), (157,5,7,116,-2557983261121016362), (158,6,6,119,-8832722187128440848), (159,11,12,409,-1830218315417136645),
        |  (160,9,10,282,5028061288884775894), (161,12,14,517,-6555661729279478350), (162,12,13,481,-2650967274242451639), (163,9,10,282,7694742278002981510), (164,6,6,119,-7759794616500079645),
        |  (165,6,6,119,5747549593215466757), (166,10,11,343,6715874854207821162), (167,12,14,517,-2094609007140181686), (168,8,10,252,-2761221662788346144), (169,11,13,442,-3782125194115898148),
        |  (170,6,7,137,-798420435912276183), (171,10,11,343,-4216386318914346962), (172,5,7,116,2064960070386252860), (173,13,14,559,2983975186465933482), (174,10,11,343,-3360026553926859822),
        |  (175,7,8,179,-2713505011395233738), (176,12,14,517,416296852860109636), (177,9,10,282,-4021519881205862899), (178,8,9,227,6683327241466409791), (179,12,14,517,4979919344866198461),
        |  (180,7,9,200,4412299823665797327), (181,6,7,137,121464785446570520), (182,10,12,373,5609610619996512512), (183,5,7,116,64642369793950606), (184,12,13,481,-4023099932726615587),
        |  (185,10,11,343,5097259275475715922), (186,11,13,442,2622488299639959594), (187,12,14,517,-94770632534980625), (188,9,10,282,-1927709731431737220), (189,8,9,227,367131347230886667),
        |  (190,11,13,442,8021747110193493250), (191,6,7,137,5442625204864340495), (192,6,8,155,1684940410779241547), (193,7,8,179,8917472601350285874), (194,7,8,179,2631357781362526998),
        |  (195,10,11,343,3659329452709627111), (196,10,12,373,-3401587812348990894), (197,13,14,559,-986642517267281649), (198,9,10,282,4625716852321244757), (199,7,8,179,-6856903936719475656),
        |  (200,10,11,343,-773123195985009359), (201,10,11,343,-2083274703982277161), (202,12,14,517,-2261285428324482718), (203,6,8,155,-6388904144015708502), (204,6,7,137,2451790822364536687),
        |  (205,11,12,409,5634939298712388362), (206,6,8,155,-6713332657576612016), (207,11,12,409,362656017264019027), (208,6,7,137,-6125150111675160452), (209,8,10,252,6630596838947288837),
        |  (210,13,14,559,5743139156223383751), (211,9,11,309,6101589231675216974), (212,9,10,282,7999851915969186950), (213,12,13,481,7283693452692246133), (214,4,6,83,1583853885052849962),
        |  (215,13,14,559,7345228190247336777), (216,13,14,559,6694182580592906018), (217,10,12,373,8797588326455248220), (218,12,13,481,-2529525361342745252), (219,7,9,200,4816233360770511162),
        |  (220,13,15,598,2349393338071575254), (221,8,10,252,430788568754953329), (222,9,10,282,-2566192956263642988), (223,12,13,481,-6374332824629956373), (224,12,13,481,-2760524189016251470),
        |  (225,11,13,442,-3188534029955091065), (226,6,7,137,123963093274990446), (227,12,13,481,-4028240070907372155), (228,12,13,481,2881037054243084077), (229,11,13,442,295681016742315171),
        |  (230,10,11,343,-8311278902754859004), (231,7,8,179,-8847616204946498212), (232,10,11,343,5352156917405110038), (233,12,13,481,7533304003579322605), (234,10,12,373,6166858081710208770),
        |  (235,8,10,252,-3812233015294769158), (236,4,6,83,-1375710810038282303), (237,11,13,442,4665826029760849287), (238,9,10,282,4810655649710167071), (239,7,8,179,5326275202637497221),
        |  (240,11,12,409,-1350469370182846756), (241,13,14,559,-1673798157065436720), (242,11,12,409,-8300210832260578421), (243,7,9,200,8708732362415962085), (244,11,12,409,-2707101156416288718),
        |  (245,12,13,481,-1914964412612244066), (246,7,9,200,-7732070699990864586), (247,12,12,445,4824805249398209198), (248,12,13,481,6225678834297809996), (249,12,12,445,7824798045967726410),
        |  (250,9,10,282,5025289429135633476), (251,13,14,559,9028422276125394588), (252,9,10,282,7924651285808292482), (253,8,9,227,-1724538332443644298), (254,5,7,116,-4562865784160902191),
        |  (255,7,8,179,2770714840404554820), (256,4,6,83,7501732535714058225), (257,6,7,137,1837592209385406384), (258,11,12,409,6292250990689348796), (259,9,10,282,-8908813036816196576),
        |  (260,6,8,155,-452485181071340777), (261,12,14,517,-6449631154666983706), (262,9,10,282,-142055440157634426), (263,12,13,481,4916735761861798267), (264,13,14,559,-6592483176539497512),
        |  (265,9,10,282,-8633640623879692405), (266,8,10,252,6902822074749775858), (267,11,13,442,-7211524316195147366), (268,8,9,227,-4728497882213094181), (269,12,13,481,-3445802483451564387),
        |  (270,12,14,517,-7009309580960536656), (271,9,11,309,8179448475246925772), (272,12,14,517,633656372038103946), (273,7,8,179,6442825211219751319), (274,13,14,559,-6131782147138197908),
        |  (275,4,5,71,4436043723954946472), (276,13,14,559,-4435617009509166560), (277,7,8,179,-3171604731863012173), (278,11,12,409,-4513485710062093999), (279,9,11,309,6511585321772593011),
        |  (280,12,14,517,6007986810123643683), (281,7,9,200,-6037907244034780183), (282,7,9,200,-566338552269477889), (283,12,14,517,-1495665388087833270), (284,9,11,309,-3195406256514071728),
        |  (285,13,14,559,2465292091911263785), (286,9,10,282,5944791474796148553), (287,5,7,116,5390521923140433612), (288,7,9,200,-1490784131707331558), (289,8,10,252,8837242072461995589),
        |  (290,13,14,559,-4832501585282629641), (291,11,13,442,-1331047625479604508), (292,12,13,481,-7336273617370466563), (293,11,12,409,-1982280769006760034), (294,12,14,517,2347990596946308335),
        |  (295,7,9,200,-9151966834356395954), (296,10,12,373,-5493570404857614131), (297,10,11,343,-762269883888180201), (298,7,9,200,-2871512807294420304), (299,12,14,517,2302771358327819219),
        |  (300,8,9,227,6326978297701961955), (301,13,14,559,-5028761342546308924), (302,12,14,517,-5333892352260025417), (303,12,13,481,3851111251756656945), (304,8,10,252,7800730724170835195),
        |  (305,4,6,83,-4016403279523695610), (306,11,13,442,-2950430151846712131), (307,10,11,343,-218758595329283701), (308,5,7,116,-5304735558376797524), (309,8,10,252,968890521127346055),
        |  (310,7,8,179,-1643786485605244468), (311,12,14,517,4319709693020207312), (312,11,12,409,-337951173444277210), (313,5,6,101,8388044011732378564), (314,8,8,203,-3797718629358066351),
        |  (315,12,13,481,-8580054663881658148), (316,11,13,442,-6859663956591312954), (317,11,13,442,4114963893760769732), (318,12,13,481,-6172677595268962954), (319,13,14,559,1919151403949375848),
        |  (320,11,13,442,-5401444578264665249), (321,9,11,309,-6607083062151489131), (322,9,10,282,6810982810409586925), (323,10,12,373,3114334607142669938), (324,8,10,252,421966465016192363),
        |  (325,10,11,343,-1352254559503217212), (326,8,9,227,-7393966171567736882), (327,7,9,200,7106509924288273971), (328,12,14,517,3514819256311038156), (329,10,12,373,-3351508013931811984),
        |  (330,10,11,343,4059955359100817161), (331,10,10,313,6868924652306497356), (332,8,9,227,9025051675196701795), (333,7,9,200,-857821234171286463), (334,12,14,517,-4499078585413647505),
        |  (335,10,11,343,-7249047630987916108), (336,11,12,409,5660506031061551051), (337,9,9,254,8344364045814105240), (338,5,7,116,1155702867375117152), (339,7,9,200,2501499700264131151),
        |  (340,9,10,282,-1082662362579061914), (341,11,13,442,-8633960463515594375), (342,6,7,137,4554379983757982821), (343,7,8,179,8818008557841910176), (344,11,13,442,-7578401200518293185),
        |  (345,10,11,343,-3751030393567410835), (346,11,13,442,-1898371460454255927), (347,9,11,309,7365067905941134950), (348,6,8,155,-8763157044631796124), (349,12,13,481,-343217487525559519),
        |  (350,12,13,481,3845169026273791620), (351,11,12,409,1052069053781313414), (352,13,14,559,-1403044137955354431), (353,10,11,343,-6242188343766944563), (354,11,13,442,462429908069161457),
        |  (355,10,12,373,-6924863653535038419), (356,10,12,373,-4684070307003404791), (357,9,10,282,-5671489200060465934), (358,4,5,71,-5280057571099928435), (359,10,11,343,-7730947958039789242),
        |  (360,12,13,481,-5098271031960564158), (361,11,11,376,-5316897433720070792), (362,5,6,101,-3753918365279453787), (363,10,12,373,255154082481991744), (364,9,10,282,-6988975997095872882),
        |  (365,4,6,83,-3218455890208192815), (366,10,11,343,873041280309583841), (367,8,9,227,-5842871748054704595), (368,5,5,86,-2056372759282004114), (369,9,11,309,4439458076919756205),
        |  (370,9,10,282,5493439256847484450), (371,10,12,373,-503375519078407066), (372,6,8,155,6116998103443181912), (373,11,12,409,4288645442277008902), (374,7,9,200,-6965089785301914841),
        |  (375,10,12,373,8174317695144552897), (376,11,12,409,7564922907400303217), (377,8,10,252,-6859580576804485602), (378,10,12,373,1433553160516905255), (379,11,13,442,-5569026210178480968),
        |  (380,12,13,481,-7116615328820357205), (381,10,12,373,-7912352292251670217), (382,6,8,155,3247448842801419257), (383,9,10,282,-565788126420080741), (384,5,7,116,-2222888657731122828),
        |  (385,11,13,442,7055990426393129947), (386,12,14,517,8025309668904593505), (387,8,9,227,-6320250032552343490), (388,10,12,373,-6310322909043763355), (389,7,8,179,6712655631638699672),
        |  (390,6,8,155,-4263223892103125311), (391,8,10,252,1620029047504052264), (392,6,8,155,6827080228436909275), (393,12,13,481,-8287627590311878644), (394,11,13,442,5643516889381475389),
        |  (395,12,14,517,-5287712082253796144), (396,9,10,282,4346104621010626713), (397,9,11,309,2919614674694497356), (398,5,7,116,487940331468918041), (399,10,11,343,-4186109744397124241),
        |  (400,6,8,155,868499832762609515), (401,12,13,481,2654408762122100547), (402,7,8,179,8397390773152722297), (403,12,14,517,350215998588754331), (404,8,10,252,4053793555032145421),
        |  (405,10,11,343,3693611953559487986), (406,12,13,481,353518903814535544), (407,6,6,119,7925920147553818195), (408,5,6,101,3517441968653368083), (409,9,11,309,5029779232201155127),
        |  (410,11,13,442,-4011710569040743939), (411,11,13,442,-1903803102103026437), (412,11,12,409,-3588952828262728219), (413,11,13,442,-5167751294420224342), (414,11,13,442,-1789381177295055107),
        |  (415,10,11,343,-5013350744421018057), (416,9,11,309,-8589238642202204734), (417,13,14,559,168520861701348229), (418,12,13,481,7991117229770401600), (419,6,7,137,9214271944052413189),
        |  (420,12,13,481,6835397977345384130), (421,12,13,481,5664350451809910960), (422,11,12,409,441453305477790280), (423,11,11,376,-4513244044528073421), (424,11,13,442,511139988594617362),
        |  (425,6,8,155,-3643443049730652186), (426,12,13,481,7777535986089027080), (427,11,13,442,2844795527946133487), (428,9,11,309,6585974645301384959), (429,13,14,559,2289977262867662679),
        |  (430,11,13,442,-1765141402317359323), (431,10,11,343,8488338797556485470), (432,10,12,373,2991348312959846652), (433,7,9,200,6368390103208430923), (434,11,13,442,-2778697875407297354),
        |  (435,7,8,179,2279859530341193376), (436,9,11,309,5749225204896341634), (437,12,13,481,-88343840688256985), (438,7,9,200,-4541973054599595635), (439,7,9,200,2995473839795384642),
        |  (440,9,9,254,-4035281687444574831), (441,13,14,559,-8086461763562475922), (442,12,13,481,9018980670232272565), (443,9,11,309,1374414801555115967), (444,11,13,442,-5525149747078226748),
        |  (445,10,11,343,4429052301669171113), (446,6,8,155,7466075974105645959), (447,13,13,520,7688662245670359990), (448,9,11,309,1463086108989926476), (449,7,9,200,1988738616869768050),
        |  (450,6,8,155,1457661715917579335), (451,6,7,137,-5494711573630261202), (452,10,12,373,-5926502171517966528), (453,13,14,559,1227941251617466209), (454,7,8,179,-9086840215477823273),
        |  (455,4,5,71,8491873996922016580), (456,6,7,137,6098566690394758271), (457,8,9,227,7061777427225018516), (458,10,11,343,6747397347372125820), (459,11,12,409,2567303784471497655),
        |  (460,9,10,282,7461462413085015304), (461,11,12,409,-3557123316324580353), (462,10,11,343,-7212273038667124120), (463,12,14,517,-2379293872276787433), (464,8,9,227,1354871831785543757),
        |  (465,10,11,343,-7992065435344899584), (466,12,14,517,-6657830870723404713), (467,10,12,373,-6277152216454895678), (468,8,9,227,4686530539730781652), (469,4,5,71,6534538009816104054),
        |  (470,8,10,252,-7929106407160423081), (471,10,12,373,326972164837342758), (472,8,9,227,-6096761574283373672), (473,9,11,309,-2921010873064873634), (474,10,12,373,-6985055829709756903),
        |  (475,5,6,101,4870987641145210338), (476,5,6,101,-6484399437271267132), (477,7,8,179,-4579816504467943709), (478,9,11,309,5761965946712239942), (479,11,12,409,-56590681347379941),
        |  (480,10,12,373,-402423173949039034), (481,5,6,101,-8302389871508207623), (482,7,8,179,2722527094972335353), (483,9,10,282,2774728856741125991), (484,8,10,252,-2603340745587754054),
        |  (485,6,8,155,706183152172049121), (486,7,9,200,4035738209751356284), (487,10,11,343,-6050674908823889373), (488,8,9,227,-8734316335027967729), (489,10,11,343,8583830917916227859),
        |  (490,9,11,309,5417220354192867926), (491,11,12,409,4141314891561441193), (492,5,6,101,3674859880230851499), (493,12,13,481,-5300243787596673178), (494,8,9,227,-3922053450940904934),
        |  (495,11,12,409,-5122353171203306297), (496,12,13,481,5787667308619397327), (497,6,7,137,-8605437169016176010), (498,12,14,517,9023510141051968792), (499,7,8,179,-2155818505389726878))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        |  CAST(n_bytes AS INT) AS n_bytes, CAST(features_fp AS BIGINT) AS features_fp
        |FROM r""".stripMargin,

    // Learned-BPE segmentation fertility per doc.
    "bpe_segment" ->
      """WITH r(doc_id, n_words, n_subwords, fertility) AS (VALUES
        |  (0,32,115,3.5938), (1,72,288,4.0), (2,45,183,4.0667), (3,27,107,3.963), (4,45,179,3.9778), (5,56,230,4.1071),
        |  (6,15,59,3.9333), (7,72,284,3.9444), (8,84,341,4.0595), (9,74,277,3.7432), (10,39,158,4.0513), (11,58,219,3.7759),
        |  (12,65,239,3.6769), (13,60,246,4.1), (14,87,362,4.1609), (15,41,163,3.9756), (16,16,66,4.125), (17,77,299,3.8831),
        |  (18,75,301,4.0133), (19,11,40,3.6364), (20,68,276,4.0588), (21,37,153,4.1351), (22,81,331,4.0864), (23,30,121,4.0333),
        |  (24,97,383,3.9485), (25,94,352,3.7447), (26,12,48,4.0), (27,64,255,3.9844), (28,60,237,3.95), (29,34,140,4.1176),
        |  (30,31,118,3.8065), (31,43,183,4.2558), (32,93,369,3.9677), (33,46,171,3.7174), (34,29,113,3.8966), (35,85,320,3.7647),
        |  (36,22,96,4.3636), (37,69,268,3.8841), (38,36,140,3.8889), (39,23,90,3.913), (40,73,304,4.1644), (41,61,247,4.0492),
        |  (42,56,211,3.7679), (43,28,110,3.9286), (44,24,92,3.8333), (45,80,318,3.975), (46,86,357,4.1512), (47,41,166,4.0488),
        |  (48,30,114,3.8), (49,46,191,4.1522), (50,45,188,4.1778), (51,58,235,4.0517), (52,13,47,3.6154), (53,34,141,4.1471),
        |  (54,65,259,3.9846), (55,37,136,3.6757), (56,97,395,4.0722), (57,83,317,3.8193), (58,72,279,3.875), (59,24,85,3.5417),
        |  (60,93,356,3.828), (61,59,231,3.9153), (62,72,279,3.875), (63,96,380,3.9583), (64,25,96,3.84), (65,19,71,3.7368),
        |  (66,62,251,4.0484), (67,61,244,4.0), (68,33,132,4.0), (69,57,211,3.7018), (70,94,367,3.9043), (71,60,240,4.0),
        |  (72,42,163,3.881), (73,93,364,3.914), (74,10,38,3.8), (75,60,220,3.6667), (76,71,278,3.9155), (77,57,235,4.1228),
        |  (78,42,164,3.9048), (79,12,45,3.75), (80,32,124,3.875), (81,63,256,4.0635), (82,47,186,3.9574), (83,15,64,4.2667),
        |  (84,72,297,4.125), (85,31,115,3.7097), (86,23,98,4.2609), (87,23,92,4.0), (88,51,207,4.0588), (89,27,107,3.963),
        |  (90,24,77,3.2083), (91,77,307,3.987), (92,26,104,4.0), (93,25,96,3.84), (94,24,101,4.2083), (95,55,216,3.9273),
        |  (96,81,326,4.0247), (97,59,232,3.9322), (98,93,387,4.1613), (99,38,144,3.7895), (100,83,332,4.0), (101,42,163,3.881),
        |  (102,91,381,4.1868), (103,93,377,4.0538), (104,44,179,4.0682), (105,60,237,3.95), (106,13,47,3.6154), (107,40,147,3.675),
        |  (108,16,66,4.125), (109,70,283,4.0429), (110,11,40,3.6364), (111,94,389,4.1383), (112,58,224,3.8621), (113,79,301,3.8101),
        |  (114,36,147,4.0833), (115,24,95,3.9583), (116,10,44,4.4), (117,47,180,3.8298), (118,70,288,4.1143), (119,16,64,4.0),
        |  (120,37,158,4.2703), (121,30,120,4.0), (122,19,74,3.8947), (123,28,109,3.8929), (124,60,223,3.7167), (125,34,131,3.8529),
        |  (126,90,356,3.9556), (127,83,318,3.8313), (128,81,321,3.963), (129,81,317,3.9136), (130,29,107,3.6897), (131,54,206,3.8148),
        |  (132,62,244,3.9355), (133,94,357,3.7979), (134,24,95,3.9583), (135,97,391,4.0309), (136,63,242,3.8413), (137,43,168,3.907),
        |  (138,66,258,3.9091), (139,56,208,3.7143), (140,28,112,4.0), (141,75,317,4.2267), (142,95,363,3.8211), (143,72,300,4.1667),
        |  (144,18,66,3.6667), (145,72,286,3.9722), (146,22,94,4.2727), (147,84,320,3.8095), (148,37,143,3.8649), (149,27,113,4.1852),
        |  (150,48,193,4.0208), (151,94,374,3.9787), (152,39,162,4.1538), (153,78,312,4.0), (154,83,315,3.7952), (155,67,257,3.8358),
        |  (156,21,86,4.0952), (157,17,65,3.8235), (158,17,80,4.7059), (159,69,274,3.971), (160,44,170,3.8636), (161,86,338,3.9302),
        |  (162,82,325,3.9634), (163,45,184,4.0889), (164,19,79,4.1579), (165,21,79,3.7619), (166,61,232,3.8033), (167,85,343,4.0353),
        |  (168,40,158,3.95), (169,69,284,4.1159), (170,22,93,4.2273), (171,61,233,3.8197), (172,20,75,3.75), (173,97,392,4.0412),
        |  (174,57,224,3.9298), (175,29,114,3.931), (176,88,359,4.0795), (177,49,188,3.8367), (178,38,159,4.1842), (179,87,345,3.9655),
        |  (180,32,134,4.1875), (181,19,80,4.2105), (182,64,248,3.875), (183,20,67,3.35), (184,80,318,3.975), (185,58,228,3.931),
        |  (186,80,278,3.475), (187,91,356,3.9121), (188,47,176,3.7447), (189,37,159,4.2973), (190,78,306,3.9231), (191,21,87,4.1429),
        |  (192,26,98,3.7692), (193,31,122,3.9355), (194,29,110,3.7931), (195,58,237,4.0862), (196,59,240,4.0678), (197,95,371,3.9053),
        |  (198,47,183,3.8936), (199,30,114,3.8), (200,53,214,4.0377), (201,56,227,4.0536), (202,91,337,3.7033), (203,24,93,3.875),
        |  (204,21,81,3.8571), (205,69,267,3.8696), (206,25,96,3.84), (207,73,277,3.7945), (208,22,82,3.7273), (209,44,161,3.6591),
        |  (210,94,366,3.8936), (211,51,200,3.9216), (212,43,183,4.2558), (213,88,334,3.7955), (214,13,50,3.8462), (215,98,372,3.7959),
        |  (216,92,380,4.1304), (217,66,249,3.7727), (218,81,332,4.0988), (219,29,125,4.3103), (220,99,401,4.0505), (221,42,157,3.7381),
        |  (222,51,198,3.8824), (223,85,334,3.9294), (224,77,318,4.1299), (225,76,309,4.0658), (226,20,82,4.1), (227,81,336,4.1481),
        |  (228,86,332,3.8605), (229,74,302,4.0811), (230,55,225,4.0909), (231,27,110,4.0741), (232,58,228,3.931), (233,83,332,4.0),
        |  (234,66,247,3.7424), (235,39,163,4.1795), (236,12,47,3.9167), (237,79,298,3.7722), (238,48,182,3.7917), (239,30,115,3.8333),
        |  (240,70,273,3.9), (241,92,375,4.0761), (242,69,272,3.942), (243,33,126,3.8182), (244,67,266,3.9701), (245,83,338,4.0723),
        |  (246,34,131,3.8529), (247,80,299,3.7375), (248,79,322,4.0759), (249,82,305,3.7195), (250,44,183,4.1591), (251,94,375,3.9894),
        |  (252,46,178,3.8696), (253,38,139,3.6579), (254,19,76,4.0), (255,28,111,3.9643), (256,11,46,4.1818), (257,21,84,4.0),
        |  (258,74,290,3.9189), (259,45,189,4.2), (260,26,97,3.7308), (261,84,336,4.0), (262,47,187,3.9787), (263,83,318,3.8313),
        |  (264,99,391,3.9495), (265,47,198,4.2128), (266,41,159,3.878), (267,78,312,4.0), (268,39,159,4.0769), (269,86,330,3.8372),
        |  (270,93,353,3.7957), (271,53,211,3.9811), (272,92,350,3.8043), (273,28,117,4.1786), (274,96,384,4.0), (275,10,31,3.1),
        |  (276,96,384,4.0), (277,32,119,3.7188), (278,72,289,4.0139), (279,51,202,3.9608), (280,88,337,3.8295), (281,30,117,3.9),
        |  (282,32,133,4.1563), (283,84,332,3.9524), (284,51,203,3.9804), (285,94,371,3.9468), (286,46,190,4.1304), (287,18,74,4.1111),
        |  (288,32,127,3.9688), (289,38,157,4.1316), (290,94,390,4.1489), (291,76,293,3.8553), (292,86,323,3.7558), (293,71,276,3.8873),
        |  (294,83,335,4.0361), (295,32,132,4.125), (296,66,254,3.8485), (297,62,229,3.6935), (298,32,141,4.4063), (299,94,352,3.7447),
        |  (300,39,148,3.7949), (301,93,368,3.957), (302,88,350,3.9773), (303,83,321,3.8675), (304,42,160,3.8095), (305,11,47,4.2727),
        |  (306,75,304,4.0533), (307,54,216,4.0), (308,17,71,4.1765), (309,44,168,3.8182), (310,27,107,3.963), (311,90,360,4.0),
        |  (312,67,268,4.0), (313,18,66,3.6667), (314,37,133,3.5946), (315,87,322,3.7011), (316,74,303,4.0946), (317,72,282,3.9167),
        |  (318,83,315,3.7952), (319,87,363,4.1724), (320,75,285,3.8), (321,50,208,4.16), (322,45,186,4.1333), (323,62,235,3.7903),
        |  (324,43,162,3.7674), (325,60,242,4.0333), (326,36,141,3.9167), (327,33,125,3.7879), (328,89,350,3.9326), (329,66,250,3.7879),
        |  (330,59,229,3.8814), (331,51,212,4.1569), (332,36,155,4.3056), (333,32,125,3.9063), (334,92,340,3.6957), (335,61,236,3.8689),
        |  (336,68,272,4.0), (337,43,175,4.0698), (338,18,65,3.6111), (339,32,139,4.3438), (340,44,177,4.0227), (341,80,303,3.7875),
        |  (342,21,88,4.1905), (343,29,114,3.931), (344,77,295,3.8312), (345,59,222,3.7627), (346,74,293,3.9595), (347,51,208,4.0784),
        |  (348,24,97,4.0417), (349,84,330,3.9286), (350,85,327,3.8471), (351,67,261,3.8955), (352,97,375,3.866), (353,59,221,3.7458),
        |  (354,76,300,3.9474), (355,61,255,4.1803), (356,67,260,3.8806), (357,47,181,3.8511), (358,11,42,3.8182), (359,60,236,3.9333),
        |  (360,79,320,4.0506), (361,65,266,4.0923), (362,15,59,3.9333), (363,64,257,4.0156), (364,47,190,4.0426), (365,12,48,4.0),
        |  (366,55,225,4.0909), (367,39,153,3.9231), (368,13,56,4.3077), (369,50,198,3.96), (370,41,182,4.439), (371,65,249,3.8308),
        |  (372,28,99,3.5357), (373,70,279,3.9857), (374,31,129,4.1613), (375,63,241,3.8254), (376,69,263,3.8116), (377,43,166,3.8605),
        |  (378,64,234,3.6563), (379,72,286,3.9722), (380,80,311,3.8875), (381,63,262,4.1587), (382,25,96,3.84), (383,44,186,4.2273),
        |  (384,17,66,3.8824), (385,70,278,3.9714), (386,88,334,3.7955), (387,39,144,3.6923), (388,63,247,3.9206), (389,28,110,3.9286),
        |  (390,26,99,3.8077), (391,43,168,3.907), (392,23,93,4.0435), (393,81,332,4.0988), (394,71,286,4.0282), (395,81,343,4.2346),
        |  (396,44,181,4.1136), (397,53,212,4.0), (398,19,77,4.0526), (399,57,221,3.8772), (400,25,94,3.76), (401,76,311,4.0921),
        |  (402,31,111,3.5806), (403,85,331,3.8941), (404,43,158,3.6744), (405,56,231,4.125), (406,83,323,3.8916), (407,20,80,4.0),
        |  (408,16,64,4.0), (409,53,197,3.717), (410,75,289,3.8533), (411,79,293,3.7089), (412,71,257,3.6197), (413,79,315,3.9873),
        |  (414,78,292,3.7436), (415,58,225,3.8793), (416,53,200,3.7736), (417,93,367,3.9462), (418,77,317,4.1169), (419,20,83,4.15),
        |  (420,80,329,4.1125), (421,83,325,3.9157), (422,66,265,4.0152), (423,65,266,4.0923), (424,73,289,3.9589), (425,24,98,4.0833),
        |  (426,82,319,3.8902), (427,79,306,3.8734), (428,48,208,4.3333), (429,95,392,4.1263), (430,72,290,4.0278), (431,56,220,3.9286),
        |  (432,65,257,3.9538), (433,31,128,4.129), (434,79,303,3.8354), (435,31,120,3.871), (436,51,197,3.8627), (437,81,316,3.9012),
        |  (438,31,121,3.9032), (439,33,135,4.0909), (440,42,174,4.1429), (441,99,384,3.8788), (442,84,328,3.9048), (443,51,195,3.8235),
        |  (444,75,299,3.9867), (445,58,225,3.8793), (446,25,95,3.8), (447,93,364,3.914), (448,54,203,3.7593), (449,33,124,3.7576),
        |  (450,25,101,4.04), (451,20,80,4.0), (452,65,255,3.9231), (453,97,366,3.7732), (454,28,113,4.0357), (455,11,45,4.0909),
        |  (456,23,85,3.6957), (457,37,144,3.8919), (458,59,236,4.0), (459,69,275,3.9855), (460,49,185,3.7755), (461,67,261,3.8955),
        |  (462,60,239,3.9833), (463,91,357,3.9231), (464,35,145,4.1429), (465,62,222,3.5806), (466,86,336,3.907), (467,66,262,3.9697),
        |  (468,39,146,3.7436), (469,10,40,4.0), (470,42,169,4.0238), (471,63,244,3.873), (472,38,149,3.9211), (473,53,207,3.9057),
        |  (474,67,254,3.791), (475,15,58,3.8667), (476,16,64,4.0), (477,28,104,3.7143), (478,50,206,4.12), (479,69,270,3.913),
        |  (480,64,257,4.0156), (481,16,63,3.9375), (482,30,117,3.9), (483,47,172,3.6596), (484,43,159,3.6977), (485,23,94,4.087),
        |  (486,32,123,3.8438), (487,59,229,3.8814), (488,36,151,4.1944), (489,57,225,3.9474), (490,50,198,3.96), (491,67,264,3.9403),
        |  (492,13,59,4.5385), (493,88,326,3.7045), (494,38,151,3.9737), (495,70,283,4.0429), (496,81,338,4.1728), (497,20,87,4.35),
        |  (498,89,350,3.9326), (499,33,119,3.6061))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(n_subwords AS BIGINT) AS n_subwords, CAST(fertility AS DOUBLE) AS fertility
        |FROM r""".stripMargin,

    // Sentence-level duplication per source: RE2-safe terminal-
    // punctuation split, md5 sentence keys, hash-window totals.
    "sentence_dedup" ->
      """WITH s0 AS (SELECT source, trim(s) AS s FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(text, '[.!?]+')) AS s
        |    FROM documents)),
        |s1 AS (SELECT source, s FROM s0 WHERE length(s) >= 20),
        |g AS (SELECT source, md5(s) AS h, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM s1 GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(SUM(c) OVER (PARTITION BY h) AS BIGINT) AS total
        |  FROM g),
        |a AS (SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_sentences,
        |    CAST(SUM(c) AS BIGINT) AS n_sentences,
        |    CAST(SUM(CASE WHEN total >= 2 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_dup_instances
        |  FROM w GROUP BY 1)
        |SELECT source, n_sentences, n_distinct_sentences,
        |  n_dup_instances,
        |  CAST((n_dup_instances * 1000000) // n_sentences AS BIGINT)
        |    AS dup_ppm
        |FROM a ORDER BY source""".stripMargin,

    // Pairwise source 8-gram overlap: the boilerplate text-gram
    // mirror, distinct (gram, source), ordered-pair self-join (oracle
    // scale only), exact-ppm Jaccard.
    "source_overlap_matrix" ->
      """WITH toks AS (SELECT source,
        |    regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents),
        |g AS (SELECT source,
        |    unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
        |      i -> array_to_string(t[i:i+7], ' ')))) AS gram
        |  FROM toks WHERE len(t) >= 8),
        |gs AS (SELECT DISTINCT gram, source FROM g),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
        |  FROM gs GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS shared_grams
        |  FROM gs a JOIN gs b
        |    ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_grams,
        |  ta.tot AS tot_a, tb.tot AS tot_b,
        |  CAST((shared_grams * 1000000)
        |    // (ta.tot + tb.tot - shared_grams) AS BIGINT)
        |    AS jaccard_ppm
        |FROM pr
        |JOIN tot ta ON ta.source = pr.source_a
        |JOIN tot tb ON tb.source = pr.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // End-to-end release-pipeline funnel: pinned literal frame (the
    // chain composes five registered pipelines; its stage counts are
    // deterministic — recompute via Verify at sf0.01 when any member
    // contract changes).
    "release_funnel" ->
      """WITH r(stage, ord, n_in, n_removed, n_out) AS (VALUES
        |  ('1_clean', 1, 500, 98, 402),
        |  ('2_dedup', 2, 402, 17, 385),
        |  ('3_decontaminate', 3, 385, 1, 384),
        |  ('4_mixture', 4, 384, 92, 292),
        |  ('5_total', 5, 500, 208, 292))
        |SELECT stage, CAST(ord AS INT) AS ord,
        |  CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_removed AS BIGINT) AS n_removed,
        |  CAST(n_out AS BIGINT) AS n_out
        |FROM r""".stripMargin,

    // Clipping/headroom audit: pinned literal frame (the audio codec
    // convention; recompute via Verify at sf0.01 if the corpus or the
    // synthetic byte->sample map ever changes).
    "audio_clipping_audit" ->
      """WITH r(source, n_docs, n_samples, hot_samples, hot_docs,
        |       max_peak, hot_ppm) AS (VALUES
        |  ('src0', 25, 7949, 630, 25, 15552, 79255),
        |  ('src1', 25, 8570, 681, 25, 15552, 79463),
        |  ('src10', 25, 7161, 589, 25, 15552, 82251),
        |  ('src11', 25, 8387, 670, 25, 15552, 79885),
        |  ('src12', 25, 6927, 512, 25, 15552, 73913),
        |  ('src13', 25, 8462, 670, 25, 15552, 79177),
        |  ('src14', 25, 7216, 569, 25, 15552, 78852),
        |  ('src15', 25, 7100, 582, 25, 15552, 81971),
        |  ('src16', 25, 7484, 580, 25, 15552, 77498),
        |  ('src17', 25, 7477, 566, 25, 15552, 75698),
        |  ('src18', 25, 7556, 567, 24, 15552, 75039),
        |  ('src19', 25, 6306, 506, 25, 15552, 80241),
        |  ('src2', 25, 7689, 628, 25, 15552, 81675),
        |  ('src3', 25, 7620, 599, 25, 15552, 78608),
        |  ('src4', 25, 7098, 571, 25, 15552, 80445),
        |  ('src5', 25, 7254, 571, 25, 15552, 78715),
        |  ('src6', 25, 6964, 521, 25, 15552, 74813),
        |  ('src7', 25, 8201, 644, 25, 15552, 78527),
        |  ('src8', 25, 6277, 505, 25, 15552, 80452),
        |  ('src9', 25, 7476, 588, 25, 15552, 78651))
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(hot_samples AS BIGINT) AS hot_samples,
        |  CAST(hot_docs AS BIGINT) AS hot_docs,
        |  CAST(max_peak AS BIGINT) AS max_peak,
        |  CAST(hot_ppm AS BIGINT) AS hot_ppm
        |FROM r""".stripMargin,

    // Goertzel pilot-tone detection: pinned literal frame (the audio
    // DSP convention — byte-level WAV parsing + fixed-point Goertzel
    // has no SQL counterpart; the pin regression-locks sf0.01).
    "audio_tone_detect" ->
      """WITH r(source, n_docs, n_blocks, tone_q, total_q, tone_ppm) AS (VALUES
        |  ('src0', 25, 15, 323075866613, 627156779008, 4024),
        |  ('src1', 25, 19, 621483922211, 790305996800, 6143),
        |  ('src10', 25, 15, 341408611187, 624764092416, 4269),
        |  ('src11', 25, 23, 564560235006, 956688564224, 4610),
        |  ('src12', 25, 14, 223060331285, 578692710400, 3011),
        |  ('src13', 25, 18, 328478823095, 743006633984, 3453),
        |  ('src14', 25, 14, 235208572678, 581943197696, 3157),
        |  ('src15', 25, 16, 304026255779, 663437443072, 3580),
        |  ('src16', 25, 19, 419387069025, 789402583040, 4150),
        |  ('src17', 25, 16, 371619129221, 660679786496, 4394),
        |  ('src18', 25, 16, 313729583517, 663136239616, 3696),
        |  ('src19', 25, 13, 225851948229, 541823533056, 3256),
        |  ('src2', 25, 18, 177976703374, 744612757504, 1867),
        |  ('src3', 25, 16, 401177893846, 664630165504, 4715),
        |  ('src4', 25, 14, 233210541319, 583170949120, 3124),
        |  ('src5', 25, 18, 663917195224, 747556798464, 6938),
        |  ('src6', 25, 13, 389917223390, 539868626944, 5642),
        |  ('src7', 25, 17, 288268229165, 704468975616, 3196),
        |  ('src8', 25, 10, 229854232891, 416031571968, 4316),
        |  ('src9', 25, 16, 425844072268, 663844421632, 5011))
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(tone_q AS BIGINT) AS tone_q,
        |  CAST(total_q AS BIGINT) AS total_q,
        |  CAST(tone_ppm AS BIGINT) AS tone_ppm
        |FROM r ORDER BY source""".stripMargin,

    // Image aHash dedup: pinned literal frame (the multimodal_features
    // convention — the PPM decode + pixel aHash has no SQL
    // counterpart; the pin regression-locks the sf0.01 result).
    "image_ahash_dedup" ->
      """WITH r(n_images, n_candidate_pairs, n_dup_pairs) AS (VALUES
        |  (500, 277, 31))
        |SELECT CAST(n_images AS BIGINT) AS n_images,
        |  CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
        |  CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs
        |FROM r""".stripMargin,

    // Image pHash dedup: pinned literal frame (the image-leg
    // convention — the fixed-point DCT has no SQL counterpart; the
    // pin regression-locks the sf0.01 result). The DCT hash spreads
    // the synthetic corpus wider than aHash (1509 candidates / 17
    // dups vs 277 / 31): low-frequency structure separates docs whose
    // luma-block means collide.
    "image_phash_dedup" ->
      """WITH r(n_images, n_candidate_pairs, n_dup_pairs) AS (VALUES
        |  (500, 1509, 17))
        |SELECT CAST(n_images AS BIGINT) AS n_images,
        |  CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
        |  CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs
        |FROM r""".stripMargin,

    // Cross-modal dedup audit: pinned literal frame (image leg is the
    // pixel pipeline; at sf0.01 the corpus carries no exact text dups,
    // so all 31 image pairs are the perceptual-hash-FP read).
    "crossmodal_dedup_audit" ->
      """WITH r(n_images, text_dup_pairs, image_dup_pairs,
        |       image_only_pairs, containment_ppm) AS (VALUES
        |  (500, 0, 31, 31, 0))
        |SELECT CAST(n_images AS BIGINT) AS n_images,
        |  CAST(text_dup_pairs AS BIGINT) AS text_dup_pairs,
        |  CAST(image_dup_pairs AS BIGINT) AS image_dup_pairs,
        |  CAST(image_only_pairs AS BIGINT) AS image_only_pairs,
        |  CAST(containment_ppm AS BIGINT) AS containment_ppm
        |FROM r""".stripMargin,

    // aHash threshold sweep: pinned literal curve (the image-leg
    // convention); threshold 6 must agree with image_ahash_dedup's 31.
    "ahash_threshold_sweep" ->
      """WITH r(threshold, n_dup_pairs) AS (VALUES
        |  (0, 2), (1, 8), (2, 11), (3, 15), (4, 18), (5, 25),
        |  (6, 31), (7, 43), (8, 52), (9, 62), (10, 68))
        |SELECT CAST(threshold AS BIGINT) AS threshold,
        |  CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs
        |FROM r ORDER BY threshold""".stripMargin,

    // Coleman–Liau per doc: letter/word/sentence integer counts, one
    // fixed three-term double sequence, 4 dp.
    "readability" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
        |      AS n_letters,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |      AS n_sents
        |  FROM documents)
        |SELECT doc_id, n_letters, n_words, n_sents,
        |  floor((0.0588 * (CAST(n_letters AS DOUBLE) * 100.0
        |      / CAST(n_words AS DOUBLE))
        |    - 0.296 * (CAST(n_sents AS DOUBLE) * 100.0
        |      / CAST(n_words AS DOUBLE)) - 15.8) * 1e4 + 0.5) / 1e4 AS cli
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // Flesch-Kincaid per doc: vowel-group syllable heuristic
    // (character classes only — Java and RE2 agree), one fixed
    // three-term double sequence, 4 dp.
    "flesch_kincaid" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |      AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syllables,
        |  floor((0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59) * 1e4 + 0.5) / 1e4 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // Round-17 pinned frames: the `approx = true` sketch paths of
    // the round-14+ exact-distinct gram heavies (VERDICT r16 #3).
    // HLL register maxima are order-blind and the shared/dup masses
    // ride a deterministic 1/4 hash-sample of the key space, so each
    // estimate reproduces bit-stably on the fixed sf0.01 corpus;
    // ScaleApproxSpec bands every estimate against its exact twin on
    // a twin-heavy fixture (sf0.01 itself has ~no dup mass).
    "source_overlap_matrix_approx" ->
      """WITH r(source_a, source_b, shared_grams, tot_a, tot_b, jaccard_ppm) AS (VALUES
        |  ('src0', 'src12', 29, 1260, 1097, 12457),
        |  ('src0', 'src13', 73, 1260, 1378, 28460),
        |  ('src1', 'src5', 137, 1365, 1154, 57514),
        |  ('src10', 'src12', 18, 1128, 1097, 8155),
        |  ('src10', 'src18', 86, 1128, 1189, 38547),
        |  ('src10', 'src7', 86, 1128, 1300, 36720),
        |  ('src10', 'src9', 20, 1128, 1191, 8699),
        |  ('src11', 'src3', 36, 1347, 1209, 14285),
        |  ('src12', 'src17', 35, 1097, 1198, 15486),
        |  ('src12', 'src18', 31, 1097, 1189, 13747),
        |  ('src13', 'src18', 64, 1378, 1189, 25569),
        |  ('src13', 'src5', 72, 1378, 1154, 29268),
        |  ('src13', 'src7', 71, 1378, 1300, 27234),
        |  ('src14', 'src15', 24, 1143, 1123, 10704),
        |  ('src14', 'src7', 16, 1143, 1300, 6592),
        |  ('src15', 'src6', 28, 1123, 1091, 12808),
        |  ('src17', 'src6', 29, 1198, 1091, 12831),
        |  ('src18', 'src2', 52, 1189, 1232, 21950),
        |  ('src18', 'src4', 1, 1189, 1119, 433),
        |  ('src3', 'src6', 54, 1209, 1091, 24042),
        |  ('src4', 'src6', 17, 1119, 1091, 7751),
        |  ('src5', 'src7', 71, 1154, 1300, 29794),
        |  ('src5', 'src8', 76, 1154, 961, 37273)
        |) SELECT CAST(source_a AS VARCHAR) AS source_a, CAST(source_b AS VARCHAR) AS source_b, CAST(shared_grams AS BIGINT) AS shared_grams, CAST(tot_a AS BIGINT) AS tot_a, CAST(tot_b AS BIGINT) AS tot_b, CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm
        |FROM r""".stripMargin,

    "sentence_dedup_approx" ->
      """WITH r(source, n_sentences, n_distinct_sentences, n_dup_instances, dup_ppm) AS (VALUES
        |  ('src0', 25, 25, 0, 0),
        |  ('src1', 25, 25, 0, 0),
        |  ('src10', 25, 25, 0, 0),
        |  ('src11', 25, 25, 0, 0),
        |  ('src12', 25, 25, 0, 0),
        |  ('src13', 25, 25, 0, 0),
        |  ('src14', 25, 25, 0, 0),
        |  ('src15', 25, 25, 0, 0),
        |  ('src16', 25, 25, 0, 0),
        |  ('src17', 25, 25, 0, 0),
        |  ('src18', 25, 25, 0, 0),
        |  ('src19', 25, 25, 0, 0),
        |  ('src2', 25, 25, 0, 0),
        |  ('src3', 25, 25, 0, 0),
        |  ('src4', 25, 25, 0, 0),
        |  ('src5', 25, 25, 0, 0),
        |  ('src6', 25, 25, 0, 0),
        |  ('src7', 25, 25, 0, 0),
        |  ('src8', 25, 25, 0, 0),
        |  ('src9', 25, 25, 0, 0)
        |) SELECT CAST(source AS VARCHAR) AS source, CAST(n_sentences AS BIGINT) AS n_sentences, CAST(n_distinct_sentences AS BIGINT) AS n_distinct_sentences, CAST(n_dup_instances AS BIGINT) AS n_dup_instances, CAST(dup_ppm AS BIGINT) AS dup_ppm
        |FROM r""".stripMargin,

    "winnow_fingerprints_approx" ->
      """WITH r(source, n_docs, n_grams, n_prints, density_ppm, n_distinct_prints, n_shared_prints) AS (VALUES
        |  ('src0', 25, 1335, 530, 397003, 522, 0),
        |  ('src1', 25, 1440, 554, 384722, 553, 0),
        |  ('src10', 25, 1203, 461, 383208, 458, 0),
        |  ('src11', 25, 1422, 554, 389592, 554, 0),
        |  ('src12', 25, 1172, 461, 393344, 463, 0),
        |  ('src13', 25, 1453, 565, 388850, 556, 0),
        |  ('src14', 25, 1218, 487, 399835, 487, 0),
        |  ('src15', 25, 1198, 482, 402337, 477, 0),
        |  ('src16', 25, 1251, 479, 382893, 480, 0),
        |  ('src17', 25, 1273, 520, 408483, 523, 0),
        |  ('src18', 25, 1264, 507, 401107, 508, 0),
        |  ('src19', 25, 1047, 407, 388729, 409, 0),
        |  ('src2', 25, 1307, 508, 388676, 512, 0),
        |  ('src3', 25, 1284, 497, 387071, 496, 0),
        |  ('src4', 25, 1194, 458, 383584, 464, 0),
        |  ('src5', 25, 1229, 486, 395443, 494, 0),
        |  ('src6', 25, 1166, 459, 393653, 458, 0),
        |  ('src7', 25, 1407, 545, 387348, 532, 12),
        |  ('src8', 25, 1036, 418, 403474, 413, 0),
        |  ('src9', 25, 1266, 488, 385466, 490, 0)
        |) SELECT CAST(source AS VARCHAR) AS source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_prints AS BIGINT) AS n_prints, CAST(density_ppm AS BIGINT) AS density_ppm, CAST(n_distinct_prints AS BIGINT) AS n_distinct_prints, CAST(n_shared_prints AS BIGINT) AS n_shared_prints
        |FROM r""".stripMargin,

    // Per-epoch md5 shuffle positions, pairwise mean |Δpos| as exact
    // integer ppm of n (HUGEINT — n²·1e6/3 crosses int64 at 5M docs).
    "epoch_shuffle" ->
      """WITH e(epoch) AS (VALUES (0), (1), (2)),
        |r AS (SELECT d.doc_id, e.epoch,
        |    row_number() OVER (PARTITION BY e.epoch
        |      ORDER BY md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
        |                   || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS pos
        |  FROM documents d, e),
        |p AS (SELECT a.epoch AS epoch_a, b.epoch AS epoch_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(ABS(a.pos - b.pos) AS HUGEINT)) AS HUGEINT) AS sd
        |  FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.epoch < b.epoch
        |  GROUP BY 1, 2)
        |SELECT epoch_a, epoch_b, n_docs,
        |  CAST((sd * 1000000) // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
        |    AS mean_disp_ppm
        |FROM p ORDER BY epoch_a, epoch_b""".stripMargin,
  )
}
