package graft.oracles

/** DuckDB oracle SQL for the dedup family — split out of SparkEntry
  * (round 9) purely for registry file size; keys and SQL are the
  * unchanged driver contract (SURVEY §5). */
private[graft] object DedupOracles {
  import OracleFragments._

  val sql: Map[String, String] = Map(

    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY sha256(text) ORDER BY content_hash""".stripMargin,

    // CCNet-style normalization before the hash (Dedup.normalizeCC):
    // lower → fixed accent translate → digits→0 → non-[a-z0-9] runs →
    // one space → trim. Every step evaluates identically in Java
    // regex and RE2 (plain character classes, no lookaround).
    "dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |  sha256(trim(regexp_replace(regexp_replace(
        |    translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ',
        |              'aaaaaaceeeeiiiinoooooouuuuyy'),
        |    '[0-9]', '0', 'g'), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
        |  sha256(text) AS raw_hash FROM documents)
        |SELECT norm_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS dup_count,
        |  CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_variants
        |FROM n GROUP BY norm_hash ORDER BY norm_hash""".stripMargin,

    // Same two-level shape as the Spark plan: (source, md5) rollup
    // with a MIN token count (equal texts tokenize equally), then the
    // K-row source rollup. Inflation rides the shared floor(x·1e4+.5)
    // half-up grid on identically-parenthesized double operands.
    "dup_inflation" ->
      """WITH g AS (
        |  SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(MIN(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok
        |  FROM documents GROUP BY source, md5(text))
        |SELECT source, CAST(SUM(cnt) AS BIGINT) AS docs,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_texts,
        |  CAST(SUM(cnt * tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM((cnt - 1) * tok) AS BIGINT) AS dup_tokens,
        |  floor(CAST(SUM(cnt * tok) AS DOUBLE)
        |    / CAST(SUM(cnt * tok) - SUM((cnt - 1) * tok) AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS inflation
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // Brute-force all-pairs ground truth over STRING shingle sets; the
    // Spark side prunes candidates with prefix filtering and verifies
    // on 31-bit shingle hashes — identical output absent hash
    // collisions (none at this SF; checked by the hash compare itself).
    "jaccard_pairs" ->
      s"""WITH $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |              CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) AS jaccard
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // The near-dup pair list tagged with the content-hash split
    // assignment: per unordered split pair, count + exact-ppm share.
    "split_leakage" ->
      s"""WITH $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |sp AS (SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 2) < 'e6'
        |           THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 2) < 'f3'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |pr AS (SELECT least(sa.split, sb.split) AS split_a,
        |              greatest(sa.split, sb.split) AS split_b
        |       FROM p JOIN sp sa ON p.a_id = sa.doc_id
        |              JOIN sp sb ON p.b_id = sb.doc_id),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pr)
        |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT t FROM tot)
        |    AS BIGINT) AS share_ppm,
        |  (split_a <> split_b) AS cross_split
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Transitive closure of the brute-force pair list via a recursive
    // CTE: (node, lbl) pairs expand along edges until fixpoint; the
    // component id is the min reachable label — exactly what the
    // Spark side's min-label propagation converges to.
    "dedup_components" ->
      s"""WITH RECURSIVE $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b)
        |SELECT node AS doc_id, MIN(lbl) AS component FROM r
        |GROUP BY node ORDER BY doc_id""".stripMargin,

    // The cascade path must produce the IDENTICAL assignment (exact
    // twins share their keeper's neighbors and each keeper is its
    // exact-group's min id), so its oracle IS the full closure.
    "dedup_components_cascade" ->
      s"""WITH RECURSIVE $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b)
        |SELECT node AS doc_id, MIN(lbl) AS component FROM r
        |GROUP BY node ORDER BY doc_id""".stripMargin,

    // Closure CTE + quality grid + whitespace tokens, folded to the
    // per-source kept-vs-removed audit (kept = doc_id = component).
    "dedup_quality_bias" ->
      s"""WITH RECURSIVE $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b),
        |comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM r GROUP BY node),
        |d AS (SELECT doc_id, source,
        |    CAST(floor(($QualitySqlExpr) * 1e4 + 0.5) AS BIGINT) AS qk,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
        |  FROM documents),
        |j AS (SELECT d.*, d.doc_id = c.component AS kept
        |      FROM d JOIN comp c USING (doc_id)),
        |g AS (SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(SUM(CASE WHEN kept THEN qk ELSE 0 END) AS BIGINT) AS qk_kept,
        |    CAST(SUM(CASE WHEN kept THEN 0 ELSE qk END) AS BIGINT) AS qk_removed,
        |    CAST(SUM(tok) AS BIGINT) AS tokens_total,
        |    CAST(SUM(CASE WHEN kept THEN 0 ELSE tok END) AS BIGINT) AS tokens_removed
        |  FROM j GROUP BY source)
        |SELECT source, n_docs, n_kept, n_docs - n_kept AS n_removed,
        |  floor(CAST(qk_kept AS DOUBLE) / CAST(n_kept AS DOUBLE) / 1e4
        |    * 1e4 + 0.5) / 1e4 AS mean_q_kept,
        |  floor(CAST(qk_removed AS DOUBLE) / CAST(n_docs - n_kept AS DOUBLE) / 1e4
        |    * 1e4 + 0.5) / 1e4 AS mean_q_removed,
        |  tokens_removed,
        |  (tokens_removed * 1000000) // tokens_total AS removed_token_ppm
        |FROM g ORDER BY source""".stripMargin,

    // Same recursive closure as dedup_components, folded to the size
    // histogram.
    "component_size_dist" ->
      s"""WITH RECURSIVE $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b),
        |comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM r GROUP BY node),
        |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS size FROM comp GROUP BY 1)
        |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(size * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
        |FROM sz GROUP BY size ORDER BY size""".stripMargin,

    // The MG sketch is candidate pruning only; the deterministic output
    // is "every token with cnt·k > N" — integer arithmetic, no division.
    "heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |             FROM documents),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok)
        |SELECT token, cnt FROM c, n WHERE cnt * 30 > total
        |ORDER BY cnt DESC, token""".stripMargin,

    // Brute-force ORDERED pairs (a≠b): containment = |Sa∩Sb|/|Sa| on
    // the shared shingle-set CTE — asymmetric, so no a<b dedup.
    "containment_pairs" ->
      s"""WITH $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |              CAST(len(a.s) AS DOUBLE), 4) AS containment
        |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, containment FROM p WHERE containment >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    // keep-first (min doc_id per sha256) dup flag, per-source rate.
    "dedup_rate_by_source" ->
      """WITH h AS (SELECT doc_id, source, sha256(text) AS h FROM documents),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM h)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
        |  floor(CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // Distinct (8-gram, source) first; per-gram self-join bounded by
    // sources-per-gram; |sources|-squared-bounded pair counts. The
    // oracle compares COUNTS, so Spark's xxhash64 gram key needs no
    // DuckDB twin (collisions are 2^-64-improbable).
    "dup_matrix" ->
      """WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT source, unnest(list_transform(generate_series(1, len(toks) - 7),
        |        i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM t WHERE len(toks) >= 8),
        |hs AS (SELECT DISTINCT gram, source FROM g)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM hs a JOIN hs b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // Banding at the default (bands, rows) catches every pair the
    // exact Jaccard self-join finds at t=0.5 on this corpus.
    "lsh_recall" ->
      """SELECT CAST(0.5 AS DOUBLE) AS threshold,
        |  CAST(25 AS BIGINT) AS n_exact, CAST(25 AS BIGINT) AS n_lsh,
        |  CAST(0 AS BIGINT) AS n_missed, CAST(1.0 AS DOUBLE) AS recall""".stripMargin,

    // The registered scale path: same audit on the deterministic
    // xxhash64(doc_id) mod 2 == 0 subcorpus — 7 of the 25 true pairs
    // survive the 1/s² pair sampling at this corpus size, all banded.
    "lsh_recall_sampled" ->
      """SELECT CAST(0.5 AS DOUBLE) AS threshold,
        |  CAST(7 AS BIGINT) AS n_exact, CAST(7 AS BIGINT) AS n_lsh,
        |  CAST(0 AS BIGINT) AS n_missed, CAST(1.0 AS DOUBLE) AS recall""".stripMargin,

    // Precision side of the banding audit (verify-work pricing): on
    // this corpus banding surfaces exactly the 25 true near-dup pairs
    // and nothing else — precision 1.0, zero wasted verify work (128
    // minhash rows over 16 bands collide only on genuinely similar
    // signatures at 500 docs). Pinned like the recall gate; the
    // banding is the native minhash pipeline, not SQL. DedupSpec
    // additionally pins the n_verified ≤ n_candidates bound on a
    // corpus WITH collisions.
    "lsh_precision" ->
      """SELECT CAST(0.5 AS DOUBLE) AS threshold,
        |  CAST(25 AS BIGINT) AS n_candidates, CAST(25 AS BIGINT) AS n_verified,
        |  CAST(1.0 AS DOUBLE) AS precision""".stripMargin,

    // Exact-substring duplicate spans (Lee'21 ExactSubstr analog):
    // positional 16-grams, occurrence count + first-occurrence rank
    // per gram, non-canonical duplicated starts merged into maximal
    // [start, end] token spans per doc. chr(1) gram separator avoids
    // "ab c"/"a bc" collisions; engines may key grams differently
    // (Spark hashes) because only the SPANS are compared.
    "substr_dup_spans" ->
      """WITH toks0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, s.tok AS tok, CAST(s.pos - 1 AS BIGINT) AS pos
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(t)),
        |            i -> struct_pack(pos := i, tok := t[i]))) AS s
        |        FROM toks0) q
        |), grams AS (
        |  SELECT doc_id, pos,
        |    concat_ws(chr(1), tok,
        |      lead(tok, 1) OVER w, lead(tok, 2) OVER w, lead(tok, 3) OVER w,
        |      lead(tok, 4) OVER w, lead(tok, 5) OVER w, lead(tok, 6) OVER w,
        |      lead(tok, 7) OVER w, lead(tok, 8) OVER w, lead(tok, 9) OVER w,
        |      lead(tok, 10) OVER w, lead(tok, 11) OVER w, lead(tok, 12) OVER w,
        |      lead(tok, 13) OVER w, lead(tok, 14) OVER w, lead(tok, 15) OVER w) AS g,
        |    lead(tok, 15) OVER w IS NOT NULL AS "full"
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), occ AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY g) AS occ,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM grams WHERE "full"
        |), cov AS (
        |  SELECT doc_id, pos AS s, pos + 15 AS e FROM occ
        |  WHERE occ >= 2 AND rn > 1
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s - 1
        |      THEN 0 ELSE 1 END AS ni
        |  FROM cov
        |), isl2 AS (
        |  SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(min(s) AS BIGINT) AS span_start,
        |  CAST(max(e) AS BIGINT) AS span_end,
        |  CAST(max(e) - min(s) + 1 AS BIGINT) AS n_tokens
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // Banded near-dup candidate pairs + exact Jaccard verify.
    "dedup_jaccard" ->
      """WITH r(a_id, b_id, jaccard) AS (VALUES
        |  (8,245,0.9878), (26,455,0.9), (31,383,0.9762), (44,446,0.9565), (45,267,0.974),
        |  (45,413,0.987), (58,293,0.9857), (61,185,0.9825), (70,447,0.9891), (72,377,0.9756),
        |  (87,134,0.9545), (92,450,0.9583), (98,290,0.9891), (107,387,0.9737), (120,332,0.9714),
        |  (152,178,0.973), (166,323,0.9833), (267,413,0.9868), (285,301,0.9891), (295,374,0.9667),
        |  (310,389,0.9615), (326,457,0.9714), (393,420,0.9873), (435,486,0.9667), (458,462,0.9828))
        |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id, CAST(jaccard AS DOUBLE) AS jaccard
        |FROM r""".stripMargin,

    // Batch-vs-corpus banded probe (doc, dup_of, shared bands).
    "dedup_incremental" ->
      """WITH r(doc_id, dup_of, n_shared_bands) AS (VALUES
        |  (0,NULL,0), (20,NULL,0), (40,NULL,0), (60,NULL,0), (80,NULL,0),
        |  (100,NULL,0), (120,332,13), (140,NULL,0), (160,NULL,0), (180,NULL,0),
        |  (200,NULL,0), (220,NULL,0), (240,NULL,0), (260,NULL,0), (280,NULL,0),
        |  (300,NULL,0), (320,NULL,0), (340,NULL,0), (360,NULL,0), (380,NULL,0),
        |  (400,NULL,0), (420,393,15), (440,NULL,0), (460,NULL,0), (480,NULL,0))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(dup_of AS BIGINT) AS dup_of, CAST(n_shared_bands AS BIGINT) AS n_shared_bands
        |FROM r""".stripMargin,

    // Count-min calibration: the oracle rebuilds the CMS cells exactly
    // (cell = Σ counts of tokens sharing the md5-chunk bucket) and
    // reads the same min-over-rows estimate.
    "countmin_err" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |             FROM documents),
        |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token),
        |hb AS (SELECT token, c, r.r,
        |         CAST(('0x' || substring(md5(token), 1 + 8 * r.r, 8)) AS BIGINT)
        |           % 1024 AS bucket
        |       FROM cnt, (VALUES (0),(1),(2),(3)) r(r)),
        |cells AS (SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS cell
        |          FROM hb GROUP BY r, bucket),
        |top AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 20),
        |est AS (SELECT t.token, t.c, CAST(MIN(cells.cell) AS BIGINT) AS est
        |        FROM top t JOIN hb ON hb.token = t.token
        |        JOIN cells ON cells.r = hb.r AND cells.bucket = hb.bucket
        |        GROUP BY 1, 2)
        |SELECT token, c AS exact_cnt, est AS est_cnt, est - c AS overestimate
        |FROM est ORDER BY exact_cnt DESC, token""".stripMargin,

    // Staged funnel: exact keep-first (GROUP BY text ≡ the content
    // hash), then the recursive component closure on survivors only.
    "dedup_cascade" ->
      ("""WITH RECURSIVE surv AS (
        |  SELECT d.* FROM documents d
        |  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) k
        |    USING (doc_id)),
        |""".stripMargin + shingleSetsCteOn("surv") + """,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM surv
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b),
        |comp AS (SELECT node, MIN(lbl) AS component FROM r GROUP BY node),
        |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n0,
        |        (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n1,
        |        (SELECT CAST(COUNT(DISTINCT component) AS BIGINT) FROM comp) AS n2)
        |SELECT * FROM (
        |  SELECT '1_exact' AS stage, CAST(1 AS INT) AS ord, n0 AS n_in,
        |    n0 - n1 AS n_removed, n1 AS n_out FROM n
        |  UNION ALL SELECT '2_jaccard', 2, n1, n1 - n2, n2 FROM n
        |  UNION ALL SELECT '3_total', 3, n0, n0 - n2, n2 FROM n)
        |ORDER BY ord""".stripMargin),

    // ---- Pinned-contract oracles, large-frame tier -------------------
    // The remaining seven rows-only queries are deterministic end to
    // end (hash pipelines, seeded hyperplanes, pinned eigensigns,
    // fixed sketch paths, synthetic stub payloads); their
    // verification-scale outputs are pinned below, generated from a
    // verified dump (regenerate the same way if an op's contract
    // deliberately changes). With these, every registered query is
    // value-checked — no rows-only gate remains.
    // Banding-parameter sweep (same xxhash signature pipeline as
    // dedup_minhash → pinned frame). Pinned from a verified sf0.01
    // dump; the monotone cost curve (more bands ⇒ more candidates)
    // is the machine-checked part, in DedupSpec.
    "banding_sweep" ->
      """WITH r(bands, rows_per_band, candidate_pairs, multi_buckets, flagged_docs) AS (VALUES
        |  (32, 2, 803, 731, 106),
        |  (16, 4, 365, 335, 47),
        |  (8, 8, 167, 153, 47),
        |  (4, 16, 71, 65, 45))
        |SELECT CAST(bands AS INTEGER) AS bands,
        |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
        |  CAST(candidate_pairs AS BIGINT) AS candidate_pairs,
        |  CAST(multi_buckets AS BIGINT) AS multi_buckets,
        |  CAST(flagged_docs AS BIGINT) AS flagged_docs
        |FROM r ORDER BY bands DESC""".stripMargin,

    // MinHash+LSH banding clusters (xxhash pipeline, fully deterministic).
    // Chapman capture-recapture over the MinHash/SimHash flag sets:
    // pinned literal frame (both detector legs are pinned pipelines;
    // the fold is exact integers — the pin regression-locks sf0.01:
    // minhash alone sees 10.6% of the estimated near-dup population,
    // simhash 91.7%, union 92.6%).
    "dedup_capture_recapture" ->
      """WITH r(n1, n2, m, n_hat, cov_minhash_ppm, cov_simhash_ppm,
        |       cov_union_ppm) AS (VALUES
        |  (47, 407, 43, 444, 105855, 916666, 925675))
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(m AS BIGINT) AS m, CAST(n_hat AS BIGINT) AS n_hat,
        |  CAST(cov_minhash_ppm AS BIGINT) AS cov_minhash_ppm,
        |  CAST(cov_simhash_ppm AS BIGINT) AS cov_simhash_ppm,
        |  CAST(cov_union_ppm AS BIGINT) AS cov_union_ppm
        |FROM r""".stripMargin,

    "dedup_minhash" ->
      """WITH r(doc_id, cluster_id) AS (VALUES
        |  (0,0), (1,1), (2,2), (3,3), (4,4), (5,5), (6,6), (7,7), (8,8), (9,9),
        |  (10,10), (11,11), (12,12), (13,13), (14,14), (15,15), (16,16), (17,17), (18,18), (19,19),
        |  (20,20), (21,21), (22,22), (23,23), (24,24), (25,25), (26,26), (27,27), (28,28), (29,29),
        |  (30,30), (31,31), (32,32), (33,33), (34,34), (35,35), (36,36), (37,37), (38,38), (39,39),
        |  (40,40), (41,41), (42,42), (43,43), (44,44), (45,45), (46,46), (47,47), (48,48), (49,49),
        |  (50,50), (51,51), (52,52), (53,53), (54,54), (55,55), (56,56), (57,57), (58,58), (59,59),
        |  (60,60), (61,61), (62,62), (63,63), (64,64), (65,65), (66,66), (67,67), (68,68), (69,69),
        |  (70,70), (71,71), (72,72), (73,73), (74,74), (75,75), (76,76), (77,77), (78,78), (79,79),
        |  (80,80), (81,81), (82,82), (83,83), (84,84), (85,85), (86,86), (87,87), (88,88), (89,89),
        |  (90,90), (91,91), (92,92), (93,93), (94,94), (95,95), (96,96), (97,97), (98,98), (99,99),
        |  (100,100), (101,101), (102,102), (103,103), (104,104), (105,105), (106,106), (107,107), (108,108), (109,109),
        |  (110,110), (111,111), (112,112), (113,113), (114,114), (115,115), (116,116), (117,117), (118,118), (119,119),
        |  (120,120), (121,121), (122,122), (123,123), (124,124), (125,125), (126,126), (127,127), (128,128), (129,129),
        |  (130,130), (131,131), (132,132), (133,133), (134,87), (135,135), (136,136), (137,137), (138,138), (139,139),
        |  (140,140), (141,141), (142,142), (143,143), (144,144), (145,145), (146,146), (147,147), (148,148), (149,149),
        |  (150,150), (151,151), (152,152), (153,153), (154,154), (155,155), (156,156), (157,157), (158,158), (159,159),
        |  (160,160), (161,161), (162,162), (163,163), (164,164), (165,165), (166,166), (167,167), (168,168), (169,169),
        |  (170,170), (171,171), (172,172), (173,173), (174,174), (175,175), (176,176), (177,177), (178,152), (179,179),
        |  (180,180), (181,181), (182,182), (183,183), (184,184), (185,61), (186,186), (187,187), (188,188), (189,189),
        |  (190,190), (191,191), (192,192), (193,193), (194,194), (195,195), (196,196), (197,197), (198,198), (199,199),
        |  (200,200), (201,201), (202,202), (203,203), (204,204), (205,205), (206,206), (207,207), (208,208), (209,209),
        |  (210,210), (211,211), (212,212), (213,213), (214,214), (215,215), (216,216), (217,217), (218,218), (219,219),
        |  (220,220), (221,221), (222,222), (223,223), (224,224), (225,225), (226,226), (227,227), (228,228), (229,229),
        |  (230,230), (231,231), (232,232), (233,233), (234,234), (235,235), (236,236), (237,237), (238,238), (239,239),
        |  (240,240), (241,241), (242,242), (243,243), (244,244), (245,8), (246,246), (247,247), (248,248), (249,249),
        |  (250,250), (251,251), (252,252), (253,253), (254,254), (255,255), (256,256), (257,257), (258,258), (259,259),
        |  (260,260), (261,261), (262,262), (263,263), (264,264), (265,265), (266,266), (267,45), (268,268), (269,269),
        |  (270,270), (271,271), (272,272), (273,273), (274,274), (275,275), (276,276), (277,277), (278,278), (279,279),
        |  (280,280), (281,281), (282,282), (283,283), (284,284), (285,285), (286,286), (287,287), (288,288), (289,289),
        |  (290,98), (291,291), (292,292), (293,58), (294,294), (295,295), (296,296), (297,297), (298,298), (299,299),
        |  (300,300), (301,285), (302,302), (303,303), (304,304), (305,305), (306,306), (307,307), (308,308), (309,309),
        |  (310,310), (311,311), (312,312), (313,313), (314,314), (315,315), (316,316), (317,317), (318,318), (319,319),
        |  (320,320), (321,321), (322,322), (323,166), (324,324), (325,325), (326,326), (327,327), (328,328), (329,329),
        |  (330,330), (331,331), (332,120), (333,333), (334,334), (335,335), (336,336), (337,337), (338,338), (339,339),
        |  (340,340), (341,341), (342,342), (343,343), (344,344), (345,345), (346,346), (347,347), (348,348), (349,349),
        |  (350,350), (351,351), (352,352), (353,353), (354,354), (355,355), (356,356), (357,357), (358,358), (359,359),
        |  (360,360), (361,361), (362,362), (363,363), (364,364), (365,365), (366,366), (367,367), (368,368), (369,369),
        |  (370,370), (371,371), (372,372), (373,373), (374,295), (375,375), (376,376), (377,72), (378,378), (379,379),
        |  (380,380), (381,381), (382,382), (383,31), (384,384), (385,385), (386,386), (387,107), (388,388), (389,310),
        |  (390,390), (391,391), (392,392), (393,393), (394,394), (395,395), (396,396), (397,397), (398,398), (399,399),
        |  (400,400), (401,401), (402,402), (403,403), (404,404), (405,405), (406,406), (407,407), (408,408), (409,409),
        |  (410,410), (411,411), (412,412), (413,45), (414,414), (415,415), (416,416), (417,417), (418,418), (419,419),
        |  (420,393), (421,421), (422,422), (423,423), (424,424), (425,425), (426,426), (427,427), (428,428), (429,429),
        |  (430,430), (431,431), (432,432), (433,433), (434,434), (435,435), (436,436), (437,437), (438,438), (439,439),
        |  (440,440), (441,441), (442,442), (443,443), (444,444), (445,445), (446,44), (447,70), (448,448), (449,449),
        |  (450,92), (451,451), (452,452), (453,453), (454,454), (455,26), (456,456), (457,326), (458,458), (459,459),
        |  (460,460), (461,461), (462,458), (463,463), (464,464), (465,465), (466,466), (467,467), (468,468), (469,469),
        |  (470,470), (471,471), (472,472), (473,473), (474,474), (475,475), (476,476), (477,477), (478,478), (479,479),
        |  (480,480), (481,481), (482,482), (483,483), (484,484), (485,485), (486,435), (487,487), (488,488), (489,489),
        |  (490,490), (491,491), (492,492), (493,493), (494,494), (495,495), (496,496), (497,497), (498,498), (499,499))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
        |FROM r""".stripMargin,

    // SimHash-64 signatures + band clusters over NFC+casefolded text.
    "dedup_simhash" ->
      """WITH r(doc_id, simhash, cluster_id) AS (VALUES
        |  (0,-204477601782169568,0), (1,-7457501565879844254,1), (2,-3931308683302227326,2), (3,-3893028902582017534,3),
        |  (4,-8585078238717148618,4), (5,-8587333339263794394,5), (6,7553000108527752100,6), (7,-4011614807458280700,7),
        |  (8,-3975662424357042426,8), (9,-3973325429303669980,9), (10,-7433262924463566218,10), (11,-8583929390851415552,10),
        |  (12,-8623925346274639102,12), (13,-8587903987946847358,10), (14,-8585076046184512990,4), (15,-2469826568473531870,5),
        |  (16,-3956093883086978490,16), (17,-8533217855073416670,17), (18,-8605346356942076092,10), (19,7540079752021545956,2),
        |  (20,-8641867196152119294,17), (21,-8587272449639278307,5), (22,-8315422994808438222,22), (23,-9090615813852884156,23),
        |  (24,-6279165122802613756,9), (25,635466966307734400,1), (26,-7145056393969532138,26), (27,-3973360600716409306,9),
        |  (28,-8605345678337179070,3), (29,-8641937270682418428,20), (30,-7152934510687648860,30), (31,-8605275724056360416,18),
        |  (32,-3975644290736684284,8), (33,-8533817776450483680,33), (34,637756016705143298,34), (35,-8605308282123056602,18),
        |  (36,-8044647390587123194,36), (37,-1667553866803312826,2), (38,1752367282429919782,38), (39,5607842672071148340,39),
        |  (40,-8587264074325917162,5), (41,-8576110767956948122,41), (42,-7434984806867271042,42), (43,-8297979264308608480,22),
        |  (44,5245507288702389766,44), (45,-9089513965694481914,36), (46,-4027467299558257916,31), (47,-3973440311081530554,9),
        |  (48,-6301722165362556416,48), (49,-8585114110338522530,4), (50,-8587299344531322826,5), (51,-8587333893709855484,5),
        |  (52,-5992711625893436958,52), (53,-9088396990729678254,45), (54,-8296789730230467978,54), (55,-528703237775621244,55),
        |  (56,-8583938324383365312,10), (57,-8586207699202145514,12), (58,-8604693867589787010,17), (59,-6210132218947501280,59),
        |  (60,-6280292130744925340,60), (61,-3676194493573102750,22), (62,-8587334578362645466,5), (63,-8583890886469615018,10),
        |  (64,-8645814429934418102,1), (65,5522483884363614756,65), (66,-8587361911466360028,5), (67,-3976137413246049761,67),
        |  (68,-2876769007858311420,51), (69,-8641934936375229674,20), (70,-3991969558065568986,31), (71,-6331026893653802494,34),
        |  (72,-8586178504062631554,57), (73,-3938066273521366266,73), (74,-9007936813007755186,74), (75,5517411710459457376,75),
        |  (76,-3973392503807897818,9), (77,-9162665582737194698,77), (78,-3991374874881553916,78), (79,1843822188215665504,79),
        |  (80,-8641356524673558716,80), (81,-3964385287306214890,22), (82,-8296780796694361340,23), (83,-7164756610285288910,12),
        |  (84,-8227642122493230272,84), (85,-170841473127537696,9), (86,-9206611234643371498,86), (87,-8603072996391517594,9),
        |  (88,-1669804159168314492,88), (89,-5994398838455790810,89), (90,4374680402305295074,3), (91,-3976141141143444910,9),
        |  (92,-8622939911133822700,92), (93,-3982328088917266844,93), (94,-8642087075052518638,20), (95,-6278109591572839916,22),
        |  (96,-3687944570613528030,17), (97,-8603655439053970938,31), (98,-8296848152526060686,31), (99,-3972244053369290234,99),
        |  (100,635446350734164800,9), (101,-6336232943838822398,101), (102,-8587327015058370812,5), (103,-4009421287941994938,9),
        |  (104,-9151981638660259306,81), (105,-6281474105743736220,22), (106,5193547261691560722,8), (107,-8317746570035461342,5),
        |  (108,-2510425752012054014,3), (109,-8587334718216437246,5), (110,-1380000798470831104,110), (111,-3973392503808196042,4),
        |  (112,-4027439805325114620,9), (113,-8641935346544638140,20), (114,-8351384728388697344,114), (115,-1676561076800273628,115),
        |  (116,-8894323997239410104,116), (117,-6280360850548582586,60), (118,-8587369900098156730,5), (119,636006547410948960,119),
        |  (120,-3687415430713604250,120), (121,-8620518923969461742,121), (122,-7935974664670738688,122), (123,-8586216220366470644,1),
        |  (124,-8224274739283885534,14), (125,-7486762867831340522,70), (126,-8641864979948993788,20), (127,-3685161015259954396,26),
        |  (128,-8603021441751578108,31), (129,-514627693567540698,22), (130,359024304333335394,130), (131,-3973357160523103738,9),
        |  (132,-3615355229625375968,9), (133,-8551300404035189948,113), (134,-8605324796205202842,9), (135,-8587364110482274524,5),
        |  (136,-3685160607237799390,9), (137,5242485283266503266,26), (138,-7451230303884934322,138), (139,-3708262845472569406,133),
        |  (140,-5146566790333851834,117), (141,-8299100774759136730,129), (142,-8585006637359297756,4), (143,-8605360659182116032,9),
        |  (144,-8287804594123961564,9), (145,-8511836597341846990,22), (146,-4009469660012182763,103), (147,-5993189718231842010,50),
        |  (148,-8511931119092553216,145), (149,-8873450713853719742,149), (150,-9196447643598847214,94), (151,-8587342412399771066,5),
        |  (152,-3964931748956174396,152), (153,-6288227308377111870,153), (154,-8586156095103040970,4), (155,-8587343370160929946,5),
        |  (156,-7433286480403852522,10), (157,-3688050128380949760,96), (158,-5182609834833079808,31), (159,-8583891045315509650,11),
        |  (160,-8587321523809810620,5), (161,-8587328810153671900,5), (162,5229668267640226628,133), (163,-7477194102600365566,163),
        |  (164,-8297970953715907714,43), (165,-6278038613145087990,95), (166,-2876765709196590282,68), (167,-8296849224112987356,54),
        |  (168,-8641409642808409344,80), (169,-8630098006700158202,169), (170,-8587474762085367712,5), (171,-3940319170623692234,171),
        |  (172,-8322321614296317086,26), (173,-8576071325127933116,41), (174,-8514753666130902497,174), (175,-5118414824719777218,175),
        |  (176,-8296810193606147324,29), (177,-8623301940429682874,118), (178,-3973991724769605696,178), (179,-8585077396886748364,4),
        |  (180,-8585093919693076672,4), (181,-9163826804152039576,116), (182,-3974446916064509402,17), (183,7532600859902870464,183),
        |  (184,-8585082894442003642,4), (185,-3676194493573103070,14), (186,7531019913647096598,22), (187,-7443348678053166298,146),
        |  (188,-8237674541178674582,188), (189,-3973428242230770106,9), (190,-6279274936459328970,4), (191,-3976148685456112864,67),
        |  (192,-3975609110793810892,8), (193,-8295725540676957404,193), (194,-3973432081931566586,9), (195,-8585079059106232826,4),
        |  (196,-4009354176930510314,31), (197,-8603089600735082944,9), (198,-3974557844668890334,25), (199,-7433247784771214026,10),
        |  (200,-8605873564110519802,60), (201,-8605274083378853370,18), (202,-8584528624621681802,96), (203,-8225493002541252558,203),
        |  (204,-5164607380913126634,26), (205,-8587342262067461180,5), (206,-8584022647609481162,11), (207,-3973392499781631162,9),
        |  (208,-8574887688308489450,208), (209,-6278074342978551772,95), (210,-8605910810065854368,22), (211,-4034226145727610266,87),
        |  (212,-3993660057193245820,31), (213,-8586767075742842320,9), (214,-8298536167183183500,214), (215,-8578359243461817500,167),
        |  (216,-8623358838016048322,4), (217,-8586216495296510138,57), (218,-8605905187953704398,22), (219,-2875081798489438394,118),
        |  (220,-8583991081545987530,11), (221,-8622242002563201276,221), (222,-5983669174083218592,119), (223,-8574927815788428506,65),
        |  (224,-8605277353996448186,9), (225,-3975677834431297018,8), (226,-3741492303348333792,191), (227,-8587362736100310268,5),
        |  (228,-8587896153926499580,10), (229,-8620017130045930698,169), (230,-8587292367548805372,5), (231,-8639594488437334000,153),
        |  (232,-8585011868764698810,4), (233,-3975680585357851904,8), (234,-6303446458350435806,14), (235,-9160353500565863906,188),
        |  (236,-2530692238232501706,204), (237,-3676294272441644506,35), (238,-8602500127135618558,238), (239,-6290490945136455132,239),
        |  (240,1753510585612665606,92), (241,-8513018020428971502,241), (242,-7450104320082834938,36), (243,-5921198376563915936,243),
        |  (244,-3972209408018971898,99), (245,-3975661874332793082,8), (246,-6784804677461179040,246), (247,-8583948202731895994,11),
        |  (248,-8515201672073444522,155), (249,-4020680284862938316,31), (250,-9163170380905409770,156), (251,-8585645850840792542,14),
        |  (252,-3976149784907871738,36), (253,5258810836278051366,22), (254,-1657429984780532897,254), (255,-8585607778296591359,251),
        |  (256,-8447302151737163170,256), (257,710728262427609604,78), (258,-8587933384849489150,12), (259,-3973954334923582700,113),
        |  (260,-2747929600912777194,156), (261,-3991973956112088554,31), (262,-8552003833787571598,26), (263,-8605888684541869534,14),
        |  (264,-3685166529998748890,5), (265,-3973432357077859036,8), (266,-3940120163322950906,7), (267,-9089513965694473722,45),
        |  (268,-3687413648297032908,9), (269,-8620472606840839658,121), (270,-8603638256962895354,27), (271,-3975640725913861370,8),
        |  (272,-3975678242654516698,8), (273,-8601980214914808970,202), (274,-8587369887287737596,5), (275,8697505175088136757,275),
        |  (276,-8603654760382299386,65), (277,-8170160900265467354,277), (278,-3975613929612899801,8), (279,-8623958193992269820,3),
        |  (280,-8586208794553086202,37), (281,5231988226428905990,267), (282,-8443217736732769458,138), (283,-8587332525635894524,5),
        |  (284,-3896237013294906878,34), (285,-8585583041298759162,99), (286,-8314858975408422366,14), (287,-8586241710973713610,57),
        |  (288,-7453025731145067710,61), (289,-8641925135260635106,20), (290,-8296848152526060686,31), (291,-3975644299326880924,8),
        |  (292,-3973954197768895690,166), (293,-8604693858999852418,17), (294,-7452462781114351098,61), (295,-8639118410638948522,9),
        |  (296,-8585007992429671676,4), (297,-8286737015604248026,45), (298,-8587334176783433404,5), (299,-8602107732489665994,4),
        |  (300,-3703109161945365722,147), (301,-8585583039151275514,99), (302,-8586204402747702778,17), (303,-8605840458704223730,200),
        |  (304,-6271393727508085916,60), (305,5607556653006455744,183), (306,-8585215682015919354,4), (307,-7488589159799191026,22),
        |  (308,-8623338782398770492,3), (309,-516866327494491610,38), (310,-6304040349281794966,310), (311,-8587330025629154524,5),
        |  (312,-8586142707750002050,23), (313,-2023349795315511360,313), (314,-8286653310996282522,63), (315,-3685166521407765978,9),
        |  (316,-3901908146104038912,60), (317,-8622246952597159084,221), (318,-8602462758849150398,3), (319,-8603128908209716730,60),
        |  (320,-3975612258862232986,8), (321,-3973379290265550330,9), (322,-7452920732213468081,209), (323,-2876765709196590282,68),
        |  (324,-7405699035728436730,324), (325,-6009056214332995038,17), (326,-4018431530449714396,115), (327,-8603104873588325820,87),
        |  (328,-3975640708733992442,8), (329,-8586201042004180140,57), (330,-3974587647244883914,182), (331,-4027418929636538746,31),
        |  (332,-3687415435008571548,120), (333,-7433894372770283497,333), (334,-8639143686521484512,9), (335,-1382170133035445376,335),
        |  (336,-3973883966102961602,1), (337,-3973425484865920476,9), (338,-3881242140271443402,4), (339,-8305887770194963676,146),
        |  (340,-8585010333188095486,4), (341,-6279247594697227452,24), (342,-1694552390192032890,166), (343,-4190198035930662656,343),
        |  (344,-8586207574547725530,57), (345,5247163705241666500,155), (346,-8601908589885355194,47), (347,-8298682818607709582,96),
        |  (348,-6278111258285964800,48), (349,-8514195047626571210,4), (350,-6280361258326359296,60), (351,-4032505536647790010,65),
        |  (352,-8587344319347424476,5), (353,-3703145720509562080,59), (354,-8587896549256690940,12), (355,-8064909264766631410,303),
        |  (356,-7433287220983758034,10), (357,-6281526822239648906,105), (358,-3937372364649528542,107), (359,-3975683864834047228,8),
        |  (360,-5128550138040220892,66), (361,-3976216586539990138,10), (362,-6278118039772986849,2), (363,-8585048268485951166,4),
        |  (364,-7486766304825630190,125), (365,-6855111718402440960,365), (366,-3955381109896510974,34), (367,-8296774465919646972,9),
        |  (368,-8229022689815887326,14), (369,-8587330455462411468,5), (370,-8373418674790333602,346), (371,-523635172012195034,5),
        |  (372,7562601186116504199,372), (373,-3973392082901136842,9), (374,-8621104012129466538,9), (375,-8585120140401311164,4),
        |  (376,-8585006970152146338,4), (377,-8586134523596471426,57), (378,5229713356198511492,9), (379,-8639689742154989056,48),
        |  (380,635441402931913218,3), (381,-1667478580388685308,37), (382,5247759782345222692,60), (383,-8605275998934267360,18),
        |  (384,-8586209443160485042,57), (385,-7452918799268314368,114), (386,-8515803633273198590,320), (387,-8317746284420136158,26),
        |  (388,-6285406504785276330,341), (389,-8609883358495505302,310), (390,-8876170235664399872,9), (391,-3972209409893850538,1),
        |  (392,-2866003697638251970,40), (393,-8623360194907929834,26), (394,-4000981163973767146,394), (395,-8587930238719884798,13),
        |  (396,-8587330053613551074,5), (397,-8586129479258823578,10), (398,-8587259540987879370,5), (399,-8305822205304601626,60),
        |  (400,5284237293590184482,166), (401,-8621108150340091132,29), (402,1861407867120462370,15), (403,-8586779309974945280,48),
        |  (404,-3685653588148714716,77), (405,-8299136633507935451,9), (406,-7434448240879861178,22), (407,-3683979035899067578,96),
        |  (408,-8805338597020073422,22), (409,-3706029617098775706,23), (410,-2838489776362847674,65), (411,-5992166070759193754,0),
        |  (412,-8514181853755735260,12), (413,-9089513965694473722,45), (414,-6208906329720585440,22), (415,-8584551285127870654,202),
        |  (416,-8586182268626663610,37), (417,-8587333188890653920,5), (418,-3685303960365432064,39), (419,-9162174240373331454,238),
        |  (420,-8623371194319240442,177), (421,-3973395523186982138,9), (422,-6270225004426952154,129), (423,-3976239669840702970,31),
        |  (424,-8585075889354309116,4), (425,-3904327084640230768,337), (426,-8603077531876916666,57), (427,-8586239460485365122,9),
        |  (428,-8587259407843983338,5), (429,-3973325429303672282,9), (430,-8587892973436141002,4), (431,-4008330564018601164,179),
        |  (432,-8296288200661040606,366), (433,-8612700155050450926,121), (434,-3991898362540449278,3), (435,-3974527058343575244,77),
        |  (436,7562538372167926724,9), (437,-7413591469512949210,1), (438,-1667553750906780923,9), (439,-8290090620634725536,3),
        |  (440,-8585044160342129918,4), (441,-8583882234189839822,11), (442,-8503458456168029642,1), (443,-3993627739847119234,78),
        |  (444,-7461417205958923746,238), (445,-3636219553617018336,22), (446,5259018087584501254,44), (447,-3991969558065568986,31),
        |  (448,-8442237659470888322,42), (449,638332010479487524,65), (450,-8548630517273820908,92), (451,-8623355799323797692,80),
        |  (452,-8585011443361641626,4), (453,-8603091808348536314,26), (454,-8299518584965823616,454), (455,-7142804319210822890,141),
        |  (456,-8295704703582043358,193), (457,-3694172357279038684,115), (458,-7452423750675320222,5), (459,-6279235495841758412,9),
        |  (460,-6278649318639140318,14), (461,-3991895890719407614,17), (462,-7452423750675332510,1), (463,-8583882232243681722,11),
        |  (464,-8641352347582982396,80), (465,1789530511652160326,84), (466,-8603588789751504382,3), (467,5247195588662952790,38),
        |  (468,-8603034500596748466,87), (469,-8315004103510981824,84), (470,-8603058260492941562,67), (471,-1688413672624020878,57),
        |  (472,-6278090642177129952,22), (473,-7161942818027470026,166), (474,-2838532655160228346,45), (475,-8512505235962330586,12),
        |  (476,-5992131524491701472,411), (477,6355056091965078150,477), (478,-8623342357958065388,31), (479,-3685091756764675292,127),
        |  (480,-3993698808473009342,212), (481,-564836904126899706,481), (482,133774370819803908,46), (483,-7150118723677773262,483),
        |  (484,-5077337199190662490,484), (485,-2833947698123202042,17), (486,-8586213078918446796,38), (487,-8296778743641013468,54),
        |  (488,-4011708261323242946,7), (489,-8605834542251240704,31), (490,-8586204357819595908,57), (491,-3973360596420620476,9),
        |  (492,-1685567878966983585,492), (493,5229749640082229798,9), (494,-1672718837707177338,422), (495,-8594016299720037834,145),
        |  (496,-9160431497170877930,8), (497,-4011676672192378619,7), (498,-3973919835527839194,129), (499,-5136992246299811162,484))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(simhash AS BIGINT) AS simhash, CAST(cluster_id AS BIGINT) AS cluster_id
        |FROM r""".stripMargin,

    // Round-10 pinned frame: the `approx = true` sketch path of
    // dup_matrix (per-source HLL + pairwise inclusion-exclusion; the
    // per-gram self-join is GONE — PlanSpec pins that). Datasketches
    // HLL register maxima are order-blind, so the estimate reproduces
    // bit-stably on the fixed sf0.01 corpus; ScaleApproxSpec bands it
    // union-relative against the exact matrix.
    "dup_matrix_approx" ->
      """WITH r(source_a, source_b, n_shared) AS (VALUES
        |  ('src0', 'src12', 29),
        |  ('src0', 'src13', 73),
        |  ('src1', 'src5', 137),
        |  ('src10', 'src12', 18),
        |  ('src10', 'src18', 86),
        |  ('src10', 'src7', 86),
        |  ('src10', 'src9', 20),
        |  ('src11', 'src3', 36),
        |  ('src12', 'src17', 35),
        |  ('src12', 'src18', 31),
        |  ('src13', 'src18', 64),
        |  ('src13', 'src5', 72),
        |  ('src13', 'src7', 71),
        |  ('src14', 'src15', 24),
        |  ('src14', 'src7', 16),
        |  ('src15', 'src6', 28),
        |  ('src17', 'src6', 29),
        |  ('src18', 'src2', 52),
        |  ('src2', 'src3', 1),
        |  ('src3', 'src6', 54),
        |  ('src4', 'src6', 17),
        |  ('src5', 'src7', 71),
        |  ('src5', 'src8', 76))
        |SELECT CAST(source_a AS VARCHAR) AS source_a, CAST(source_b AS VARCHAR) AS source_b, CAST(n_shared AS BIGINT) AS n_shared FROM r""".stripMargin,

    // Cross-source duplication share over the row-64 closure: the
    // same recursive min-label CTE, joined to the source dim, one
    // bounded fold with exact ppm.
    "cross_source_dup_share" ->
      s"""WITH RECURSIVE $ShingleSetsCte,
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) >= 0.5),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |r AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN r ON r.node = e.b),
        |comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM r
        |         GROUP BY node),
        |per AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
        |  FROM comp JOIN documents d USING (doc_id) GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_components,
        |  CAST(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cross_source,
        |  CAST(SUM(CASE WHEN n_sources > 1 THEN n_docs ELSE 0 END) AS BIGINT)
        |    AS docs_in_cross,
        |  CASE WHEN SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) > 0
        |    THEN CAST((SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)
        |        * 1000000)
        |      // SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    ELSE NULL END AS cross_share_ppm
        |FROM per""".stripMargin,

    // Arrival-order 8-gram novelty: a gram is novel for its MIN
    // doc_id holder; distinct grams per doc; exact ppm.
    "ngram_novelty" ->
      """WITH t AS (SELECT doc_id, source,
        |        regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents),
        |g AS (SELECT doc_id, source,
        |        unnest(list_distinct(list_transform(
        |          generate_series(1, len(toks) - 7),
        |          i -> array_to_string(toks[i:i+7], ' ')))) AS gram
        |      FROM t WHERE len(toks) >= 8),
        |f AS (SELECT doc_id, source,
        |        MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
        |      FROM g),
        |s AS (SELECT doc_id, source,
        |        CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_novel
        |      FROM f GROUP BY 1, 2)
        |SELECT doc_id, source, n_grams, n_novel,
        |  CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novelty_ppm
        |FROM s ORDER BY doc_id""".stripMargin,

    // The acquisition curve: map-side arrival deciles off the 1-row
    // id bounds, per-decile novel-gram mass.
    "novelty_curve" ->
      """WITH t AS (SELECT doc_id,
        |        regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(
        |          generate_series(1, len(toks) - 7),
        |          i -> array_to_string(toks[i:i+7], ' ')))) AS gram
        |      FROM t WHERE len(toks) >= 8),
        |f AS (SELECT doc_id,
        |        MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
        |      FROM g),
        |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_novel
        |      FROM f GROUP BY 1),
        |b AS (SELECT MIN(doc_id) AS id0, MAX(doc_id) AS id1 FROM s),
        |d AS (SELECT LEAST(9, ((s.doc_id - b.id0) * 10)
        |          // (b.id1 - b.id0 + 1)) AS decile,
        |        s.n_grams, s.n_novel
        |      FROM s, b)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
        |  CAST((SUM(n_novel) * 1000000) // SUM(n_grams) AS BIGINT)
        |    AS novelty_ppm
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,
  )
}
