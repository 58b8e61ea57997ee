package graft

/**
 * Generators for the DuckDB oracle SQL registered in [[SparkEntry.oracleSql]].
 *
 * These describe the SAME semantics as the Spark operators in `graft.operators`,
 * expressed as a single DuckDB CTE chain per query (the reference materializes one
 * temp table per stage instead; py_duckdb/similarity_join/join/jaccard_join.py).
 *
 * All threshold arithmetic is CAST AS DOUBLE with the exact operand order of the
 * Spark side, so borderline `>=` comparisons evaluate identically (IEEE754 doubles
 * on both engines; see the float-sensitivity note in the reference's test.ipynb
 * cell 23).
 */
object DuckSql {

  private def d(x: Double): String = s"CAST($x AS DOUBLE)"

  /** Tokenizer CTE body → rows (id, len, token). Mirrors graft.operators.QGramsTokenizer
    * (reference template: py_duckdb/similarity_join/tokenizers/__init__.py:11-26). */
  def qgramsTokens(table: String, key: String, value: String, q: Int, set: Boolean = true): String = {
    val inner =
      s"list_transform(generate_series(1, len($value) + ${q - 1}), x -> " +
      s"substring(concat(repeat('#', ${q - 1}), lower($value), repeat('#', ${q - 1})), x, $q))"
    val tks = if (set) s"list_distinct($inner)" else inner
    s"SELECT $key AS id, len(tks) AS len, lower(unnest(tks)) AS token " +
    s"FROM (SELECT $key, $tks AS tks FROM $table)"
  }

  /** Tokenizer CTE body for delimiter splitting. Mirrors graft.operators.DelimiterTokenizer
    * (reference template: tokenizers/__init__.py:29-43). `sepClass` is the regex
    * character class, e.g. `[\t\n\r ]`. */
  def delimTokens(table: String, key: String, value: String, sepClass: String, set: Boolean = true): String = {
    val inner = s"list_filter(str_split_regex($value, '$sepClass'), x -> trim(x) != '')"
    val tks = if (set) s"list_distinct($inner)" else inner
    s"SELECT $key AS id, len(tks) AS len, lower(unnest(tks)) AS token " +
    s"FROM (SELECT $key, $tks AS tks FROM $table)"
  }

  val wsClass = "[\t\n\r ]"

  /** Filtered self-join pipeline over a tokens CTE (reference jaccard_join.py:111-188). */
  def selfJoin(tokensSql: String, keyAttr: String, t: Double,
               lPfx: String = "l_", rPfx: String = "r_"): String = {
    val T = d(t); val T1 = d(1 + t)
    s"""WITH tokens AS ($tokensSql),
dfreq AS (SELECT token, count(*) AS df FROM tokens GROUP BY token),
tkdf AS (
  SELECT id, len, tokens.token AS token,
         row_number() OVER (PARTITION BY id ORDER BY df, tokens.token) AS pos,
         concat(len, '_', id) AS l_id
  FROM tokens, dfreq WHERE tokens.token = dfreq.token),
cand AS (
  SELECT L.id AS lid, R.id AS rid,
         MAX(L.pos) AS lmaxpos, MAX(R.pos) AS rmaxpos, count(*) AS pfxoverlap
  FROM tkdf L, tkdf R
  WHERE L.l_id < R.l_id AND L.token = R.token
    AND L.len >= (R.len * $T)
    AND L.len - L.pos + 1 >= (L.len * 2 * $T / $T1)
    AND R.len - R.pos + 1 >= (R.len * $T)
    AND LEAST((L.len - L.pos + 1), (R.len - R.pos + 1)) >= ((L.len + R.len) * $T / $T1)
  GROUP BY L.id, R.id)
SELECT L.id AS $lPfx$keyAttr, R.id AS $rPfx$keyAttr
FROM tkdf L, tkdf R, cand c
WHERE c.lid = L.id AND c.rid = R.id AND L.token = R.token
  AND L.pos >= c.lmaxpos AND R.pos >= c.rmaxpos
GROUP BY L.id, R.id, L.len, R.len, c.pfxoverlap
HAVING count(*) + c.pfxoverlap - 1 >= ((L.len + R.len) * $T / $T1)"""
  }

  /** Brute-force self-join (reference jaccard_join.py:190-201). */
  def bruteSelf(tokensSql: String, keyAttr: String, t: Double,
                lPfx: String = "l_", rPfx: String = "r_"): String = {
    val T = d(t); val T1 = d(1 + t)
    s"""WITH tokens AS ($tokensSql)
SELECT L.id AS $lPfx$keyAttr, R.id AS $rPfx$keyAttr
FROM tokens L, tokens R
WHERE L.token = R.token AND L.id < R.id
GROUP BY L.id, L.len, R.id, R.len
HAVING count(*) >= ((L.len + R.len) * $T / $T1)"""
  }

  /**
   * Filtered R×S pipeline (reference jaccard_join.py:235-405). The widow
   * placeholder is computed in-query from the table cardinalities; the
   * indexing-side choice (`lIsIndexing`) is data-dependent in the engine
   * (widow-prefix counts, jaccard_join.py:341-353) and must be pinned here to the
   * value observed on the verification dataset, because it decides the OUTPUT
   * COLUMN PREFIXES.
   */
  def rsJoin(lTokensSql: String, rTokensSql: String,
             lCountSql: String, rCountSql: String,
             lKeyAttr: String, rKeyAttr: String, t: Double,
             lIsIndexing: Boolean,
             lPfx: String = "l_", rPfx: String = "r_",
             exactRecall: Boolean = false): String = {
    val T = d(t); val T1 = d(1 + t)
    val ph = s"(($lCountSql) * ($rCountSql) + 1)"
    val (rTk, sTk) = if (lIsIndexing) ("l_tkdf", "r_tkdf") else ("r_tkdf", "l_tkdf")
    val (rOutPfx, sOutPfx) = if (lIsIndexing) (lPfx, rPfx) else (rPfx, lPfx)
    val idxBound = if (exactRecall) s"(len * $T)" else s"(len * 2 * $T / $T1)"
    s"""WITH l_tokens AS ($lTokensSql),
r_tokens AS ($rTokensSql),
l_dfreq AS (SELECT token, count(*) AS df FROM l_tokens GROUP BY token),
r_dfreq AS (SELECT token, count(*) AS df FROM r_tokens GROUP BY token),
dfreq AS (
  SELECT coalesce(l_dfreq.token, r_dfreq.token) AS token,
         coalesce(l_dfreq.df * r_dfreq.df, $ph) AS df
  FROM l_dfreq FULL OUTER JOIN r_dfreq ON l_dfreq.token = r_dfreq.token),
l_tkdf AS (
  SELECT id, len, l_tokens.token AS token, df,
         row_number() OVER (PARTITION BY id ORDER BY df, l_tokens.token) AS pos
  FROM l_tokens, dfreq WHERE l_tokens.token = dfreq.token),
r_tkdf AS (
  SELECT id, len, r_tokens.token AS token, df,
         row_number() OVER (PARTITION BY id ORDER BY df, r_tokens.token) AS pos
  FROM r_tokens, dfreq WHERE r_tokens.token = dfreq.token),
rpfx AS (SELECT * FROM $rTk WHERE len - pos + 1 >= $idxBound),
spfx AS (SELECT * FROM $sTk WHERE len - pos + 1 >= (len * $T)),
cand AS (
  SELECT Rp.id AS rid, Sp.id AS sid,
         MAX(Rp.pos) AS rmaxpos, MAX(Sp.pos) AS smaxpos, count(*) AS pfxoverlap
  FROM rpfx Rp, spfx Sp
  WHERE Rp.token = Sp.token
    AND Rp.len >= (Sp.len * $T)
    AND Sp.len >= (Rp.len * $T)
    AND LEAST((Rp.len - Rp.pos + 1), (Sp.len - Sp.pos + 1)) >= ((Rp.len + Sp.len) * $T / $T1)
  GROUP BY Rp.id, Sp.id)
SELECT R.id AS $rOutPfx$lKeyAttr, S.id AS $sOutPfx$rKeyAttr
FROM $rTk R, $sTk S, cand c
WHERE c.rid = R.id AND c.sid = S.id AND R.token = S.token
  AND R.pos >= c.rmaxpos AND S.pos >= c.smaxpos
GROUP BY R.id, S.id, R.len, S.len, c.pfxoverlap
HAVING count(*) + c.pfxoverlap - 1 >= ((R.len + S.len) * $T / $T1)"""
  }

  /** Brute-force R×S (reference jaccard_join.py:407-420). */
  def bruteRs(lTokensSql: String, rTokensSql: String,
              lKeyAttr: String, rKeyAttr: String, t: Double,
              lPfx: String = "l_", rPfx: String = "r_"): String = {
    val T = d(t); val T1 = d(1 + t)
    s"""WITH l_tokens AS ($lTokensSql),
r_tokens AS ($rTokensSql)
SELECT L.id AS $lPfx$lKeyAttr, R.id AS $rPfx$rKeyAttr
FROM l_tokens L, r_tokens R
WHERE L.token = R.token
GROUP BY L.id, L.len, R.id, R.len
HAVING count(*) >= ((L.len + R.len) * $T / $T1)"""
  }

  /** E1 confusion-matrix counts: one-pass tp/fp/fn over the symmetric full-outer
    * join (reference similarity_join/__init__.py:15-42). `gtSql`/`sjSql` must
    * produce pair tables with columns (gk1, gk2) / (sk1, sk2). */
  def evalCounts(gtSql: String, sjSql: String): String =
    s"""WITH gt AS ($gtSql),
sj AS ($sjSql),
cm AS (
  SELECT gt.gk1, gt.gk2, sj.sk1, sj.sk2
  FROM gt FULL OUTER JOIN sj
    ON (gt.gk1 = sj.sk1 AND gt.gk2 = sj.sk2) OR (gt.gk1 = sj.sk2 AND gt.gk2 = sj.sk1))
SELECT coalesce(sum(CASE WHEN sk1 IS NOT NULL AND sk2 IS NOT NULL THEN 1 END), 0)::BIGINT AS tp,
       coalesce(sum(CASE WHEN gk1 IS NULL THEN 1 END), 0)::BIGINT AS fp,
       coalesce(sum(CASE WHEN sk1 IS NULL THEN 1 END), 0)::BIGINT AS fn
FROM cm"""

  /** E1 counts via the orientation-normalized equi-join (mirrors
    * Evaluate.countsNormalized, including the reference's literal tp
    * counting where unmatched-SJ rows land in tp too). Same column contract
    * as [[evalCounts]]: gtSql → (gk1, gk2), sjSql → (sk1, sk2). */
  def evalCountsNorm(gtSql: String, sjSql: String): String =
    s"""WITH gt AS (SELECT least(gk1, gk2) AS k1, greatest(gk1, gk2) AS k2 FROM ($gtSql)),
sj AS (SELECT least(sk1, sk2) AS k1, greatest(sk1, sk2) AS k2 FROM ($sjSql)),
cm AS (
  SELECT gt.k1 AS g1, sj.k1 AS s1
  FROM gt FULL OUTER JOIN sj ON gt.k1 = sj.k1 AND gt.k2 = sj.k2)
SELECT coalesce(sum(CASE WHEN s1 IS NOT NULL THEN 1 END), 0)::BIGINT AS tp,
       coalesce(sum(CASE WHEN g1 IS NULL THEN 1 END), 0)::BIGINT AS fp,
       coalesce(sum(CASE WHEN s1 IS NULL THEN 1 END), 0)::BIGINT AS fn
FROM cm"""

  /** One row of the quality sweep: tagged counts + precision/recall/F1 with
    * the reference's tp>0 guard (similarity_join/__init__.py:46-62). */
  def evalSweepRow(t: Double, gtSql: String, sjSql: String): String =
    s"""SELECT threshold, tp, fp, fn, pr, rc,
  CASE WHEN tp > 0 THEN (2 * pr * rc / (pr + rc)) ELSE CAST(0 AS DOUBLE) END AS f1
FROM (
  SELECT ${d(t)} AS threshold, tp, fp, fn,
    CASE WHEN tp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE CAST(0 AS DOUBLE) END AS pr,
    CASE WHEN tp > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE CAST(0 AS DOUBLE) END AS rc
  FROM (${evalCountsNorm(gtSql, sjSql)}))"""

  // -------------------------------------------------------------------------
  // Text-analysis / dedup / ANN oracles (graft.operators.*)
  // -------------------------------------------------------------------------

  /** Whitespace bag tokens as a list expression over `$text` (case kept). */
  private def wsBagExpr(text: String): String =
    s"list_filter(str_split_regex($text, '$wsClass'), x -> trim(x) != '')"

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val stopEs = Seq("el", "la", "de", "y", "en", "es", "los", "que", "un", "por")
  val stopFr = Seq("le", "la", "de", "et", "en", "est", "les", "que", "un", "pour")
  val stopDe = Seq("der", "die", "das", "und", "in", "ist", "von", "den", "mit", "zu")

  /** Mirrors TextAnalysis.stats. */
  def textStats(table: String, key: String, text: String): String =
    s"""SELECT $key AS id,
  CAST(length($text) AS BIGINT) AS n_chars,
  CAST(len(tks) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(list_transform(tks, x -> lower(x)))) AS BIGINT) AS n_distinct_tokens,
  CASE WHEN len(tks) != 0 THEN list_sum(list_transform(tks, x -> len(x))) / len(tks) END AS avg_token_len,
  CASE WHEN length($text) != 0 THEN CAST(length(regexp_replace($text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) / CAST(length($text) AS BIGINT) END AS punct_ratio,
  CASE WHEN len(tks) != 0 THEN len(list_filter(tks, x -> list_contains(${sqlList(stopEn)}, lower(x)))) / len(tks) END AS stopword_ratio
FROM (SELECT $key, $text, ${wsBagExpr(text)} AS tks FROM $table)"""

  /** Mirrors TextAnalysis.languageId. */
  def langId(table: String, key: String, text: String): String =
    s"""SELECT id, s_en, s_es, s_fr, s_de,
  CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
       WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
       ELSE 'de' END AS lang_pred
FROM (
  SELECT $key AS id,
    CAST(len(list_intersect(tks, ${sqlList(stopEn)})) AS BIGINT) AS s_en,
    CAST(len(list_intersect(tks, ${sqlList(stopEs)})) AS BIGINT) AS s_es,
    CAST(len(list_intersect(tks, ${sqlList(stopFr)})) AS BIGINT) AS s_fr,
    CAST(len(list_intersect(tks, ${sqlList(stopDe)})) AS BIGINT) AS s_de
  FROM (SELECT $key, list_distinct(list_transform(${wsBagExpr(text)}, x -> lower(x))) AS tks FROM $table))"""

  /** Mirrors TextAnalysis.tokenCounts. */
  def tokenCounts(table: String, key: String, text: String): String =
    s"""SELECT $key AS id,
  CAST(len(${wsBagExpr(text)}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower($text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens
FROM $table"""

  /** Mirrors Packing.packBins over whitespace token counts: the sequential
    * window form of the prefix sum (the distributed two-pass scan must
    * reproduce it exactly). `//` is DuckDB's integer floor division. */
  def packBins(table: String, key: String, text: String, budget: Long): String =
    s"""WITH t AS (${tokenCounts(table, key, text)}),
c AS (SELECT id, n_ws_tokens,
  sum(n_ws_tokens) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
FROM t)
SELECT id, n_ws_tokens AS n_tokens,
  CAST((cum - n_ws_tokens) // $budget AS BIGINT) AS bin_id,
  CAST((cum - n_ws_tokens) % $budget AS BIGINT) AS bin_offset
FROM c"""

  /** Mirrors Packing.packedSequences over the packBins assignment: member
    * docs per bin concatenated in key order behind the separator. */
  def packedSequences(table: String, key: String, text: String,
                      budget: Long, sep: String): String =
    s"""WITH b AS (${packBins(table, key, text, budget)})
SELECT b.bin_id, count(*) AS n_docs, CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
  string_agg(d.$text, '$sep' ORDER BY b.id) AS seq_text
FROM b JOIN $table d ON b.id = d.$key
GROUP BY b.bin_id"""

  /** Mirrors TextAnalysis.winnowingFingerprints (md5-prefix gram hashes,
    * window minima, distinct per doc). */
  def winnowing(table: String, key: String, text: String, k: Int, w: Int): String =
    s"""SELECT DISTINCT id, fingerprint FROM (
  SELECT id, unnest(fps) AS fingerprint FROM (
    SELECT id, list_distinct(list_transform(
      CASE WHEN len(gh) >= 1 THEN generate_series(1, greatest(len(gh) - ${w - 1}, 1)) ELSE [] END,
      j -> list_min(gh[j : j + ${w - 1}]))) AS fps
    FROM (
      SELECT $key AS id, list_transform(
        CASE WHEN length(lower($text)) - ${k - 1} >= 1
             THEN generate_series(1, length(lower($text)) - ${k - 1}) ELSE [] END,
        i -> substring(md5(substring(lower($text), i, $k)), 1, 16)) AS gh
      FROM $table)))
WHERE fingerprint IS NOT NULL"""

  /** Mirrors TextAnalysis.winnowingOverlapPairs: shared-fingerprint pair
    * counts with the over-common-fingerprint drop. */
  def winnowingOverlap(table: String, key: String, text: String,
                       k: Int, w: Int, minShared: Int, maxDocFreq: Int): String =
    s"""WITH fps AS (${winnowing(table, key, text, k, w)}),
keep AS (SELECT fingerprint FROM fps GROUP BY fingerprint HAVING count(*) <= $maxDocFreq),
kept AS (SELECT fps.id, fps.fingerprint FROM fps JOIN keep USING (fingerprint))
SELECT a.id AS lid, b.id AS rid, count(*) AS n_shared
FROM kept a, kept b
WHERE a.fingerprint = b.fingerprint AND a.id < b.id
GROUP BY 1, 2
HAVING count(*) >= $minShared"""

  /** Mirrors TextAnalysis.bm25TopK with lnIdf=false (the rational idf — `ln`
    * is not bit-identical across engines; +,-,*,/ are). The per-doc score is
    * a token-ordered sequential fold on both sides (list_sum over an ORDER BY
    * list here, aggregate over a sorted collect_list in Spark). */
  def bm25TopK(table: String, key: String, text: String,
               terms: Seq[String], k: Int, k1: Double, b: Double): String = {
    val toksSql = delimTokens(table, key, text, wsClass, set = false)
    val inList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS ($toksSql),
stats AS (
  SELECT count(*) AS n, CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
  FROM (SELECT DISTINCT id, len FROM toks)),
tf AS (
  SELECT id, token, count(*) AS tf, min(len) AS len
  FROM toks WHERE token IN $inList GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.id AS id, tf.token AS token,
    (((s.n - d.df) + 0.5) / (d.df + 0.5) + 1.0) *
    ((tf.tf * ${d(k1 + 1)}) / (tf.tf + ${d(k1)} * (${d(1 - b)} + (${d(b)} * tf.len) / s.avgdl))) AS c
  FROM tf JOIN dfreq d USING (token), stats s),
score AS (SELECT id, list_sum(list(c ORDER BY token)) AS score FROM contrib GROUP BY id)
SELECT id, score FROM score ORDER BY score DESC, id LIMIT $k"""
  }

  /** Mirrors TextAnalysis.fingerprint. */
  def fingerprint(table: String, key: String, text: String): String =
    s"""SELECT $key AS id, md5(trim(regexp_replace(lower($text), '\\s+', ' ', 'g'))) AS fingerprint
FROM $table"""

  /** Mirrors Dedup.exact. */
  def dedupExact(table: String, key: String, content: String): String =
    s"""SELECT md5($content) AS content_hash, count(*) AS n_copies, min($key) AS keep_id
FROM $table GROUP BY md5($content)"""

  /** Mirrors Dedup.nearDuplicateDropIds over a self-join result. */
  def nearDropIds(selfJoinSql: String, keyAttr: String): String =
    s"""SELECT DISTINCT greatest(l_$keyAttr, r_$keyAttr) AS drop_id FROM ($selfJoinSql)"""

  /** Mirrors Dedup.clusterIds over a pair-producing subquery: min reachable
    * id per node via a recursive-CTE transitive closure (the fixpoint the
    * min-label propagation loop converges to). `pairsSql` must produce
    * columns (l, r). */
  def clusterIds(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSql),
edges AS (SELECT l AS a, r AS b FROM pairs UNION SELECT r AS a, l AS b FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.a, edges.b FROM reach JOIN edges ON reach.b = edges.a)
SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a"""

  /** Mirrors FuzzyJoin.selfJoin: the length-band necessary condition, then
    * the exact Levenshtein bound (DuckDB has no thresholded variant; the
    * plain call is exact so results agree wherever dist <= maxDist). */
  def fuzzySelfJoin(table: String, key: String, text: String, maxDist: Int): String =
    s"""SELECT a.$key AS lid, b.$key AS rid,
  CAST(levenshtein(a.$text, b.$text) AS BIGINT) AS dist
FROM $table a, $table b
WHERE a.$key < b.$key
  AND abs(length(a.$text) - length(b.$text)) <= $maxDist
  AND levenshtein(a.$text, b.$text) <= $maxDist"""

  /** Mirrors Dedup.cascadeKeepIds: fingerprint-exact stage, then the
    * prefix-filtered near-dup join over the survivors. */
  def dedupCascade(table: String, key: String, text: String,
                   sepClass: String, t: Double): String = {
    val survTokens = delimTokens("surv", "id", "txt", sepClass)
    s"""WITH fpt AS (
  SELECT $key AS id, $text AS txt,
         md5(trim(regexp_replace(lower($text), '\\s+', ' ', 'g'))) AS fp
  FROM $table),
keep AS (SELECT fp, min(id) AS id FROM fpt GROUP BY fp),
surv AS (SELECT fpt.id, fpt.txt FROM fpt JOIN keep ON fpt.fp = keep.fp AND fpt.id = keep.id),
drops AS (${nearDropIds(selfJoin(survTokens, "id", t), "id")})
SELECT id FROM surv WHERE id NOT IN (SELECT drop_id FROM drops)"""
  }

  /** md5-derived 60-bit token hash — first 15 hex chars of md5('<i>:' || token)
    * parsed as hex. Bit-identical to Dedup.Md5Family.tokenHash on Spark
    * (`conv(substring(md5(concat('<i>:', token)), 1, 15), 16, 10)`). */
  private def md5TokenHash(i: Int, token: String): String =
    s"CAST(('0x' || substring(md5('$i:' || $token), 1, 15)) AS BIGINT)"

  /**
   * Mirrors Dedup.minHashPairs with the Md5Family: per-band min-hash signature
   * chunks joined on a concat'd band key, then exact multiset-Jaccard
   * verification with the reference threshold operand order. Output
   * (lid, rid, jaccard).
   */
  def minHashMd5(tokensSql: String, t: Double, bands: Int, rowsPerBand: Int): String = {
    val T = d(t); val T1 = d(1 + t)
    val n = bands * rowsPerBand
    val mins = (0 until n)
      .map(i => s"    min(${md5TokenHash(i, "token")}) AS h$i").mkString(",\n")
    // band key = '<band>_' || h.. joined by '_' — same string Spark's
    // Md5Family.bandKey builds via concat + array_join
    val bandSelects = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"h$i").mkString(s"'${b}_' || ", " || '_' || ", "")
      s"  SELECT id, $key AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""WITH tokens AS ($tokensSql),
sigs AS (
  SELECT id,
$mins
  FROM tokens GROUP BY id),
banded AS (
$bandSelects),
cand AS (
  SELECT DISTINCT a.id AS lid, b.id AS rid
  FROM banded a, banded b
  WHERE a.bucket = b.bucket AND a.id < b.id),
ver AS (
  SELECT c.lid, c.rid, L.len AS llen, R.len AS rlen, count(*) AS overlap
  FROM cand c, tokens L, tokens R
  WHERE L.id = c.lid AND R.id = c.rid AND L.token = R.token
  GROUP BY 1, 2, 3, 4)
SELECT lid, rid, CAST(overlap AS DOUBLE) / (llen + rlen - overlap) AS jaccard
FROM ver WHERE overlap >= ((llen + rlen) * $T / $T1)"""
  }

  /**
   * Mirrors Dedup.minHashPairsRs with the Md5Family: both sides banded with
   * the same hash family and geometry, candidates where a corpus bucket meets
   * an incoming bucket (no id-order constraint — independent id spaces), then
   * exact multiset-Jaccard verification against the two token tables.
   * Output (lid, rid, jaccard) with lid from the corpus side.
   */
  def minHashMd5Rs(lTokensSql: String, rTokensSql: String, t: Double,
                   bands: Int, rowsPerBand: Int): String = {
    val T = d(t); val T1 = d(1 + t)
    val n = bands * rowsPerBand
    val mins = (0 until n)
      .map(i => s"    min(${md5TokenHash(i, "token")}) AS h$i").mkString(",\n")
    def bandSelects(src: String) = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"h$i").mkString(s"'${b}_' || ", " || '_' || ", "")
      s"  SELECT id, $key AS bucket FROM $src"
    }.mkString("\n  UNION ALL\n")
    s"""WITH ltokens AS ($lTokensSql),
rtokens AS ($rTokensSql),
lsigs AS (
  SELECT id,
$mins
  FROM ltokens GROUP BY id),
rsigs AS (
  SELECT id,
$mins
  FROM rtokens GROUP BY id),
lbanded AS (
${bandSelects("lsigs")}),
rbanded AS (
${bandSelects("rsigs")}),
cand AS (
  SELECT DISTINCT a.id AS lid, b.id AS rid
  FROM lbanded a, rbanded b
  WHERE a.bucket = b.bucket),
ver AS (
  SELECT c.lid, c.rid, L.len AS llen, R.len AS rlen, count(*) AS overlap
  FROM cand c, ltokens L, rtokens R
  WHERE L.id = c.lid AND R.id = c.rid AND L.token = R.token
  GROUP BY 1, 2, 3, 4)
SELECT lid, rid, CAST(overlap AS DOUBLE) / (llen + rlen - overlap) AS jaccard
FROM ver WHERE overlap >= ((llen + rlen) * $T / $T1)"""
  }

  /**
   * Mirrors Dedup.incrementalKeepIds on the md5 family: drop incoming ids
   * near-dup'd by the corpus ([[minHashMd5Rs]]), then collapse within-batch
   * clusters of the survivors to their min-id representative
   * ([[minHashMd5]] + [[clusterIds]]). `corpusTable` / `incomingTable` may be
   * parenthesized subqueries. Output: one `key` column of surviving ids.
   */
  def incrementalKeep(corpusTable: String, incomingTable: String, key: String,
                      text: String, sepClass: String, t: Double,
                      bands: Int, rowsPerBand: Int): String = {
    val corpusTok = delimTokens(corpusTable, key, text, sepClass)
    val incomingTok = delimTokens(incomingTable, key, text, sepClass)
    val rs = minHashMd5Rs(corpusTok, incomingTok, t, bands, rowsPerBand)
    val survivorsTable =
      s"(SELECT * FROM $incomingTable i WHERE i.$key NOT IN (SELECT rid FROM ($rs)))"
    val survTok = delimTokens(survivorsTable, key, text, sepClass)
    val selfPairs = minHashMd5(survTok, t, bands, rowsPerBand)
    val clusters = clusterIds(s"SELECT lid AS l, rid AS r FROM ($selfPairs)")
    s"""SELECT s.$key AS $key FROM $survivorsTable s
WHERE s.$key NOT IN (SELECT id FROM ($clusters) WHERE cluster_id != id)"""
  }

  /**
   * Mirrors Dedup.incrementalKeepIdsSimHash on the md5 family — the
   * Hamming-side [[incrementalKeep]]: drop incoming ids within Hamming
   * `maxHamming` of the corpus ([[simHashMd5Rs]]), then collapse
   * within-batch clusters of the survivors to their min-id representative
   * ([[simHashMd5]] + [[clusterIds]]). Because the stored-index bucket is a
   * lossless (band, bandval) encoding, this single oracle also checks the
   * INDEXED operator (indexed == direct is an equality). Output: one `key`
   * column of surviving ids.
   */
  def incrementalKeepSimHash(corpusTable: String, incomingTable: String,
                             key: String, text: String, sepClass: String,
                             maxHamming: Int): String = {
    val corpusTok = delimTokens(corpusTable, key, text, sepClass)
    val incomingTok = delimTokens(incomingTable, key, text, sepClass)
    val rs = simHashMd5Rs(corpusTok, incomingTok, maxHamming)
    val survivorsTable =
      s"(SELECT * FROM $incomingTable i WHERE i.$key NOT IN (SELECT rid FROM ($rs)))"
    val survTok = delimTokens(survivorsTable, key, text, sepClass)
    val selfPairs = simHashMd5(survTok, maxHamming)
    val clusters = clusterIds(s"SELECT lid AS l, rid AS r FROM ($selfPairs)")
    s"""SELECT s.$key AS $key FROM $survivorsTable s
WHERE s.$key NOT IN (SELECT id FROM ($clusters) WHERE cluster_id != id)"""
  }

  /**
   * Mirrors Dedup.simHashPairs with the Md5Family: 60-bit SimHash from
   * per-bit sign sums, 4×15-bit pigeonhole banding, Hamming ≤ maxHamming.
   * Output (lid, rid, hamming) with hamming as BIGINT.
   */
  def simHashMd5(tokensSql: String, maxHamming: Int): String = {
    val bits = 60
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1L
    val bitSums = (0 until bits)
      .map(i => s"    sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n")
    val orChain = (0 until bits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    val bandSelects = (0 until 4).map { b =>
      s"  SELECT id, simhash, $b AS band, ((simhash >> ${b * bandBits}) & $bandMask) AS bandval FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""WITH tokens AS ($tokensSql),
th AS (SELECT id, ${md5TokenHash(0, "token")} AS h FROM tokens),
bitsums AS (
  SELECT id,
$bitSums
  FROM th GROUP BY id),
sigs AS (SELECT id, ($orChain) AS simhash FROM bitsums),
banded AS (
$bandSelects)
SELECT lid, rid, hamming FROM (
  SELECT DISTINCT a.id AS lid, b.id AS rid,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM banded a, banded b
  WHERE a.band = b.band AND a.bandval = b.bandval AND a.id < b.id)
WHERE hamming <= $maxHamming"""
  }

  /**
   * Mirrors Dedup.simHashPairsRs with the Md5Family: both sides get the same
   * 60-bit SimHash and 4×15-bit pigeonhole banding; candidates where a corpus
   * band window meets an incoming one (no id-order constraint — independent
   * id spaces). Output (lid, rid, hamming) with lid from the corpus side and
   * hamming as BIGINT.
   */
  def simHashMd5Rs(lTokensSql: String, rTokensSql: String, maxHamming: Int): String = {
    val bits = 60
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1L
    val bitSums = (0 until bits)
      .map(i => s"    sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n")
    val orChain = (0 until bits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    def bandSelects(src: String) = (0 until 4).map { b =>
      s"  SELECT id, simhash, $b AS band, ((simhash >> ${b * bandBits}) & $bandMask) AS bandval FROM $src"
    }.mkString("\n  UNION ALL\n")
    s"""WITH ltokens AS ($lTokensSql),
rtokens AS ($rTokensSql),
lth AS (SELECT id, ${md5TokenHash(0, "token")} AS h FROM ltokens),
rth AS (SELECT id, ${md5TokenHash(0, "token")} AS h FROM rtokens),
lbitsums AS (
  SELECT id,
$bitSums
  FROM lth GROUP BY id),
rbitsums AS (
  SELECT id,
$bitSums
  FROM rth GROUP BY id),
lsigs AS (SELECT id, ($orChain) AS simhash FROM lbitsums),
rsigs AS (SELECT id, ($orChain) AS simhash FROM rbitsums),
lbanded AS (
${bandSelects("lsigs")}),
rbanded AS (
${bandSelects("rsigs")})
SELECT lid, rid, hamming FROM (
  SELECT DISTINCT a.id AS lid, b.id AS rid,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM lbanded a, rbanded b
  WHERE a.band = b.band AND a.bandval = b.bandval)
WHERE hamming <= $maxHamming"""
  }

  /** Mirrors Bpe.tokenCounts with ZERO merges — character-level
    * tokenization, so the model-token count per document is exactly its
    * non-whitespace character count (the end-of-word marker rides the last
    * character of each word, adding no symbol). The learned-merges form has
    * no SQL expression (iterative greedy merging); this twin hash-checks the
    * pre-merge tokenization + counting machinery. */
  def bpeTokenCounts0(table: String, key: String, text: String): String =
    s"""SELECT $key AS id,
  coalesce(CAST(length(regexp_replace($text, '$wsClass', '', 'g')) AS BIGINT), 0) AS n_tokens
FROM $table"""

  /** Mirrors Packing.packBins ∘ Bpe.tokenCounts with ZERO merges: the
    * [[packBins]] sequential-window prefix-sum form over [[bpeTokenCounts0]]
    * counts — the deterministic twin that hash-checks the BPE-budget packing
    * composition (the learned-merges `bpe_pack_docs` stays rows-only for the
    * same reason its count does). */
  def bpePackBins0(table: String, key: String, text: String, budget: Long): String =
    s"""WITH t AS (${bpeTokenCounts0(table, key, text)}),
c AS (SELECT id, n_tokens,
  sum(n_tokens) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
FROM t)
SELECT id, n_tokens,
  CAST((cum - n_tokens) // $budget AS BIGINT) AS bin_id,
  CAST((cum - n_tokens) % $budget AS BIGINT) AS bin_offset
FROM c"""

  /** Mirrors Bpe.tokenCountsBytes with ZERO merges — the GPT-2
    * pre-tokenization pattern PARTITIONS the text and every UTF-8 byte is
    * one symbol, so the byte-level model-token count per document is exactly
    * its UTF-8 byte length. Hash-checks the pre-tokenize + byte-alphabet
    * machinery; only the learned merge application stays rows-only. */
  def bpeByteCounts0(table: String, key: String, text: String): String =
    s"""SELECT $key AS id,
  coalesce(CAST(octet_length(encode($text)) AS BIGINT), 0) AS n_tokens
FROM $table"""

  /** Mirrors Bpe.chunkBpe with ZERO merges: symbols are single characters
    * (word-final ones decode to char+space), so windows and their decoded
    * text are list-slice expressible. Same window-count rule as the engine;
    * rtrim == the decode's strip-one-trailing-space because no symbol can
    * decode to more than one trailing space. Hash-checks the whole chunk
    * machinery (tokenize → window → decode); only the merge APPLICATION
    * stays rows-only. */
  def bpeChunk0(table: String, key: String, text: String,
                maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH base AS (
  SELECT $key AS id, ${wsBagExpr(text)} AS tks FROM $table),
syms AS (
  SELECT id, flatten(list_transform(tks, w ->
    list_transform(range(1, len(w) + 1),
      i -> CASE WHEN i = len(w) THEN w[i:i] || ' ' ELSE w[i:i] END))) AS ss
  FROM base),
wins AS (
  SELECT id, ss,
    CASE WHEN len(ss) <= $maxTokens THEN 1
         ELSE 1 + CAST(ceil((len(ss) - $maxTokens) / CAST($stride AS DOUBLE)) AS BIGINT)
    END AS nwin
  FROM syms WHERE len(ss) >= 1)
SELECT id, CAST(k AS BIGINT) AS chunk_idx,
  CAST(len(ss[k*$stride+1 : k*$stride+$maxTokens]) AS BIGINT) AS n_tokens,
  rtrim(array_to_string(ss[k*$stride+1 : k*$stride+$maxTokens], '')) AS chunk_text
FROM (SELECT id, ss, unnest(generate_series(0, nwin - 1)) AS k FROM wins)"""
  }

  /** Mirrors Bpe.chunkBpeBytes with ZERO merges: every token is one byte and
    * the GPT-2 pattern partitions the text, so window k is exactly the
    * document's UTF-8 byte slice [k·stride, k·stride+maxTokens) — sliced on
    * the HEX encoding (2 chars per byte; DuckDB 1.0 has no blob substring),
    * which also sidesteps mid-code-point cuts: the payload is bytes-as-hex
    * on both engines. Only the learned merge application stays rows-only
    * (and would anyway: the pattern's `\\s+(?!\\S)` lookahead is not
    * RE2-expressible, so DuckDB cannot replay the pre-tokenizer itself —
    * the zero-merges form is oracle-able precisely because the slice
    * boundaries don't depend on pre-token boundaries). */
  def bpeByteChunk0(table: String, key: String, text: String,
                    maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH b AS (
  SELECT $key AS id, lower(hex(encode($text))) AS hx,
         octet_length(encode($text)) AS n
  FROM $table WHERE $text IS NOT NULL),
wins AS (
  SELECT id, hx, n,
    CASE WHEN n <= $maxTokens THEN 1
         ELSE 1 + CAST(ceil((n - $maxTokens) / CAST($stride AS DOUBLE)) AS BIGINT)
    END AS nwin
  FROM b WHERE n >= 1)
SELECT id, CAST(k AS BIGINT) AS chunk_idx,
  CAST(length(substring(hx, k*$stride*2+1, ${2 * maxTokens})) // 2 AS BIGINT) AS n_tokens,
  substring(hx, k*$stride*2+1, ${2 * maxTokens}) AS chunk_hex
FROM (SELECT id, hx, unnest(generate_series(0, nwin - 1)) AS k FROM wins)"""
  }

  /** Double-precision sequential-fold cosine between two embedding columns
    * (matches Spark's zip_with + aggregate fold). */
  private def cosExpr(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
 / (sqrt(list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
  * sqrt(list_sum(list_transform(generate_series(1, len($b)), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))"""

  /** Double-precision sequential-fold squared-L2 distance (matches Spark's
    * zip_with + aggregate fold — the cosExpr rule). */
  private def l2Expr(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
 i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"""

  /** The PQ sample/codebook/encode CTE chain shared by [[annPqCodes]] and
    * [[annPqTopK]] — mirrors Similarity.pqCodebooks + pqEncode: md5-sample
    * codes, per-block slices, argmin by (squared-L2, code). */
  private def pqEncCtes(table: String, key: String, vec: String,
                        dim: Int, m: Int, k: Int): String = {
    val bd = dim / m
    s"""samp AS (
  SELECT sid, sv, CAST(rn - 1 AS INT) AS code FROM (
    SELECT $key AS sid, $vec AS sv,
      row_number() OVER (ORDER BY md5(CAST($key AS VARCHAR)), $key) AS rn
    FROM $table) WHERE rn <= $k),
cb AS (
  SELECT CAST(j AS INT) AS j, code, sv[j*$bd+1 : j*$bd+$bd] AS cvec
  FROM samp, range(0, $m) t(j)),
enc AS (
  SELECT id, j, code FROM (
    SELECT e.$key AS id, c.j, c.code,
      row_number() OVER (PARTITION BY e.$key, c.j
        ORDER BY ${l2Expr(s"e.$vec[c.j*$bd+1 : c.j*$bd+$bd]", "c.cvec")}, c.code) AS rn
    FROM $table e, cb c)
  WHERE rn = 1)"""
  }

  /** Mirrors Similarity.pqEncode ∘ pqCodebooks: per-document PQ codes. */
  def annPqCodes(table: String, key: String, vec: String,
                 dim: Int, m: Int, k: Int): String =
    s"""WITH ${pqEncCtes(table, key, vec, dim, m, k)}
SELECT id, array_to_string(list(code ORDER BY j), ',') AS pq_codes_csv
FROM enc GROUP BY id"""

  /** Mirrors Similarity.pqTopK: ADC ranking against the reconstructed
    * vectors (per-block codebook entries concatenated in block order). */
  def annPqTopK(table: String, key: String, vec: String, queryPred: String,
                kNN: Int, dim: Int, m: Int, k: Int): String =
    s"""WITH ${pqEncCtes(table, key, vec, dim, m, k)},
recon AS (
  SELECT id, flatten(list(cvec ORDER BY j)) AS rv
  FROM enc JOIN cb USING (j, code)
  GROUP BY id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.$key AS query_id, r.id AS neighbor_id,
    row_number() OVER (PARTITION BY q.$key
      ORDER BY ${l2Expr(s"q.$vec", "r.rv")}, r.id) AS rank
  FROM $table q JOIN recon r ON r.id != q.$key
  WHERE $queryPred)
WHERE rank <= $kNN"""

  /** Mirrors Similarity.pqTopKIvfIndexed ∘ pqIvfIndex ∘ pqResidualCodebooks:
    * the IVF-PQ composition — md5-sample centroids, nearest-centroid list
    * assignment (the [[annTopKIvf]] CTEs), per-row RESIDUAL `v − cvec(cid)`
    * in DOUBLE, residual-space codebooks (md5-sample of residuals, sliced
    * per block), residual encode by per-block (L2², code) argmin, ABSOLUTE
    * reconstruction `cvec + concatenated codewords`, then ADC ranking ONLY
    * within each query's nProbe nearest lists. Every arithmetic form (the
    * double subtraction/addition element-wise, the ordered L2 folds) is the
    * exact IEEE sequence the Spark side computes, so the whole composition
    * hash-matches. */
  def annPqIvfTopK(table: String, key: String, vec: String, queryPred: String,
                   kNN: Int, nCentroids: Int, nProbe: Int,
                   dim: Int, m: Int, k: Int): String =
    s"""WITH ${pqIvfCtes(table, key, vec, queryPred, nCentroids, nProbe, dim, m, k)}
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id AS query_id, r.id AS neighbor_id,
    row_number() OVER (PARTITION BY p.query_id
      ORDER BY ${l2Expr("p.qv", "r.rv")}, r.id) AS rank
  FROM probes p JOIN recon_abs r USING (cid)
  WHERE r.id != p.query_id)
WHERE rank <= $kNN"""

  /** Mirrors Similarity.pqTopKIvfRefined (Jégou §V, IVFADC+R): the
    * [[annPqIvfTopK]] ADC ranking truncated at `refine` becomes a shortlist,
    * which re-ranks by EXACT squared-L2 against the full-precision vectors.
    * `trainRounds > 0` runs that many per-block Lloyd rounds between codebook
    * sampling and encoding (the [[annPqIvfTrainedTopK]] construction) — the
    * production composition, trained codebooks + exact re-rank, oracled as
    * one chain. */
  def annPqIvfRefinedTopK(table: String, key: String, vec: String,
                          queryPred: String, kNN: Int, nCentroids: Int,
                          nProbe: Int, dim: Int, m: Int, k: Int,
                          refine: Int, trainRounds: Int = 0): String =
    s"""WITH ${pqIvfCtes(table, key, vec, queryPred, nCentroids, nProbe, dim, m, k, trainRounds)},
short AS (
  SELECT query_id, qv, neighbor_id FROM (
    SELECT p.query_id AS query_id, p.qv AS qv, r.id AS neighbor_id,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY ${l2Expr("p.qv", "r.rv")}, r.id) AS rank
    FROM probes p JOIN recon_abs r USING (cid)
    WHERE r.id != p.query_id)
  WHERE rank <= $refine)
SELECT query_id, neighbor_id, rank FROM (
  SELECT s.query_id AS query_id, s.neighbor_id AS neighbor_id,
    row_number() OVER (PARTITION BY s.query_id
      ORDER BY ${l2Expr("s.qv", s"e.$vec")}, s.neighbor_id) AS rank
  FROM short s JOIN $table e ON e.$key = s.neighbor_id)
WHERE rank <= $kNN"""

  /** Mirrors Similarity.pqTopKIvfIndexed over pqTrainedCodebooks — the
    * IVF-PQ composition with `trainRounds` Lloyd rounds of per-block k-means
    * over the corpus residuals between sampling and encoding. Each round is
    * one (assign → decimal-mean → coalesce) CTE triple per the
    * [[annTopKIvfKmeansN]] construction (same FLOAT-snap determinism
    * argument, applied per block — the means' decimal-vs-double discrepancy
    * is ~2⁻⁵² relative, far inside the float cast's 2⁻²⁴ grid, so both
    * engines snap to identical codewords each round and equality composes
    * by induction). */
  def annPqIvfTrainedTopK(table: String, key: String, vec: String,
                          queryPred: String, kNN: Int, nCentroids: Int,
                          nProbe: Int, dim: Int, m: Int, k: Int,
                          trainRounds: Int): String =
    s"""WITH ${pqIvfCtes(table, key, vec, queryPred, nCentroids, nProbe, dim, m, k, trainRounds)}
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id AS query_id, r.id AS neighbor_id,
    row_number() OVER (PARTITION BY p.query_id
      ORDER BY ${l2Expr("p.qv", "r.rv")}, r.id) AS rank
  FROM probes p JOIN recon_abs r USING (cid)
  WHERE r.id != p.query_id)
WHERE rank <= $kNN"""

  /** The shared IVF-PQ CTE chain of [[annPqIvfTopK]]/[[annPqIvfRefinedTopK]]/
    * [[annPqIvfTrainedTopK]]: cents → assign → residuals → residual
    * codebooks (md5 sample = cb0, then `trainRounds` per-block Lloyd rounds)
    * → encode → absolute reconstruction → probes. */
  private def pqIvfCtes(table: String, key: String, vec: String,
                        queryPred: String, nCentroids: Int, nProbe: Int,
                        dim: Int, m: Int, k: Int,
                        trainRounds: Int = 0): String = {
    val bd = dim / m
    // per-block Lloyd rounds over the corpus residual slices (mirrors
    // Similarity.pqTrainedCodebooks): blocks explode once, each round
    // assigns by (L2², code) argmin against the previous codebooks and
    // recomputes per-element means — decimal-exact sum, FLOAT snap, back to
    // DOUBLE — with empty cells keeping their previous codeword
    val trainCtes =
      if (trainRounds == 0) ""
      else s"""blocks AS (
  SELECT r.id AS id, CAST(j AS INT) AS j, r.rv[j*$bd+1 : j*$bd+$bd] AS bv
  FROM resid r, range(0, $m) t(j)),
""" + (0 until trainRounds).map { r =>
        s"""tassign$r AS (
  SELECT j, code, bv FROM (
    SELECT b.j AS j, c.code AS code, b.bv AS bv,
      row_number() OVER (PARTITION BY b.id, b.j
        ORDER BY ${l2Expr("b.bv", "c.cvec")}, c.code) AS rn
    FROM blocks b JOIN cb$r c ON c.j = b.j)
  WHERE rn = 1),
tmeans$r AS (
  SELECT j, code, list(mx ORDER BY e) AS mvec FROM (
    SELECT j, code, ee AS e,
      CAST(CAST(CAST(SUM(CAST(bv[ee] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
        AS FLOAT) AS DOUBLE) AS mx
    FROM tassign$r, generate_series(1, $bd) t(ee)
    GROUP BY j, code, ee)
  GROUP BY j, code),
cb${r + 1} AS (
  SELECT c.j AS j, c.code AS code, coalesce(m.mvec, c.cvec) AS cvec
  FROM cb$r c LEFT JOIN tmeans$r m USING (j, code)),
"""
      }.mkString
    s"""cents AS (
  SELECT $key AS cid, $vec AS cvec FROM $table
  ORDER BY md5(CAST($key AS VARCHAR)), $key LIMIT $nCentroids),
assign AS (
  SELECT id, cid FROM (
    SELECT e.$key AS id, c.cid AS cid,
      row_number() OVER (PARTITION BY e.$key
        ORDER BY ${cosExpr(s"e.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table e, cents c)
  WHERE rn = 1),
resid AS (
  SELECT a.id AS id, a.cid AS cid,
    list_transform(generate_series(1, $dim),
      i -> CAST(e.$vec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) AS rv
  FROM assign a
  JOIN $table e ON e.$key = a.id
  JOIN cents c ON c.cid = a.cid),
samp AS (
  SELECT sv, CAST(rn - 1 AS INT) AS code FROM (
    SELECT rv AS sv, row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
    FROM resid) WHERE rn <= $k),
cb0 AS (
  SELECT CAST(j AS INT) AS j, code, sv[j*$bd+1 : j*$bd+$bd] AS cvec
  FROM samp, range(0, $m) t(j)),
${trainCtes}cb AS (
  SELECT j, code, cvec FROM cb$trainRounds),
enc AS (
  SELECT id, j, code FROM (
    SELECT r.id AS id, c.j, c.code,
      row_number() OVER (PARTITION BY r.id, c.j
        ORDER BY ${l2Expr(s"r.rv[c.j*$bd+1 : c.j*$bd+$bd]", "c.cvec")}, c.code) AS rn
    FROM resid r, cb c)
  WHERE rn = 1),
recon AS (
  SELECT id, flatten(list(cvec ORDER BY j)) AS rr
  FROM enc JOIN cb USING (j, code)
  GROUP BY id),
recon_abs AS (
  SELECT a.id AS id, a.cid AS cid,
    list_transform(generate_series(1, $dim),
      i -> CAST(c.cvec[i] AS DOUBLE) + r.rr[i]) AS rv
  FROM assign a
  JOIN recon r ON r.id = a.id
  JOIN cents c ON c.cid = a.cid),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.$key AS query_id, q.$vec AS qv, c.cid AS cid,
      row_number() OVER (PARTITION BY q.$key
        ORDER BY ${cosExpr(s"q.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table q, cents c WHERE $queryPred)
  WHERE rn <= $nProbe)"""
  }

  /** Mirrors Similarity.topKExact (rank-only output). */
  def annTopKExact(table: String, key: String, vec: String,
                   queryPred: String, k: Int): String =
    s"""WITH q AS (SELECT $key AS query_id, $vec AS qv FROM $table WHERE $queryPred),
sims AS (
  SELECT q.query_id, e.$key AS neighbor_id, ${cosExpr("q.qv", s"e.$vec")} AS sim
  FROM q, $table e WHERE e.$key != q.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims)
WHERE rank <= $k"""

  /** Mirrors Similarity.nearDuplicatesExact. */
  def embNearDupExact(table: String, key: String, vec: String, minCosine: Double): String =
    s"""SELECT a.$key AS lid, b.$key AS rid, ${cosExpr(s"a.$vec", s"b.$vec")} AS sim
FROM $table a, $table b
WHERE a.$key < b.$key AND ${cosExpr(s"a.$vec", s"b.$vec")} >= ${d(minCosine)}"""

  /** Mirrors Similarity.nearMatchesIvfIndexed: same deterministic centroids
    * and list assignment as [[annTopKIvf]], then every in-list pair at
    * cosine >= minCosine — threshold filter instead of a ranking window, so
    * the sim DOUBLES land in the hashed projection (cosExpr is the
    * IEEE-exact ordered fold both engines compute identically). */
  def annNearMatchIvf(table: String, key: String, vec: String,
                      queryPred: String, minCosine: Double, nCentroids: Int,
                      nProbe: Int): String =
    s"""WITH cents AS (
  SELECT $key AS cid, $vec AS cvec FROM $table
  ORDER BY md5(CAST($key AS VARCHAR)), $key LIMIT $nCentroids),
assign AS (
  SELECT id, cid, v FROM (
    SELECT e.$key AS id, e.$vec AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY e.$key
        ORDER BY ${cosExpr(s"e.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table e, cents c)
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.$key AS query_id, q.$vec AS qv, c.cid AS cid,
      row_number() OVER (PARTITION BY q.$key
        ORDER BY ${cosExpr(s"q.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table q, cents c WHERE $queryPred)
  WHERE rn <= $nProbe)
SELECT query_id, neighbor_id, sim FROM (
  SELECT p.query_id AS query_id, a.id AS neighbor_id,
    ${cosExpr("p.qv", "a.v")} AS sim
  FROM probes p JOIN assign a USING (cid) WHERE a.id != p.query_id)
WHERE sim >= ${d(minCosine)}"""

  /** Mirrors Retrieval.hybridTopK: RRF fusion of the BM25 pool (query doc
    * dropped, re-ranked) and the self-excluding exact-cosine pool. Integer
    * ranks feed the fixed two-term rational score (DuckDB float literals are
    * DOUBLEs, so `1.0 / (k + rank)` is the same IEEE division Spark runs). */
  def hybridTopK(docsTable: String, docKey: String, textCol: String,
                 embTable: String, embKey: String, vecCol: String,
                 terms: Seq[String], queryVecId: Long, k: Int, poolSize: Int,
                 kRrf: Int, k1: Double, b: Double): String = {
    val bmSql = bm25TopK(docsTable, docKey, textCol, terms, poolSize, k1, b)
    val annSql = annTopKExact(embTable, embKey, vecCol,
      s"$embKey = $queryVecId", poolSize)
    s"""WITH bm AS (
  SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT) AS bm25_rank
  FROM ($bmSql) WHERE id != $queryVecId),
ann AS (SELECT neighbor_id AS id, rank AS ann_rank FROM ($annSql))
SELECT id, rrf_score, bm25_rank, ann_rank FROM (
  SELECT coalesce(bm.id, ann.id) AS id,
    coalesce(1.0 / ($kRrf + bm.bm25_rank), 0.0)
      + coalesce(1.0 / ($kRrf + ann.ann_rank), 0.0) AS rrf_score,
    coalesce(bm.bm25_rank, -1) AS bm25_rank,
    coalesce(ann.ann_rank, -1) AS ann_rank
  FROM bm FULL OUTER JOIN ann ON bm.id = ann.id)
ORDER BY rrf_score DESC, id LIMIT $k"""
  }

  /** Mirrors Similarity.ingestKeepIdsIndexed end to end: corpus-sampled
    * centroids, stage-1 drop of incoming embeddings with an in-probed-list
    * corpus match, stage-2 min-id representatives of the survivors'
    * within-batch clusters (the [[clusterIds]] recursive closure — detection
    * is asymmetric, the closure symmetrizes, matching the Spark side's
    * clusterKeepIds). Fragments are inlined, not CTEs, because the closure
    * is its own WITH RECURSIVE statement. Output: one `$key` column. */
  def annIngestKeep(table: String, key: String, vec: String,
                    corpusPred: String, incomingPred: String,
                    minCosine: Double, nCentroids: Int, nProbe: Int): String = {
    val corpus = s"(SELECT $key AS id, $vec AS v FROM $table WHERE $corpusPred)"
    val inc = s"(SELECT $key AS id, $vec AS v FROM $table WHERE $incomingPred)"
    val cents =
      s"(SELECT id AS cid, v AS cvec FROM $corpus c0 ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $nCentroids)"
    def assign(src: String) =
      s"""(SELECT id, v, cid FROM (
    SELECT e.id AS id, e.v AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY e.id
        ORDER BY ${cosExpr("e.v", "c.cvec")} DESC, c.cid) AS rn
    FROM $src e, $cents c) WHERE rn = 1)"""
    def probes(src: String) =
      s"""(SELECT id, v, cid FROM (
    SELECT q.id AS id, q.v AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY q.id
        ORDER BY ${cosExpr("q.v", "c.cvec")} DESC, c.cid) AS rn
    FROM $src q, $cents c) WHERE rn <= $nProbe)"""
    val dropped =
      s"""(SELECT DISTINCT p.id AS id FROM ${probes(inc)} p JOIN ${assign(corpus)} a USING (cid)
  WHERE a.id != p.id AND ${cosExpr("p.v", "a.v")} >= ${d(minCosine)})"""
    val surv = s"(SELECT id, v FROM $inc i WHERE id NOT IN (SELECT id FROM $dropped))"
    val pairs =
      s"""SELECT p.id AS l, a.id AS r FROM ${probes(surv)} p JOIN ${assign(surv)} a USING (cid)
  WHERE a.id != p.id AND ${cosExpr("p.v", "a.v")} >= ${d(minCosine)}"""
    s"""SELECT s.id AS $key FROM $surv s
WHERE s.id NOT IN (SELECT id FROM (${clusterIds(pairs)}) WHERE cluster_id != id)"""
  }

  /** Mirrors Similarity.quantizeInt8: symmetric per-vector int8 quantization
    * with dequantization error (round is half-away-from-zero on both engines). */
  def quantizeInt8(table: String, key: String, vec: String): String =
    s"""SELECT id, scale,
  array_to_string(list_transform(v, x -> CASE WHEN scale = 0 THEN 0
    ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER) END), ',') AS qvec_csv,
  list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE) -
    CAST(CASE WHEN scale = 0 THEN 0
      ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER) END AS DOUBLE) * scale)))
    AS max_abs_err
FROM (
  SELECT $key AS id, $vec AS v,
    list_max(list_transform($vec, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM $table)"""

  /** Mirrors Similarity.topKInt8 ∘ quantizeInt8: full-precision queries
    * ranked against the DEQUANTIZED int8 corpus (q_j·scale in DOUBLE — round
    * is half-away-from-zero on both engines, so the whole path is exact). */
  def annTopKInt8(table: String, key: String, vec: String,
                  queryPred: String, k: Int): String =
    s"""WITH deq AS (
  SELECT id, list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
      ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER) END AS DOUBLE) * scale) AS dv
  FROM (
    SELECT $key AS id, $vec AS v,
      list_max(list_transform($vec, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
    FROM $table)),
q AS (SELECT $key AS query_id, $vec AS qv FROM $table WHERE $queryPred),
sims AS (
  SELECT q.query_id, d.id AS neighbor_id, ${cosExpr("q.qv", "d.dv")} AS sim
  FROM q, deq d WHERE d.id != q.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims)
WHERE rank <= $k"""

  /** Mirrors Similarity.topKIvf: deterministic md5-sampled centroids, nearest-
    * centroid inverted lists, nProbe-list probe with exact re-rank. */
  def annTopKIvf(table: String, key: String, vec: String, queryPred: String,
                 k: Int, nCentroids: Int, nProbe: Int): String =
    s"""WITH cents AS (
  SELECT $key AS cid, $vec AS cvec FROM $table
  ORDER BY md5(CAST($key AS VARCHAR)), $key LIMIT $nCentroids),
assign AS (
  SELECT id, cid, v FROM (
    SELECT e.$key AS id, e.$vec AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY e.$key
        ORDER BY ${cosExpr(s"e.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table e, cents c)
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.$key AS query_id, q.$vec AS qv, c.cid AS cid,
      row_number() OVER (PARTITION BY q.$key
        ORDER BY ${cosExpr(s"q.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table q, cents c WHERE $queryPred)
  WHERE rn <= $nProbe)
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id AS query_id, a.id AS neighbor_id,
    row_number() OVER (PARTITION BY p.query_id
      ORDER BY ${cosExpr("p.qv", "a.v")} DESC, a.id) AS rank
  FROM probes p JOIN assign a USING (cid) WHERE a.id != p.query_id)
WHERE rank <= $k"""

  /** Mirrors Similarity.topKIvfKmeans at iters = 1 — kept as the named
    * single-round form the registered `ann_topk_ivf_kmeans1` query uses. */
  def annTopKIvfKmeans1(table: String, key: String, vec: String,
                        queryPred: String, k: Int, nCentroids: Int,
                        nProbe: Int, dim: Int): String =
    annTopKIvfKmeansN(table, key, vec, queryPred, k, nCentroids, nProbe, dim, 1)

  /** Mirrors Similarity.topKIvfKmeans at ANY iteration count — `iters`
    * chained Lloyd rounds, one (assignᵣ → meansᵣ → centsᵣ₊₁) CTE triple per
    * round, generated the way [[graft.operators.Similarity.kmeansCentroids]]
    * loops. Each round: md5-sample init, nearest-centroid assignment,
    * per-element mean (exact decimal(38,18) sum, then divide and cast to
    * FLOAT — DuckDB's decimal division goes through DOUBLE while Spark
    * divides exactly at scale 18, but both approximate the exact quotient
    * within 2^-52 relative, far inside the final FLOAT cast's 2^-24
    * rounding), empty lists keep their previous centroid (LEFT JOIN +
    * coalesce = Spark's coalesce(mvec, cvec)). The float cast SNAPS both
    * engines to identical centroids after every round, so equality composes
    * by induction across rounds — what makes the 3-iter registered query
    * oracle-expressible after all (it was the ANN family's one remaining
    * rows-only-by-design entry). Known residual risk, quantified: a mean
    * whose exact value lies within ~2^-53 relative of a float rounding
    * boundary could snap differently (P ≈ 2^-28 per value; 16 cents ×
    * 64 dims × 3 rounds ≈ 3·10³ lotteries → ~10^-5 per dataset) — if this
    * oracle ever flakes on new data, that lottery is the first suspect and
    * the fallback is re-registering the 3-iter form rows-only. Probe engine
    * as [[annTopKIvf]] over the final centroids. */
  def annTopKIvfKmeansN(table: String, key: String, vec: String,
                        queryPred: String, k: Int, nCentroids: Int,
                        nProbe: Int, dim: Int, iters: Int): String = {
    require(iters >= 1, s"need at least one Lloyd round, got $iters")
    val rounds = (0 until iters).map { r =>
      s"""assign$r AS (
  SELECT cid, v FROM (
    SELECT e.$vec AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY e.$key
        ORDER BY ${cosExpr(s"e.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table e, cents$r c)
  WHERE rn = 1),
means$r AS (
  SELECT cid, list(m ORDER BY j) AS mvec FROM (
    SELECT cid, jj AS j,
      CAST(CAST(SUM(CAST(v[jj] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS FLOAT) AS m
    FROM assign$r, generate_series(1, $dim) t(jj)
    GROUP BY cid, jj)
  GROUP BY cid),
cents${r + 1} AS (
  SELECT c.cid AS cid, coalesce(m.mvec, c.cvec) AS cvec
  FROM cents$r c LEFT JOIN means$r m USING (cid))"""
    }.mkString(",\n")
    val fin = s"cents$iters"
    s"""WITH cents0 AS (
  SELECT $key AS cid, $vec AS cvec FROM $table
  ORDER BY md5(CAST($key AS VARCHAR)), $key LIMIT $nCentroids),
$rounds,
assign AS (
  SELECT id, cid, v FROM (
    SELECT e.$key AS id, e.$vec AS v, c.cid AS cid,
      row_number() OVER (PARTITION BY e.$key
        ORDER BY ${cosExpr(s"e.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table e, $fin c)
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.$key AS query_id, q.$vec AS qv, c.cid AS cid,
      row_number() OVER (PARTITION BY q.$key
        ORDER BY ${cosExpr(s"q.$vec", "c.cvec")} DESC, c.cid) AS rn
    FROM $table q, $fin c WHERE $queryPred)
  WHERE rn <= $nProbe)
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id AS query_id, a.id AS neighbor_id,
    row_number() OVER (PARTITION BY p.query_id
      ORDER BY ${cosExpr("p.qv", "a.v")} DESC, a.id) AS rank
  FROM probes p JOIN assign a USING (cid) WHERE a.id != p.query_id)
WHERE rank <= $k"""
  }

  /** Random-hyperplane LSH bucket of a vector expression — plane components
    * baked in as literals from Similarity.planeComponent, the same
    * deterministic constants the Spark expressions use. */
  private def lshBucketSql(v: String, dim: Int, planes: Int,
                           planeOffset: Int = 0): String = {
    def dotPlane(i: Int): String = {
      val comps =
        (0 until dim).map(j => operators.Similarity.planeComponent(planeOffset + i, j))
      s"list_sum(list_transform(generate_series(1, $dim), jj -> " +
        s"CAST($v[jj] AS DOUBLE) * (list_value(${comps.mkString(", ")}))[jj]))"
    }
    (0 until planes)
      .map(i => s"(CASE WHEN ${dotPlane(i)} > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  /** Mirrors Similarity.nearDuplicates: same-bucket candidates + exact cosine. */
  def embNearDupLsh(table: String, key: String, vec: String, minCosine: Double,
                    dim: Int, planes: Int): String =
    s"""WITH b AS (SELECT $key AS id, $vec AS v, ${lshBucketSql("v", dim, planes)} AS bucket FROM $table)
SELECT lid, rid, sim FROM (
  SELECT a.id AS lid, b2.id AS rid, ${cosExpr("a.v", "b2.v")} AS sim
  FROM b a, b b2 WHERE a.bucket = b2.bucket AND a.id < b2.id)
WHERE sim >= ${d(minCosine)}"""

  /** Mirrors Similarity.topKLsh: `tables` independent plane families with
    * (table, sig)-folded bucket ids, multi-probe (own bucket + every 1-bit
    * signature flip per table), exact re-rank of distinct candidates. */
  def annTopKLsh(table: String, key: String, vec: String, queryPred: String,
                 k: Int, dim: Int, planes: Int, tables: Int = 1): String = {
    def foldedBucket(t: Int): String =
      s"(${lshBucketSql(vec, dim, planes, t * planes)} + ${t.toLong * (1L << planes)})"
    val corpusBuckets = (0 until tables).map(foldedBucket)
      .mkString("list_value(", ", ", ")")
    val probeList = (0 until tables)
      .flatMap(t => s"b[${t + 1}]" +: (0 until planes).map(i => s"xor(b[${t + 1}], ${1L << i})"))
      .mkString("list_value(", ", ", ")")
    s"""WITH c0 AS (
  SELECT $key AS neighbor_id, $vec AS cv, $corpusBuckets AS b FROM $table),
c AS (SELECT neighbor_id, cv, unnest(b) AS bucket FROM c0),
q0 AS (
  SELECT $key AS query_id, $vec AS qv, $corpusBuckets AS b
  FROM $table WHERE $queryPred),
probes AS (SELECT query_id, qv, unnest($probeList) AS bucket FROM q0),
sims AS (
  SELECT DISTINCT p.query_id AS query_id, c.neighbor_id AS neighbor_id,
         ${cosExpr("p.qv", "c.cv")} AS sim
  FROM probes p JOIN c USING (bucket)
  WHERE c.neighbor_id != p.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims)
WHERE rank <= $k"""
  }

  /** Mirrors TextAnalysis.qualityScore over the textStats signals. */
  def qualityScore(table: String, key: String, text: String): String =
    s"""SELECT id,
  (CASE WHEN n_tokens >= 5 AND n_tokens <= 2000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END)
  * coalesce(CAST(1.0 AS DOUBLE) - punct_ratio, CAST(1.0 AS DOUBLE))
  * (CASE WHEN stopword_ratio IS NOT NULL AND stopword_ratio > CAST(0.05 AS DOUBLE) AND stopword_ratio < CAST(0.6 AS DOUBLE)
     THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.8 AS DOUBLE) END) AS quality_score
FROM (${textStats(table, key, text)})"""

  // -------------------------------------------------------------------------
  // Curation oracles (graft.operators.Curation)
  // -------------------------------------------------------------------------

  /** Mirrors Curation.keepTopFraction over any scoring subquery: the window
    * form of the distributed two-pass rank (the rank the range-partitioned
    * machinery must reproduce exactly), same floor(frac·N) cut and
    * (score desc, id) total order. */
  def keepTopFraction(innerSql: String, idCol: String, scoreCol: String,
                      frac: Double): String =
    s"""WITH ranked AS (
  SELECT $idCol AS id, CAST($scoreCol AS DOUBLE) AS score,
    CAST(row_number() OVER (ORDER BY $scoreCol DESC, $idCol) - 1 AS BIGINT) AS rank,
    count(*) OVER () AS n
  FROM ($innerSql))
SELECT id, score, rank FROM ranked
WHERE rank < CAST(floor(${d(frac)} * n) AS BIGINT)"""

  /** Lowercased ordered whitespace bag tokens of `$text` (Curation.wsBagLower). */
  private def wsBagLowerExpr(text: String): String =
    s"list_filter(str_split_regex(lower($text), '$wsClass'), x -> trim(x) != '')"

  /** Distinct md5-prefix hashes of the word n-grams of `$text`, as a list
    * expression over an aliased `tks` column (Curation word-gram hashing). */
  private def gramHashList(n: Int): String = {
    val m = n - 1
    s"""list_distinct(list_transform(
      CASE WHEN len(tks) - $m >= 1 THEN generate_series(1, len(tks) - $m) ELSE [] END,
      i -> substring(md5(array_to_string(tks[i:i+$m], ' ')), 1, 16)))"""
  }

  /** Mirrors Curation.decontaminate: train docs sharing >= minShared distinct
    * word n-grams with the eval set. `trainPred`/`evalPred` split `table`. */
  def decontaminate(table: String, key: String, text: String,
                    trainPred: String, evalPred: String,
                    n: Int, minShared: Int): String =
    s"""WITH tg AS (
  SELECT id, unnest(ghs) AS gh FROM (
    SELECT $key AS id, ${gramHashList(n)} AS ghs
    FROM (SELECT $key, ${wsBagLowerExpr(text)} AS tks FROM $table WHERE $trainPred))),
eg AS (
  SELECT DISTINCT unnest(ghs) AS gh FROM (
    SELECT ${gramHashList(n)} AS ghs
    FROM (SELECT ${wsBagLowerExpr(text)} AS tks FROM $table WHERE $evalPred)))
SELECT id, count(*) AS n_shared_grams
FROM tg JOIN eg USING (gh)
GROUP BY id
HAVING count(*) >= $minShared"""

  /** Mirrors Curation.substringDupStats: per-doc distinct gram hashes,
    * corpus document-frequency, shared-span counts (same double-division
    * operand order in dup_ratio). */
  def substringDup(table: String, key: String, text: String, n: Int): String =
    s"""WITH grams AS (
  SELECT id, unnest(ghs) AS gh FROM (
    SELECT $key AS id, ${gramHashList(n)} AS ghs
    FROM (SELECT $key, ${wsBagLowerExpr(text)} AS tks FROM $table))),
gdf AS (SELECT gh, count(*) AS gdf FROM grams GROUP BY gh)
SELECT id, count(*)::BIGINT AS n_grams,
  sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
  CAST(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio,
  sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) > 0 AS is_dup
FROM grams JOIN gdf USING (gh)
GROUP BY id"""

  /** Mirrors Curation.stripHtml: same RE2∩Java regex passes in the same
    * order (script, style, comments, tags — no backreferences), same entity
    * decode order (&amp; last), same collapse + trim. `textExpr` may be any
    * SQL expression (the registered query wraps the corpus in synthetic
    * markup so stripping is exercised on every row). */
  def stripHtml(table: String, key: String, textExpr: String): String =
    s"""SELECT $key AS id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace($textExpr, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&'),
    '[\\t\\n\\r ]+', ' ', 'g')) AS text
FROM $table"""

  /** Mirrors Curation.normalizeText: NFC (nfc_normalize — the same Unicode
    * standard as java.text.Normalizer), C0/DEL control strip, whitespace
    * collapse, trim. */
  def normalizeText(table: String, key: String, text: String): String =
    s"""SELECT $key AS id,
  trim(regexp_replace(
    regexp_replace(nfc_normalize($text), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
    '[\\t\\n\\r ]+', ' ', 'g')) AS text
FROM $table"""

  /** Mirrors Curation.substringDedup with the SEQUENTIAL WINDOW form: every
    * gram occurrence ranked by `row_number() OVER (PARTITION BY gram ORDER
    * BY id, pos)`; occurrences past the first of any gram with corpus count
    * ≥ 2 mark their n token positions; documents rebuild from unmarked
    * tokens. Hash-equality proves the distributed partial-agg form
    * reproduces the window semantics exactly. */
  def substringDedup(table: String, key: String, text: String, n: Int): String = {
    val m = n - 1
    s"""WITH base AS (
  SELECT $key AS id, ${wsBagExpr(text)} AS tks FROM $table),
grams AS (
  SELECT id, generate_subscripts(ghs, 1) - 1 AS gpos, unnest(ghs) AS gh
  FROM (SELECT id, list_transform(
      CASE WHEN len(tks) - $m >= 1 THEN generate_series(1, len(tks) - $m) ELSE [] END,
      i -> substring(md5(array_to_string(
             list_transform(tks[i:i+$m], x -> lower(x)), ' ')), 1, 16)) AS ghs
    FROM base)),
ranked AS (
  SELECT id, gpos,
    count(*) OVER (PARTITION BY gh) AS cnt,
    row_number() OVER (PARTITION BY gh ORDER BY id, gpos) AS rn
  FROM grams),
marked AS (
  SELECT DISTINCT id, gpos + k AS tpos
  FROM ranked, unnest(generate_series(0, $m)) t(k)
  WHERE cnt >= 2 AND rn > 1),
toks AS (
  SELECT id, generate_subscripts(tks, 1) - 1 AS tpos, unnest(tks) AS tok
  FROM base),
rebuilt AS (
  SELECT t.id, string_agg(t.tok, ' ' ORDER BY t.tpos) AS text
  FROM toks t LEFT JOIN marked mk ON t.id = mk.id AND t.tpos = mk.tpos
  WHERE mk.id IS NULL
  GROUP BY t.id)
SELECT b.id, coalesce(r.text, '') AS text
FROM base b LEFT JOIN rebuilt r USING (id)"""
  }

  /** Mirrors Curation.piiScrub (same regexes, RE2/Java-identical subset;
    * counts on the original text, masking email → phone → IP). */
  def piiScrub(tableExpr: String, key: String, text: String): String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone =
      "(?:\\+?1[-. ])?(?:\\([0-9]{3}\\) ?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}"
    val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    val ip = s"\\b$octet\\.$octet\\.$octet\\.$octet\\b"
    s"""SELECT $key AS id,
  regexp_replace(regexp_replace(regexp_replace($text,
    '$email', '<EMAIL>', 'g'),
    '$phone', '<PHONE>', 'g'),
    '$ip', '<IP>', 'g') AS clean_text,
  CAST(len(regexp_extract_all($text, '$email')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all($text, '$phone')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all($text, '$ip')) AS BIGINT) AS n_ips
FROM $tableExpr"""
  }

  /** Mirrors Curation.repetitionStats (duplicate-token fraction + top-2/3-gram
    * occupancy; same double-division operand order). */
  def repetitionStats(table: String, key: String, text: String,
                      maxChars: Int = 20000): String = {
    val capped =
      if (maxChars > 0) s"substring($text, 1, $maxChars)" else text
    def grams(n: Int): String = {
      val m = n - 1
      s"""list_transform(
      CASE WHEN len(tks) - $m >= 1 THEN generate_series(1, len(tks) - $m) ELSE [] END,
      i -> array_to_string(tks[i:i+$m], ' '))"""
    }
    def topRatio(g: String): String =
      s"""CASE WHEN len($g) >= 1 THEN
    CAST(list_max(list_transform(list_distinct($g), d -> len(list_filter($g, x -> x = d)))) AS DOUBLE) / len($g)
  END"""
    s"""SELECT id,
  CAST(len(tks) AS BIGINT) AS n_tokens,
  CASE WHEN len(tks) != 0 THEN CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks) END AS dup_token_ratio,
  ${topRatio("g2")} AS top_2gram_ratio,
  ${topRatio("g3")} AS top_3gram_ratio
FROM (SELECT id, tks, ${grams(2)} AS g2, ${grams(3)} AS g3
      FROM (SELECT $key AS id, ${wsBagLowerExpr(capped)} AS tks FROM $table))"""
  }

  /** Deterministic per-id uniform in [0,1): top 60 bits of md5('<seed>:<id>')
    * over 2^60 (Curation.hashUniform — same long→double rounding both engines). */
  private def hashUniformSql(key: String, seed: String): String =
    s"(CAST(CAST(('0x' || substring(md5('$seed:' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) / CAST(1152921504606846976.0 AS DOUBLE))"

  /** Mirrors Packing.chunkDocs: same window count (1 + ceil((n-max)/stride)
    * for n > max), same 1-based slices (DuckDB list slicing clamps at the
    * end exactly like Spark's slice), same single-space re-join. */
  def chunkDocs(table: String, key: String, text: String,
                maxTokens: Int, overlap: Int): String = {
    val stride = maxTokens - overlap
    s"""WITH docs AS (
  SELECT id, tks, len(tks) AS n FROM (
    SELECT $key AS id, ${wsBagExpr(text)} AS tks FROM $table)
  WHERE len(tks) >= 1),
wins AS (
  SELECT id, i AS chunk_idx,
    tks[(i * $stride + 1):(i * $stride + $maxTokens)] AS ctks
  FROM docs, UNNEST(generate_series(0,
    CAST(CASE WHEN n <= $maxTokens THEN 0
         ELSE ceil((n - $maxTokens) / CAST($stride AS DOUBLE)) END AS BIGINT))) AS t(i))
SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  CAST(len(ctks) AS BIGINT) AS n_tokens,
  array_to_string(ctks, ' ') AS chunk_text
FROM wins"""
  }

  /** Mirrors Curation.capPerSource: per-source row_number over the same
    * md5("<seed>:<id>") deterministic-uniform order, id tie-break. */
  def capPerSource(table: String, key: String, source: String, cap: Int,
                   seed: String): String =
    s"""SELECT id, source FROM (
  SELECT $key AS id, $source AS source,
    row_number() OVER (PARTITION BY $source
      ORDER BY md5('$seed:' || CAST($key AS VARCHAR)), $key) AS rn
  FROM $table) WHERE rn <= $cap"""

  /** Mirrors Curation.mixSources: per-source hash-threshold keep probability. */
  def mixSources(table: String, key: String, source: String,
                 weights: Seq[(String, Double)], defaultWeight: Double,
                 seed: String): String = {
    val cases = weights.map { case (s, p) => s"WHEN '$s' THEN ${d(p)}" }.mkString(" ")
    s"""SELECT $key AS id, $source AS source
FROM $table
WHERE ${hashUniformSql(key, seed)} < (CASE $source $cases ELSE ${d(defaultWeight)} END)"""
  }

  /** Mirrors Curation.corpusReport: ROLLUP over (source, lang) with the same
    * grouping bit-vector (GROUPING(source)·2 + GROUPING(lang) == Spark's
    * grouping_id()) and the same bigint-sum/count double division. */
  def corpusReport(table: String, source: String, lang: String,
                   sizeCol: String): String =
    s"""SELECT coalesce($source, 'ALL') AS source, coalesce($lang, 'ALL') AS lang,
  CAST(GROUPING($source) * 2 + GROUPING($lang) AS BIGINT) AS gid,
  count(*) AS n_docs,
  CAST(sum($sizeCol) AS BIGINT) AS total_chars,
  CAST(sum($sizeCol) AS DOUBLE) / count(*) AS avg_chars
FROM $table GROUP BY ROLLUP($source, $lang)"""

  /** Mirrors Curation.shuffleOrder: the sequential window form of the
    * deterministic shuffle rank (the distributed two-pass rank must
    * reproduce it exactly). */
  def shuffleOrder(table: String, key: String, seed: String): String =
    s"""SELECT id,
  CAST(row_number() OVER (ORDER BY md5('$seed:' || CAST(id AS VARCHAR)), id) - 1 AS BIGINT) AS shuffle_pos
FROM (SELECT CAST($key AS BIGINT) AS id FROM $table)"""

  /** Mirrors Curation.lineDedup: the textbook window form — global first
    * occurrence of each line ≥ minLineLen chars (row_number over
    * (doc, pos)), short lines exempt everywhere, docs reassembled in line
    * order, empty-string restore for fully-hollowed docs. `tableExpr` may
    * be any FROM-able expression providing ($key, $text). */
  def lineDedup(tableExpr: String, key: String, text: String,
                minLineLen: Int = 2): String =
    s"""WITH lines AS (
  SELECT id, generate_subscripts(sp, 1) - 1 AS pos, unnest(sp) AS line
  FROM (SELECT $key AS id, string_split($text, chr(10)) AS sp FROM $tableExpr)),
ranked AS (
  SELECT id, pos, line,
    row_number() OVER (PARTITION BY line ORDER BY id, pos) AS rn
  FROM lines),
rebuilt AS (
  SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM ranked WHERE rn = 1 OR length(line) < $minLineLen
  GROUP BY id)
SELECT i.id AS id, coalesce(r.text, '') AS text
FROM (SELECT $key AS id FROM $tableExpr) i LEFT JOIN rebuilt r USING (id)"""

  /** Mirrors TextAnalysis.bigramLmScore's hashed projection (id, n_bigrams,
    * sum_p): add-k bigram conditionals trained on the corpus, document-order
    * list_sum fold of the probabilities (the bm25 rational-form rule — only
    * IEEE-exact +,*,/ and integer→double casts inside the hashed column; the
    * `ln` signal stays spec-only). */
  def bigramLm(table: String, key: String, text: String, k: Double): String =
    s"""WITH scored AS (
  SELECT id, tks FROM (
    SELECT $key AS id, ${wsBagLowerExpr(text)} AS tks FROM $table)
  WHERE len(tks) >= 2),
bg AS (
  SELECT id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w1, unnest(ws2) AS w2
  FROM (SELECT id,
          list_transform(range(1, len(tks)), i -> tks[i]) AS ws,
          list_transform(range(1, len(tks)), i -> tks[i + 1]) AS ws2
        FROM scored)),
bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c12) AS c1 FROM bgc GROUP BY 1),
voc AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        FROM (SELECT unnest(tks) AS w FROM scored)),
probs AS (
  SELECT bg.id AS id, bg.pos AS pos,
    (CAST(bgc.c12 AS DOUBLE) + ${d(k)}) / (CAST(ctx.c1 AS DOUBLE) + ${d(k)} * voc.v) AS p
  FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1), voc)
SELECT id, count(*)::BIGINT AS n_bigrams, list_sum(list(p ORDER BY pos)) AS sum_p
FROM probs GROUP BY id"""

  /** Mirrors Curation.importanceSample: two add-k bigram models (target =
    * rows matching `targetPred`, proxy = whole pool), per-document
    * document-order probability folds under each, rational importance ratio
    * w = sum_p_target / sum_p_proxy, deterministic md5-uniform keep at
    * probability min(1, w·scale). Target-model joins are LEFT (absent
    * bigrams take the smoothed floor); proxy joins are inner (every pool
    * bigram is in the pool model). */
  def importanceSample(table: String, key: String, text: String,
                       targetPred: String, scale: Double, k: Double,
                       seed: String): String =
    s"""WITH pool AS (
  SELECT id, tks FROM (
    SELECT $key AS id, ${wsBagLowerExpr(text)} AS tks FROM $table)
  WHERE len(tks) >= 2),
tpool AS (
  SELECT id, tks FROM (
    SELECT $key AS id, ${wsBagLowerExpr(text)} AS tks FROM $table WHERE $targetPred)
  WHERE len(tks) >= 2),
bg AS (
  SELECT id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w1, unnest(ws2) AS w2
  FROM (SELECT id,
          list_transform(range(1, len(tks)), i -> tks[i]) AS ws,
          list_transform(range(1, len(tks)), i -> tks[i + 1]) AS ws2
        FROM pool)),
bgt AS (
  SELECT id, unnest(ws) AS w1, unnest(ws2) AS w2
  FROM (SELECT id,
          list_transform(range(1, len(tks)), i -> tks[i]) AS ws,
          list_transform(range(1, len(tks)), i -> tks[i + 1]) AS ws2
        FROM tpool)),
bgcp AS (SELECT w1, w2, count(*) AS c12p FROM bg GROUP BY 1, 2),
ctxp AS (SELECT w1, sum(c12p) AS c1p FROM bgcp GROUP BY 1),
vp AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vp
       FROM (SELECT unnest(tks) AS w FROM pool)),
bgct AS (SELECT w1, w2, count(*) AS c12t FROM bgt GROUP BY 1, 2),
ctxt AS (SELECT w1, sum(c12t) AS c1t FROM bgct GROUP BY 1),
vt AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vt
       FROM (SELECT unnest(tks) AS w FROM tpool)),
probs AS (
  SELECT bg.id AS id, bg.pos AS pos,
    (CAST(COALESCE(bgct.c12t, 0) AS DOUBLE) + ${d(k)}) /
      (CAST(COALESCE(ctxt.c1t, 0) AS DOUBLE) + ${d(k)} * vt.vt) AS pt,
    (CAST(bgcp.c12p AS DOUBLE) + ${d(k)}) /
      (CAST(ctxp.c1p AS DOUBLE) + ${d(k)} * vp.vp) AS pp
  FROM bg JOIN bgcp USING (w1, w2) JOIN ctxp USING (w1)
    LEFT JOIN bgct USING (w1, w2) LEFT JOIN ctxt USING (w1), vp, vt),
agg AS (
  SELECT id, count(*)::BIGINT AS n_bigrams,
    list_sum(list(pt ORDER BY pos)) AS sum_p_target,
    list_sum(list(pp ORDER BY pos)) AS sum_p_proxy
  FROM probs GROUP BY id)
SELECT id, n_bigrams, sum_p_target, sum_p_proxy,
  sum_p_target / sum_p_proxy AS w
FROM agg
WHERE ${hashUniformSql("id", seed)} <
  least(CAST(1.0 AS DOUBLE), (sum_p_target / sum_p_proxy) * ${d(scale)})"""

  /** E2 differential: symmetric-pair diff of two pair tables, must be empty —
    * reported as a single-row count (reference notebook.ipynb cell 5). */
  def differentialCount(aSql: String, bSql: String): String =
    s"""WITH a AS ($aSql), b AS ($bSql),
cm AS (
  SELECT a.ak1, b.bk1
  FROM a FULL OUTER JOIN b
    ON (a.ak1 = b.bk1 AND a.ak2 = b.bk2) OR (a.ak1 = b.bk2 AND a.ak2 = b.bk1))
SELECT count(*)::BIGINT AS n_diff FROM cm WHERE ak1 IS NULL OR bk1 IS NULL"""

  /** Manual per-pair Jaccard aggregation over a tokens CTE
    * (reference test.ipynb cell 29's N7 shape). */
  def manualJaccard(tokensSql: String): String =
    s"""WITH tokens AS ($tokensSql)
SELECT L.id AS l_id, R.id AS r_id, count(*) AS overlap,
       (count(*) * 100) / (L.len + R.len - count(*)) AS jac_pct
FROM tokens L, tokens R
WHERE L.token = R.token AND L.id < R.id
GROUP BY L.id, L.len, R.id, R.len"""
}
