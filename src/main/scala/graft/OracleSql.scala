package graft

import graft.ops.{Dedup, Similarity}

/** DuckDB-equivalent SQL for every entry in SparkEntry.queries.
  *
  * Rules followed throughout so the driver's sort-columns/sort-rows/hash
  * compare is exact:
  *  - column names identical to the Spark result (aliases on BOTH sides);
  *  - money sums accumulate as DECIMAL(18,2) and cast to DOUBLE (exact,
  *    order-independent) on both sides;
  *  - BIGINT casts on DuckDB sums (DuckDB's sum(int) yields HUGEINT);
  *  - floating similarity scores rounded to 6 digits on both sides;
  *  - all hashes are md5 (identical hex in both engines).
  *
  * The repetitive minhash/simhash/LSH SQL is generated from the same
  * constants (Dedup.NumPerms, Dedup.Bands, Similarity.planes) that drive
  * the Spark side, so the two can't drift apart.
  */
object OracleSql {

  // ---- shared SQL fragments -----------------------------------------

  /** Lowercase word tokens of documents.text (the tokens of TextAnalysis.tokens). */
  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), y -> length(y) > 0)"

  /** Whitespace char class INTERPOLATED from TextAnalysis.WsChars — the
    * engine operators and their oracle SQL share one literal class by
    * construction (Java's `\s` and RE2's `\s` disagree on `\x0B`, so
    * neither side ever spells `\s` for tokenization). */
  private val wsChars = graft.ops.TextAnalysis.WsChars
  private val ws = graft.ops.TextAnalysis.Ws

  /** DECIMAL-exact sum of a 2-decimal double column, emitted as DOUBLE. */
  private def dsum(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** The integer-exact Gopher keep decision as one boolean expression
    * over a `text` column in scope — derived from the same constants as
    * TextAnalysis.gopherKeepWith so filter (c24, corpus profile) and
    * report (t31, published profile) share one rule on both engines. */
  private def gopherKeepSqlExpr(minWords: Long, stopwords: Seq[String]): String = {
    val w = s"list_filter(string_split_regex(trim(text), '$ws+'), y -> length(y) > 0)"
    val lines = "string_split(text, chr(10))"
    val lenSum = s"CAST(COALESCE(list_sum([length(y) for y in $w]), 0) AS BIGINT)"
    val stops = stopwords
      .map(g => s"CASE WHEN regexp_matches(lower(text), '\\b$g\\b') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""len($w) >= $minWords
       | AND len($w) <= ${graft.ops.TextAnalysis.GopherMaxWords}
       | AND $lenSum >= 3 * len($w) AND $lenSum <= 10 * len($w)
       | AND 10 * len(regexp_extract_all(text, '#|\\.\\.\\.')) <= len($w)
       | AND 10 * len(list_filter($lines, y -> regexp_matches(y, '^[ \\t]*[-*\u2022]')))
       |   <= 9 * len($lines)
       | AND 10 * len(list_filter($lines, y -> ends_with(y, '...'))) <= 3 * len($lines)
       | AND 5 * len(list_filter($w, y -> regexp_matches(y, '[A-Za-z]'))) >= 4 * len($w)
       | AND ($stops) >= 2""".stripMargin.replace("\n", "")
  }

  /** The c23 epoch-planner query over `relation` (optionally prefixed
    * with extra CTEs — c24 injects the Gopher-filtered corpus). */
  private def epochPlanSql(relation: String, pre: String = ""): String = {
    val bx = graft.ops.Composites.EpochBudgetX
    val capPpm = graft.ops.Composites.MaxEpochsPpm
    val capX = capPpm / 1000000L
    s"""WITH ${pre}d AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '$ws+'))) AS BIGINT) AS tokens
       |  FROM $relation GROUP BY source),
       |w AS (SELECT source, n_docs, tokens,
       |    CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w_s FROM d),
       |tot AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
       |    CAST($bx * sum(tokens) AS BIGINT) AS budget FROM w)
       |SELECT source, n_docs, tokens,
       |  (w_s * 1000000) // greatest(w_tot, 1) AS weight_ppm,
       |  (budget * w_s) // greatest(w_tot, 1) AS target_tokens,
       |  least($capPpm, ((budget * w_s) // greatest(w_tot, 1)) * 1000000
       |    // greatest(tokens, 1)) AS epochs_ppm,
       |  least(tokens * $capX, (budget * w_s) // greatest(w_tot, 1)) AS alloc_tokens,
       |  CASE WHEN ((budget * w_s) // greatest(w_tot, 1)) * 1000000
       |    // greatest(tokens, 1) >= $capPpm THEN 1 ELSE 0 END AS capped
       |FROM w CROSS JOIN tot""".stripMargin
  }

  private val nPerms = Dedup.NumPerms
  private val nBands = Dedup.Bands
  private val rowsPerBand = nPerms / nBands

  /** minhash signature CTEs: tok -> sh -> sig with columns mh0..mh{n-1}.
    * Same affine family as Dedup.minhashSignatures: one md5 per shingle
    * (first 15 hex chars → 60-bit int mod 2^31−1), then (a·h + b) mod p
    * with the (a, b) constants shared via MinHashExpr.perms. */
  private def minhashCtesWith(pre: String): String = {
    val p = graft.functions.MinHashExpr.Prime
    val mhCols = graft.functions.MinHashExpr.perms.zipWithIndex
      .map { case ((a, b), i) => s"min((h * $a + $b) % $p) AS mh$i" }
      .mkString(", ")
    s"""${pre}tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |${pre}sh AS (SELECT doc_id,
       |  CASE WHEN len(t) >= 3
       |    THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
       |    ELSE [array_to_string(t, ' ')] END AS shingles FROM ${pre}tok),
       |${pre}ex AS (SELECT doc_id, CAST(list_sum(
       |  [(strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1)::BIGINT << ((15 - i) * 4)
       |   for i in range(1, 16)]) AS BIGINT) % $p AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM ${pre}sh)),
       |${pre}sig AS (SELECT doc_id, $mhCols FROM ${pre}ex GROUP BY doc_id)""".stripMargin
  }

  private val minhashCtes: String = minhashCtesWith("")

  /** simhash CTE chain ending in sim(doc_id, simhash). */
  private val simhashCtes: String = {
    val bits = Dedup.SimHashBits
    val voteCols = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val fp = (0 until bits)
      .map(j => s"CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |wrd AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM tok),
       |hsh AS (SELECT doc_id, CAST(list_sum(
       |  [(strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)::BIGINT << ((8 - i) * 4)
       |   for i in range(1, 9)]) AS BIGINT) AS h FROM wrd),
       |votes AS (SELECT doc_id, $voteCols FROM hsh GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  /** t27's bigram-LM CTE chain ending in pplt(doc_id, n_bigrams, ppl) —
    * shared by the t27 gate and the c15 curriculum oracle. */
  /** The t27 bigram-LM perplexity chain WITHOUT its leading `tok` CTE —
    * composable behind any CTE bundle that already defines
    * tok(doc_id, …, t) (prepFunnelCtes does, for c21). Ends in
    * pplt(doc_id, n_bigrams, ppl). */
  private lazy val lmPplBodyCtes: String = {
    val a = graft.ops.TextAnalysis.LmAlpha
    s"""bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
       |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
       |    ELSE [] END) AS bigram FROM tok),
       |tb AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
       |cb AS (SELECT bigram, CAST(sum(n) AS BIGINT) AS cnt,
       |    string_split(bigram, ' ')[1] AS w1 FROM tb GROUP BY 1),
       |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt
       |  FROM cb GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT string_split(bigram, ' ')[2])
       |    AS DOUBLE) AS v FROM cb),
       |sclm AS (SELECT doc_id, n, CAST(round(ln(
       |    (CAST(cnt AS DOUBLE) + $a) / (CAST(ctx_cnt AS DOUBLE) + $a * v))
       |    * 1e6) AS BIGINT) AS lpm
       |  FROM tb JOIN cb USING (bigram) JOIN ctx USING (w1) CROSS JOIN vv),
       |aglm AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |    CAST(sum(n * lpm) AS BIGINT) AS s FROM sclm GROUP BY doc_id),
       |pplt AS (SELECT doc_id, n_bigrams,
       |  round(exp(-CAST(s AS DOUBLE) / 1e6 / n_bigrams), 6) AS ppl
       |  FROM aglm)""".stripMargin
  }

  private lazy val lmPplCtes: String =
    s"""tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |$lmPplBodyCtes""".stripMargin

  /** Sequential-double cosine similarity between two 64-dim list columns. */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1, len($x) + 1)])"
    s"(${dot(a, b)}) / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** SRP-LSH bucket of an embedding, using the exact plane constants the
    * Spark side uses (Similarity.planesFor(n), seeded — the first 8 rows
    * of any wider family ARE Similarity.planes). */
  private def srpBucketCtesFor(numPlanes: Int): String = {
    val planeRows = Similarity.planesFor(numPlanes).zipWithIndex.map { case (row, p) =>
      s"($p, [${row.map(_.toString).mkString(",")}]::DOUBLE[])"
    }.mkString(", ")
    s"""planes(p, pw) AS (SELECT * FROM (VALUES $planeRows)),
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |bk AS (SELECT vec_id, embedding, CAST(sum(CASE WHEN
       |    list_sum([CAST(embedding[i] AS DOUBLE) * pw[i] for i in range(1, len(embedding) + 1)]) >= 0
       |    THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM emb CROSS JOIN planes GROUP BY vec_id, embedding)""".stripMargin
  }

  private val srpBucketCtes: String = srpBucketCtesFor(Similarity.NumPlanes)

  /** The c10 prep-funnel CTE chain ending in `surv` — the per-document
    * survivor set after every gate (exact dedup, decontamination,
    * quantile boilerplate gate, stutter cleanup). c10 rolls it up per
    * language; c11 packs it into training bins. Mirrors
    * Composites.prepSurvivors. */
  private val prepFunnelCtes: String = {
    val minDocs = graft.ops.TextAnalysis.BoilerMinDocs
    val minOv = Dedup.AttribMinOverlap
    val keepFrac = graft.ops.Composites.BoilerKeepFrac
    s"""tok AS (SELECT doc_id, lang, $tokensSql AS t FROM documents),
       |g AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |  for i in range(1, len(t) - 1)]) AS ng FROM tok),
       |c AS (SELECT doc_id, ng, count(*) AS n FROM g GROUP BY doc_id, ng),
       |dfq AS (SELECT ng, count(*) AS df FROM c GROUP BY ng),
       |ratio AS (SELECT doc_id,
       |  round(CAST(sum(CASE WHEN df >= $minDocs THEN n ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(n) AS DOUBLE), 6) AS boiler_ratio
       |  FROM c JOIN dfq USING (ng) GROUP BY doc_id),
       |hist AS (SELECT boiler_ratio, count(*) AS cnt FROM ratio
       |  GROUP BY boiler_ratio),
       |thr AS (SELECT min(boiler_ratio) AS boiler_thr FROM (
       |  SELECT boiler_ratio, sum(cnt) OVER (ORDER BY boiler_ratio) AS cum,
       |    sum(cnt) OVER () AS tot FROM hist)
       |  WHERE cum >= ceil(tot * $keepFrac)),
       |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3
       |    THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
       |    ELSE [array_to_string(t, ' ')] END AS shingles FROM tok),
       |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
       |bench AS (SELECT doc_id AS bench_id, sh FROM ex WHERE doc_id < 10),
       |ov AS (SELECT e.doc_id, b.bench_id FROM ex e JOIN bench b USING (sh)
       |  WHERE e.doc_id >= 10 GROUP BY e.doc_id, b.bench_id HAVING count(*) >= $minOv),
       |contaminated AS (SELECT DISTINCT doc_id FROM ov),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM documents
       |  WHERE doc_id >= 10 GROUP BY text),
       |kept AS (SELECT doc_id, CASE WHEN len(t) <= 1 THEN len(t)
       |  ELSE len(t[1:1] || [t[i] for i in range(2, len(t) + 1) if t[i] != t[i-1]])
       |  END AS n_kept FROM tok),
       |surv AS (SELECT d.doc_id, d.lang, boiler_ratio, n_kept
       |  FROM documents d
       |  JOIN keepers USING (doc_id)
       |  ANTI JOIN contaminated USING (doc_id)
       |  JOIN ratio USING (doc_id)
       |  JOIN kept USING (doc_id)
       |  WHERE d.doc_id >= 10
       |    AND boiler_ratio <= (SELECT boiler_thr FROM thr))""".stripMargin
  }

  /** The full s18 IVF-PQ chain — stride-seeded Lloyd-refined coarse
    * cells, the two-round PQ codebook, per-query ADC tables, the
    * probed-cell candidate join — ending in `r`(q_id, c_id, adist,
    * rank). Shared by s18 (rank ≤ 5) and s24/s25 (rank ≤ R short-list,
    * exact-cosine refined). */
  private lazy val ivfPqAdcCtes: String = {
    val m = Similarity.PqM
    val sd = Similarity.PqSubDim
    val k = Similarity.PqK
    val nq = Similarity.PqQueries
    val nprobe = Similarity.NProbe
    val iters = Similarity.LloydIters
    val strideSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
    val refine = (1 to iters).map { i =>
      s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents${i - 1}),
         |as$i AS (SELECT vec_id, embedding, cent_id AS cell
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
         |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
         |  FROM as$i GROUP BY cell),
         |cents$i AS (SELECT cent_id,
         |  [CAST(s AS DOUBLE) / len(ms) for s in
         |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
         |      for i in range(1, len(a) + 1)])] AS c_emb
         |  FROM agg$i),""".stripMargin
    }.mkString("\n")
    def distSql(cvCast: String) =
      s"""list_reduce([0.0] || [(CAST(s.sv[i] AS DOUBLE) - $cvCast)
         |      * (CAST(s.sv[i] AS DOUBLE) - $cvCast)
         |    for i in range(1, ${sd + 1})], (acc, x) -> acc + x)""".stripMargin
    val codeCols = (0 until m).map(j =>
      s"CAST(max(CASE WHEN m = $j THEN cell END) AS INTEGER) AS c$j").mkString(",\n  ")
    val lookJoins = (0 until m).map(j =>
      s"JOIN dt l$j ON l$j.q_id = qc.q_id AND l$j.m = $j AND l$j.cent = cc.c$j")
      .mkString("\n  ")
    val adist = (0 until m).map(j => s"l$j.qd").mkString(" + ")
    s"""cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id % $strideSql = 0),
       |$refine
       |scored AS (SELECT e.vec_id, cent_id,
       |    ${cosSql("e.embedding", "c_emb")} AS csim
       |  FROM embeddings e CROSS JOIN cents$iters),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
       |cells AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rk = 1),
       |qc AS (SELECT vec_id AS q_id, cent_id AS cell
       |  FROM ranked WHERE vec_id < $nq AND rk <= $nprobe),
       |msq AS (SELECT unnest(range(0, $m)) AS m),
       |sub AS (SELECT vec_id, m, embedding[m * $sd + 1 : m * $sd + $sd] AS sv
       |  FROM embeddings CROSS JOIN msq),
       |c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cent, sv AS cv
       |  FROM sub WHERE vec_id < $k),
       |d0 AS (SELECT s.vec_id, s.m, cent,
       |    ${distSql("CAST(cv[i] AS DOUBLE)")} AS d
       |  FROM sub s JOIN c0 USING (m)),
       |a0 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d ASC, cent ASC) AS rk FROM d0) WHERE rk = 1),
       |g1 AS (SELECT m, cell, list(CAST(sv AS DOUBLE[]) ORDER BY vec_id) AS msv
       |  FROM a0 JOIN sub USING (vec_id, m) GROUP BY m, cell),
       |c1 AS (SELECT m, cent, [CAST(x AS DOUBLE) / len(msv) for x in
       |    list_reduce(msv, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
       |      for i in range(1, len(a) + 1)])] AS cv
       |  FROM (SELECT m, CAST(cell AS INTEGER) AS cent, msv FROM g1)),
       |d1 AS (SELECT s.vec_id, s.m, cent,
       |    ${distSql("cv[i]")} AS d
       |  FROM sub s JOIN c1 USING (m)),
       |a1 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d ASC, cent ASC) AS rk FROM d1) WHERE rk = 1),
       |codes AS (SELECT vec_id, $codeCols FROM a1 GROUP BY vec_id),
       |dt AS (SELECT s.vec_id AS q_id, s.m, cent,
       |    ${distSql("cv[i]")} AS qd
       |  FROM sub s JOIN c1 USING (m) WHERE s.vec_id < $nq),
       |cc AS (SELECT codes.vec_id, cell, c0, c1, c2, c3
       |  FROM codes JOIN cells USING (vec_id)),
       |j AS (SELECT qc.q_id, cc.vec_id AS c_id,
       |    round($adist, 6) AS adist
       |  FROM cc JOIN qc USING (cell)
       |  $lookJoins
       |  WHERE qc.q_id <> cc.vec_id),
       |r AS (SELECT q_id, c_id, adist, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY adist ASC, c_id ASC) AS INTEGER) AS rank
       |  FROM j)""".stripMargin
  }

  /** The IVFADC-R rerank query at an explicit short-list depth R —
    * shared by s24 (R = RerankDepth) and s25 (R = DeepRerankDepth):
    * the s18 chain widened to the top-R ADC candidates, then exact
    * cosine over ONLY those rows (ranked by the unrounded sim, the s1
    * discipline). */
  private def ivfPqRerankSql(depth: Int): String =
    s"""WITH $ivfPqAdcCtes,
       |cand AS (SELECT q_id, c_id FROM r WHERE rank <= $depth),
       |ex AS (SELECT cand.q_id, cand.c_id,
       |    ${cosSql("qe.embedding", "ce.embedding")} AS sim
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.q_id
       |  JOIN embeddings ce ON ce.vec_id = cand.c_id),
       |rr AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank
       |  FROM ex)
       |SELECT q_id, rank, c_id, round(sim, 6) AS sim
       |FROM rr WHERE rank <= 5""".stripMargin

  /** Scaled simhash CTE chain (Dedup.simhashScaled): word hash = 60 bits
    * from md5 hex chars 1-15 masked to `bits`, votes/fingerprint as the
    * 32-bit form. Ends in sim(doc_id, simhash). */
  private def simhashScaledCtes(bits: Int): String = {
    val mask = (1L << bits) - 1
    val voteCols = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val fp = (0 until bits)
      .map(j => s"CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |wrd AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM tok),
       |hsh AS (SELECT doc_id, CAST(list_sum(
       |  [(strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)::BIGINT << ((15 - i) * 4)
       |   for i in range(1, 16)]) AS BIGINT) & $mask AS h FROM wrd),
       |votes AS (SELECT doc_id, $voteCols FROM hsh GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  // ---- the map -------------------------------------------------------

  val all: Map[String, String] = Map(
    // §2.2 stateless
    "o1_map_values" ->
      "SELECT event_id, upper(event_type) AS value_upper FROM events",
    "o2_map_rekey" ->
      ("SELECT event_type || '#' || CAST(user_id AS VARCHAR) AS new_key, " +
        "value * 2 AS doubled FROM events"),
    "o3_select_key" ->
      "SELECT user_id AS key, event_id, value FROM events",
    "o4_flatmap_corrupt" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k2 " +
        "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL"),
    "o5_flatmap_words" ->
      ("SELECT doc_id, w AS word FROM (SELECT doc_id, " +
        "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w " +
        "FROM documents WHERE doc_id % 10 = 0) WHERE length(w) > 0"),
    "o6_filter_stream" ->
      ("SELECT event_id, user_id, value FROM events " +
        "WHERE event_type = 'purchase' AND value > 100"),
    "o7_filter_having" ->
      ("SELECT user_id, count(*) AS cnt FROM events " +
        "GROUP BY user_id HAVING count(*) >= 3"),
    "o9_branch" ->
      ("SELECT event_id, value, 'limit-above' AS branch FROM events WHERE value >= 100 " +
        "UNION ALL SELECT event_id, value, 'limit-below' AS branch FROM events WHERE value < 100"),
    "o10_fanout" ->
      (s"SELECT event_type, CAST(count(*) AS DOUBLE) AS val, 'count' AS metric " +
        s"FROM events GROUP BY event_type " +
        s"UNION ALL SELECT event_type, ${dsum("value")} AS val, 'sum' AS metric " +
        s"FROM events GROUP BY event_type"),
    "o12_passthrough" ->
      "SELECT r_regionkey, r_name FROM region",
    "s2_latest_per_key" ->
      ("SELECT user_id, event_type, value FROM (SELECT user_id, event_type, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1"),
    "s6_dynamic_routing" ->
      ("SELECT 'events-' || event_type AS topic, count(*) AS n_records " +
        "FROM events GROUP BY 1"),
    "o8_tombstone_filter" ->
      ("SELECT event_id, value AS v FROM events WHERE value >= 5"),
    "a7_topn_latest" ->
      ("""SELECT event_type, pos, user_id, value FROM (SELECT event_type, user_id, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, user_id ASC) AS INTEGER) AS pos
        |  FROM (SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1) WHERE pos <= 3""".stripMargin),
    // peek is an identity relation with observed side-channel metrics;
    // the oracle checks the identity (the metrics are asserted in OpsSpec)
    "o11_peek" ->
      "SELECT n_nationkey, n_name FROM nation",
    "o13_json_typed" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL"),
    "o14_validation" ->
      ("SELECT result, count(*) AS cnt FROM (SELECT CASE WHEN l_quantity >= 0 " +
        "AND l_extendedprice >= 0 AND l_returnflag IS NOT NULL THEN 'PASS' ELSE 'FAIL' END " +
        "AS result FROM lineitem) GROUP BY result"),
    "o15_string_ops" ->
      ("SELECT doc_id, lang || ':' || upper(source) AS tag, " +
        "regexp_replace(substring(text, 1, 50), '[aeiou]', '*', 'g') AS anon FROM documents"),
    "o16_math_ops" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue, " +
        "l_quantity * 2 AS qty2, greatest(l_tax, l_discount) AS max_rate " +
        "FROM lineitem WHERE l_orderkey % 100 = 0"),
    // §2.3 aggregations
    "o17_order_limit" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    // the oracle aggregates the RAW columns; the Spark side aggregates the
    // avro-decoded ones — equality proves the round-trip is lossless
    "t10_tfidf_top" ->
      ("""WITH toks AS (SELECT doc_id,
        |    unnest([w for w in string_split_regex(lower(text), '[^a-z0-9]+') if len(w) > 0]) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, term, n, sum(n) OVER (PARTITION BY doc_id) AS doc_len FROM tf),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        |sc AS (SELECT doc_id, term,
        |    round((CAST(n AS DOUBLE) / doc_len) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM dl JOIN dfq USING (term) CROSS JOIN nd),
        |r AS (SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk FROM sc)
        |SELECT doc_id, term AS top_term, tfidf FROM r WHERE rk = 1""".stripMargin),
    "t9_distinct_users" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY event_type"),
    "o19_sum_odd" ->
      ("SELECT CAST(sum(event_id) AS BIGINT) AS sum_odd FROM events " +
        "WHERE event_id % 2 = 1"),
    "o18_avro_roundtrip" ->
      (s"SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum, " +
        s"${dsum("value")} AS total FROM events GROUP BY event_type"),
    // every event round-trips the registry wire format (split across two
    // writer-schema versions), so the aggregate must equal the raw table's
    "o20_wire_registry" ->
      (s"SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum, " +
        s"${dsum("value")} AS total FROM events GROUP BY event_type"),
    "a1_sum_by_key" ->
      (s"SELECT user_id, ${dsum("value")} AS total, count(*) AS n " +
        s"FROM events GROUP BY user_id"),
    "a2_wordcount" ->
      ("SELECT w AS word, count(*) AS cnt FROM (SELECT " +
        "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w FROM documents) " +
        "WHERE length(w) > 0 GROUP BY w"),
    "a4_q1_pricing" ->
      (s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty, " +
        s"${dsum("l_extendedprice")} AS sum_base_price, count(*) AS count_order, " +
        s"${dsum("l_quantity")} / count(*) AS avg_qty " +
        s"FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "a3_latest_regroup" ->
      ("SELECT event_type, count(*) AS n_users FROM (SELECT user_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 GROUP BY event_type"),
    "a5_ordered_concat" ->
      ("SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq " +
        "FROM events GROUP BY user_id"),
    "a6_custom_agg" ->
      ("SELECT lang, CAST(sum(length(text)) AS BIGINT) AS total_len, " +
        "max(n_chars) AS max_chars FROM documents GROUP BY lang"),
    "a8_topn_per_group" ->
      ("SELECT p_brand, p_partkey, p_retailprice, rank FROM (SELECT p_brand, p_partkey, " +
        "p_retailprice, CAST(row_number() OVER (PARTITION BY p_brand " +
        "ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rank FROM part) " +
        "WHERE rank <= 5"),
    "a9_session_spend" ->
      (s"""WITH flagged AS (SELECT user_id, ts, value, CASE WHEN
         |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR
         |  ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |  THEN 1 ELSE 0 END AS new_s FROM events),
         |grp AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |  ROWS UNBOUNDED PRECEDING) AS g FROM flagged)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         |  ${dsum("value")} AS spend FROM grp GROUP BY user_id, g""".stripMargin),
    "a10_minmax" ->
      ("SELECT event_type, min(value) AS min_val, max(value) AS max_val, " +
        "min(ts) AS first_ts, max(ts) AS last_ts FROM events GROUP BY event_type"),
    "a11_running_count" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS INTEGER) AS seq FROM events"),
    "a12_reservation" ->
      ("""WITH run AS (SELECT l_orderkey, l_linenumber, l_partkey,
        |  sum(l_quantity) OVER (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS reserved FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |  CASE WHEN reserved <= CAST(p_size * 100 AS DOUBLE) THEN 'PASS' ELSE 'FAIL' END AS result
        |FROM run JOIN part ON l_partkey = p_partkey""".stripMargin),
    // §2.5 joins
    "j1_stream_table" ->
      (s"SELECT c_mktsegment, ${dsum("o_totalprice")} AS revenue, count(*) AS n_orders " +
        s"FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    "j2_stream_table_left" ->
      ("SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment, count(*) AS n_orders " +
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY coalesce(c_mktsegment, 'UNKNOWN')"),
    "j3_fk_chain" ->
      ("SELECT p_brand, n_name, count(*) AS n_lines, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY p_brand, n_name"),
    "j5_windowed_inner" ->
      ("""SELECT p.user_id AS user_id, count(*) AS pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts + INTERVAL 10 MINUTE
        |GROUP BY p.user_id""".stripMargin),
    "j6_windowed_outer" ->
      ("""SELECT status, count(*) AS cnt FROM (SELECT CASE
        |  WHEN v.v_id IS NULL THEN 'purchase-only'
        |  WHEN p.p_id IS NULL THEN 'view-only' ELSE 'matched' END AS status
        |FROM (SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts FROM events
        |      WHERE event_type = 'view') v
        |FULL OUTER JOIN (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM events
        |      WHERE event_type = 'purchase') p
        |ON v.v_user = p.p_user AND p.p_ts >= v.v_ts
        |  AND p.p_ts <= v.v_ts + INTERVAL 5 MINUTE) GROUP BY status""".stripMargin),
    "j7_table_table" ->
      ("""WITH lp AS (SELECT user_id, ts AS last_purchase FROM (SELECT user_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |lc AS (SELECT user_id, ts AS last_click FROM (SELECT user_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT lp.user_id AS user_id, last_purchase, last_click
        |FROM lp JOIN lc ON lp.user_id = lc.user_id""".stripMargin),
    "j8_asof" ->
      ("""WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |pur AS (SELECT user_id, ts, event_id AS purchase_id FROM events
        |  WHERE event_type = 'purchase'),
        |u AS (SELECT user_id, ts, 0 AS kind, click_id, CAST(NULL AS BIGINT) AS purchase_id
        |      FROM clicks
        |      UNION ALL SELECT user_id, ts, 1, CAST(NULL AS BIGINT), purchase_id FROM pur),
        |x AS (SELECT *, last_value(click_id IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, kind ROWS UNBOUNDED PRECEDING) AS asof_click_id FROM u)
        |SELECT purchase_id, user_id, asof_click_id FROM x WHERE kind = 1""".stripMargin),
    "j9_salted" ->
      (s"SELECT c_mktsegment, count(*) AS n_events, ${dsum("value")} AS total " +
        s"FROM events JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment"),
    // §2.4 windows
    "w1_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt " +
        "FROM events GROUP BY date_trunc('hour', ts), event_type"),
    "w2_hopping" ->
      ("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k) AS window_start,
        |  event_type, count(*) AS cnt
        |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) hops(k)
        |GROUP BY 1, event_type""".stripMargin),
    "w4_daily_paris" ->
      ("""SELECT CAST(timezone('Europe/Paris', date_trunc('day',
        |    timezone('Europe/Paris', CAST(ts AS TIMESTAMPTZ)) - INTERVAL 18 HOUR)
        |    + INTERVAL 18 HOUR) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS cnt FROM events GROUP BY 1, event_type""".stripMargin),
    "w5_late_data" ->
      ("""SELECT event_type, count(*) AS kept FROM (SELECT event_type, ts,
        |  max(ts) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
        |    - INTERVAL 10 MINUTE AS wm FROM events)
        |WHERE ts >= wm GROUP BY event_type""".stripMargin),
    // dedup
    "d1_exact_id" ->
      ("SELECT user_id, event_type, min(event_id) AS first_event, count(*) AS n_dups " +
        "FROM events GROUP BY user_id, event_type"),
    "d2_exact_text" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY md5(text)"),
    "d3_minhash_sig" ->
      (s"WITH $minhashCtes SELECT * FROM sig"),
    "d4_minhash_lsh" -> {
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
         |SELECT doc_a, doc_b, CAST($agree AS DOUBLE) / $nPerms AS est_jaccard
         |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5""".stripMargin
    },
    "d13_containment_pairs" -> {
      // d4's banded-LSH pairs, refined by exact distinct-shingle
      // containment in both directions (see Dedup.containmentPairs)
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter FROM pairs p
         |  JOIN shx xa ON xa.doc_id = p.doc_a
         |  JOIN shx xb ON xb.doc_id = p.doc_b AND xb.s = xa.s
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT p.doc_a, p.doc_b,
         |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
         |  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / za.n_sh, 6) AS cont_a,
         |  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / zb.n_sh, 6) AS cont_b,
         |  CASE WHEN za.n_sh < zb.n_sh THEN 'a'
         |    WHEN zb.n_sh < za.n_sh THEN 'b' ELSE 'tie' END AS subset_side
         |FROM pairs p
         |LEFT JOIN inter i USING (doc_a, doc_b)
         |JOIN sz za ON za.doc_id = p.doc_a
         |JOIN sz zb ON zb.doc_id = p.doc_b""".stripMargin
    },
    "d14_substring_dup" -> {
      // exact substring duplication: positional N-gram anchors (df-capped),
      // islands per (pair, diagonal), span = run + N - 1
      // (see Dedup.substringDup; DuckDB positions are 1-based, Spark's
      // 0-based — diagonals and runs are shift-invariant)
      val n = graft.ops.Dedup.AnchorTokens
      val cap = graft.ops.Dedup.MaxAnchorDocs
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |o AS (SELECT doc_id, unnest(CASE WHEN len(t) >= $n
         |    THEN [{'pos': i, 'g': array_to_string(t[i:i+${n - 1}], ' ')}
         |          for i in range(1, len(t) - ${n - 2})]
         |    ELSE [] END) AS p FROM tok),
         |occ AS (SELECT doc_id, p.pos AS pos, p.g AS g FROM o),
         |el AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS dfd
         |  FROM occ GROUP BY g) WHERE dfd BETWEEN 2 AND $cap),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pos AS pa, b.pos AS pb
         |  FROM occ a JOIN el USING (g) JOIN occ b USING (g)
         |  WHERE a.doc_id < b.doc_id),
         |r AS (SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
         |      ORDER BY pa) AS island FROM m),
         |sp AS (SELECT doc_a, doc_b, count(*) AS run FROM r
         |  GROUP BY doc_a, doc_b, diag, island)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(max(run) + ${n - 1} AS BIGINT) AS max_span_tokens,
         |  CAST(sum(run) + ${n - 1} * count(*) AS BIGINT) AS dup_tokens
         |FROM sp GROUP BY doc_a, doc_b""".stripMargin
    },
    // incremental batch-vs-corpus dedup: d4's banded LSH with the two
    // join sides split at the 90% doc_id cut, plus the exact md5 tier
    "d16_delta_dedup" -> {
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         |cutt AS (SELECT CAST(floor(count(*) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |hx AS (SELECT doc_id, md5(text) AS ch FROM documents),
         |xmt AS (SELECT h.doc_id, min(c.doc_id) AS exact_partner
         |  FROM hx h JOIN hx c ON h.ch = c.ch CROSS JOIN cutt
         |  WHERE h.doc_id >= cut AND c.doc_id < cut GROUP BY h.doc_id),
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |nearc AS (SELECT l.doc_id AS b_id, r.doc_id AS c_id,
         |    max(CAST($agree AS DOUBLE) / $nPerms) AS est
         |  FROM buckets l
         |  JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
         |  JOIN sig sa ON l.doc_id = sa.doc_id
         |  JOIN sig sb ON r.doc_id = sb.doc_id
         |  CROSS JOIN cutt
         |  WHERE l.doc_id >= cut AND r.doc_id < cut
         |    AND CAST($agree AS DOUBLE) / $nPerms >= 0.5
         |  GROUP BY l.doc_id, r.doc_id),
         |nearr AS (SELECT b_id, c_id AS near_partner, est AS near_est,
         |  row_number() OVER (PARTITION BY b_id
         |    ORDER BY est DESC, c_id ASC) AS rk FROM nearc)
         |SELECT b.doc_id,
         |  CASE WHEN xmt.exact_partner IS NOT NULL THEN 'exact'
         |    WHEN n.near_partner IS NOT NULL THEN 'near'
         |    ELSE 'new' END AS verdict,
         |  COALESCE(xmt.exact_partner, n.near_partner) AS partner,
         |  CASE WHEN xmt.exact_partner IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |    ELSE n.near_est END AS est_jaccard
         |FROM (SELECT doc_id FROM documents CROSS JOIN cutt
         |  WHERE doc_id >= cut) b
         |LEFT JOIN xmt ON b.doc_id = xmt.doc_id
         |LEFT JOIN (SELECT * FROM nearr WHERE rk = 1) n
         |  ON b.doc_id = n.b_id""".stripMargin
    },
    "d15_substring_scrub" -> {
      // d14's span chain, then: covered 1-based positions in the LATER
      // doc (first occurrence kept), distinct across sources, cut from
      // the positional token table; clean_hash reconstructs the scrubbed
      // text so the compare proves the cut positions exactly
      val n = graft.ops.Dedup.AnchorTokens
      val cap = graft.ops.Dedup.MaxAnchorDocs
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |o AS (SELECT doc_id, unnest(CASE WHEN len(t) >= $n
         |    THEN [{'pos': i, 'g': array_to_string(t[i:i+${n - 1}], ' ')}
         |          for i in range(1, len(t) - ${n - 2})]
         |    ELSE [] END) AS p FROM tok),
         |occ AS (SELECT doc_id, p.pos AS pos, p.g AS g FROM o),
         |el AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS dfd
         |  FROM occ GROUP BY g) WHERE dfd BETWEEN 2 AND $cap),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pos AS pa, b.pos AS pb
         |  FROM occ a JOIN el USING (g) JOIN occ b USING (g)
         |  WHERE a.doc_id < b.doc_id),
         |r AS (SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
         |      ORDER BY pa) AS island FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a0, count(*) AS run
         |  FROM r GROUP BY doc_a, doc_b, diag, island),
         |rm AS (SELECT DISTINCT doc_b AS doc_id,
         |    unnest(range(a0 - diag, a0 - diag + run + ${n - 1})) AS p FROM sp),
         |tk AS (SELECT doc_id, len(t) AS n_tokens, unnest(t) AS tok,
         |    unnest(range(1, len(t) + 1)) AS p FROM tok WHERE len(t) > 0),
         |j AS (SELECT tk.doc_id, n_tokens, tk.p AS p, tok,
         |    rm.p IS NOT NULL AS cut
         |  FROM tk LEFT JOIN rm ON tk.doc_id = rm.doc_id AND tk.p = rm.p)
         |SELECT doc_id, CAST(max(n_tokens) AS INTEGER) AS n_tokens,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  md5(coalesce(string_agg(CASE WHEN NOT cut THEN tok END, ' '
         |    ORDER BY p), '')) AS clean_hash
         |FROM j GROUP BY doc_id""".stripMargin
    },
    "d8_dedup_clusters" -> {
      // the same banded-LSH pair graph as d4, then connected components via
      // a recursive CTE (min reachable doc_id = cluster id)
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE $minhashCtes,
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
    },
    // d8's clusters applied: drop non-canonical members, roll up survivors
    "d10_dedup_apply" -> {
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE $minhashCtes,
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         |losers AS (SELECT id AS doc_id FROM reach GROUP BY id
         |  HAVING id <> min(r))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(trim(text), '$ws+'))) AS BIGINT)
         |    AS total_tokens
         |FROM documents ANTI JOIN losers USING (doc_id)
         |GROUP BY lang""".stripMargin
    },
    // leakage-safe split: the split unit is the d8 dedup CLUSTER (group
    // id = cluster label, own id when unclustered); the group's md5
    // bucket picks train/val/test with integer cuts
    "c13_leakage_split" -> {
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val trainCut = graft.ops.Composites.SplitTrainCut
      val valCut = graft.ops.Composites.SplitValCut
      s"""WITH RECURSIVE $minhashCtes,
         |banded AS (SELECT doc_id, $bucketCols FROM sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id, len($tokensSql) AS n_tokens,
         |    COALESCE(l.cluster_id, d.doc_id) AS gid
         |  FROM documents d LEFT JOIN labels l USING (doc_id)),
         |bk AS (SELECT doc_id, n_tokens, gid, CAST(list_sum(
         |    [(strpos('0123456789abcdef', substr(md5(CAST(gid AS VARCHAR)), i, 1)) - 1)::BIGINT
         |     << ((4 - i) * 4) for i in range(1, 5)]) AS BIGINT) AS bucket FROM g)
         |SELECT CASE WHEN bucket < $trainCut THEN 'train'
         |    WHEN bucket < $valCut THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT gid) AS BIGINT) AS n_groups,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM bk GROUP BY 1""".stripMargin
    },
    "c14_release_manifest" -> {
      // surv (the c10/c11 funnel chain) composed with the c13 label
      // chain; the minhash CTEs take the m_ prefix because the funnel
      // fragment already owns tok/sh/ex
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val trainCut = graft.ops.Composites.SplitTrainCut
      val valCut = graft.ops.Composites.SplitValCut
      // the t24 BPE-encode chain under a b-prefix (per-doc REAL token
      // counts — c14 dual-reports the tokenizer budget next to the
      // whitespace one; VERDICT r12 #3)
      val k = graft.ops.TextAnalysis.MergeRounds
      val bpeRounds = (1 to k).map { r =>
        s"""bpr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM bt${r - 1})),
           |btop$r AS (SELECT pair FROM bpr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |bt$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM bt${r - 1} CROSS JOIN btop$r),""".stripMargin
      }.mkString("\n")
      s"""WITH RECURSIVE $prepFunnelCtes,
         |bt0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         |$bpeRounds
         |benc AS (SELECT doc_id,
         |    len(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS bpe
         |  FROM bt$k),
         |${minhashCtesWith("m_")},
         |banded AS (SELECT doc_id, $bucketCols FROM m_sig),
         |buckets AS ($bandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN m_sig sa ON doc_a = sa.doc_id JOIN m_sig sb ON doc_b = sb.doc_id
         |  WHERE CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |j AS (SELECT s.doc_id, s.lang, s.n_kept, benc.bpe,
         |    COALESCE(l.cluster_id, s.doc_id) AS gid
         |  FROM surv s LEFT JOIN labels l USING (doc_id)
         |  JOIN benc USING (doc_id)),
         |bk AS (SELECT lang, n_kept, bpe, gid, CAST(list_sum(
         |    [(strpos('0123456789abcdef', substr(md5(CAST(gid AS VARCHAR)), i, 1)) - 1)::BIGINT
         |     << ((4 - i) * 4) for i in range(1, 5)]) AS BIGINT) AS bucket FROM j)
         |SELECT CASE WHEN bucket < $trainCut THEN 'train'
         |    WHEN bucket < $valCut THEN 'val' ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs,
         |  CAST(count(DISTINCT gid) AS BIGINT) AS n_groups,
         |  CAST(sum(n_kept) AS BIGINT) AS kept_tokens,
         |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens
         |FROM bk GROUP BY 1, 2""".stripMargin
    },
    "d9_contamination" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(t) >= 3
         |    THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
         |    ELSE [array_to_string(t, ' ')] END AS shingles FROM tok),
         |ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM sh),
         |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id < 10)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS overlap
         |FROM ex LEFT JOIN bench USING (sh) WHERE doc_id >= 10
         |GROUP BY doc_id
         |HAVING round(CAST(sum(CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |  / count(*), 6) >= 0.3""".stripMargin),
    "d12_decontam_attrib" -> {
      val minOv = Dedup.AttribMinOverlap
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(t) >= 3
         |    THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
         |    ELSE [array_to_string(t, ' ')] END AS shingles FROM tok),
         |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
         |bench AS (SELECT doc_id AS bench_id, sh FROM ex WHERE doc_id < 10),
         |bsize AS (SELECT bench_id, count(*) AS n_bench FROM bench GROUP BY bench_id),
         |ov AS (SELECT e.doc_id, b.bench_id, count(*) AS overlap
         |  FROM ex e JOIN bench b USING (sh) WHERE e.doc_id >= 10
         |  GROUP BY e.doc_id, b.bench_id HAVING count(*) >= $minOv)
         |SELECT doc_id, bench_id, CAST(overlap AS BIGINT) AS overlap,
         |  round(CAST(overlap AS DOUBLE) / n_bench, 6) AS containment
         |FROM ov JOIN bsize USING (bench_id)""".stripMargin
    },
    "d5_simhash" ->
      (s"WITH $simhashCtes SELECT doc_id, simhash FROM sim"),
    "d6_simhash_pairs" ->
      (s"""WITH $simhashCtes,
         |buckets AS (SELECT b AS band, (simhash >> (b * 8)) & 255 AS bucket, doc_id, simhash
         |  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b))
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  bit_count(xor(l.simhash, r.simhash)) AS hamming
         |FROM buckets l JOIN buckets r
         |ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin),
    // the production-knob SimHash form: Dedup.ScaledBits-wide fingerprints
    // in 4 bands of bits/4 (occupancy restored for a 10× corpus)
    "d11_simhash_scaled" -> {
      val bits = Dedup.ScaledBits
      val w = bits / 4
      val bandMask = (1L << w) - 1
      s"""WITH ${simhashScaledCtes(bits)},
         |buckets AS (SELECT b AS band, (simhash >> (b * $w)) & $bandMask AS bucket,
         |    doc_id, simhash
         |  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b))
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  bit_count(xor(l.simhash, r.simhash)) AS hamming
         |FROM buckets l JOIN buckets r
         |ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin
    },
    // cross-source duplicate attribution: the d6 pair set rolled up to
    // source-pair grain (pair endpoints attributed, least/greatest
    // canonicalization so (A,B) and (B,A) are one cell)
    "d17_crosssource_dup" ->
      (s"""WITH $simhashCtes,
         |buckets AS (SELECT b AS band, (simhash >> (b * 8)) & 255 AS bucket, doc_id, simhash
         |  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b)),
         |p AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(x.source, y.source) AS src_a,
         |  greatest(x.source, y.source) AS src_b, count(*) AS n_pairs
         |FROM p JOIN src x ON p.doc_a = x.doc_id JOIN src y ON p.doc_b = y.doc_id
         |GROUP BY 1, 2""".stripMargin),
    "d7_ngram_jaccard" ->
      (s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS w
         |  FROM documents WHERE doc_id % 20 = 0 AND doc_id < ${Dedup.JaccardAuditCap}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id AS doc_a, b_id AS doc_b,
         |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |FROM shared JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3""".stripMargin),
    // similarity
    "s1_brute_topk" ->
      (s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
         |s AS (SELECT q_id, c_id, ${cosSql("q_emb", "c_emb")} AS sim
         |  FROM c CROSS JOIN q WHERE q_id <> c_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin),
    "s14_lsh_topk" ->
      (s"""WITH $srpBucketCtes,
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM bk WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM bk),
         |s AS (SELECT q_id, c_id, ${cosSql("q_emb", "c_emb")} AS sim
         |  FROM c JOIN q USING (bucket) WHERE q_id <> c_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin),
    "s3_embedding_neardup" ->
      (s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 0 AND vec_id < ${Similarity.AuditCap})
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.3""".stripMargin),
    "s7_multiprobe_topk" ->
      (s"""WITH $srpBucketCtes,
         |probes AS (SELECT q_id, q_emb, q_norm, unnest(pr) AS bucket FROM (
         |  SELECT vec_id AS q_id, embedding AS q_emb,
         |    sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |      for i in range(1, len(embedding) + 1)])) AS q_norm,
         |    [bucket] || [xor(bucket, CAST(1::BIGINT << p AS BIGINT)) for p in range(0, 8)] AS pr
         |  FROM bk WHERE vec_id < 10)),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket,
         |  sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |    for i in range(1, len(embedding) + 1)])) AS c_norm FROM bk),
         |s AS (SELECT q_id, c_id,
         |  (list_sum([CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)
         |    for i in range(1, len(q_emb) + 1)])) / (q_norm * c_norm) AS sim
         |  FROM c JOIN probes USING (bucket) WHERE q_id <> c_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin),
    // IVF-Flat: same deterministic centroids (vec_id % stride = 0), same
    // sequential-double cosine for assignment and search
    "s8_ivf_topk" -> {
      val stride = Similarity.CentroidStride
      val nprobe = Similarity.NProbe
      // Lloyd refinement CTEs GENERATED from Similarity.LloydIters (one
      // assign→recenter block per round), so bumping the Spark-side
      // constant can never silently desynchronize engine and oracle. Each
      // round recenters every cell at the vec_id-ordered sequential-double
      // mean — the same defined fold the Spark side runs.
      val iters = Similarity.LloydIters
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $stride = 0),
         |$refine
         |scored AS (SELECT e.vec_id, e.embedding, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
         |cells AS (SELECT vec_id, embedding, cent_id AS cell FROM ranked WHERE rk = 1),
         |qc AS (SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS cell
         |  FROM ranked WHERE vec_id < 10 AND rk <= $nprobe),
         |s AS (SELECT q_id, c.vec_id AS c_id,
         |    ${cosSql("q_emb", "c.embedding")} AS sim
         |  FROM cells c JOIN qc USING (cell) WHERE q_id <> c.vec_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin
    },
    "s15_kmeans_cells" -> {
      val stride = Similarity.CentroidStride
      // same generated Lloyd chain as s8 (one assign→recenter block per
      // round, sequential-double recenter), rolled up to cluster grain
      val iters = Similarity.LloydIters
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $stride = 0),
         |$refine
         |scored AS (SELECT e.vec_id, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |asn AS (SELECT vec_id, cent_id AS cell, csim
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored) WHERE rk = 1)
         |SELECT cell, count(*) AS n_members, round(min(csim), 6) AS min_sim,
         |  round(max(csim), 6) AS max_sim FROM asn GROUP BY cell""".stripMargin
    },
    "s16_pq_codes" -> {
      val m = Similarity.PqM
      val sd = Similarity.PqSubDim
      val k = Similarity.PqK
      // one assign→recenter→assign chain per the Spark constants; the
      // L2 distance and the sequential-double recenter mirror the engine
      // an explicit LEFT FOLD with a 0.0 seed — Spark's aggregate(...,
      // lit(0.0), acc + x) order exactly; list_sum's internal summation
      // is one ulp off at this term count (observed at sf0.01)
      def distSql(cvCast: String) =
        s"""list_reduce([0.0] || [(CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |      * (CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |    for i in range(1, ${sd + 1})], (acc, x) -> acc + x)""".stripMargin
      val codeCols = (0 until m).map(j =>
        s"CAST(max(CASE WHEN m = $j THEN cell END) AS INTEGER) AS c$j").mkString(",\n  ")
      val errSum = (0 until m).map(j => s"max(CASE WHEN m = $j THEN d END)")
        .mkString(" + ")
      s"""WITH msq AS (SELECT unnest(range(0, $m)) AS m),
         |sub AS (SELECT vec_id, m, embedding[m * $sd + 1 : m * $sd + $sd] AS sv
         |  FROM embeddings CROSS JOIN msq),
         |c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cent, sv AS cv
         |  FROM sub WHERE vec_id < $k),
         |d0 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("CAST(cv[i] AS DOUBLE)")} AS d
         |  FROM sub s JOIN c0 USING (m)),
         |a0 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d0) WHERE rk = 1),
         |g1 AS (SELECT m, cell, list(CAST(sv AS DOUBLE[]) ORDER BY vec_id) AS msv
         |  FROM a0 JOIN sub USING (vec_id, m) GROUP BY m, cell),
         |c1 AS (SELECT m, cent, [CAST(x AS DOUBLE) / len(msv) for x in
         |    list_reduce(msv, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
         |      for i in range(1, len(a) + 1)])] AS cv
         |  FROM (SELECT m, CAST(cell AS INTEGER) AS cent, msv FROM g1)),
         |d1 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("cv[i]")} AS d
         |  FROM sub s JOIN c1 USING (m)),
         |a1 AS (SELECT vec_id, m, cent AS cell, d FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d1) WHERE rk = 1)
         |SELECT vec_id,
         |  $codeCols,
         |  round($errSum, 6) AS recon_err
         |FROM a1 GROUP BY vec_id""".stripMargin
    },
    "s17_pq_adc" -> {
      val m = Similarity.PqM
      val sd = Similarity.PqSubDim
      val k = Similarity.PqK
      val nq = Similarity.PqQueries
      def distSql(cvCast: String) =
        s"""list_reduce([0.0] || [(CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |      * (CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |    for i in range(1, ${sd + 1})], (acc, x) -> acc + x)""".stripMargin
      val codeCols = (0 until m).map(j =>
        s"CAST(max(CASE WHEN m = $j THEN cell END) AS INTEGER) AS c$j").mkString(",\n  ")
      val lookJoins = (0 until m).map(j =>
        s"JOIN dt d$j ON d$j.m = $j AND d$j.cent = codes.c$j" +
          (if (j > 0) s" AND d$j.q_id = d0.q_id" else "")).mkString("\n  ")
      val adist = (0 until m).map(j => s"d$j.qd").mkString(" + ")
      s"""WITH msq AS (SELECT unnest(range(0, $m)) AS m),
         |sub AS (SELECT vec_id, m, embedding[m * $sd + 1 : m * $sd + $sd] AS sv
         |  FROM embeddings CROSS JOIN msq),
         |c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cent, sv AS cv
         |  FROM sub WHERE vec_id < $k),
         |d0 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("CAST(cv[i] AS DOUBLE)")} AS d
         |  FROM sub s JOIN c0 USING (m)),
         |a0 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d0) WHERE rk = 1),
         |g1 AS (SELECT m, cell, list(CAST(sv AS DOUBLE[]) ORDER BY vec_id) AS msv
         |  FROM a0 JOIN sub USING (vec_id, m) GROUP BY m, cell),
         |c1 AS (SELECT m, cent, [CAST(x AS DOUBLE) / len(msv) for x in
         |    list_reduce(msv, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
         |      for i in range(1, len(a) + 1)])] AS cv
         |  FROM (SELECT m, CAST(cell AS INTEGER) AS cent, msv FROM g1)),
         |d1 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("cv[i]")} AS d
         |  FROM sub s JOIN c1 USING (m)),
         |a1 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d1) WHERE rk = 1),
         |codes AS (SELECT vec_id, $codeCols FROM a1 GROUP BY vec_id),
         |dt AS (SELECT s.vec_id AS q_id, s.m, cent,
         |    ${distSql("cv[i]")} AS qd
         |  FROM sub s JOIN c1 USING (m) WHERE s.vec_id < $nq),
         |j AS (SELECT d0.q_id, codes.vec_id AS c_id,
         |    round($adist, 6) AS adist
         |  FROM codes
         |  $lookJoins
         |  WHERE d0.q_id <> codes.vec_id),
         |r AS (SELECT q_id, c_id, adist, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY adist ASC, c_id ASC) AS INTEGER) AS rank
         |  FROM j)
         |SELECT q_id, rank, c_id, adist FROM r WHERE rank <= 5""".stripMargin
    },
    // IVF-PQ composed search: the s13 √n-stride IVF chain prunes to each
    // query's NProbe cells, the s17 PQ chain codes the corpus, and ADC
    // runs ONLY over probed cells' codes — one cell-equality join before
    // the four lookup joins (cc JOIN qc USING (cell)), mirroring the
    // engine's prune-before-ADC plan exactly
    "s18_ivfpq" ->
      s"""WITH $ivfPqAdcCtes
         |SELECT q_id, rank, c_id, adist FROM r WHERE rank <= 5""".stripMargin,
    // s24 = the s18 chain widened to the top-RerankDepth ADC short-list,
    // then exact cosine over ONLY those candidates (IVFADC-R; ranked by
    // the unrounded sim, the s1 discipline)
    "s24_ivfpq_rerank" -> ivfPqRerankSql(Similarity.RerankDepth),
    // s25 = the identical chain at the DEEP short-list (R=100) — the
    // clustered-regime knob setting from BASELINE.md's measured curve
    "s25_ivfpq_rerank_deep" -> ivfPqRerankSql(Similarity.DeepRerankDepth),
    // filtered IVF-PQ: the s18 chain with the label folded INTO both the
    // query-cell and coded-cell tables and the candidate join keyed on
    // (cell, label) — pre-filter semantics over the code-only scan
    "s23_filtered_ivfpq" -> {
      val m = Similarity.PqM
      val sd = Similarity.PqSubDim
      val k = Similarity.PqK
      val nq = Similarity.PqQueries
      val nprobe = Similarity.NProbe
      val iters = Similarity.LloydIters
      val strideSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      def distSql(cvCast: String) =
        s"""list_reduce([0.0] || [(CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |      * (CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |    for i in range(1, ${sd + 1})], (acc, x) -> acc + x)""".stripMargin
      val codeCols = (0 until m).map(j =>
        s"CAST(max(CASE WHEN m = $j THEN cell END) AS INTEGER) AS c$j").mkString(",\n  ")
      val lookJoins = (0 until m).map(j =>
        s"JOIN dt l$j ON l$j.q_id = qc.q_id AND l$j.m = $j AND l$j.cent = cc.c$j")
        .mkString("\n  ")
      val adist = (0 until m).map(j => s"l$j.qd").mkString(" + ")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $strideSql = 0),
         |$refine
         |scored AS (SELECT e.vec_id, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
         |cells AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rk = 1),
         |qc AS (SELECT r.vec_id AS q_id, r.cent_id AS cell, e.label
         |  FROM ranked r JOIN embeddings e USING (vec_id)
         |  WHERE r.vec_id < $nq AND r.rk <= $nprobe),
         |msq AS (SELECT unnest(range(0, $m)) AS m),
         |sub AS (SELECT vec_id, m, embedding[m * $sd + 1 : m * $sd + $sd] AS sv
         |  FROM embeddings CROSS JOIN msq),
         |c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cent, sv AS cv
         |  FROM sub WHERE vec_id < $k),
         |d0 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("CAST(cv[i] AS DOUBLE)")} AS d
         |  FROM sub s JOIN c0 USING (m)),
         |a0 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d0) WHERE rk = 1),
         |g1 AS (SELECT m, cell, list(CAST(sv AS DOUBLE[]) ORDER BY vec_id) AS msv
         |  FROM a0 JOIN sub USING (vec_id, m) GROUP BY m, cell),
         |c1 AS (SELECT m, cent, [CAST(x AS DOUBLE) / len(msv) for x in
         |    list_reduce(msv, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
         |      for i in range(1, len(a) + 1)])] AS cv
         |  FROM (SELECT m, CAST(cell AS INTEGER) AS cent, msv FROM g1)),
         |d1 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("cv[i]")} AS d
         |  FROM sub s JOIN c1 USING (m)),
         |a1 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d1) WHERE rk = 1),
         |codes AS (SELECT vec_id, $codeCols FROM a1 GROUP BY vec_id),
         |dt AS (SELECT s.vec_id AS q_id, s.m, cent,
         |    ${distSql("cv[i]")} AS qd
         |  FROM sub s JOIN c1 USING (m) WHERE s.vec_id < $nq),
         |cc AS (SELECT codes.vec_id, cell, e.label, c0, c1, c2, c3
         |  FROM codes JOIN cells USING (vec_id)
         |  JOIN embeddings e USING (vec_id)),
         |j AS (SELECT qc.q_id, cc.vec_id AS c_id, qc.label,
         |    round($adist, 6) AS adist
         |  FROM cc JOIN qc USING (cell, label)
         |  $lookJoins
         |  WHERE qc.q_id <> cc.vec_id),
         |r AS (SELECT q_id, c_id, label, adist, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY adist ASC, c_id ASC) AS INTEGER) AS rank
         |  FROM j)
         |SELECT q_id, rank, c_id, label, adist FROM r WHERE rank <= 5""".stripMargin
    },
    // residual IVF-PQ (IVFADC proper): the s18 coarse chain, then the PQ
    // chain runs over RESIDUALS (vector − cell centroid) and the ADC
    // tables are computed per (query, probed cell) from the query's
    // per-cell residual — the lookup key gains the cell
    "s22_ivfpq_residual" -> {
      val m = Similarity.PqM
      val sd = Similarity.PqSubDim
      val k = Similarity.PqK
      val nq = Similarity.PqQueries
      val nprobe = Similarity.NProbe
      val iters = Similarity.LloydIters
      val strideSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      def distSql(cvCast: String) =
        s"""list_reduce([0.0] || [(CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |      * (CAST(s.sv[i] AS DOUBLE) - $cvCast)
           |    for i in range(1, ${sd + 1})], (acc, x) -> acc + x)""".stripMargin
      val codeCols = (0 until m).map(j =>
        s"CAST(max(CASE WHEN m = $j THEN cell END) AS INTEGER) AS c$j").mkString(",\n  ")
      val lookJoins = (0 until m).map(j =>
        s"JOIN dt l$j ON l$j.q_id = qc.q_id AND l$j.cell = cc.cell " +
          s"AND l$j.m = $j AND l$j.cent = cc.c$j").mkString("\n  ")
      val adist = (0 until m).map(j => s"l$j.qd").mkString(" + ")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $strideSql = 0),
         |$refine
         |scored AS (SELECT e.vec_id, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
         |cells AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rk = 1),
         |qc AS (SELECT vec_id AS q_id, cent_id AS cell
         |  FROM ranked WHERE vec_id < $nq AND rk <= $nprobe),
         |res AS (SELECT c.vec_id, c.cell,
         |    [CAST(e.embedding[i] AS DOUBLE) - ct.c_emb[i]
         |      for i in range(1, len(e.embedding) + 1)] AS remb
         |  FROM cells c JOIN embeddings e USING (vec_id)
         |  JOIN cents$iters ct ON ct.cent_id = c.cell),
         |msq AS (SELECT unnest(range(0, $m)) AS m),
         |sub AS (SELECT vec_id, m, remb[m * $sd + 1 : m * $sd + $sd] AS sv
         |  FROM res CROSS JOIN msq),
         |c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cent, sv AS cv
         |  FROM sub WHERE vec_id < $k),
         |d0 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("CAST(cv[i] AS DOUBLE)")} AS d
         |  FROM sub s JOIN c0 USING (m)),
         |a0 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d0) WHERE rk = 1),
         |g1 AS (SELECT m, cell, list(CAST(sv AS DOUBLE[]) ORDER BY vec_id) AS msv
         |  FROM a0 JOIN sub USING (vec_id, m) GROUP BY m, cell),
         |c1 AS (SELECT m, cent, [CAST(x AS DOUBLE) / len(msv) for x in
         |    list_reduce(msv, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
         |      for i in range(1, len(a) + 1)])] AS cv
         |  FROM (SELECT m, CAST(cell AS INTEGER) AS cent, msv FROM g1)),
         |d1 AS (SELECT s.vec_id, s.m, cent,
         |    ${distSql("cv[i]")} AS d
         |  FROM sub s JOIN c1 USING (m)),
         |a1 AS (SELECT vec_id, m, cent AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cent ASC) AS rk FROM d1) WHERE rk = 1),
         |codes AS (SELECT vec_id, $codeCols FROM a1 GROUP BY vec_id),
         |qres AS (SELECT qc.q_id, qc.cell,
         |    [CAST(e.embedding[i] AS DOUBLE) - ct.c_emb[i]
         |      for i in range(1, len(e.embedding) + 1)] AS remb
         |  FROM qc JOIN embeddings e ON e.vec_id = qc.q_id
         |  JOIN cents$iters ct ON ct.cent_id = qc.cell),
         |qsub AS (SELECT q_id, cell, m, remb[m * $sd + 1 : m * $sd + $sd] AS sv
         |  FROM qres CROSS JOIN msq),
         |dt AS (SELECT s.q_id, s.cell, s.m, cent,
         |    ${distSql("cv[i]")} AS qd
         |  FROM qsub s JOIN c1 USING (m)),
         |cc AS (SELECT codes.vec_id, cell, c0, c1, c2, c3
         |  FROM codes JOIN cells USING (vec_id)),
         |j AS (SELECT qc.q_id, cc.vec_id AS c_id,
         |    round($adist, 6) AS adist
         |  FROM cc JOIN qc USING (cell)
         |  $lookJoins
         |  WHERE qc.q_id <> cc.vec_id),
         |r AS (SELECT q_id, c_id, adist, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY adist ASC, c_id ASC) AS INTEGER) AS rank
         |  FROM j)
         |SELECT q_id, rank, c_id, adist FROM r WHERE rank <= 5""".stripMargin
    },
    "s9_quantize_stats" ->
      ("""WITH q AS (SELECT vec_id, embedding,
        |    list_max([abs(CAST(embedding[i] AS DOUBLE))
        |      for i in range(1, len(embedding) + 1)]) AS amax FROM embeddings)
        |SELECT vec_id, round(amax, 6) AS amax,
        |  round(sqrt(list_sum([pow(CAST(embedding[i] AS DOUBLE)
        |      - round(CAST(embedding[i] AS DOUBLE) / (amax / 127.0)) * (amax / 127.0), 2)
        |    for i in range(1, len(embedding) + 1)]) / len(embedding)) / amax, 6) AS rel_rmse
        |FROM q""".stripMargin),
    "s5_bucketed_neardup" ->
      (s"""WITH $srpBucketCtes
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.2""".stripMargin),
    // the production-knob SRP form: Similarity.ScaledPlanes hyperplanes
    // (occupancy restored for a 10×-sf0.1 corpus); same threshold as s5
    "s12_neardup_scaled" ->
      (s"""WITH ${srpBucketCtesFor(Similarity.ScaledPlanes)}
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.2""".stripMargin),
    // the production IVF configuration: stride = floor(sqrt(corpus)) — the
    // oracle derives the identical stride from the same count
    "s13_ivf_scaled" -> {
      val nprobe = Similarity.NProbe
      val iters = Similarity.LloydIters
      val strideSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $strideSql = 0),
         |$refine
         |scored AS (SELECT e.vec_id, e.embedding, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
         |cells AS (SELECT vec_id, embedding, cent_id AS cell FROM ranked WHERE rk = 1),
         |qc AS (SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS cell
         |  FROM ranked WHERE vec_id < 10 AND rk <= $nprobe),
         |s AS (SELECT q_id, c.vec_id AS c_id,
         |    ${cosSql("q_emb", "c.embedding")} AS sim
         |  FROM cells c JOIN qc USING (cell) WHERE q_id <> c.vec_id),
         |r AS (SELECT q_id, c_id, sim, CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin
    },
    // filtered ANN: the s13 chain with the label attribute attached to the
    // index and folded into the candidate join key — predicate-before-top-k
    "s19_filtered_ann" -> {
      val nprobe = Similarity.NProbe
      val iters = Similarity.LloydIters
      val strideSql = "(SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM embeddings e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id % $strideSql = 0),
         |$refine
         |scored AS (SELECT e.vec_id, e.embedding, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM embeddings e CROSS JOIN cents$iters),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored),
         |cells AS (SELECT r.vec_id, r.embedding, cent_id AS cell, e.label
         |  FROM ranked r JOIN embeddings e USING (vec_id) WHERE rk = 1),
         |qc AS (SELECT r.vec_id AS q_id, r.embedding AS q_emb,
         |    cent_id AS cell, e.label
         |  FROM ranked r JOIN embeddings e USING (vec_id)
         |  WHERE r.vec_id < 10 AND rk <= $nprobe),
         |s AS (SELECT q_id, c.vec_id AS c_id, label,
         |    ${cosSql("q_emb", "c.embedding")} AS sim
         |  FROM cells c JOIN qc USING (cell, label) WHERE q_id <> c.vec_id),
         |r AS (SELECT q_id, c_id, label, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank FROM s)
         |SELECT q_id, rank, c_id, label, round(sim, 6) AS sim
         |FROM r WHERE rank <= 5""".stripMargin
    },
    // scalar int8 quantization: per-dim affine grid from corpus min/max,
    // codes proven by md5, sequential-fold reconstruction error
    "s21_sq8" -> {
      val x = "CAST(embedding[i] AS DOUBLE)"
      val deq = s"(mns[i] + CAST(codes[i] AS DOUBLE) / 255.0 * (mxs[i] - mns[i]))"
      s"""WITH ex AS (SELECT vec_id, embedding FROM embeddings),
         |pos AS (SELECT vec_id, unnest([{'i': i, 'x': $x}
         |  for i in range(1, len(embedding) + 1)]) AS p FROM ex),
         |dim AS (SELECT p.i AS i, min(p.x) AS mn, max(p.x) AS mx
         |  FROM pos GROUP BY 1),
         |grid AS (SELECT list(mn ORDER BY i) AS mns,
         |  list(mx ORDER BY i) AS mxs FROM dim),
         |cq AS (SELECT vec_id, embedding,
         |  [CASE WHEN mxs[i] > mns[i]
         |     THEN CAST(round(($x - mns[i]) / (mxs[i] - mns[i]) * 255)
         |       AS INTEGER) ELSE 0 END
         |   for i in range(1, len(embedding) + 1)] AS codes
         |  FROM ex CROSS JOIN grid),
         |er AS (SELECT vec_id, codes, round(list_sum(
         |  [($x - $deq) * ($x - $deq)
         |   for i in range(1, len(embedding) + 1)]), 6) AS err
         |  FROM cq CROSS JOIN grid)
         |SELECT vec_id, md5(array_to_string(codes, ',')) AS code_hash, err
         |FROM er""".stripMargin
    },
    // incremental index assignment: the s13/s19 IVF chain trained on the
    // corpus side only (vec_id < 90% cut), batch vectors assigned to the
    // final centroids, corpus occupancy of the assigned cell alongside
    "s20_delta_assign" -> {
      val iters = Similarity.LloydIters
      val cutSql =
        "(SELECT CAST(floor(count(*) * 0.9) AS BIGINT) FROM embeddings)"
      val strideSql = s"(SELECT CAST(floor(sqrt(CAST(floor(count(*) * 0.9)" +
        s" AS BIGINT))) AS BIGINT) FROM embeddings)"
      val refine = (1 to iters).map { i =>
        s"""sc$i AS (SELECT e.vec_id, e.embedding, cent_id,
           |    ${cosSql("e.embedding", "c_emb")} AS csim
           |  FROM corp e CROSS JOIN cents${i - 1}),
           |as$i AS (SELECT vec_id, embedding, cent_id AS cell
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_id ASC) AS rk FROM sc$i) WHERE rk = 1),
           |agg$i AS (SELECT cell AS cent_id, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms
           |  FROM as$i GROUP BY cell),
           |cents$i AS (SELECT cent_id,
           |  [CAST(s AS DOUBLE) / len(ms) for s in
           |    list_reduce(ms, (a, b) -> [a[i] + CAST(b[i] AS DOUBLE)
           |      for i in range(1, len(a) + 1)])] AS c_emb
           |  FROM agg$i),""".stripMargin
      }.mkString("\n")
      s"""WITH corp AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < $cutSql),
         |cents0 AS (SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM corp WHERE vec_id % $strideSql = 0),
         |$refine
         |scored AS (SELECT e.vec_id, cent_id,
         |    ${cosSql("e.embedding", "c_emb")} AS csim
         |  FROM corp e CROSS JOIN cents$iters),
         |cellt AS (SELECT vec_id, cent_id AS cell
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM scored) WHERE rk = 1),
         |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS cell_n
         |  FROM cellt GROUP BY cell),
         |bs AS (SELECT b.vec_id, cent_id,
         |    ${cosSql("b.embedding", "c_emb")} AS csim
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id >= $cutSql) b CROSS JOIN cents$iters),
         |ba AS (SELECT vec_id, cent_id AS cell, csim
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS rk FROM bs) WHERE rk = 1)
         |SELECT ba.vec_id, ba.cell, round(ba.csim, 6) AS sim,
         |  COALESCE(occ.cell_n, 0) AS cell_n
         |FROM ba LEFT JOIN occ ON ba.cell = occ.cell""".stripMargin
    },
    // embedding-side label phase: s5's bucketed pair graph, then connected
    // components via the same recursive-CTE shape as d8
    "s10_semantic_dedup" ->
      (s"""WITH RECURSIVE $srpBucketCtes,
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.2),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(id) AS max_member
         |FROM lab GROUP BY cluster_id""".stripMargin),
    // s10's labels applied: drop non-canonical members, exact-integer
    // survivor invariants (the embedding-side d10)
    "s11_semantic_apply" ->
      (s"""WITH RECURSIVE $srpBucketCtes,
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.2),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(id, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         |losers AS (SELECT id AS vec_id FROM reach GROUP BY id
         |  HAVING id <> min(r))
         |SELECT CAST(count(*) AS BIGINT) AS n_survivors,
         |  CAST(sum(vec_id) AS BIGINT) AS survivor_id_sum,
         |  min(vec_id) AS min_survivor, max(vec_id) AS max_survivor
         |FROM embeddings ANTI JOIN losers USING (vec_id)""".stripMargin),
    "s4_native_cosine" ->
      (s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 0 AND vec_id < ${Similarity.AuditCap})
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.3""".stripMargin),
    // text analysis
    "t1_langid" -> {
      val markers = graft.ops.TextAnalysis.markers
      val scores = markers.map { case (l, ws) =>
        s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS s_$l"
      }.mkString(", ")
      val best = s"greatest(${markers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
      val pred = markers.map { case (l, _) =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (SELECT lang, $scores FROM documents),
         |b AS (SELECT *, $best AS best FROM scored)
         |SELECT lang, CASE $pred ELSE 'und' END AS pred, count(*) AS cnt
         |FROM b GROUP BY lang, pred""".stripMargin
    },
    "t2_quality" ->
      (s"""WITH m AS (SELECT doc_id, text,
        |  len(string_split_regex(trim(text), '$ws+')) AS n_words,
        |  len(regexp_extract_all(text, '[^\\w$wsChars]')) AS n_punct,
        |  len(regexp_extract_all(lower(text), '\\b(the|and|of|a|to|in|is|it)\\b')) AS n_stop
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |  CAST(n_punct AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
        |  CAST(n_stop AS DOUBLE) / greatest(n_words, 1) AS stop_ratio,
        |  CAST(length(text) AS DOUBLE) / greatest(n_words, 1) AS avg_word_len,
        |  (CAST(n_stop AS DOUBLE) / greatest(n_words, 1)) * 2.0
        |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 4.0
        |    + CASE WHEN n_words >= 20 AND n_words <= 2000 THEN 1.0 ELSE 0.0 END AS quality
        |FROM m""".stripMargin),
    "t3_token_counts" ->
      (s"""SELECT lang,
        |  CAST(sum(len(string_split_regex(trim(text), '$ws+'))) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9$wsChars]'))) AS BIGINT)
        |    AS total_bpe_tokens,
        |  count(*) AS n_docs FROM documents GROUP BY lang""".stripMargin),
    "t5_ngram_counts" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents)
         |SELECT bigram, count(*) AS cnt FROM (SELECT
         |  unnest(CASE WHEN len(t) >= 2
         |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
         |    ELSE [] END) AS bigram FROM tok)
         |GROUP BY bigram HAVING count(*) >= 5""".stripMargin),
    "t12_lang_balanced" -> {
      val cap = graft.ops.TextAnalysis.LangCap
      s"""SELECT doc_id, lang, n_chars, rk FROM (SELECT doc_id, lang, n_chars,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(text) ASC, doc_id ASC) AS INTEGER) AS rk
         |  FROM documents) WHERE rk <= $cap""".stripMargin
    },
    "t6_deterministic_sample" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(list_sum([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::BIGINT
        |  << ((4 - i) * 4) for i in range(1, 5)]) AS BIGINT) % 10 = 0""".stripMargin),
    "t13_collapse_repeats" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |k AS (SELECT doc_id, t, CASE WHEN len(t) <= 1 THEN t
         |  ELSE t[1:1] || [t[i] for i in range(2, len(t) + 1) if t[i] != t[i-1]]
         |  END AS kept FROM tok)
         |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(len(kept) AS INTEGER) AS n_kept,
         |  md5(array_to_string(kept, ' ')) AS clean_hash FROM k""".stripMargin),
    "t14_boilerplate_ngrams" -> {
      val n = graft.ops.TextAnalysis.NgramN
      val minDocs = graft.ops.TextAnalysis.BoilerMinDocs
      val gram = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest([$gram for i in range(1, len(t) - ${n - 2})]) AS ng
         |  FROM tok),
         |c AS (SELECT doc_id, ng, count(*) AS n FROM g GROUP BY doc_id, ng),
         |df AS (SELECT ng, count(*) AS df FROM c GROUP BY ng)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_ngrams,
         |  CAST(sum(CASE WHEN df >= $minDocs THEN n ELSE 0 END) AS BIGINT) AS n_boiler,
         |  round(CAST(sum(CASE WHEN df >= $minDocs THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS boiler_ratio
         |FROM c JOIN df USING (ng) GROUP BY doc_id""".stripMargin
    },
    // integer-exact corpus-LM support (see TextAnalysis.lmSupport: the
    // sums are BIGINT so no float-order drift; one final division)
    "t16_lm_support" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |o AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |    THEN [{'w1': t[i], 'bg': t[i] || ' ' || t[i+1]} for i in range(1, len(t))]
         |    ELSE [] END) AS p FROM tok),
         |c AS (SELECT doc_id, p.w1 AS w1, p.bg AS bg, count(*) AS m
         |  FROM o GROUP BY doc_id, p.w1, p.bg),
         |cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cb FROM c GROUP BY bg),
         |cu AS (SELECT w1, CAST(sum(m) AS BIGINT) AS cu FROM c GROUP BY w1)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |  CAST(min(cb) AS BIGINT) AS rarest_count,
         |  round(CAST(sum(m * cb) AS DOUBLE) / CAST(sum(m * cu) AS DOUBLE), 6)
         |    AS support
         |FROM c JOIN cb USING (bg) JOIN cu USING (w1)
         |GROUP BY doc_id""".stripMargin),
    // contiguous first-fit sequence packing: bin = exclusive prefix of
    // token counts (doc_id order) div capacity
    "t17_sequence_pack" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      s"""WITH tok AS (SELECT doc_id, len($tokensSql) AS n FROM documents),
         |p AS (SELECT doc_id, n, COALESCE(sum(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM tok)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY 1""".stripMargin
    },
    // domain reweighting with the integer-exact keep predicate
    // (bucket*t_s < t_min*65536 — no float boundary drift)
    "t18_domain_balance" ->
      (s"""WITH d AS (SELECT doc_id, source, CAST(len($tokensSql) AS BIGINT) AS n,
         |  CAST(list_sum([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::BIGINT
         |    << ((4 - i) * 4) for i in range(1, 5)]) AS BIGINT) AS bucket
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t_s FROM d GROUP BY source),
         |mn AS (SELECT min(t_s) AS t_min FROM tot)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum(n) AS BIGINT) AS kept_tokens,
         |  round(CAST(max(t_min) AS DOUBLE) / max(t_s), 6) AS rate
         |FROM d JOIN tot USING (source) CROSS JOIN mn
         |WHERE bucket * t_s < t_min * 65536
         |GROUP BY source""".stripMargin),
    // t30 = t18's sampler under the α-temperature rule: rate_s =
    // (T_min/T_s)^(1−α) rounded ONCE to integer ppm, integer keep
    // predicate (see TextAnalysis.alphaMixtureFrame)
    "t30_alpha_mixture" -> {
      val a = graft.ops.TextAnalysis.MixtureAlpha
      s"""WITH d AS (SELECT doc_id, source, CAST(len($tokensSql) AS BIGINT) AS n,
         |  CAST(list_sum([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::BIGINT
         |    << ((4 - i) * 4) for i in range(1, 5)]) AS BIGINT) AS bucket
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t_s FROM d GROUP BY source),
         |pwt AS (SELECT source, t_s, pow(CAST(t_s AS DOUBLE), $a) AS pw FROM tot),
         |sc AS (SELECT min(t_s) AS t_min, sum(pw) AS pw_sum FROM pwt),
         |rated AS (SELECT d.doc_id, d.source, d.n, d.bucket,
         |    CASE WHEN pwt.t_s > 0 THEN CAST(round(pow(CAST(sc.t_min AS DOUBLE) / pwt.t_s, 1 - $a) * 1000000, 0) AS BIGINT) ELSE 0 END AS rate_ppm,
         |    CASE WHEN sc.pw_sum > 0 THEN CAST(round(pwt.pw / sc.pw_sum * 1000000, 0) AS BIGINT) ELSE 0 END AS share_ppm
         |  FROM d JOIN pwt USING (source) CROSS JOIN sc)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum(n) AS BIGINT) AS kept_tokens,
         |  max(rate_ppm) AS rate_ppm, max(share_ppm) AS share_ppm
         |FROM rated
         |WHERE bucket * 1000000 < rate_ppm * 65536
         |GROUP BY source""".stripMargin
    },
    // Gopher rule-based quality filter: integer-exact keep predicate
    // (10·n_symbols ≤ n_words instead of ratio ≤ 0.1 — the t18 rule),
    // ratios are 6-dp presentation values off the same integers
    "t31_gopher_rules" -> {
      val stops = graft.ops.TextAnalysis.GopherStopwords
        .map(w => s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
        .mkString(" + ")
      val minW = graft.ops.TextAnalysis.GopherMinWords
      val maxW = graft.ops.TextAnalysis.GopherMaxWords
      s"""WITH w AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(trim(text), '$ws+'), y -> length(y) > 0) AS words,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(words) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_sum([length(y) for y in words]), 0) AS BIGINT) AS len_sum,
         |    CAST(len(list_filter(words, y -> regexp_matches(y, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, y -> regexp_matches(y, '^[ \\t]*[-*\u2022]'))) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(lines, y -> ends_with(y, '...'))) AS BIGINT) AS n_ellipsis,
         |    ($stops) AS stop_hits
         |  FROM w)
         |SELECT doc_id, n_words,
         |  round(CAST(len_sum AS DOUBLE) / greatest(n_words, 1), 6) AS mean_word_len,
         |  round(CAST(n_symbols AS DOUBLE) / greatest(n_words, 1), 6) AS symbol_ratio,
         |  round(CAST(n_bullet AS DOUBLE) / greatest(n_lines, 1), 6) AS bullet_frac,
         |  round(CAST(n_ellipsis AS DOUBLE) / greatest(n_lines, 1), 6) AS ellipsis_frac,
         |  round(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1), 6) AS alpha_frac,
         |  stop_hits,
         |  CASE WHEN n_words >= $minW AND n_words <= $maxW
         |    AND len_sum >= 3 * n_words AND len_sum <= 10 * n_words
         |    AND 10 * n_symbols <= n_words
         |    AND 10 * n_bullet <= 9 * n_lines
         |    AND 10 * n_ellipsis <= 3 * n_lines
         |    AND 5 * n_alpha >= 4 * n_words
         |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
         |FROM m""".stripMargin
    },
    // Gopher repetition rules: per-row line/para/5-gram signals, modal
    // bigram via (doc, gram) count; integer-exact keep decision
    "t32_repetition_rules" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t,
         |    string_split(text, chr(10)) AS lines,
         |    string_split_regex(text, '\\n\\n') AS paras
         |  FROM documents),
         |rs AS (SELECT doc_id,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_distinct(lines)) AS BIGINT) AS d_lines,
         |    CAST(len(paras) AS BIGINT) AS n_paras,
         |    CAST(len(list_distinct(paras)) AS BIGINT) AS d_paras,
         |    CAST(CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS total2,
         |    CAST(CASE WHEN len(t) >= 5 THEN len(t) - 4 ELSE 0 END AS BIGINT) AS total5,
         |    CAST(len(list_distinct(CASE WHEN len(t) >= 5
         |      THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]
         |      ELSE [] END)) AS BIGINT) AS d5
         |  FROM tok),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
         |    ELSE [] END) AS gm FROM tok),
         |md AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS modal2 FROM
         |  (SELECT doc_id, gm, count(*) AS cnt FROM g GROUP BY doc_id, gm)
         |  GROUP BY doc_id)
         |SELECT rs.doc_id, n_lines,
         |  round(CAST(n_lines - d_lines AS DOUBLE) / greatest(n_lines, 1), 6) AS dup_line_frac,
         |  round(CAST(n_paras - d_paras AS DOUBLE) / greatest(n_paras, 1), 6) AS dup_para_frac,
         |  round(CAST(COALESCE(modal2, 0) AS DOUBLE) / greatest(total2, 1), 6) AS top_bigram_frac,
         |  round(CAST(total5 - d5 AS DOUBLE) / greatest(total5, 1), 6) AS dup_5gram_frac,
         |  CASE WHEN 10 * (n_lines - d_lines) <= 3 * n_lines
         |    AND 10 * (n_paras - d_paras) <= 3 * n_paras
         |    AND 5 * COALESCE(modal2, 0) <= total2
         |    AND 20 * (total5 - d5) <= 3 * total5 THEN 1 ELSE 0 END AS keep
         |FROM rs LEFT JOIN md ON rs.doc_id = md.doc_id""".stripMargin),
    "t19_inverted_index" -> {
      val top = graft.ops.TextAnalysis.IndexTopDocs
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |pe AS (SELECT doc_id, unnest(t) AS term,
         |    unnest(range(1, len(t) + 1)) AS pos FROM tok),
         |postings AS (SELECT term, doc_id, count(*) AS tf,
         |    CAST(min(pos) AS BIGINT) AS first_pos FROM pe GROUP BY 1, 2),
         |stats AS (SELECT term, count(*) AS df,
         |    CAST(sum(tf) AS BIGINT) AS corpus_tf FROM postings GROUP BY 1),
         |rnk AS (SELECT term, doc_id, tf, first_pos,
         |    CAST(row_number() OVER (PARTITION BY term
         |      ORDER BY tf DESC, doc_id ASC) AS INTEGER) AS rk FROM postings)
         |SELECT term, df, corpus_tf, rk, doc_id, tf, first_pos
         |FROM rnk JOIN stats USING (term) WHERE rk <= $top""".stripMargin
    },
    "t25_bm25_topk" -> {
      val k1 = graft.ops.TextAnalysis.Bm25K1
      val b = graft.ops.TextAnalysis.Bm25B
      val nq = graft.ops.TextAnalysis.Bm25Queries
      val topK = graft.ops.TextAnalysis.Bm25TopK
      // constants interpolated with ::DOUBLE casts (a bare DuckDB decimal
      // literal is DECIMAL, whose arithmetic would drift from Spark's
      // doubles); expression structure mirrors the engine's
      // left-to-right order exactly
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |pe AS (SELECT doc_id, unnest(t) AS term FROM tok),
         |postings AS (SELECT term, doc_id, count(*) AS tf FROM pe GROUP BY 1, 2),
         |stats AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |  FROM postings GROUP BY 1),
         |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
         |  FROM dlen),
         |qt AS (SELECT term, df FROM stats ORDER BY df DESC, term ASC LIMIT $nq),
         |sc AS (SELECT p.term, p.doc_id, p.tf, dl,
         |    round(ln(1 + (n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
         |      * (p.tf * ${k1 + 1}::DOUBLE)
         |      / (p.tf + $k1::DOUBLE * (${1.0 - b}::DOUBLE
         |        + $b::DOUBLE * CAST(dl AS DOUBLE) * n_docs / total_len)), 6) AS score
         |  FROM postings p JOIN qt USING (term) JOIN dlen USING (doc_id)
         |  CROSS JOIN tot),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY term
         |    ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM sc)
         |SELECT term, rank, doc_id, tf, dl, score FROM r WHERE rank <= $topK""".stripMargin
    },
    // PII scrub: identical synthetic contamination (CASE chain mirrors
    // piiSynth), counts via regexp_extract_all, redaction via the same
    // fixed-order replace chain with the 'g' flag (Spark replaces all
    // matches by default; RE2 needs the flag)
    "t26_pii_scrub" -> {
      val em = graft.ops.TextAnalysis.PiiEmailRe
      val card = graft.ops.TextAnalysis.PiiCardRe
      val ip = graft.ops.TextAnalysis.PiiIpRe
      val ph = graft.ops.TextAnalysis.PiiPhoneRe
      s"""WITH p AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR)
         |       || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.org' ELSE '' END
         |  || CASE WHEN doc_id % 6 = 0 THEN ' cc u' || CAST(doc_id + 1 AS VARCHAR)
         |       || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.net' ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-'
         |       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |  || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR)
         |       || '.' || CAST(doc_id % 250 AS VARCHAR)
         |       || '.' || CAST(doc_id % 100 + 1 AS VARCHAR) ELSE '' END
         |  || CASE WHEN doc_id % 11 = 0 THEN ' card 4'
         |       || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 15, '0') ELSE '' END
         |  AS t FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$em')) AS INTEGER) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$ph')) AS INTEGER) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS INTEGER) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '$card')) AS INTEGER) AS n_card,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$em', '<EMAIL>', 'g'), '$card', '<CARD>', 'g'),
         |    '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')) AS clean_hash
         |  FROM p)
         |SELECT doc_id, n_email, n_phone, n_ip, n_card, clean_hash FROM c
         |WHERE n_email + n_phone + n_ip + n_card > 0""".stripMargin
    },
    // bigram-LM perplexity gate: integer micro-nat log-probs make the
    // per-doc reduction order-free (the engine-side discipline mirrored)
    "t27_lm_quality" -> {
      val k = graft.ops.TextAnalysis.LmKeepPpl
      s"""WITH $lmPplCtes
         |SELECT doc_id, n_bigrams, ppl,
         |  CASE WHEN ppl <= $k THEN 1 ELSE 0 END AS keep
         |FROM pplt""".stripMargin
    },
    // DSIR importance weights: the t27 chain twice (target slice vs raw
    // corpus) from ONE bigram table; unseen-in-target bigrams back off
    // to the add-k floor via COALESCE(0)
    "t28_dsir_weights" -> {
      val a = graft.ops.TextAnalysis.LmAlpha
      val tau = graft.ops.TextAnalysis.DsirTauMicro
      s"""WITH tok AS (SELECT doc_id, lang, $tokensSql AS t FROM documents),
         |bg AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
         |  unnest(CASE WHEN len(t) >= 2
         |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
         |    ELSE [] END) AS bigram FROM tok),
         |tb AS (SELECT doc_id, tgt, bigram, count(*) AS n
         |  FROM bg GROUP BY 1, 2, 3),
         |cbr AS (SELECT bigram, CAST(sum(n) AS BIGINT) AS cnt,
         |    string_split(bigram, ' ')[1] AS w1 FROM tb GROUP BY 1),
         |ctr AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt
         |  FROM cbr GROUP BY 1),
         |vvr AS (SELECT CAST(count(DISTINCT string_split(bigram, ' ')[2])
         |    AS DOUBLE) AS v FROM cbr),
         |cbt AS (SELECT bigram, CAST(sum(n) AS BIGINT) AS cnt_t,
         |    string_split(bigram, ' ')[1] AS w1
         |  FROM tb WHERE tgt = 1 GROUP BY 1),
         |ctt AS (SELECT w1, CAST(sum(cnt_t) AS BIGINT) AS ctx_t
         |  FROM cbt GROUP BY 1),
         |vvt AS (SELECT CAST(count(DISTINCT string_split(bigram, ' ')[2])
         |    AS DOUBLE) AS v_t FROM cbt),
         |sc AS (SELECT doc_id, n,
         |  CAST(round(ln((CAST(COALESCE(cbt.cnt_t, 0) AS DOUBLE) + $a)
         |    / (CAST(COALESCE(ctt.ctx_t, 0) AS DOUBLE) + v_t * $a)) * 1e6)
         |    AS BIGINT)
         |  - CAST(round(ln((CAST(cbr.cnt AS DOUBLE) + $a)
         |    / (CAST(ctr.ctx_cnt AS DOUBLE) + v * $a)) * 1e6) AS BIGINT) AS d
         |  FROM tb
         |  JOIN cbr ON cbr.bigram = tb.bigram
         |  JOIN ctr ON ctr.w1 = cbr.w1
         |  LEFT JOIN cbt ON cbt.bigram = tb.bigram
         |  LEFT JOIN ctt ON ctt.w1 = cbr.w1
         |  CROSS JOIN vvr CROSS JOIN vvt),
         |ag AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |    CAST(sum(n * d) AS BIGINT) AS lr_micro FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, lr_micro,
         |  CASE WHEN lr_micro >= $tau THEN 1 ELSE 0 END AS selected
         |FROM ag""".stripMargin
    },
    // dataset version diff: deterministic versions from doc_id, full
    // outer join on the key, churn-only output
    "c16_dataset_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS old_hash FROM documents
        |  WHERE doc_id % 10 <> 7),
        |v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 13 = 0
        |    THEN text || ' rev2' ELSE text END) AS new_hash FROM documents
        |  WHERE doc_id % 17 <> 3),
        |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    old_hash, new_hash,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |      WHEN v2.doc_id IS NULL THEN 'removed'
        |      WHEN old_hash <> new_hash THEN 'changed' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id, status, old_hash, new_hash FROM j
        |WHERE status IS NOT NULL""".stripMargin,
    // curriculum shards: t27's ppl chain, then the plain global-window
    // prefix sum (the oracle's luxury — the engine uses the two-level
    // ppl-grid scan and must agree exactly)
    "c15_curriculum" -> {
      val shard = graft.ops.Composites.CurricShardTokens
      s"""WITH $lmPplCtes,
         |cd AS (SELECT doc_id, n_bigrams + 1 AS n, ppl FROM pplt),
         |od AS (SELECT *, CAST(COALESCE(sum(n) OVER (ORDER BY ppl, doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |  AS prev FROM cd)
         |SELECT CAST(prev // $shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS tokens,
         |  min(ppl) AS ppl_min, max(ppl) AS ppl_max
         |FROM od GROUP BY 1""".stripMargin
    },
    "t20_pmi_pairs" -> {
      val minC = graft.ops.TextAnalysis.PmiMinCount
      val topK = graft.ops.TextAnalysis.PmiTopK
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |uc AS (SELECT term, count(*) AS c
         |  FROM (SELECT unnest(t) AS term FROM tok) GROUP BY 1),
         |bg AS (SELECT unnest(CASE WHEN len(t) >= 2
         |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
         |    ELSE [] END) AS bigram FROM tok),
         |bc AS (SELECT bigram, count(*) AS c_xy FROM bg GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_uni,
         |    (SELECT CAST(sum(c_xy) AS BIGINT) FROM bc) AS n_big),
         |f AS (SELECT bigram, c_xy, string_split(bigram, ' ')[1] AS x,
         |    string_split(bigram, ' ')[2] AS y FROM bc WHERE c_xy >= $minC),
         |j AS (SELECT bigram, c_xy, ux.c AS c_x, uy.c AS c_y
         |  FROM f JOIN uc ux ON f.x = ux.term JOIN uc uy ON f.y = uy.term)
         |SELECT bigram, c_xy, c_x, c_y,
         |  round(ln(CAST(c_xy AS DOUBLE) * n_uni * n_uni
         |    / (CAST(n_big AS DOUBLE) * c_x * c_y)), 6) AS pmi
         |FROM j CROSS JOIN tot
         |ORDER BY pmi DESC, bigram ASC LIMIT $topK""".stripMargin
    },
    "t21_bpe_merges" -> {
      // One CTE block per merge round, GENERATED from MergeRounds so the
      // Spark constant can never silently desynchronize engine and
      // oracle. Each round: adjacent-pair counts over the current token
      // rendering, deterministic top-1 (count desc, pair asc), literal
      // |x||y| -> |x_y| replace (left-to-right non-overlapping in both
      // engines), post-merge vocab/token stats.
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT $r AS round, pair, count(*) AS cnt
           |  FROM pr$r GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),
           |st$r AS (SELECT count(DISTINCT tok) AS vocab_size, count(*) AS corpus_tokens
           |  FROM (SELECT unnest(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS tok
           |        FROM t$r)),
           |m$r AS (SELECT round, pair, replace(pair, ' ', '_') AS merged,
           |    CAST(cnt AS BIGINT) AS cnt, CAST(vocab_size AS BIGINT) AS vocab_size,
           |    CAST(corpus_tokens AS BIGINT) AS corpus_tokens
           |  FROM top$r CROSS JOIN st$r),""".stripMargin
      }.mkString("\n")
      val union = (1 to k).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
      s"""WITH t0 AS (SELECT '||' || array_to_string(t, '||') || '||' AS s
         |  FROM (SELECT $tokensSql AS t FROM documents) WHERE len(t) > 0),
         |$rounds
         |fin AS ($union)
         |SELECT round, pair, merged, cnt, vocab_size, corpus_tokens FROM fin""".stripMargin
    },
    // t21's induction chain with doc_id carried through every rewrite:
    // the merges are re-derived identically (same top-1 per round — the
    // pair stream is unchanged by the extra column), and the final
    // per-doc rendering IS the encoded corpus, so ws/bpe token counts
    // and the md5 of the encoding all fall out of the last CTE. The
    // engine applies the learned merges in rank order over the same
    // rendering; replace() scans left-to-right non-overlapping in both.
    "t24_bpe_encode" -> {
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, nt, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH t0 AS (SELECT doc_id, len(t) AS nt,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         |$rounds
         |fin AS (SELECT doc_id, nt,
         |    len(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS nb, s
         |  FROM t$k)
         |SELECT doc_id, CAST(nt AS INTEGER) AS ws_tokens,
         |  CAST(nb AS INTEGER) AS bpe_tokens, md5(s) AS enc_hash,
         |  round(CAST(nb AS DOUBLE) / greatest(nt, 1), 6) AS compression
         |FROM fin""".stripMargin
    },
    // t24's chain extended to the id-encoded form: vocab = distinct
    // tokens of the final rendering, dense ids by (count desc, token
    // asc); per-doc ids re-assembled in position order and hashed —
    // proves the exact id sequence
    "t29_token_ids" -> {
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         |$rounds
         |toks AS (SELECT doc_id,
         |    list_filter(string_split(s, '||'), x -> len(x) > 0) AS tl
         |  FROM t$k),
         |vc AS (SELECT tok, count(*) AS cnt
         |  FROM (SELECT unnest(tl) AS tok FROM toks) GROUP BY tok),
         |vocab AS (SELECT tok, CAST(row_number() OVER (
         |    ORDER BY cnt DESC, tok ASC) - 1 AS INTEGER) AS id FROM vc),
         |ex AS (SELECT doc_id, i AS pos, tl[i] AS tok
         |  FROM toks, unnest(range(1, len(tl) + 1)) AS u(i)),
         |ids AS (SELECT doc_id,
         |    array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS idstr
         |  FROM ex JOIN vocab USING (tok) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tl) AS INTEGER) AS n_tokens,
         |  md5(coalesce(i.idstr, '')) AS id_hash
         |FROM toks t LEFT JOIN ids i USING (doc_id)""".stripMargin
    },
    "t15_scrub_numeric" ->
      ("""SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_masked
        |FROM events""".stripMargin),
    "t8_repetition" ->
      (s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents)
         |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct,
         |  round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
         |    / greatest(len(t), 1), 6) AS rep_ratio
         |FROM tok""".stripMargin),
    // base-31 polynomial window hash, exact 64-bit integer math — mirrors
    // TextAnalysis.fingerprint's zip-of-slices rolling hash
    // chunk k holds 1-based token positions [k*stride+1, k*stride+size];
    // DuckDB's inclusive slice t[a:b] expresses it directly
    "t11_chunking" -> {
      val size = graft.ops.TextAnalysis.ChunkSize
      val overlap = graft.ops.TextAnalysis.ChunkOverlap
      val stride = size - overlap
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |c AS (SELECT doc_id, k AS chunk_idx, t[k * $stride + 1 : k * $stride + $size] AS ct
         |  FROM tok, unnest(range(0, greatest(CAST(ceil((len(t) - $overlap) / $stride.0)
         |    AS BIGINT), 1))) AS u(k)
         |  WHERE len(t) >= 1)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |  CAST(len(ct) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(ct, ' ')) AS chunk_hash FROM c""".stripMargin
    },
    "t4_fingerprint" ->
      (s"""WITH n AS (SELECT doc_id,
        |  regexp_replace(trim(lower(text)), '$ws+', ' ', 'g') AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp,
        |  CAST(CASE WHEN length(norm) >= 5 THEN
        |    list_min([unicode(substr(norm, i, 1))::BIGINT * 923521
        |      + unicode(substr(norm, i + 1, 1))::BIGINT * 29791
        |      + unicode(substr(norm, i + 2, 1))::BIGINT * 961
        |      + unicode(substr(norm, i + 3, 1))::BIGINT * 31
        |      + unicode(substr(norm, i + 4, 1))::BIGINT
        |      for i in range(1, length(norm) - 3)])
        |  WHEN length(norm) = 0 THEN 0
        |  ELSE list_reduce([unicode(substr(norm, i, 1))::BIGINT
        |      for i in range(1, length(norm) + 1)], (acc, x) -> acc * 31 + x)
        |  END AS BIGINT) AS min_shingle_hash
        |FROM n""".stripMargin),
    "t23_vocab_growth" -> {
      val s = graft.ops.TextAnalysis.VocabSlices
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM tok),
         |sl AS (SELECT doc_id, t, least(${s - 1},
         |    CAST(floor((doc_id - lo) * $s / (hi - lo + 1)) AS INTEGER)) AS slice
         |  FROM tok CROSS JOIN b),
         |tp AS (SELECT slice, CAST(sum(len(t)) AS BIGINT) AS slice_tokens
         |  FROM sl GROUP BY slice),
         |fs AS (SELECT slice, count(*) AS new_terms FROM (
         |    SELECT term, min(slice) AS slice FROM (
         |      SELECT slice, unnest(t) AS term FROM sl) GROUP BY term)
         |  GROUP BY slice)
         |SELECT slice, slice_tokens,
         |  CAST(coalesce(new_terms, 0) AS BIGINT) AS new_terms,
         |  CAST(sum(slice_tokens) OVER (ORDER BY slice) AS BIGINT) AS cum_tokens,
         |  CAST(sum(coalesce(new_terms, 0)) OVER (ORDER BY slice) AS BIGINT) AS cum_vocab
         |FROM tp LEFT JOIN fs USING (slice)""".stripMargin
    },
    "t22_winnowing" -> {
      val w = graft.ops.TextAnalysis.WinnowW
      val poly = """unicode(substr(norm, i, 1))::BIGINT * 923521
        |      + unicode(substr(norm, i + 1, 1))::BIGINT * 29791
        |      + unicode(substr(norm, i + 2, 1))::BIGINT * 961
        |      + unicode(substr(norm, i + 3, 1))::BIGINT * 31
        |      + unicode(substr(norm, i + 4, 1))::BIGINT""".stripMargin
      s"""WITH n AS (SELECT doc_id,
         |  regexp_replace(trim(lower(text)), '$ws+', ' ', 'g') AS norm FROM documents),
         |h AS (SELECT doc_id, [$poly
         |    for i in range(1, length(norm) - 3)] AS hs
         |  FROM n WHERE length(norm) >= ${4 + w}),
         |sel AS (SELECT doc_id, hs, list_distinct([
         |    list_reduce([hs[j] * 1048576 + j for j in range(i, i + $w)],
         |      (a, b) -> CASE WHEN (b >> 20) <= (a >> 20) THEN b ELSE a END)
         |    for i in range(1, len(hs) - ${w - 2})]) AS fps FROM h)
         |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_grams,
         |  CAST(len(fps) AS BIGINT) AS n_fp,
         |  CAST(list_sum([f >> 20 for f in fps]) AS BIGINT) AS fp_sum,
         |  CAST(list_min(fps) >> 20 AS BIGINT) AS min_fp
         |FROM sel""".stripMargin
    },
    // composite topologies
    "c1_pageview_region" ->
      ("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k) AS window_start,
        |  coalesce(region, 'UNKNOWN') AS region, count(*) AS view_count
        |FROM (SELECT e.ts, n.n_name AS region FROM events e
        |  LEFT JOIN customer c ON e.user_id = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE e.event_type = 'view')
        |CROSS JOIN (VALUES (0), (1), (2), (3)) hops(k)
        |GROUP BY 1, 2""".stripMargin),
    "c2_top_articles" ->
      ("""SELECT window_start, event_type, user_id, cnt, pos FROM (
        |  SELECT window_start, event_type, user_id, cnt,
        |    CAST(row_number() OVER (PARTITION BY window_start, event_type
        |      ORDER BY cnt DESC, user_id ASC) AS INTEGER) AS pos
        |  FROM (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |      user_id, count(*) AS cnt
        |    FROM events GROUP BY 1, 2, 3)) WHERE pos <= 3""".stripMargin),
    "c3_anomaly" ->
      ("""SELECT date_trunc('minute', ts) AS window_start, user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // the Spark side round-trips WikiFeed records through Avro binary
    // before filter+count; the oracle aggregates the raw table directly
    "c5_wikifeed_avro" ->
      ("SELECT CAST(user_id AS VARCHAR) AS username, count(*) AS cnt " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1"),
    "c4_prep_funnel" ->
      (s"""WITH filtered AS (SELECT doc_id, text, lang,
        |    len(string_split_regex(trim(text), '$ws+')) AS n_words
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '$ws+')) BETWEEN 20 AND 2000),
        |deduped AS (SELECT min(doc_id) AS doc_id, min(lang) AS lang,
        |    min(n_words) AS n_words
        |  FROM filtered GROUP BY md5(text))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens
        |FROM deduped GROUP BY lang""".stripMargin),
    // closed-form chunk arithmetic cross-validates the expanded rows:
    // nc = max(ceil((n-overlap)/stride), 1), sum tokens = n + overlap*(nc-1)
    "c6_prep_chunked" -> {
      val size = graft.ops.TextAnalysis.ChunkSize
      val overlap = graft.ops.TextAnalysis.ChunkOverlap
      val stride = size - overlap
      s"""WITH f AS (SELECT doc_id, lang, text FROM documents
         |  WHERE len(string_split_regex(trim(text), '$ws+')) BETWEEN 20 AND 2000),
         |d AS (SELECT doc_id, lang, text FROM (SELECT *, row_number()
         |    OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM f) WHERE rk = 1),
         |ch AS (SELECT doc_id, lang, len($tokensSql) AS n FROM d),
         |m AS (SELECT doc_id, lang, n,
         |    greatest(CAST(ceil((n - $overlap) / $stride.0) AS BIGINT), 1) AS nc
         |  FROM ch WHERE n >= 1)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(nc) AS BIGINT) AS n_chunks,
         |  CAST(sum(n + $overlap * (nc - 1)) AS BIGINT) AS total_chunk_tokens
         |FROM m GROUP BY lang""".stripMargin
    },
    "t7_length_quantiles" ->
      ("""SELECT lang, quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.95) AS p95, count(*) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin),
    "m2_frame_sample" ->
      ("""SELECT doc_id, k * 5 AS frame_idx,
        |  md5(doc_id || ':' || (k * 5)) AS frame_key
        |FROM (SELECT doc_id, length(text) % 30 + 1 AS n_frames FROM documents),
        |  unnest(range(0, ((n_frames - 1) // 5) + 1)) AS t(k)""".stripMargin),
    // 64-box thumbnail fit over the stub dims, no upscaling; byte size =
    // 54-byte BMP header + 4-byte-aligned 24bpp rows
    "m3_thumbnail_plan" ->
      ("""WITH f AS (SELECT doc_id, 'image/' || source AS media_type,
        |    strlen(text)::BIGINT AS n FROM documents),
        |d AS (SELECT doc_id, media_type, CAST(n % 640 + 16 AS INTEGER) AS w,
        |    CAST(n % 480 + 16 AS INTEGER) AS h FROM f),
        |t AS (SELECT doc_id, media_type, w, h,
        |    least(1.0, 64.0 / greatest(greatest(w, h), 1)) AS sc FROM d),
        |g AS (SELECT doc_id, media_type,
        |    greatest(CAST(floor(w * sc) AS INTEGER), 1) AS thumb_w,
        |    greatest(CAST(floor(h * sc) AS INTEGER), 1) AS thumb_h FROM t)
        |SELECT doc_id, media_type, thumb_w, thumb_h,
        |  CAST(54 + (thumb_w * 3 + 3) // 4 * 4 * CAST(thumb_h AS BIGINT) AS BIGINT)
        |    AS thumb_bytes FROM g""".stripMargin),
    // m4: integer-DCT pHash + banded Hamming pairs (see Multimodal.
    // phashPairs — the coefficient matrix is interpolated from the SAME
    // Scala constants, so every sum is exact integer arithmetic; the
    // oracle computes pixels directly, proving the engine's BMP
    // encode→decode round-trip is the identity)
    "m4_phash_pairs" -> {
      val g = graft.ops.Multimodal.PhashGrid
      val hmax = graft.ops.Multimodal.PhashHammingMax
      val bandCols = (0 until 4).map(b =>
        s"CAST(sum(CASE WHEN k // 16 = $b THEN bit << (k % 16) ELSE 0 END) AS BIGINT) AS b$b")
        .mkString(", ")
      val ham = (0 until 4).map(b => s"bit_count(xor(l.b$b, r.b$b))").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |px AS (SELECT doc_id, unnest([{'p': p,
         |    'v': CASE WHEN len(t) = 0 THEN 0 ELSE
         |      (strpos('0123456789abcdef', substr(md5(t[(p % len(t)) + 1]), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(md5(t[(p % len(t)) + 1]), 2, 1)) - 1)
         |    END} for p in range(0, ${g * g})]) AS q FROM tok),
         |pt AS (SELECT doc_id, q.p % $g AS x, q.p // $g AS y, q.v AS v FROM px),
         |cu0 AS (SELECT unnest(${graft.ops.Multimodal.dctCoefSql}) AS s),
         |cu AS (SELECT s.u AS u, s.x AS x, s.c AS c FROM cu0),
         |s1 AS (SELECT doc_id, cu.u AS u, pt.y AS y,
         |    CAST(sum(pt.v * cu.c) AS BIGINT) AS r
         |  FROM pt JOIN cu ON cu.x = pt.x GROUP BY doc_id, cu.u, pt.y),
         |s2 AS (SELECT doc_id, s1.u AS u, cv.u AS v2,
         |    CAST(sum(s1.r * cv.c) AS BIGINT) AS h
         |  FROM s1 JOIN cu cv ON cv.x = s1.y GROUP BY doc_id, s1.u, cv.u),
         |hk AS (SELECT doc_id, u * 8 + v2 AS k, h FROM s2),
         |med AS (SELECT doc_id, h AS med FROM (SELECT doc_id, h,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY h, k) AS rn
         |  FROM hk WHERE k >= 1) WHERE rn = 32),
         |bits AS (SELECT hk.doc_id, k,
         |    CASE WHEN h > med THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM hk JOIN med USING (doc_id)),
         |sig AS (SELECT doc_id, $bandCols FROM bits GROUP BY doc_id),
         |buckets AS (SELECT doc_id, b AS band,
         |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bucket,
         |    b0, b1, b2, b3
         |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b))
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST($ham AS BIGINT) AS hamming
         |FROM buckets l JOIN buckets r
         |ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |WHERE $ham <= $hmax""".stripMargin
    },
    // multimodal
    "m1_decode_features" ->
      ("""WITH f AS (SELECT 'image/' || source AS media_type, strlen(text)::BIGINT AS n
        |  FROM documents)
        |SELECT media_type, count(*) AS n_media, CAST(sum(n) AS BIGINT) AS total_bytes,
        |  CAST(max(n % 640 + 16) AS INTEGER) AS max_width,
        |  CAST(max(n % 480 + 16) AS INTEGER) AS max_height,
        |  CAST(sum(n % 30 + 1) AS BIGINT) AS total_frames
        |FROM f GROUP BY media_type""".stripMargin),
    // the audio o18: the oracle recomputes the sample statistics straight
    // from the text the PCM payload was synthesized from, so equality
    // proves the WAV encode->parse round-trip lossless
    "m5_audio_stats" ->
      ("""WITH s AS (SELECT doc_id,
        |  [(unicode(substr(text, i, 1)) % 192 - 96) * 256
        |    for i in range(1, length(text) + 1)] AS v FROM documents)
        |SELECT doc_id, CAST(len(v) AS INTEGER) AS n_samples,
        |  CAST(CASE WHEN len(v) = 0 THEN 0
        |    ELSE list_max([abs(x) for x in v]) END AS INTEGER) AS peak,
        |  CAST(coalesce(list_sum([abs(x) for x in v]), 0) AS BIGINT) AS sum_abs,
        |  CAST(len([i for i in range(1, len(v)) if v[i] * v[i+1] < 0]) AS BIGINT)
        |    AS n_zero_cross
        |FROM s""".stripMargin),
    // KafkaMusic chart: plays>=30s -> song join -> count -> top-5 per
    // genre + top-5 overall ('all'), ties plays-desc/song_id-asc
    "c7_music_chart" ->
      ("""WITH plays AS (SELECT (event_id % 200) + 1 AS song_id
        |    FROM events WHERE value >= 30),
        |counts AS (SELECT song_id, p_name AS song_name,
        |    lower(p_brand) AS genre, count(*) AS plays
        |  FROM plays JOIN part ON song_id = p_partkey
        |  GROUP BY song_id, p_name, lower(p_brand)),
        |g AS (SELECT genre AS chart, CAST(row_number() OVER (
        |    PARTITION BY genre ORDER BY plays DESC, song_id ASC) AS INTEGER)
        |    AS pos, song_id, song_name, plays FROM counts),
        |o AS (SELECT 'all' AS chart, CAST(row_number() OVER (
        |    ORDER BY plays DESC, song_id ASC) AS INTEGER)
        |    AS pos, song_id, song_name, plays FROM counts)
        |SELECT chart, pos, song_id, song_name, plays FROM g WHERE pos <= 5
        |UNION ALL
        |SELECT chart, pos, song_id, song_name, plays FROM o WHERE pos <= 5"""
        .stripMargin),
    // microservices validation end-to-end: the three validators (details /
    // session-fraud / sequential inventory walk via recursive CTE) mirror
    // OrderPipeline exactly, incl. the (ts, order_id) tie order and the
    // non-reserving inventory FAIL
    "c8_microservices" -> {
      val limit = graft.pipelines.OrderPipeline.FraudLimit
      s"""WITH RECURSIVE
        |o AS (SELECT l_orderkey || '-' || l_linenumber AS order_id,
        |    l_suppkey AS customer_id, l_partkey AS product,
        |    CASE WHEN (l_orderkey + l_linenumber) % 97 = 0
        |      THEN -l_quantity ELSE l_quantity END AS quantity,
        |    l_extendedprice / 5000.0 AS price, l_shipdate AS ts
        |  FROM lineitem),
        |det AS (SELECT order_id, CASE WHEN quantity >= 0 AND price >= 0
        |    AND product IS NOT NULL THEN 0 ELSE 1 END AS fail FROM o),
        |fl AS (SELECT order_id, customer_id, quantity * price AS amt, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL OR
        |      CAST(epoch(ts) AS BIGINT) - CAST(epoch(lag(ts) OVER w) AS BIGINT) > 3600
        |      THEN 1 ELSE 0 END AS ns
        |  FROM o WINDOW w AS (PARTITION BY customer_id ORDER BY ts, order_id)),
        |fg AS (SELECT *, sum(ns) OVER (PARTITION BY customer_id
        |    ORDER BY ts, order_id ROWS UNBOUNDED PRECEDING) AS sess FROM fl),
        |fr AS (SELECT order_id, CASE WHEN sum(amt) OVER (
        |    PARTITION BY customer_id, sess ORDER BY ts, order_id
        |    ROWS UNBOUNDED PRECEDING) < $limit THEN 0 ELSE 1 END AS fail FROM fg),
        |inv0 AS (SELECT o.order_id, o.product, o.quantity,
        |    coalesce(p.stock, 0.0) AS stock,
        |    row_number() OVER (PARTITION BY o.product
        |      ORDER BY o.ts, o.order_id) AS rn
        |  FROM o LEFT JOIN (SELECT p_partkey AS product,
        |      CAST(p_size * 20 AS DOUBLE) AS stock FROM part) p USING (product)),
        |walk AS (
        |  SELECT product, rn, order_id,
        |    CASE WHEN quantity <= stock THEN quantity ELSE 0.0 END AS reserved,
        |    CASE WHEN quantity <= stock THEN 0 ELSE 1 END AS fail
        |  FROM inv0 WHERE rn = 1
        |  UNION ALL
        |  SELECT l.product, l.rn, l.order_id,
        |    CASE WHEN w.reserved + l.quantity <= l.stock
        |      THEN w.reserved + l.quantity ELSE w.reserved END,
        |    CASE WHEN w.reserved + l.quantity <= l.stock THEN 0 ELSE 1 END
        |  FROM walk w JOIN inv0 l ON l.product = w.product AND l.rn = w.rn + 1),
        |v AS (SELECT order_id, fail FROM det
        |  UNION ALL SELECT order_id, fail FROM fr
        |  UNION ALL SELECT order_id, fail FROM walk),
        |st AS (SELECT order_id, CASE WHEN sum(fail) > 0 THEN 'FAILED'
        |    ELSE 'VALIDATED' END AS state FROM v GROUP BY order_id)
        |SELECT state, count(*) AS n_orders, sum(quantity) AS total_qty
        |FROM o JOIN st USING (order_id) GROUP BY state""".stripMargin
    },
    // EmailService: orders ⋈ payments within ±1 min (inclusive), broadcast
    // customers, level doubles as the routing topic
    "c10_prep_full" ->
      (s"""WITH $prepFunnelCtes
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_kept) AS BIGINT) AS total_kept_tokens,
         |  round(avg(boiler_ratio), 6) AS avg_boiler
         |FROM surv GROUP BY lang""".stripMargin),
    // training-mix epoch planner: integer sqrt weights, 64-bit integer
    // div/ppm arithmetic throughout (no float sum-order or pow drift)
    "c23_epoch_plan" -> epochPlanSql("documents"),
    // the filter→mix composite: the identical planner over only the
    // Gopher-kept documents (the integer keep predicate at the CORPUS
    // profile as a WHERE — see TextAnalysis.GopherCorpusLexicon)
    "c24_filtered_epochs" -> epochPlanSql("flt",
      s"flt AS (SELECT * FROM documents WHERE ${gopherKeepSqlExpr(
        graft.ops.TextAnalysis.GopherCorpusMinWords,
        graft.ops.TextAnalysis.GopherCorpusLexicon)}),\n"),
    // the funnel's survivors packed into training bins (c10 ∘ t17)
    "c11_prep_packed" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      s"""WITH $prepFunnelCtes,
         |p AS (SELECT doc_id, lang, n_kept, COALESCE(sum(n_kept) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM surv)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n_kept) AS BIGINT) AS total_kept_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY 1""".stripMargin
    },
    // c11's packing with the budget in REAL tokenizer tokens: the funnel
    // survivor CTEs + the t24 encode chain, joined on doc_id, prefix-
    // packed by bpe token count
    "c17_packed_ids" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH $prepFunnelCtes,
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |enc AS (SELECT doc_id,
         |    len(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS nb
         |  FROM t$k),
         |sv AS (SELECT surv.doc_id, surv.lang, enc.nb AS n
         |  FROM surv JOIN enc USING (doc_id)),
         |pk AS (SELECT doc_id, lang, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM sv)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_bpe_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM pk GROUP BY 1""".stripMargin
    },
    // c19 = the loader-facing pack manifest: per doc its shard, length,
    // within-shard offset and seeded shuffle keys (Composites.packManifest)
    "c19_pack_manifest" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val seed = graft.ops.Composites.ShuffleSeed
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH $prepFunnelCtes,
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |enc AS (SELECT doc_id,
         |    len(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS nb
         |  FROM t$k),
         |sv AS (SELECT surv.doc_id, enc.nb AS n
         |  FROM surv JOIN enc USING (doc_id)),
         |pk AS (SELECT doc_id, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM sv)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin, doc_id,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(prefix - (prefix // $cap) * $cap AS BIGINT) AS start_offset,
         |  md5('$seed:b' || CAST(prefix // $cap AS BIGINT)) AS shard_key,
         |  md5('$seed:d' || CAST(doc_id AS BIGINT)) AS doc_key
         |FROM pk""".stripMargin
    },
    // c22 = the loader's traversal of c19's manifest: shards in
    // shard_key order, docs in doc_key order within each — positions
    // computed by plain SQL windows here; Spark computes them with the
    // two-level (bounded per-shard + shard-grain) windows and must land
    // on the identical permutation (see Composites.loaderOrder)
    "c22_loader_order" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val seed = graft.ops.Composites.ShuffleSeed
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH $prepFunnelCtes,
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |enc AS (SELECT doc_id,
         |    len(list_filter(string_split(s, '||'), x -> len(x) > 0)) AS nb
         |  FROM t$k),
         |sv AS (SELECT surv.doc_id, enc.nb AS n
         |  FROM surv JOIN enc USING (doc_id)),
         |pk AS (SELECT doc_id, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM sv),
         |mf AS (SELECT CAST(prefix // $cap AS BIGINT) AS bin, doc_id,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(prefix - (prefix // $cap) * $cap AS BIGINT) AS start_offset,
         |  md5('$seed:b' || CAST(prefix // $cap AS BIGINT)) AS shard_key,
         |  md5('$seed:d' || CAST(doc_id AS BIGINT)) AS doc_key
         |FROM pk)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY shard_key, bin, doc_key, doc_id) AS BIGINT) AS seq,
         |  CAST(dense_rank() OVER (ORDER BY shard_key, bin) AS BIGINT) AS shard_pos,
         |  CAST(row_number() OVER (
         |    PARTITION BY bin ORDER BY doc_key, doc_id) AS BIGINT) AS doc_pos,
         |  bin, doc_id, n_tokens, start_offset
         |FROM mf""".stripMargin
    },
    // c18 = c17's bin assignment joined to t29's id sequences, rolled up
    // per shard with the packed-bytes hash (see Composites.trainerShards)
    "c18_trainer_shards" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH $prepFunnelCtes,
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |toks AS (SELECT doc_id,
         |    list_filter(string_split(s, '||'), x -> len(x) > 0) AS tl
         |  FROM t$k),
         |vc AS (SELECT tok2 AS tok, count(*) AS cnt
         |  FROM (SELECT unnest(tl) AS tok2 FROM toks) GROUP BY tok2),
         |vocab AS (SELECT tok, CAST(row_number() OVER (
         |    ORDER BY cnt DESC, tok ASC) - 1 AS INTEGER) AS id FROM vc),
         |tex AS (SELECT doc_id, i AS pos, tl[i] AS tok
         |  FROM toks, unnest(range(1, len(tl) + 1)) AS u(i)),
         |docids AS (SELECT doc_id,
         |    array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS idstr
         |  FROM tex JOIN vocab USING (tok) GROUP BY doc_id),
         |sv AS (SELECT surv.doc_id, len(toks.tl) AS n
         |  FROM surv JOIN toks USING (doc_id)),
         |pk AS (SELECT doc_id, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM sv)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_ids,
         |  md5(string_agg(coalesce(d.idstr, ''), '|' ORDER BY pk.doc_id))
         |    AS shard_hash
         |FROM pk LEFT JOIN docids d USING (doc_id) GROUP BY 1""".stripMargin
    },
    // c20 = the incremental shard refresh: d16's 'new' batch docs that
    // also pass the c10 gates, encoded against the frozen tokenizer, and
    // packed into bins appended after the STANDING corpus's (doc_id <
    // cut survivors) last bin — standing shards untouched by
    // construction (see Composites.deltaShards)
    "c20_delta_shards" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      val bucketCols = (0 until nBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
        s"md5(${cols.mkString(" || '|' || ")}) AS bucket$b"
      }.mkString(", ")
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT $b AS band, bucket$b AS bucket, doc_id FROM banded")
        .mkString(" UNION ALL ")
      val agree = (0 until nPerms)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $prepFunnelCtes,
         |${minhashCtesWith("m")},
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |toks AS (SELECT doc_id,
         |    list_filter(string_split(s, '||'), x -> len(x) > 0) AS tl
         |  FROM t$k),
         |vc AS (SELECT tok2 AS tok, count(*) AS cnt
         |  FROM (SELECT unnest(tl) AS tok2 FROM toks) GROUP BY tok2),
         |vocab AS (SELECT tok, CAST(row_number() OVER (
         |    ORDER BY cnt DESC, tok ASC) - 1 AS INTEGER) AS id FROM vc),
         |tex AS (SELECT doc_id, i AS pos, tl[i] AS tok
         |  FROM toks, unnest(range(1, len(tl) + 1)) AS u(i)),
         |docids AS (SELECT doc_id,
         |    array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS idstr
         |  FROM tex JOIN vocab USING (tok) GROUP BY doc_id),
         |cutt AS (SELECT CAST(floor(count(*) * 0.9) AS BIGINT) AS cut
         |  FROM documents),
         |hx AS (SELECT doc_id, md5(text) AS ch FROM documents),
         |xm AS (SELECT DISTINCT h.doc_id FROM hx h JOIN hx c ON h.ch = c.ch
         |  CROSS JOIN cutt WHERE h.doc_id >= cut AND c.doc_id < cut),
         |banded AS (SELECT doc_id, $bucketCols FROM msig),
         |buckets AS ($bandUnion),
         |nearb AS (SELECT DISTINCT l.doc_id FROM buckets l
         |  JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
         |  JOIN msig sa ON l.doc_id = sa.doc_id
         |  JOIN msig sb ON r.doc_id = sb.doc_id
         |  CROSS JOIN cutt
         |  WHERE l.doc_id >= cut AND r.doc_id < cut
         |    AND CAST($agree AS DOUBLE) / $nPerms >= 0.5),
         |newdocs AS (SELECT d.doc_id FROM documents d CROSS JOIN cutt
         |  WHERE d.doc_id >= cut
         |    AND d.doc_id NOT IN (SELECT doc_id FROM xm)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM nearb)),
         |ssv AS (SELECT surv.doc_id, len(toks.tl) AS n
         |  FROM surv JOIN toks USING (doc_id) CROSS JOIN cutt
         |  WHERE surv.doc_id < cut),
         |spk AS (SELECT doc_id, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM ssv),
         |maxb AS (SELECT COALESCE(CAST(max(prefix // $cap) AS BIGINT), -1)
         |  AS maxbin FROM spk),
         |dsv AS (SELECT surv.doc_id, len(toks.tl) AS n
         |  FROM surv JOIN toks USING (doc_id) JOIN newdocs USING (doc_id)
         |  CROSS JOIN cutt WHERE surv.doc_id >= cut),
         |dpk AS (SELECT doc_id, n, COALESCE(sum(n) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM dsv)
         |SELECT CAST(maxbin + 1 + (prefix // $cap) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_ids,
         |  md5(string_agg(coalesce(d.idstr, ''), '|' ORDER BY dpk.doc_id))
         |    AS shard_hash
         |FROM dpk CROSS JOIN maxb LEFT JOIN docids d USING (doc_id)
         |GROUP BY 1""".stripMargin
    },
    // c21 = c15's curriculum ordering applied to the real trainer
    // artifact: survivors ordered by (t27 ppl, doc_id), packed by BPE
    // length into PackCapacity bins, each bin's exact id bytes hashed in
    // curriculum order (see Composites.curriculumTrainerShards)
    "c21_curriculum_shards" -> {
      val cap = graft.ops.TextAnalysis.PackCapacity
      val k = graft.ops.TextAnalysis.MergeRounds
      val rounds = (1 to k).map { r =>
        s"""pr$r AS (SELECT unnest(CASE WHEN len(t) >= 2
           |    THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
           |    ELSE [] END) AS pair
           |  FROM (SELECT list_filter(string_split(s, '||'), x -> len(x) > 0) AS t
           |        FROM t${r - 1})),
           |top$r AS (SELECT pair FROM pr$r GROUP BY pair
           |  ORDER BY count(*) DESC, pair ASC LIMIT 1),
           |t$r AS (SELECT doc_id, replace(s,
           |    '|' || string_split(pair, ' ')[1] || '||' || string_split(pair, ' ')[2] || '|',
           |    '|' || replace(pair, ' ', '_') || '|') AS s
           |  FROM t${r - 1} CROSS JOIN top$r),""".stripMargin
      }.mkString("\n")
      s"""WITH $prepFunnelCtes,
         |$lmPplBodyCtes,
         |t0 AS (SELECT doc_id,
         |    CASE WHEN len(t) > 0
         |      THEN '||' || array_to_string(t, '||') || '||' ELSE '' END AS s
         |  FROM tok),
         |$rounds
         |toks AS (SELECT doc_id,
         |    list_filter(string_split(s, '||'), x -> len(x) > 0) AS tl
         |  FROM t$k),
         |vc AS (SELECT tok2 AS tok, count(*) AS cnt
         |  FROM (SELECT unnest(tl) AS tok2 FROM toks) GROUP BY tok2),
         |vocab AS (SELECT tok, CAST(row_number() OVER (
         |    ORDER BY cnt DESC, tok ASC) - 1 AS INTEGER) AS id FROM vc),
         |tex AS (SELECT doc_id, i AS pos, tl[i] AS tok
         |  FROM toks, unnest(range(1, len(tl) + 1)) AS u(i)),
         |docids AS (SELECT doc_id,
         |    array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS idstr
         |  FROM tex JOIN vocab USING (tok) GROUP BY doc_id),
         |csv AS (SELECT surv.doc_id, pplt.ppl, len(toks.tl) AS n
         |  FROM surv JOIN pplt USING (doc_id) JOIN toks USING (doc_id)),
         |cpk AS (SELECT doc_id, ppl, n, COALESCE(sum(n) OVER (
         |    ORDER BY ppl, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS prefix FROM csv)
         |SELECT CAST(prefix // $cap AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_ids,
         |  min(ppl) AS ppl_min, max(ppl) AS ppl_max,
         |  md5(string_agg(coalesce(d.idstr, ''), '|' ORDER BY cpk.ppl, cpk.doc_id))
         |    AS shard_hash
         |FROM cpk LEFT JOIN docids d USING (doc_id) GROUP BY 1""".stripMargin
    },
    // the drop-reason report: first failing gate in priority order,
    // corpus-relative quantile thresholds (see Composites.qualityReport)
    "c12_quality_report" -> {
      val minDocs = graft.ops.TextAnalysis.BoilerMinDocs
      val minTok = graft.ops.Composites.MinReportTokens
      val maxRep = graft.ops.Composites.MaxRepRatio
      val keepFrac = graft.ops.Composites.BoilerKeepFrac
      val dropFrac = graft.ops.Composites.SupportDropFrac
      s"""WITH tok AS (SELECT doc_id, lang, $tokensSql AS t FROM documents),
         |base AS (SELECT doc_id, lang, CAST(len(t) AS INTEGER) AS n_tokens,
         |  round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
         |    / greatest(len(t), 1), 6) AS rep_ratio FROM tok),
         |g AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         |  for i in range(1, len(t) - 1)]) AS ng FROM tok),
         |c AS (SELECT doc_id, ng, count(*) AS n FROM g GROUP BY doc_id, ng),
         |dfq AS (SELECT ng, count(*) AS df FROM c GROUP BY ng),
         |ratio AS (SELECT doc_id,
         |  round(CAST(sum(CASE WHEN df >= $minDocs THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS boiler_ratio
         |  FROM c JOIN dfq USING (ng) GROUP BY doc_id),
         |bthr AS (SELECT min(boiler_ratio) AS boiler_thr FROM (
         |  SELECT boiler_ratio, sum(cnt) OVER (ORDER BY boiler_ratio) AS cum,
         |    sum(cnt) OVER () AS tot FROM (
         |    SELECT boiler_ratio, count(*) AS cnt FROM ratio GROUP BY 1))
         |  WHERE cum >= ceil(tot * $keepFrac)),
         |o AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |    THEN [{'w1': t[i], 'bg': t[i] || ' ' || t[i+1]} for i in range(1, len(t))]
         |    ELSE [] END) AS p FROM tok),
         |bc AS (SELECT doc_id, p.w1 AS w1, p.bg AS bg, count(*) AS m
         |  FROM o GROUP BY doc_id, p.w1, p.bg),
         |cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cb FROM bc GROUP BY bg),
         |cu AS (SELECT w1, CAST(sum(m) AS BIGINT) AS cu FROM bc GROUP BY w1),
         |sup AS (SELECT doc_id,
         |  round(CAST(sum(m * cb) AS DOUBLE) / CAST(sum(m * cu) AS DOUBLE), 6)
         |    AS support
         |  FROM bc JOIN cb USING (bg) JOIN cu USING (w1) GROUP BY doc_id),
         |sthr AS (SELECT min(support) AS support_thr FROM (
         |  SELECT support, sum(cnt) OVER (ORDER BY support) AS cum,
         |    sum(cnt) OVER () AS tot FROM (
         |    SELECT support, count(*) AS cnt FROM sup GROUP BY 1))
         |  WHERE cum >= ceil(tot * $dropFrac)),
         |v AS (SELECT lang, n_tokens,
         |  CASE WHEN n_tokens < $minTok THEN 'short'
         |    WHEN rep_ratio > $maxRep THEN 'repetitive'
         |    WHEN boiler_ratio > (SELECT boiler_thr FROM bthr) THEN 'boilerplate'
         |    WHEN support < (SELECT support_thr FROM sthr) THEN 'atypical'
         |    ELSE 'kept' END AS verdict
         |  FROM base LEFT JOIN ratio USING (doc_id) LEFT JOIN sup USING (doc_id))
         |SELECT lang, verdict, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM v GROUP BY lang, verdict""".stripMargin
    },
    "c9_email_routed" ->
      ("""WITH o AS (SELECT l_orderkey || '-' || l_linenumber AS order_id,
        |    l_suppkey AS customer_id, CAST(l_quantity AS DOUBLE) AS quantity,
        |    CAST(l_extendedprice AS DOUBLE) / 5000.0 AS price,
        |    CAST(l_shipdate AS TIMESTAMP) AS ts FROM lineitem),
        |p AS (SELECT l_orderkey || '-' || l_linenumber AS order_id,
        |    floor(CAST(l_quantity AS DOUBLE) *
        |      (CAST(l_extendedprice AS DOUBLE) / 5000.0) * 100.0 + 0.5) / 100.0
        |      AS amount,
        |    CAST(l_shipdate AS TIMESTAMP)
        |      + to_seconds(CAST(l_partkey % 300 - 150 AS BIGINT)) AS ts
        |  FROM lineitem WHERE l_orderkey % 3 = 0),
        |c AS (SELECT c_custkey AS customer_id, lower(c_mktsegment) AS level
        |  FROM customer)
        |SELECT o.order_id, o.customer_id, o.quantity, o.price, p.amount,
        |  c.level, c.level AS topic
        |FROM o JOIN p ON o.order_id = p.order_id
        |  AND p.ts >= o.ts - INTERVAL 1 MINUTE
        |  AND p.ts <= o.ts + INTERVAL 1 MINUTE
        |JOIN c USING (customer_id)""".stripMargin),
  )
}
