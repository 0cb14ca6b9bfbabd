package graft.queries

/** DuckDB oracle twins for every registered query (the driver's correctness
  * gate: it runs each SQL against the same parquet tables and hash-compares
  * with the Spark result after sorting columns by name).
  *
  * Cross-engine determinism rules used throughout (see [[Relational]]):
  *  - money/metrics as scaled integers (`round(x*100)::BIGINT`), never raw
  *    doubles — FP noise can't survive a hash compare;
  *  - `sum(BIGINT)` is HUGEINT in DuckDB → always re-cast to BIGINT;
  *  - days as `strftime('%Y-%m-%d')` strings (Spark `date_format` twin);
  *  - event time as µs since epoch: Spark reads parquet TIMESTAMP(NANOS)
  *    as long ns and does `ts div 1000`; DuckDB `epoch_us(ts)` truncates
  *    identically;
  *  - aggregates/computed columns aliased to the same name on both sides.
  */
object Oracles {

  private val CentsQty = "CAST(round(l_quantity*100) AS BIGINT)"
  private val CentsPrice = "CAST(round(l_extendedprice*100) AS BIGINT)"
  private val CentsValue = "CAST(round(value*100) AS BIGINT)"

  val relational: Map[String, String] = Map(
    "q01_agg_sum_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum($CentsQty) AS BIGINT) AS sum_qty_c,
         |  CAST(sum($CentsPrice) AS BIGINT) AS sum_price_c,
         |  count(*) AS cnt
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_time_range" ->
      s"""SELECT event_type, count(*) AS cnt,
         |  CAST(sum($CentsValue) AS BIGINT) AS sum_value_c
         |FROM events
         |WHERE epoch_us(ts) > ${Relational.Q02Lo} AND epoch_us(ts) < ${Relational.Q02Hi}
         |GROUP BY event_type""".stripMargin,

    "q03_filter_in_projection" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus = 'O'""".stripMargin,

    "q04_join_left_enrich" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  coalesce(n_name, 'UNKNOWN') AS nation_name,
        |  coalesce(r_name, 'UNKNOWN') AS region_name,
        |  'accounts/' || c_name AS vertex_ref
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "q05_join_inner_agg" ->
      s"""SELECT l_suppkey, CAST(sum($CentsQty) AS BIGINT) AS sum_qty_c, count(*) AS cnt
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'F' GROUP BY l_suppkey""".stripMargin,

    "q06_argmax_per_day" ->
      """WITH t AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m-%d')
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT order_day, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |FROM t WHERE rn = 1""".stripMargin,

    "q07_distinct_content_key" ->
      """SELECT n_name, r_name, md5(n_name || '|' || r_name) AS city_key
        |FROM (SELECT DISTINCT n_name, r_name
        |      FROM nation JOIN region ON n_regionkey = r_regionkey)""".stripMargin,

    "q08_agg_min_max" ->
      """SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_day,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_day,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,

    "q09_json_extract" ->
      """SELECT k % 10 AS k_bucket, count(*) AS cnt, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        |GROUP BY k % 10""".stripMargin,

    "q10_dedup_newest_wins" ->
      s"""SELECT user_id, event_type, event_id, $CentsValue AS value_c, ts_us
         |FROM (SELECT *, epoch_us(ts) AS ts_us,
         |        row_number() OVER (PARTITION BY user_id, event_type
         |                           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |      FROM events)
         |WHERE rn = 1""".stripMargin,

    "q11_dedup_content_hash" ->
      """SELECT md5(to_json(struct_pack(custkey := o_custkey, priority := o_orderpriority))) AS "_key",
        |  o_custkey, o_orderpriority,
        |  min(o_orderkey) AS first_order, count(*) AS n_dups
        |FROM orders GROUP BY o_custkey, o_orderpriority""".stripMargin,

    "q12_geo_haversine" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    (c_custkey % 170) - 85 + 0.25 AS c_lat,
        |    (c_custkey * 7 % 350) - 175 + 0.5 AS c_lng FROM customer),
        |  s AS (SELECT s_suppkey, s_nationkey,
        |    (s_suppkey * 13 % 170) - 85 + 0.5 AS s_lat,
        |    (s_suppkey * 29 % 350) - 175 + 0.5 AS s_lng FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  CAST(round(2.0 * 6371000.0 * asin(least(1.0,
        |    sqrt(pow(sin(radians(s_lat - c_lat) / 2.0), 2.0)
        |       + cos(radians(c_lat)) * cos(radians(s_lat))
        |         * pow(sin(radians(s_lng - c_lng) / 2.0), 2.0)))) / 1000.0) AS BIGINT) AS dist_km
        |FROM c JOIN s ON c_nationkey = s_nationkey""".stripMargin,

    "q13_vertex_ref_roundtrip" ->
      """SELECT c_custkey, 'accounts/' || c_name AS vertex_ref,
        |  string_split('accounts/' || c_name, '/')[-1] AS stripped
        |FROM customer""".stripMargin,

    "q14_collect_sorted_list" ->
      """SELECT c_nationkey, count(*) AS cnt,
        |  string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY CAST(c_custkey AS VARCHAR)) AS members
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "q15_json_fallback_coalesce" ->
      """SELECT k % 5 AS bucket, count(*) AS cnt
        |FROM (SELECT CAST(coalesce(json_extract_string(props, '$.missing'),
        |                           json_extract_string(props, '$.k')) AS INTEGER) AS k
        |      FROM events)
        |GROUP BY k % 5""".stripMargin,

    "q16_window_rewards_5d" ->
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS max_ts FROM events)
         |SELECT user_id, CAST(sum($CentsValue) AS BIGINT) AS rewards_5d_c, count(*) AS cnt
         |FROM events, m
         |WHERE epoch_us(ts) > max_ts - ${Relational.FiveDaysUs} AND epoch_us(ts) < max_ts
         |GROUP BY user_id""".stripMargin,

    "q17_daily_balances" ->
      s"""WITH d AS (
         |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, $CentsValue AS value_c,
         |    row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
         |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |  FROM events)
         |SELECT user_id, count(*) AS n_days,
         |  string_agg(day || ':' || CAST(value_c AS VARCHAR), ';'
         |             ORDER BY day || ':' || CAST(value_c AS VARCHAR)) AS daily_balances
         |FROM d WHERE rn = 1 GROUP BY user_id""".stripMargin,

    "q18_upsert_update" -> upsertSql(update = true),
    "q19_upsert_ignore" -> upsertSql(update = false),

    "q20_retention_filter" ->
      s"""SELECT event_type, count(*) AS cnt FROM events
         |WHERE epoch_us(ts) >= ${Relational.Q20CutoffUs} GROUP BY event_type""".stripMargin,

    // J4 composition: accounts⨝blocks by height, latest per (address, day)
    // (time DESC, height tiebreak), day-ordered series per account.
    "q94_balances_rebuild" ->
      s"""WITH acc AS (SELECT event_id AS block, 'u' || user_id AS address,
         |    $CentsValue AS balance, event_id % 97 AS staked_balance,
         |    event_id % 7 AS dc_balance
         |  FROM events),
         |blk AS (SELECT event_id AS height, epoch_us(ts) AS time, ts FROM events),
         |j AS (SELECT address, strftime(blk.ts, '%Y-%m-%d') AS date, balance,
         |    staked_balance, dc_balance,
         |    row_number() OVER (PARTITION BY address, strftime(blk.ts, '%Y-%m-%d')
         |                       ORDER BY time DESC, height DESC) AS rn
         |  FROM acc JOIN blk ON acc.block = blk.height)
         |SELECT address AS "_key", address, count(*) AS n_days,
         |  string_agg(date || ':' || CAST(balance AS VARCHAR)
         |      || ':' || CAST(staked_balance AS VARCHAR)
         |      || ':' || CAST(dc_balance AS VARCHAR), ';' ORDER BY date) AS series
         |FROM j WHERE rn = 1 GROUP BY address""".stripMargin,

    // P9/F11: Spark's try_divide yields NULL on 0/0 — exactly DuckDB's
    // IEEE division — and both scrub to 0; the injected-NaN channel pins
    // the literal isnan/nanvl guards. The group mean is the 0.0-seeded
    // ascending fold, matching the engine's
    // `aggregate(sort_array(collect_list(...)))` bit-for-bit.
    "q95_nan_scrub" ->
      """WITH e AS (SELECT event_id, value,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 AS grp,
        |    CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 = 2
        |         THEN 0.0::DOUBLE ELSE value END AS m,
        |    CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS noisy
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |g AS (SELECT grp,
        |    list_reduce([0.0::DOUBLE] || list(m ORDER BY event_id),
        |      (a, b) -> a + b) / count(*) AS mean
        |  FROM e GROUP BY grp)
        |SELECT event_id, grp, (m / mean) IS NULL AS was_scrubbed,
        |  CAST(round(1000000.0 * coalesce(m / mean, 0.0)) AS BIGINT) AS norm_pm,
        |  isnan(noisy) AS was_nan,
        |  CAST(round((CASE WHEN isnan(noisy) THEN 0.0::DOUBLE ELSE noisy END) * 100)
        |    AS BIGINT) AS denoised_c
        |FROM e JOIN g USING (grp)""".stripMargin,
  )

  /** Twins of [[JsonPipelines]]: the payload JSON is rebuilt byte-identically
    * in DuckDB (its `to_json(struct_pack(...))` renders the same
    * `{"k":v}` form as Spark's `to_json(struct(...))`), so even the
    * md5-of-payload content keys hash-match; the extraction itself is
    * recomputed relationally — a match proves the Spark-side parse/explode
    * round-trip is lossless.
    */
  val json: Map[String, String] = Map(
    "q21_payment_json_pipeline" ->
      """WITH p AS (
        |  SELECT o_orderkey, 'acct' || o_custkey AS payer,
        |    'acct' || (o_custkey * 7 % 1500) AS payee,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS amount
        |  FROM orders),
        |j AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0
        |    THEN to_json(struct_pack(payer := payer, payee := payee, amount := amount))::VARCHAR
        |    ELSE to_json(struct_pack(payer := payer,
        |           payments := [struct_pack(payee := payee, amount := amount)]))::VARCHAR
        |    END AS payload, payer, payee, amount
        |  FROM p)
        |SELECT DISTINCT md5(payload) AS "_key", 'accounts/' || payer AS "_from",
        |  'accounts/' || payee AS "_to", amount AS amount_c
        |FROM j""".stripMargin,

    "q22_witness_explode_pipeline" ->
      """WITH e AS (
        |  SELECT 'ch' || l_orderkey AS challengee, 'gw' || l_suppkey AS gateway,
        |    CAST(round(l_quantity*100) AS BIGINT) AS signal_c,
        |    CAST(l_linenumber AS BIGINT) AS ts,
        |    md5('ch' || l_orderkey || 'gw' || l_suppkey) AS k
        |  FROM lineitem WHERE l_returnflag <> 'R'),
        |d AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC, signal_c DESC) AS rn
        |      FROM e)
        |SELECT k AS "_key", challengee, gateway, signal_c, ts FROM d WHERE rn = 1""".stripMargin,

    "q23_payment_v2_explode_all" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, 'acct' || o_custkey AS payer,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS c
        |  FROM orders),
        |j AS (
        |  SELECT payer,
        |    CASE CAST(o_orderkey % 3 AS INTEGER)
        |      WHEN 0 THEN [struct_pack(payee := 'acct' || (o_custkey*7 % 1500), amount := c)]
        |      WHEN 1 THEN [struct_pack(payee := 'acct' || (o_custkey*7 % 1500), amount := c),
        |                   struct_pack(payee := 'acct' || (o_custkey*8 % 1500), amount := c+1)]
        |      ELSE [struct_pack(payee := 'acct' || (o_custkey*7 % 1500), amount := c),
        |            struct_pack(payee := 'acct' || (o_custkey*8 % 1500), amount := c+1),
        |            struct_pack(payee := 'acct' || (o_custkey*9 % 1500), amount := c+2)]
        |    END AS payments
        |  FROM base),
        |p AS (
        |  SELECT payer, len(payments) AS n, md5(to_json(struct_pack(payer := payer,
        |           payments := payments))::VARCHAR) AS pk,
        |    list_reduce(list_transform(payments, s -> s.amount), (a, b) -> a + b) AS tot
        |  FROM j)
        |-- min over '<pk>:<pos>' strings = (min pk) || ':0' since pks share length
        |SELECT payer, CAST(sum(n) AS BIGINT) AS n_subpayments,
        |  CAST(sum(tot) AS BIGINT) AS total_c, min(pk || ':0') AS min_key
        |FROM p GROUP BY payer""".stripMargin,
  )

  /** Shared SQL fragments for the LLM-pipeline twins — identical md5-derived
    * hashes and left-fold arithmetic as the Scala operators, so signatures,
    * buckets, and cosines are bit-exact across engines.
    */
  private val Toks = """string_split_regex(trim(text), '\s+')"""
  // word 3-grams, distinct (twin of Text.shingles k=3)
  private def shingleList(toks: String) =
    s"""list_distinct(list_transform(range(1, len($toks)-1),
       |  i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))""".stripMargin
  // twin of Text.hash32(x, seed column j)
  private def hash32(seedExpr: String, v: String) =
    s"('0x' || substr(md5($seedExpr || ':' || $v), 1, 8))::BIGINT"
  // The unigram-segmentation chain (q128/q133, twin of Unigram.trainVocab
  // maxLen=4 + Unigram.segment by EXHAUSTIVE enumeration): from a docs
  // relation `src(text)` to `wf(w, f)` and `useg(w, np, sc, pieces)`.
  // Requires WITH RECURSIVE at the head of the enclosing query.
  // NOT pre-stripMargin'd (the MinhashPairsCtes rule).
  private def unigramSegCtes(src: String, topK: Int): String =
    s"""wf AS (SELECT w, count(*) AS f FROM
       |  (SELECT unnest($Toks) AS w FROM $src) GROUP BY w),
       |sub AS (SELECT piece, CAST(sum(f) AS BIGINT) AS score FROM (
       |    SELECT substr(w, CAST(i AS INT), CAST(j AS INT)) AS piece, f
       |    FROM wf, unnest(range(1, len(w)+1)) AS t1(i),
       |         unnest(range(1, 5)) AS t2(j)
       |    WHERE i + j - 1 <= len(w)) GROUP BY piece),
       |multi AS (SELECT piece, score FROM sub WHERE len(piece) >= 2
       |          ORDER BY score DESC, piece ASC LIMIT $topK),
       |uvocab AS (SELECT piece, score FROM sub WHERE len(piece) = 1
       |          UNION ALL SELECT piece, score FROM multi),
       |paths(w, pos, np, sc, seg) AS (
       |  SELECT w, 0, 0, 0::BIGINT, '' FROM wf
       |  UNION ALL
       |  SELECT p.w, p.pos + CAST(tj.j AS INT), p.np + 1,
       |         p.sc + COALESCE(v.score, 0),
       |         p.seg || ' ' || substr(p.w, p.pos + 1, CAST(tj.j AS INT))
       |  FROM paths p
       |  CROSS JOIN unnest(range(1, 5)) AS tj(j)
       |  LEFT JOIN uvocab v
       |    ON v.piece = substr(p.w, p.pos + 1, CAST(tj.j AS INT))
       |  WHERE p.pos + tj.j <= len(p.w) AND (tj.j = 1 OR v.piece IS NOT NULL)
       |),
       |udone AS (SELECT w, np, sc, ltrim(seg) AS pieces
       |         FROM paths WHERE pos = len(w)),
       |useg AS (SELECT w, np, sc, pieces FROM
       |  (SELECT *, row_number() OVER (PARTITION BY w
       |     ORDER BY np ASC, sc DESC, pieces ASC) AS rn FROM udone)
       |  WHERE rn = 1)"""

  // The CDC chain (q130/q131, twin of Chunk.contentDefined divisor=8
  // seed=7): from a docs relation `src(doc_id, text)` to
  // `${p}g(doc_id, chunk_seq, n_tok, chunk_text, chunk_hash)`.
  // NOT pre-stripMargin'd (the MinhashPairsCtes rule).
  private def cdcCtes(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, $Toks AS toks FROM $src),
       |${p}e AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok,
       |    CASE WHEN i = 1 THEN toks[1]
       |         ELSE toks[i-1] || ' ' || toks[i] END AS gram
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i
       |        FROM ${p}t)),
       |${p}m AS (SELECT doc_id, pos, tok,
       |    CASE WHEN ${hash32("'7'", "gram")} % 8 = 0 THEN 1 ELSE 0 END
       |      AS marker
       |  FROM ${p}e),
       |${p}c AS (SELECT doc_id, pos, tok,
       |    1 + COALESCE(sum(marker) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_seq
       |  FROM ${p}m),
       |${p}g AS (SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
       |    count(*) AS n_tok,
       |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM ${p}c GROUP BY doc_id, chunk_seq)"""
  // twin of Similarity.cosineScaledPm over `dims`-dim float vectors
  private def cosPmD(a: String, b: String, dims: Int) = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1,${dims + 1}), i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (p,q) -> p+q)"
    s"""CAST(round(1000000.0 * (${dot(a, b)}
       |  / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))) AS BIGINT)""".stripMargin
  }
  private def cosPm(a: String, b: String) = cosPmD(a, b, 64)
  // The q28 candidate-pair CTE chain (shared by q28 and q43): shingles →
  // one md5 per shingle → the (2j+1, 40503j+1) affine family mod 2^31-1
  // (twin of Text.baseHash32 + Text.affine) → 4-band LSH keys → distinct
  // same-band pairs scored by agreeing signature components.
  // NOTE: deliberately NOT pre-stripMargin'd — this block is interpolated
  // into margin strings and stripped exactly once there (double-stripping
  // would eat the first '|' of every '||' concat).
  // The q103 bigram-LM CTE chain (shared by q103 and q104): bigrams →
  // counts → add-one-smoothed transition probability in micro units →
  // per-doc mean, all BIGINT division. NOT pre-stripMargin'd (the
  // MinhashPairsCtes rule below).
  private val LmFluencyCtes =
    s"""t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       |       FROM (SELECT doc_id, toks,
       |               unnest(range(1, len(toks))) AS i FROM t)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
       |v AS (SELECT count(DISTINCT tok) AS v
       |      FROM (SELECT unnest(toks) AS tok FROM t)),
       |p AS (SELECT doc_id, (1000000 * (c2 + 1)) // (c1 + v) AS p_micro
       |      FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
       |f AS (SELECT doc_id, count(*) AS n_bigrams,
       |        CAST(sum(p_micro) // count(*) AS BIGINT) AS fluency_pm
       |      FROM p GROUP BY doc_id)"""

  private val MinhashPairsCtes =
    s"""t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |s AS (SELECT doc_id, ${shingleList("toks")} AS sh FROM t),
       |bh AS (SELECT doc_id,
       |        list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS bases
       |      FROM s WHERE len(sh) > 0),
       |g AS (SELECT doc_id, list_transform(range(0,16),
       |        j -> list_min(list_transform(bases,
       |          b -> ((2*j+1)*(b % 2147483647) + (40503*j+1)) % 2147483647))) AS sig
       |      FROM bh),
       |b AS (SELECT doc_id, sig, unnest(range(0,4)) AS band FROM g),
       |k AS (SELECT doc_id, band,
       |        md5(sig[4*band+1]::VARCHAR || ',' || sig[4*band+2]::VARCHAR || ','
       |          || sig[4*band+3]::VARCHAR || ',' || sig[4*band+4]::VARCHAR) AS bk
       |      FROM b),
       |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |      FROM k x JOIN k y ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |e AS (SELECT doc_a, doc_b,
       |    CAST(list_reduce(list_transform(range(1,17),
       |      i -> CASE WHEN gx.sig[i] = gy.sig[i] THEN 1 ELSE 0 END), (a,b) -> a+b) AS BIGINT)
       |      AS n_sig_equal
       |  FROM p JOIN g gx ON doc_a = gx.doc_id JOIN g gy ON doc_b = gy.doc_id)"""

  // twin of Similarity.rpLshBucketRange(v, from, planes, dims=64)
  private def rpBucketRange(v: String, from: Int, planes: Int) =
    s"""list_reduce(list_transform(range($from,${from + planes}), p ->
       |  CASE WHEN list_reduce(list_transform(range(0,64), i ->
       |      ((${hash32("p", "i")} % 2001 - 1000)::DOUBLE / 1000.0) * $v[i+1]::DOUBLE),
       |    (x,y) -> x+y) > 0
       |  THEN (1::BIGINT << (p - $from)) ELSE 0::BIGINT END), (a,b) -> a+b)""".stripMargin

  // twin of Similarity.rpLshBucket(v, planes, dims=64)
  private def rpBucket(v: String, planes: Int = 8) = rpBucketRange(v, 0, planes)

  // Generated twin of Similarity.pqEncode (q79; q80 extends it): the
  // codebooks and their ascending-fold norms are printed from the
  // engine's own constants via Double.toString — bit-identical doubles on
  // both engines (correctly-rounded strtod) — and everything below is
  // +/−/* on those doubles (no trig), so the twin is exact. The argmin's
  // ORDER BY dist, c mirrors the engine's first-match-at-least tie rule.
  private lazy val pqCbValues: String = {
    import graft.operators.Similarity.{PqK, PqSub, pqCbNorm2, pqCodebook}
    (for (s <- 0 until PqSub; c <- 0 until PqK) yield {
      val vec = pqCodebook(s)(c).mkString("[", ", ", "]")
      s"($s, $c, $vec::DOUBLE[], ${pqCbNorm2(s)(c)})"
    }).mkString(",\n    ")
  }

  /** CTE chain ending at `codes(vec_id, c0..c3)` — shared by q79/q80. */
  private lazy val pqCodesSql: String = {
    import graft.operators.Similarity.{PqSub, PqSubDim}
    require(PqSub == 4, "the generated CASE pivot below is written for 4 subspaces")
    s"""WITH cb(s, c, vec, n2) AS (VALUES
       |    $pqCbValues),
       |d AS (SELECT vec_id, s, c,
       |    n2 - 2.0 * list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> embedding[s * $PqSubDim + i]::DOUBLE * vec[i]), (a, b) -> a + b) AS dist
       |  FROM embeddings CROSS JOIN cb),
       |r AS (SELECT vec_id, s, c,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
       |  FROM d),
       |codes AS (SELECT vec_id,
       |    MAX(CASE WHEN s = 0 THEN c END) AS c0, MAX(CASE WHEN s = 1 THEN c END) AS c1,
       |    MAX(CASE WHEN s = 2 THEN c END) AS c2, MAX(CASE WHEN s = 3 THEN c END) AS c3
       |  FROM r WHERE rn = 1 GROUP BY vec_id)""".stripMargin
  }

  private def pqAdcTerm(s: Int, cbAlias: String): String =
    s"list_reduce(list_transform(range(1, 17), i -> qv[$s * 16 + i]::DOUBLE * $cbAlias.vec[i]), (a, b) -> a + b)"

  /** q81 AND q92 twin — q38's cent/asg cell assignment + the PQ code/ADC
    * chain. q92's materialized-index path must land on the identical end
    * state (the index is pure storage layout), so one twin serves both.
    */
  private lazy val IvfPqSql =
    s"""$pqCodesSql,
       |cent AS (SELECT vec_id AS cent_id, embedding AS centv
       |  FROM embeddings WHERE vec_id < 8),
       |asg AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosPm("e.embedding", "c.centv")} DESC, c.cent_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qv, cell FROM asg
       |      WHERE vec_id >= 20 AND vec_id < 30),
       |cc AS (SELECT asg.vec_id AS cid, asg.cell, c0, c1, c2, c3
       |      FROM asg JOIN codes ON asg.vec_id = codes.vec_id),
       |p AS (SELECT qid, qv, cid, q.cell AS cell, c0, c1, c2, c3
       |      FROM q JOIN cc USING (cell) WHERE cid <> qid),
       |sc AS (SELECT qid, cid, cell,
       |    CAST(round(1000000.0 * (${pqAdcTerm(0, "cb0")}
       |      + ${pqAdcTerm(1, "cb1")}
       |      + ${pqAdcTerm(2, "cb2")}
       |      + ${pqAdcTerm(3, "cb3")})) AS BIGINT) AS adc_pm
       |  FROM p JOIN cb cb0 ON cb0.s = 0 AND cb0.c = p.c0
       |         JOIN cb cb1 ON cb1.s = 1 AND cb1.c = p.c1
       |         JOIN cb cb2 ON cb2.s = 2 AND cb2.c = p.c2
       |         JOIN cb cb3 ON cb3.s = 3 AND cb3.c = p.c3),
       |r2 AS (SELECT qid, cid, cell, adc_pm,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_pm DESC, cid ASC) AS "rank"
       |  FROM sc)
       |SELECT qid, cid, cell, adc_pm, "rank" FROM r2 WHERE "rank" <= 3""".stripMargin

  /** q155's generator: per-probe recall@3 of the rpBucket LSH index at
    * each plane count vs the exact top-3 — one exact CTE chain shared,
    * one ann chain per width, integer-exact audit columns.
    */
  private def recallAuditSql(planesList: Seq[Int]): String = {
    val ann = planesList.map { p =>
      s"""emb$p AS (SELECT vec_id, embedding, ${rpBucket("embedding", p)} AS bucket FROM embeddings),
         |aq$p AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM emb$p WHERE vec_id < 20),
         |ac$p AS (SELECT vec_id AS cid, embedding AS cv, bucket FROM emb$p),
         |sc$p AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
         |        FROM aq$p JOIN ac$p USING (bucket) WHERE cid <> qid),
         |rk$p AS (SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS rk
         |       FROM sc$p),
         |hits$p AS (SELECT e.qid, count(*) AS h
         |         FROM exact e JOIN rk$p a ON a.qid = e.qid AND a.cid = e.cid AND a.rk <= 3
         |         GROUP BY e.qid)""".stripMargin
    }.mkString(",\n")
    val selects = planesList.map { p =>
      s"""SELECT p.qid, coalesce(h.h, 0) AS hits,
         |  CAST(coalesce(h.h, 0) * 1000000 // 3 AS BIGINT) AS recall_pm,
         |  $p AS planes
         |FROM probes p LEFT JOIN hits$p h ON h.qid = p.qid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH xq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
       |xc AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
       |xs AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
       |       FROM xc, xq WHERE cid <> qid),
       |xr AS (SELECT qid, cid,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS rk
       |       FROM xs),
       |exact AS (SELECT qid, cid FROM xr WHERE rk <= 3),
       |probes AS (SELECT DISTINCT qid FROM exact),
       |$ann
       |$selects""".stripMargin
  }

  private lazy val BruteForceTop5Sql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
       |s AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
       |      FROM c, q WHERE cid <> qid),
       |r AS (SELECT qid, cid, cos_pm,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
       |      FROM s)
       |SELECT * FROM r WHERE "rank" <= 5""".stripMargin

  val llm: Map[String, String] = Map(
    "q24_text_stats" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks,
         |    CAST(length(text) AS BIGINT) AS n_chars_raw,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace
         |  FROM documents)
         |SELECT doc_id, n_chars_raw,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT) AS n_stop,
         |  CAST(round(1000.0 * n_nonspace / len(toks)) AS BIGINT) AS avg_token_len_milli,
         |  CAST(round(1000000.0 * n_stop / n_tokens) AS BIGINT) AS stop_pm,
         |  CAST(round(1000.0 * (0.5 * (n_stop / n_tokens)
         |    + 0.5 * least(1.0, n_tokens / 100.0))) AS BIGINT) AS quality_milli
         |FROM t""".stripMargin,

    "q40_bpe_token_count" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks,
         |    regexp_extract_all(text,
         |      '''(?:s|t|re|ve|m|ll|d)|\\p{L}{1,4}|\\p{N}{1,3}|[^\\s\\p{L}\\p{N}]') AS pieces
         |  FROM documents)
         |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_bpe,
         |  CAST(len(toks) AS BIGINT) AS n_ws,
         |  CAST(round(1000.0 * len(pieces) / len(toks)) AS BIGINT) AS fertility_milli
         |FROM t""".stripMargin,

    "q25_lang_id" ->
      s"""WITH s AS (SELECT lang,
         |    len(list_filter($Toks, x -> x IN ('the','a','is'))) AS s_en,
         |    len(list_filter($Toks, x -> x IN ('der','die','das'))) AS s_de,
         |    len(list_filter($Toks, x -> x IN ('le','la','les'))) AS s_fr,
         |    len(list_filter($Toks, x -> x IN ('el','los','las'))) AS s_es
         |  FROM documents),
         |g AS (SELECT lang, CASE
         |    WHEN s_en = greatest(s_en,s_de,s_fr,s_es) AND s_en > 0 THEN 'en'
         |    WHEN s_de = greatest(s_en,s_de,s_fr,s_es) AND s_de > 0 THEN 'de'
         |    WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) AND s_fr > 0 THEN 'fr'
         |    WHEN s_es = greatest(s_en,s_de,s_fr,s_es) AND s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_guess
         |  FROM s)
         |SELECT lang, lang_guess, count(*) AS cnt FROM g GROUP BY lang, lang_guess""".stripMargin,

    "q26_fingerprint_dedup" ->
      s"""WITH t AS (SELECT doc_id,
         |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5,
         |    list_reduce([0::BIGINT] || list_transform($Toks, x -> ${hash32("'0'", "x")}),
         |      (a,b) -> (a*31 + b) % 2147483647) AS roll_hash
         |  FROM documents)
         |SELECT doc_id, fp_md5, roll_hash,
         |  count(*) OVER (PARTITION BY fp_md5) AS n_dups
         |FROM t""".stripMargin,

    "q27_ngram_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT doc_a, doc_b, inter, x.n AS na, y.n AS nb,
         |    CAST(round(1000000.0 * inter / (x.n + y.n - inter)) AS BIGINT) AS jac_pm
         |  FROM i JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |SELECT * FROM j WHERE jac_pm >= 800000""".stripMargin,

    // q100: exact span dedup — k=3 token blocks, global first-wins by
    // (doc, pos), documents rebuilt from surviving blocks. The oracle uses
    // a window for first-wins (fine at oracle scale); the engine uses the
    // skew-proof min-struct aggregation — same kept set by construction.
    "q100_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |nb AS (SELECT doc_id, CAST(ceil(len(toks)/3.0) AS BIGINT) AS n_blocks FROM t),
         |b0 AS (SELECT doc_id, toks,
         |        unnest(range(CAST(ceil(len(toks)/3.0) AS BIGINT))) AS pos FROM t),
         |b AS (SELECT doc_id, pos,
         |        array_to_string(toks[pos*3+1 : pos*3+3], ' ') AS blk FROM b0),
         |w AS (SELECT doc_id, pos, blk FROM (
         |        SELECT doc_id, pos, blk,
         |          row_number() OVER (PARTITION BY blk ORDER BY doc_id, pos) AS rn
         |        FROM b) WHERE rn = 1),
         |r AS (SELECT doc_id, count(*) AS kept_blocks,
         |        string_agg(blk, ' ' ORDER BY pos) AS new_text FROM w GROUP BY doc_id)
         |SELECT nb.doc_id, nb.n_blocks,
         |  CAST(coalesce(r.kept_blocks, 0) AS BIGINT) AS kept_blocks,
         |  coalesce(r.new_text, '') AS new_text
         |FROM nb LEFT JOIN r USING (doc_id)""".stripMargin,

    // q102: incremental span dedup — odd-id docs against the even-id
    // corpus's distinct block registry, then batch-internal first-wins.
    "q102_span_dedup_incremental" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents WHERE doc_id % 2 = 1),
         |reg AS (SELECT DISTINCT array_to_string(toks[pos*3+1 : pos*3+3], ' ') AS blk
         |        FROM (SELECT doc_id, toks,
         |                unnest(range(CAST(ceil(len(toks)/3.0) AS BIGINT))) AS pos
         |              FROM (SELECT doc_id, $Toks AS toks FROM documents
         |                    WHERE doc_id % 2 = 0))),
         |nb AS (SELECT doc_id, CAST(ceil(len(toks)/3.0) AS BIGINT) AS n_blocks FROM t),
         |b0 AS (SELECT doc_id, toks,
         |        unnest(range(CAST(ceil(len(toks)/3.0) AS BIGINT))) AS pos FROM t),
         |b AS (SELECT doc_id, pos,
         |        array_to_string(toks[pos*3+1 : pos*3+3], ' ') AS blk FROM b0),
         |cand AS (SELECT b.* FROM b WHERE blk NOT IN (SELECT blk FROM reg)),
         |w AS (SELECT doc_id, pos, blk FROM (
         |        SELECT doc_id, pos, blk,
         |          row_number() OVER (PARTITION BY blk ORDER BY doc_id, pos) AS rn
         |        FROM cand) WHERE rn = 1),
         |r AS (SELECT doc_id, count(*) AS kept_blocks,
         |        string_agg(blk, ' ' ORDER BY pos) AS new_text FROM w GROUP BY doc_id)
         |SELECT nb.doc_id, nb.n_blocks,
         |  CAST(coalesce(r.kept_blocks, 0) AS BIGINT) AS kept_blocks,
         |  coalesce(r.new_text, '') AS new_text
         |FROM nb LEFT JOIN r USING (doc_id)""".stripMargin,

    "q28_minhash_lsh_pairs" ->
      s"""WITH $MinhashPairsCtes
         |SELECT * FROM e WHERE n_sig_equal >= 8""".stripMargin,

    // Cross-corpus candidates only: the same pair table restricted to
    // mixed parity (odd incoming × even existing).
    "q58_incremental_neardup" ->
      s"""WITH $MinhashPairsCtes
         |SELECT * FROM e
         |WHERE n_sig_equal >= 8 AND (doc_a % 2) <> (doc_b % 2)""".stripMargin,

    // q99: the same pair table restricted to pairs that STRADDLE the
    // q46-style salted hash split (train = bucket < 90, salt "leak1") —
    // train×train and test×test pairs are excluded exactly as the
    // engine's asymmetric probe never forms them.
    "q99_split_leakage" ->
      s"""WITH $MinhashPairsCtes
         |SELECT * FROM e
         |WHERE n_sig_equal >= 8
         |  AND (('0x' || substr(md5('leak1:' || doc_a), 1, 8))::BIGINT % 100 < 90)
         |   <> (('0x' || substr(md5('leak1:' || doc_b), 1, 8))::BIGINT % 100 < 90)""".stripMargin,

    // CC over the q28 near-dup pairs: exact min-reachable-id labels via a
    // recursive reachability CTE (the Spark side converges its min-label
    // propagation to the same fixpoint)
    "q43_dup_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM f
         |      UNION SELECT doc_b, doc_a FROM f),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS doc_id, min(r) AS cluster FROM reach GROUP BY s2)
         |SELECT lab.doc_id, lab.cluster, cnt.cluster_size
         |FROM lab JOIN (SELECT cluster, count(*) AS cluster_size
         |               FROM lab GROUP BY cluster) cnt USING (cluster)""".stripMargin,
    // q163: cluster-safe split — q43's component labels re-key the q46
    // hash split (singletons fall back to their own doc id, so only
    // clustered docs can move vs the naive split); audit columns bill
    // the moved docs and healed clusters per split.
    "q163_cluster_safe_split" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM f
         |      UNION SELECT doc_b, doc_a FROM f),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS doc_id, min(r) AS cluster FROM reach GROUP BY s2),
         |ckd AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(lab.cluster, d.doc_id) AS ckey
         |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id),
         |bk AS (SELECT doc_id, n_chars, ckey,
         |    ('0x' || substr(md5('exp1:' || ckey), 1, 8))::BIGINT % 100 AS ckb,
         |    ('0x' || substr(md5('exp1:' || doc_id), 1, 8))::BIGINT % 100 AS db
         |  FROM ckd),
         |sp AS (SELECT doc_id, n_chars, ckey,
         |    CASE WHEN ckb < 90 THEN 'train'
         |         WHEN ckb < 95 THEN 'val' ELSE 'test' END AS split,
         |    CASE WHEN db < 90 THEN 'train'
         |         WHEN db < 95 THEN 'val' ELSE 'test' END AS naive
         |  FROM bk)
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(CASE WHEN naive <> split THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_moved,
         |  CAST(count(DISTINCT CASE WHEN naive <> split THEN ckey END) AS BIGINT)
         |    AS n_clusters_healed
         |FROM sp GROUP BY 1""".stripMargin,
    // q165: quality-aware canonical selection — q43 clusters ⨝ q24's
    // quality formula, per-cluster argmax (quality desc, doc asc), q57's
    // anti-join rollup + the n_upgraded contrast column.
    "q165_quality_dedup" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM f
         |      UNION SELECT doc_b, doc_a FROM f),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS doc_id, min(r) AS cluster FROM reach GROUP BY s2),
         |tq AS (SELECT doc_id, $Toks AS toks FROM documents),
         |qual AS (SELECT doc_id,
         |    CAST(round(1000.0 * (0.5 *
         |        (CAST(len(list_filter(toks,
         |           x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT)
         |         / CAST(len(toks) AS BIGINT))
         |      + 0.5 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)))
         |      AS BIGINT) AS quality_milli
         |  FROM tq),
         |mem AS (SELECT lab.doc_id, lab.cluster, qual.quality_milli
         |        FROM lab JOIN qual USING (doc_id)),
         |win AS (SELECT doc_id, cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster
         |      ORDER BY quality_milli DESC, doc_id ASC) AS rk FROM mem)
         |  WHERE rk = 1),
         |keep AS (SELECT d.lang, d.n_chars, d.doc_id, win.cluster AS wcluster
         |  FROM documents d
         |  LEFT JOIN lab ON d.doc_id = lab.doc_id
         |  LEFT JOIN win ON d.doc_id = win.doc_id
         |  WHERE lab.doc_id IS NULL OR win.doc_id IS NOT NULL)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  CAST(sum(CASE WHEN wcluster IS NOT NULL AND doc_id <> wcluster
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_upgraded
         |FROM keep GROUP BY 1""".stripMargin,
    // q189: preference pairs — q165's cluster+quality CTEs, extreme
    // members picked per cluster (best: quality DESC, id ASC; worst:
    // quality ASC, id DESC so chosen ≠ rejected on all-equal clusters),
    // margin kept exact-integer, zero-margin flagged not dropped.
    "q189_preference_pairs" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM f
         |      UNION SELECT doc_b, doc_a FROM f),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS doc_id, min(r) AS cluster FROM reach GROUP BY s2),
         |tq AS (SELECT doc_id, $Toks AS toks FROM documents),
         |qual AS (SELECT doc_id,
         |    CAST(round(1000.0 * (0.5 *
         |        (CAST(len(list_filter(toks,
         |           x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT)
         |         / CAST(len(toks) AS BIGINT))
         |      + 0.5 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)))
         |      AS BIGINT) AS quality_milli
         |  FROM tq),
         |mem AS (SELECT lab.doc_id, lab.cluster, qual.quality_milli
         |        FROM lab JOIN qual USING (doc_id)),
         |r2 AS (SELECT *,
         |    CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY quality_milli DESC, doc_id ASC) AS rk_best,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY quality_milli ASC, doc_id DESC) AS rk_worst
         |  FROM mem)
         |SELECT cluster,
         |  max(CASE WHEN rk_best = 1 THEN doc_id END) AS chosen,
         |  max(CASE WHEN rk_worst = 1 THEN doc_id END) AS rejected,
         |  CAST(max(CASE WHEN rk_best = 1 THEN quality_milli END)
         |     - max(CASE WHEN rk_worst = 1 THEN quality_milli END) AS BIGINT)
         |    AS margin_milli,
         |  n_members,
         |  (max(CASE WHEN rk_best = 1 THEN quality_milli END)
         |     - max(CASE WHEN rk_worst = 1 THEN quality_milli END)) = 0
         |    AS zero_margin
         |FROM r2 WHERE n_members >= 2
         |GROUP BY cluster, n_members""".stripMargin,

    // q164: incremental split assignment — standing-side (even ids) CC
    // labels + parity-recovered batch→standing matches; a matched batch
    // doc inherits min cluster key, unmatched hash-assigns by own id.
    // Band-restriction equivalence (standing-only pairs = full pairs
    // filtered by parity) is the same argument q99 rests on.
    "q164_split_assign_inc" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |fe AS (SELECT doc_a, doc_b FROM f
         |       WHERE doc_a % 2 = 0 AND doc_b % 2 = 0),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM fe
         |      UNION SELECT doc_b, doc_a FROM fe),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS edoc, min(r) AS cluster FROM reach GROUP BY s2),
         |m AS (SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS bdoc,
         |             CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS edoc
         |      FROM f WHERE (doc_a % 2) <> (doc_b % 2)),
         |inh AS (SELECT bdoc, min(coalesce(lab.cluster, m.edoc)) AS ckey
         |        FROM m LEFT JOIN lab ON m.edoc = lab.edoc GROUP BY bdoc),
         |bd AS (SELECT d.doc_id, d.n_chars,
         |    inh.ckey IS NOT NULL AS inherited,
         |    coalesce(inh.ckey, d.doc_id) AS skey
         |  FROM documents d LEFT JOIN inh ON d.doc_id = inh.bdoc
         |  WHERE d.doc_id % 2 = 1),
         |bk2 AS (SELECT *,
         |    ('0x' || substr(md5('exp1:' || skey), 1, 8))::BIGINT % 100 AS kb
         |  FROM bd),
         |sp2 AS (SELECT doc_id, n_chars, inherited,
         |    CASE WHEN kb < 90 THEN 'train'
         |         WHEN kb < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM bk2)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN inherited THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inherited,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sp2 GROUP BY 1""".stripMargin,

    // The cleaned corpus: q43's cluster labels decide who survives
    // (representatives + never-candidates).
    "q57_dedup_corpus" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |u AS (SELECT doc_a AS a, doc_b AS b FROM f
         |      UNION SELECT doc_b, doc_a FROM f),
         |n AS (SELECT DISTINCT a AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
         |lab AS (SELECT s2 AS doc_id, min(r) AS cluster FROM reach GROUP BY s2),
         |rm AS (SELECT doc_id FROM lab WHERE doc_id <> cluster)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM rm)
         |GROUP BY lang""".stripMargin,

    "q29_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
         |h AS (SELECT doc_id, ${hash32("'0'", "t")} AS hv FROM tok),
         |b AS (SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS vote
         |      FROM h CROSS JOIN (SELECT unnest(range(0,32)) AS j) GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY doc_id""".stripMargin,

    // The corpus is ASCII, so DuckDB's char-wise ascii/substr reproduce the
    // Scala byte-wise stub codec exactly.
    "q35_binary_features" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS size_bytes, md5(text) AS sha,
         |  CAST(1 + ascii(substr(text, 1, 1)) % 64 AS INTEGER) AS width,
         |  CAST(1 + ascii(substr(text, length(text), 1)) % 64 AS INTEGER) AS height,
         |  CAST(list_reduce([0::BIGINT] || list_transform(range(1, length(text)+1),
         |    i -> ascii(substr(text, CAST(i AS INTEGER), 1))::BIGINT), (a,b) -> a+b) AS BIGINT)
         |    AS byte_sum,
         |  CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
         |  CAST(ascii(substr(text, length(text), 1)) AS INTEGER) AS last_byte
         |FROM documents""".stripMargin,

    // q42/q96 share the rendered-P6 CTEs: the ASCII corpus rebuilds the
    // engine's synthetic P6 bytes AS A STRING byte-for-byte (dims from
    // first/last char, payload = text cycled to 3wh), so md5-of-string
    // equals the engine's md5-of-bytes. The resize twin re-samples the
    // pixel grid relationally: keep (2xo, 2yo), re-render, hash — a match
    // proves the engine's parse → 2D sample → re-render loop exact.
    "q42_ppm_resize" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h, (w+1)//2 AS wo, (h+1)//2 AS ho,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t),
         |s AS (SELECT doc_id, w, h, wo, ho, px,
         |    array_to_string(flatten(flatten(list_transform(range(0, ho), yo ->
         |      list_transform(range(0, wo), xo ->
         |        list_transform(range(1, 4), c ->
         |          substr(px, CAST((2*yo*w + 2*xo)*3 + c AS INTEGER), 1)))))), '')
         |      AS rpx
         |  FROM p)
         |SELECT doc_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
         |  CAST(wo AS INTEGER) AS wo, CAST(ho AS INTEGER) AS ho,
         |  CAST(length('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
         |    || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10) || px)
         |    AS BIGINT) AS orig_bytes,
         |  CAST(length('P6' || chr(10) || CAST(wo AS VARCHAR) || ' '
         |    || CAST(ho AS VARCHAR) || chr(10) || '255' || chr(10) || rpx)
         |    AS BIGINT) AS resized_bytes,
         |  md5('P6' || chr(10) || CAST(wo AS VARCHAR) || ' '
         |    || CAST(ho AS VARCHAR) || chr(10) || '255' || chr(10) || rpx)
         |    AS resized_sha
         |FROM s""".stripMargin,

    // q121: the dHash twin — rebuild the pixel string (the q42 CTEs),
    // sample the 9×7 luma grid relationally, assemble the 56-bit hash,
    // brute-force the pair confirm (the oracle may be naive; the engine
    // may not).
    "q121_image_neardup" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t),
         |g AS (SELECT doc_id, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.dhash, b2.dhash)) AS BIGINT) AS hamming
         |FROM hsh a JOIN hsh b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 2""".stripMargin,

    // q145: PNG decode stats — pixels rebuilt from their DEFINITION
    // (the q42/q121 CTEs: dims from first/last char, text cycled to
    // 3·w·h), never from the blob; the engine side ran chunk-walk →
    // CRC → inflate → the five filter reconstructions, so md5 equality
    // proves the entropy-coded round trip byte-exact.
    "q145_png_stats" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t)
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(list_reduce([0::BIGINT] || list_transform(range(1, length(px)+1),
         |    i -> ascii(substr(px, CAST(i AS INTEGER), 1))::BIGINT), (a,b) -> a+b)
         |    AS BIGINT) AS px_sum,
         |  CAST(ascii(substr(px, 1, 1)) AS INTEGER) AS px_first,
         |  CAST(ascii(substr(px, length(px), 1)) AS INTEGER) AS px_last,
         |  md5(px) AS px_md5
         |FROM p""".stripMargin,

    // q146: PNG near-dup — the q121 oracle VERBATIM: the PNG fixture
    // shares the PPM fixture's pixel definition and dHashPng is the
    // same 56-bit core over the decoded pixels, so fingerprints and
    // pairs must be identical. Engine-side only the codec seam differs.
    "q146_png_neardup" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t),
         |g AS (SELECT doc_id, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.dhash, b2.dhash)) AS BIGINT) AS hamming
         |FROM hsh a JOIN hsh b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 2""".stripMargin,

    // q148: JPEG decode stats — samples rebuilt from the constant-block
    // DEFINITION (block (bx, by) = text((by·wb + bx) mod n), dims
    // 8·(1 + a1 % 4) × 8·(1 + aN % 4)); such images are a fixed point
    // of the quant-1 baseline pipeline (JpegSpec), so the engine's
    // Huffman+DCT decode must reproduce them byte-exactly.
    "q148_jpeg_stats" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    1 + ascii(substr(text, 1, 1)) % 4 AS wb,
         |    1 + ascii(substr(text, length(text), 1)) % 4 AS hb
         |  FROM documents),
         |p AS (SELECT doc_id, 8*wb AS w, 8*hb AS h,
         |    list_aggregate(list_transform(range(0, 64*wb*hb), i ->
         |      substr(text, CAST(((i // (8*wb)) // 8) * wb
         |        + ((i % (8*wb)) // 8) AS INTEGER) % CAST(n AS INTEGER) + 1, 1)),
         |      'string_agg', '') AS px
         |  FROM t)
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(list_reduce([0::BIGINT] || list_transform(range(1, length(px)+1),
         |    i -> ascii(substr(px, CAST(i AS INTEGER), 1))::BIGINT), (a,b) -> a+b)
         |    AS BIGINT) AS luma_sum,
         |  CAST(ascii(substr(px, 1, 1)) AS INTEGER) AS luma_first,
         |  CAST(ascii(substr(px, length(px), 1)) AS INTEGER) AS luma_last,
         |  md5(px) AS luma_md5
         |FROM p""".stripMargin,

    // q149: JPEG near-dup — the q121/q146 dHash machinery over the
    // constant-block luma definition (single channel: the engine's
    // (s,s,s) expansion has integer luma s again), brute-force pair
    // confirm.
    "q149_jpeg_neardup" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    1 + ascii(substr(text, 1, 1)) % 4 AS wb,
         |    1 + ascii(substr(text, length(text), 1)) % 4 AS hb
         |  FROM documents),
         |p AS (SELECT doc_id, 8*wb AS w, 8*hb AS h, wb, hb, n FROM t),
         |g AS (SELECT doc_id, w, h, wb, n, doc_id AS d2, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, w, h, wb, n, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |-- sample at (gx, sy): block value = text(((sy//8)*wb + gx//8) mod n)
         |b AS (SELECT gx.doc_id, yo, xo,
         |    CASE WHEN
         |      ascii(substr(t2.text, CAST(((sy // 8) * wb + ((xo*w)//9) // 8) % n + 1 AS INTEGER), 1))
         |      >
         |      ascii(substr(t2.text, CAST(((sy // 8) * wb + (((xo+1)*w)//9) // 8) % n + 1 AS INTEGER), 1))
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx JOIN documents t2 ON gx.doc_id = t2.doc_id),
         |hsh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.dhash, b2.dhash)) AS BIGINT) AS hamming
         |FROM hsh a JOIN hsh b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 2""".stripMargin,

    // q150: MP4 track metadata — every field recomputed from the
    // fixture definition (tracks 0..a1%3, alternating handlers, pure
    // integer formulas); equality proves the nested box walk + stsz
    // summation exact.
    "q150_mp4_tracks" ->
      s"""WITH t AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS aN
         |  FROM documents),
         |k AS (SELECT doc_id, n, a1, aN, unnest(range(0, 1 + a1 % 3)) AS k
         |  FROM t)
         |SELECT doc_id, 'isom' AS brand,
         |  CAST(1000 AS BIGINT) AS movie_timescale,
         |  CAST(n*40 AS BIGINT) AS movie_duration,
         |  CAST(k+1 AS BIGINT) AS track_id,
         |  CASE WHEN k % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
         |  CAST(CASE WHEN k % 2 = 0 THEN 90000 ELSE 48000 END AS BIGINT)
         |    AS track_timescale,
         |  CAST((n + 7*k)*100 AS BIGINT) AS track_duration,
         |  CAST(1 + (a1 + 3*k) % 50 AS BIGINT) AS sample_count,
         |  CAST((1 + (a1 + 3*k) % 50) * (10 + (aN + 5*k) % 90) + k % 3
         |    AS BIGINT) AS sample_bytes
         |FROM k""".stripMargin,

    // q151: MP3 frame walk — lengths from the SAME public Layer-III
    // tables (bitrate by index, sample rate by index, slot arithmetic
    // 144·br/sr + padding), payloads rebuilt from the cycled-text
    // definition; md5 equality proves the framing byte-exact.
    "q151_mp3_frames" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS aN
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, aN,
         |    unnest(range(0, 1 + a1 % 4)) AS f
         |  FROM t),
         |p AS (SELECT doc_id, text, n, f,
         |    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
         |      CAST(1 + (a1 + 3*f) % 14 AS INTEGER)) AS br,
         |    list_extract([44100,48000,32000],
         |      CAST((aN + f) % 3 + 1 AS INTEGER)) AS sr,
         |    (a1 + aN + f) % 2 AS pad
         |  FROM fr),
         |q AS (SELECT doc_id, f, br, sr,
         |    144000*br // sr + pad AS flen,
         |    substr(repeat(text, CAST((f + 144000*br // sr + pad) // n
         |        AS INTEGER) + 2),
         |      CAST(f + 1 AS INTEGER),
         |      CAST(144000*br // sr + pad - 4 AS INTEGER)) AS payload
         |  FROM p)
         |SELECT doc_id, CAST(f AS INTEGER) AS frame,
         |  CAST(br AS INTEGER) AS bitrate_kbps,
         |  CAST(sr AS INTEGER) AS sample_rate,
         |  CAST(flen AS BIGINT) AS frame_bytes,
         |  CAST(list_reduce([0::BIGINT] ||
         |    list_transform(range(1, length(payload)+1),
         |      i -> ascii(substr(payload, CAST(i AS INTEGER), 1))::BIGINT),
         |    (a,b) -> a+b) AS BIGINT) AS payload_sum,
         |  md5(payload) AS payload_md5
         |FROM q""".stripMargin,

    // q152: av-ingest card — the q150/q151 definitional CTEs rolled to
    // the source grain (track mix, stsz volume, MP3 stream shape).
    "q152_av_ingest_card" ->
      s"""WITH t AS (SELECT doc_id, source, text,
         |    CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS aN
         |  FROM documents),
         |k AS (SELECT doc_id, n, a1, aN, unnest(range(0, 1 + a1 % 3)) AS k
         |  FROM t),
         |mp4 AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS video_tracks,
         |    CAST(sum(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS audio_tracks,
         |    CAST(sum(1 + (a1 + 3*k) % 50) AS BIGINT) AS mp4_samples,
         |    CAST(sum((1 + (a1 + 3*k) % 50) * (10 + (aN + 5*k) % 90) + k % 3)
         |      AS BIGINT) AS mp4_sample_bytes
         |  FROM k GROUP BY doc_id),
         |fr AS (SELECT doc_id, n, a1, aN, unnest(range(0, 1 + a1 % 4)) AS f
         |  FROM t),
         |p3 AS (SELECT doc_id,
         |    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
         |      CAST(1 + (a1 + 3*f) % 14 AS INTEGER)) AS br,
         |    list_extract([44100,48000,32000],
         |      CAST((aN + f) % 3 + 1 AS INTEGER)) AS sr,
         |    (a1 + aN + f) % 2 AS pad
         |  FROM fr),
         |mp3 AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS mp3_frames,
         |    CAST(sum(144000*br // sr + pad - 4) AS BIGINT)
         |      AS mp3_payload_bytes,
         |    CAST(sum(br) AS BIGINT) AS mp3_kbps_sum
         |  FROM p3 GROUP BY doc_id)
         |SELECT t.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(mp4.video_tracks) AS BIGINT) AS video_tracks,
         |  CAST(sum(mp4.audio_tracks) AS BIGINT) AS audio_tracks,
         |  CAST(sum(mp4.mp4_samples) AS BIGINT) AS mp4_samples,
         |  CAST(sum(mp4.mp4_sample_bytes) AS BIGINT) AS mp4_sample_bytes,
         |  CAST(sum(mp3.mp3_frames) AS BIGINT) AS mp3_frames,
         |  CAST(sum(mp3.mp3_payload_bytes) AS BIGINT) AS mp3_payload_bytes,
         |  CAST((1000 * sum(mp3.mp3_kbps_sum)) // sum(mp3.mp3_frames)
         |    AS BIGINT) AS mp3_mean_kbps_milli
         |FROM t JOIN mp4 ON t.doc_id = mp4.doc_id
         |JOIN mp3 ON t.doc_id = mp3.doc_id
         |GROUP BY t.source""".stripMargin,

    // q124: pipeline v4 — the q121 dhash CTEs → first-wins per
    // fingerprint → the q123 weights/apportionment/rank arithmetic over
    // the SURVIVING corpus (salt v4, total 200).
    "q124_pipeline_v4" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t),
         |g AS (SELECT doc_id, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id),
         |rep AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY dhash ORDER BY doc_id ASC) AS rn
         |  FROM hsh) WHERE rn = 1),
         |sv AS (SELECT dd.doc_id, dd.source FROM documents dd
         |  JOIN rep ON dd.doc_id = rep.doc_id),
         |c AS (SELECT source, count(*) AS n_rows FROM sv GROUP BY source),
         |tt AS (SELECT list_reduce([0.0] || list_sort(list(sqrt(n_rows))),
         |    (a, b) -> a + b) AS tot FROM c),
         |wt AS (SELECT source, n_rows,
         |    CAST(round(1000000.0 * sqrt(n_rows) / tot) AS BIGINT) AS weight_pm
         |  FROM c CROSS JOIN tt),
         |ap AS (SELECT *, (200 * weight_pm) // 1000000 AS base,
         |    (200 * weight_pm) % 1000000 AS rem FROM wt),
         |df2 AS (SELECT *, 200 - sum(base) OVER () AS deficit,
         |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rd,
         |    row_number() OVER (ORDER BY rem ASC, source ASC) AS ra
         |  FROM ap),
         |tg AS (SELECT source, greatest(0, least(n_rows, base
         |    + CASE WHEN deficit > 0 AND rd <= deficit THEN 1 ELSE 0 END
         |    - CASE WHEN deficit < 0 AND ra <= -deficit THEN 1 ELSE 0 END))
         |    AS target
         |  FROM df2),
         |r AS (SELECT sv.doc_id, sv.source AS source, target,
         |    row_number() OVER (PARTITION BY sv.source
         |      ORDER BY ('0x' || substr(md5('v4:' || sv.doc_id), 1, 8))::BIGINT ASC,
         |               sv.doc_id ASC) AS rn
         |  FROM sv JOIN tg ON sv.source = tg.source)
         |SELECT doc_id, source FROM r WHERE rn <= target""".stripMargin,

    "q96_ppm_decode" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    1 + ascii(substr(text, 1, 1)) % 16 AS w,
         |    1 + ascii(substr(text, length(text), 1)) % 16 AS h
         |  FROM documents),
         |p AS (SELECT doc_id, w, h,
         |    substr(repeat(text, CAST(w*h*3 // length(text) AS INTEGER) + 1),
         |      1, w*h*3) AS px
         |  FROM t),
         |f AS (SELECT doc_id, w, h, px,
         |    'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
         |      || chr(10) || '255' || chr(10) || px AS ppm
         |  FROM p)
         |SELECT doc_id, CAST(length(ppm) AS BIGINT) AS size_bytes, md5(ppm) AS sha,
         |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(list_reduce([0::BIGINT] || list_transform(range(1, length(px)+1),
         |    i -> ascii(substr(px, CAST(i AS INTEGER), 1))::BIGINT), (a,b) -> a+b)
         |    AS BIGINT) AS byte_sum,
         |  CAST(ascii(substr(px, 1, 1)) AS INTEGER) AS first_byte,
         |  CAST(ascii(substr(px, length(px), 1)) AS INTEGER) AS last_byte
         |FROM f""".stripMargin,

    // q134: audio stats from the sample DEFINITION — (ascii−96)·256 per
    // text byte — never from the blob; equality with the engine's
    // render→walk→parse path proves the RIFF round trip sample-exact.
    "q134_audio_stats" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents),
         |s AS (SELECT doc_id, n, i,
         |    CAST((ascii(substr(text, CAST(i AS INT), 1)) - 96) * 256 AS BIGINT)
         |      AS v
         |  FROM (SELECT doc_id, text, n, unnest(range(1, n+1)) AS i FROM t)),
         |w AS (SELECT doc_id, (i-1)//100 AS wi,
         |    CAST(sum(abs(v)) AS BIGINT) AS asum, count(*) AS wn
         |  FROM s GROUP BY doc_id, (i-1)//100),
         |act AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN asum // wn >= 5600 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS active_windows
         |  FROM w GROUP BY doc_id),
         |agg AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS sample_sum,
         |    CAST(sum(v*v) AS BIGINT) AS sample_sqsum,
         |    CAST(max(abs(v)) AS BIGINT) AS peak_abs
         |  FROM s GROUP BY doc_id)
         |SELECT t.doc_id, CAST(8000 AS INT) AS sample_rate,
         |  t.n AS n_samples,
         |  COALESCE(agg.sample_sum, 0) AS sample_sum,
         |  COALESCE(agg.sample_sqsum, 0) AS sample_sqsum,
         |  COALESCE(agg.peak_abs, 0) AS peak_abs,
         |  COALESCE(act.n_windows, 0) AS n_windows,
         |  COALESCE(act.active_windows, 0) AS active_windows
         |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
         |LEFT JOIN act ON t.doc_id = act.doc_id""".stripMargin,

    // q137: video frame sampling — frames from the DEFINITION (count =
    // 1 + ascii(first) % 4; frame f dims (1+(a1+3f)%12)×(1+(aN+5f)%12);
    // pixels = text cycled from offset f), stride-2 sample, per-frame
    // dims/byte-sum/md5 of the full frame bytes (header included).
    // Equality with the engine's render→concat→walk→parse chain proves
    // the P6-stream container round trip frame-byte-exact.
    "q137_video_frames" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr WHERE f % 2 = 0),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |hd AS (SELECT doc_id, f, w, h, px,
         |    'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
         |      || chr(10) || '255' || chr(10) || px AS frm
         |  FROM p)
         |SELECT doc_id, CAST(f AS INT) AS frame,
         |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST(length(frm) AS BIGINT) AS frame_bytes,
         |  CAST(list_reduce([0::BIGINT] || list_transform(range(1, length(px)+1),
         |    i -> ascii(substr(px, CAST(i AS INTEGER), 1))::BIGINT), (a,b) -> a+b)
         |    AS BIGINT) AS byte_sum,
         |  md5(frm) AS frame_sha
         |FROM hd""".stripMargin,

    // q138: video near-dup — the q121 relational dHash per (doc, frame)
    // over the frame definition, brute-force frame-ALIGNED pairs at
    // hamming ≤ 2 (the banding is recall-exact there), rolled up per
    // video pair.
    "q138_video_neardup" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_frames_matched,
         |  CAST(min(bit_count(xor(a.dhash, b2.dhash))) AS BIGINT) AS min_hamming
         |FROM hsh a JOIN hsh b2 ON a.doc_id < b2.doc_id AND a.f = b2.f
         |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 2
         |GROUP BY a.doc_id, b2.doc_id""".stripMargin,

    // q139: scene-cut detection — the q138 per-(doc, frame) relational
    // dHash, consecutive-frame hamming by lag, cut when > 8 bits,
    // per-video rollup (frames, cuts, scenes = cuts+1, motion sum).
    // Empty-video audit (r13 verdict #8): the q139/q141/q142 oracles
    // build their frame CTEs by generate_series over a per-doc frame
    // count that is ≥ 1 by the FIXTURE's definition (1 + a1 % 4), so a
    // zero-frame stream cannot enter this corpus; if one ever could,
    // BOTH sides agree by shape — the engine's walk yields no rows and
    // the oracle's series generates none, so the video is absent from
    // both (MultimodalSpec "empty-video contract" pins the engine side).
    "q139_video_scenes" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f),
         |lg AS (SELECT doc_id, f, dhash,
         |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM hsh),
         |hm AS (SELECT doc_id,
         |    CASE WHEN prev IS NULL THEN NULL
         |      ELSE CAST(bit_count(xor(prev, dhash)) AS BIGINT) END AS ham
         |  FROM lg)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN ham > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(sum(CASE WHEN ham > 8 THEN 1 ELSE 0 END) + 1 AS BIGINT)
         |    AS n_scenes,
         |  COALESCE(CAST(sum(ham) AS BIGINT), 0) AS motion_hamming
         |FROM hm GROUP BY doc_id""".stripMargin,

    // q140: shift-tolerant video near-dup — the q138 per-(doc, frame)
    // dHash, brute-force CROSS-video pairs with NO frame-index
    // condition (a trimmed re-upload's shifted frames still match),
    // rolled up per video pair.
    "q140_video_neardup_shifted" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_frame_pairs,
         |  CAST(min(bit_count(xor(a.dhash, b2.dhash))) AS BIGINT) AS min_hamming
         |FROM hsh a JOIN hsh b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 2
         |GROUP BY a.doc_id, b2.doc_id""".stripMargin,

    // q141: keyframe selection — q139's cut flags cumulated into scene
    // ids, one row per scene: first frame (arg_min dhash rides along),
    // frame count.
    "q141_video_keyframes" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f),
         |lg AS (SELECT doc_id, f, dhash,
         |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM hsh),
         |cu AS (SELECT doc_id, f, dhash,
         |    CASE WHEN prev IS NOT NULL AND bit_count(xor(prev, dhash)) > 8
         |      THEN 1 ELSE 0 END AS cut
         |  FROM lg),
         |sc AS (SELECT doc_id, f, dhash,
         |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
         |  FROM cu)
         |SELECT doc_id, CAST(scene AS BIGINT) AS scene,
         |  CAST(min(f) AS INT) AS keyframe,
         |  CAST(count(*) AS BIGINT) AS scene_frames,
         |  CAST(arg_min(dhash, f) AS BIGINT) AS keyframe_dhash
         |FROM sc GROUP BY doc_id, scene""".stripMargin,

    // q142: video pipeline v6 — the q141 keyframe chain → global
    // first-wins per keyframe fingerprint (ordered by (doc, scene)) →
    // per-video novelty rollup in parts-per-million.
    "q142_video_pipeline_v6" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f),
         |lg AS (SELECT doc_id, f, dhash,
         |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM hsh),
         |cu AS (SELECT doc_id, f, dhash,
         |    CASE WHEN prev IS NOT NULL AND bit_count(xor(prev, dhash)) > 8
         |      THEN 1 ELSE 0 END AS cut
         |  FROM lg),
         |sc AS (SELECT doc_id, f, dhash,
         |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
         |  FROM cu),
         |kf AS (SELECT doc_id, scene, arg_min(dhash, f) AS kd
         |  FROM sc GROUP BY doc_id, scene),
         |rn AS (SELECT doc_id, scene, kd,
         |    row_number() OVER (PARTITION BY kd ORDER BY doc_id, scene) AS rn
         |  FROM kf)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scenes,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS novel_scenes,
         |  CAST((1000000 * sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))
         |    // count(*) AS BIGINT) AS novelty_pm
         |FROM rn GROUP BY doc_id""".stripMargin,

    // q143: VAD segmentation — q134's per-window means from the sample
    // definition, active windows filtered, gaps-and-islands
    // (difference-of-ranks) into segments numbered in time order.
    "q143_audio_segments" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents),
         |s AS (SELECT doc_id, n, i,
         |    CAST((ascii(substr(text, CAST(i AS INT), 1)) - 96) * 256 AS BIGINT)
         |      AS v
         |  FROM (SELECT doc_id, text, n, unnest(range(1, n+1)) AS i FROM t)),
         |w AS (SELECT doc_id, (i-1)//100 AS wi,
         |    CAST(sum(abs(v)) AS BIGINT) // count(*) AS ma
         |  FROM s GROUP BY doc_id, (i-1)//100),
         |act AS (SELECT doc_id, wi, ma FROM w WHERE ma >= 5600),
         |grp AS (SELECT doc_id, wi, ma,
         |    wi - row_number() OVER (PARTITION BY doc_id ORDER BY wi) AS g
         |  FROM act),
         |segs AS (SELECT doc_id, g,
         |    CAST(min(wi) AS BIGINT) AS start_window,
         |    CAST(max(wi) AS BIGINT) AS end_window,
         |    CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(ma) AS BIGINT) AS mean_abs_sum
         |  FROM grp GROUP BY doc_id, g)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_window)
         |    - 1 AS BIGINT) AS seg,
         |  start_window, end_window, n_windows, mean_abs_sum
         |FROM segs""".stripMargin,

    // q144: multimodal dataset card — the q134 activity windows and the
    // q142 scene/novelty chain rolled to the SOURCE grain: audio
    // activity ppm, frames/scenes per video (milli), mean visual
    // novelty after global keyframe dedup.
    "q144_multimodal_card" ->
      s"""WITH t AS (SELECT doc_id, source, text,
         |    CAST(length(text) AS BIGINT) AS n,
         |    ascii(substr(text, 1, 1)) AS a1,
         |    ascii(substr(text, length(text), 1)) AS an
         |  FROM documents),
         |s AS (SELECT doc_id, n, i,
         |    CAST((ascii(substr(text, CAST(i AS INT), 1)) - 96) * 256 AS BIGINT)
         |      AS v
         |  FROM (SELECT doc_id, text, n, unnest(range(1, n+1)) AS i FROM t)),
         |aw AS (SELECT doc_id, (i-1)//100 AS wi,
         |    CAST(sum(abs(v)) AS BIGINT) // count(*) AS ma
         |  FROM s GROUP BY doc_id, (i-1)//100),
         |aa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN ma >= 5600 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS active_windows
         |  FROM aw GROUP BY doc_id),
         |fr AS (SELECT doc_id, text, n, a1, an,
         |    unnest(range(0, 1 + a1 % 4)) AS f FROM t),
         |d AS (SELECT doc_id, text, n, f,
         |    1 + (a1 + 3*f) % 12 AS w, 1 + (an + 5*f) % 12 AS h
         |  FROM fr),
         |p AS (SELECT doc_id, f, w, h,
         |    substr(repeat(text, CAST((3*w*h + f) // n AS INT) + 1),
         |      CAST(f + 1 AS INT), CAST(3*w*h AS INT)) AS px
         |  FROM d),
         |g AS (SELECT doc_id, f, w, h, px, unnest(range(0, 7)) AS yo FROM p),
         |gx AS (SELECT doc_id, f, w, h, px, yo, (yo*h)//7 AS sy,
         |    unnest(range(0, 8)) AS xo FROM g),
         |b AS (SELECT doc_id, f, yo, xo,
         |    CASE WHEN
         |      (ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + (xo*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |      >
         |      (ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 1 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 2 AS INTEGER), 1)) +
         |       ascii(substr(px, CAST((sy*w + ((xo+1)*w)//9)*3 + 3 AS INTEGER), 1))) // 3
         |    THEN (1::BIGINT << CAST(yo*8 + xo AS INTEGER)) ELSE 0 END AS bit
         |  FROM gx),
         |hsh AS (SELECT doc_id, f, CAST(sum(bit) AS BIGINT) AS dhash
         |  FROM b GROUP BY doc_id, f),
         |lg AS (SELECT doc_id, f, dhash,
         |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM hsh),
         |cu AS (SELECT doc_id, f, dhash,
         |    CASE WHEN prev IS NOT NULL AND bit_count(xor(prev, dhash)) > 8
         |      THEN 1 ELSE 0 END AS cut
         |  FROM lg),
         |sc AS (SELECT doc_id, f, dhash,
         |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
         |  FROM cu),
         |kf AS (SELECT doc_id, scene, arg_min(dhash, f) AS kd,
         |    count(*) AS scene_frames
         |  FROM sc GROUP BY doc_id, scene),
         |rn AS (SELECT doc_id, scene, kd, scene_frames,
         |    row_number() OVER (PARTITION BY kd ORDER BY doc_id, scene) AS rn
         |  FROM kf),
         |nv AS (SELECT doc_id,
         |    CAST(sum(scene_frames) AS BIGINT) AS n_frames,
         |    CAST(count(*) AS BIGINT) AS n_scenes,
         |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS novel_scenes
         |  FROM rn GROUP BY doc_id)
         |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(aa.n_windows) AS BIGINT) AS audio_windows,
         |  CAST((1000000 * sum(aa.active_windows)) // sum(aa.n_windows)
         |    AS BIGINT) AS audio_active_pm,
         |  CAST((1000 * sum(nv.n_frames)) // count(*) AS BIGINT)
         |    AS frames_per_video_milli,
         |  CAST((1000 * sum(nv.n_scenes)) // count(*) AS BIGINT)
         |    AS scenes_per_video_milli,
         |  CAST((1000000 * sum(nv.novel_scenes)) // sum(nv.n_scenes)
         |    AS BIGINT) AS visual_novelty_pm
         |FROM t JOIN aa ON t.doc_id = aa.doc_id
         |JOIN nv ON t.doc_id = nv.doc_id
         |GROUP BY t.source""".stripMargin,

    // q135: acoustic-fingerprint near-dup — 8-sample energy windows from
    // the sample definition, rise/fall bits packed high-to-low (bit
    // 55−i set iff window i+1 is louder than window i), brute-force
    // hamming confirm at ≤ 4 (the banding is recall-exact there, so the
    // pair SETS match).
    "q135_audio_neardup" ->
      s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents),
         |s AS (SELECT doc_id, i,
         |    CAST(abs((ascii(substr(text, CAST(i AS INT), 1)) - 96) * 256)
         |      AS BIGINT) AS av
         |  FROM (SELECT doc_id, text, n, unnest(range(1, n+1)) AS i FROM t)),
         |w AS (SELECT doc_id, (i-1)//8 AS wi,
         |    CAST(sum(av) AS BIGINT) // count(*) AS e
         |  FROM s GROUP BY doc_id, (i-1)//8),
         |wl AS (SELECT doc_id, list(e ORDER BY wi) AS es FROM w GROUP BY doc_id),
         |fp AS (SELECT doc_id,
         |    CAST(list_reduce([0::BIGINT] ||
         |      list_transform(range(1, least(57, len(es))),
         |        i -> CASE WHEN es[CAST(i+1 AS INT)] > es[CAST(i AS INT)]
         |             THEN (1::BIGINT << CAST(56 - i AS INT))
         |             ELSE 0::BIGINT END),
         |      (a, b) -> a + b) AS BIGINT) AS afp
         |  FROM wl)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.afp, b2.afp)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.afp, b2.afp)) <= 4""".stripMargin,

    "q36_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, text, length(text) AS len,
         |    greatest(1, length(text) // 4) AS n, unnest(range(0, 4)) AS frame
         |  FROM documents)
         |SELECT doc_id, CAST(frame AS INTEGER) AS frame,
         |  md5(substr(text, CAST(frame*n+1 AS INTEGER),
         |    CAST(greatest(0, least((frame+1)*n, len) - frame*n) AS INTEGER))) AS frame_sha,
         |  CAST(greatest(0, least((frame+1)*n, len) - frame*n) AS BIGINT) AS frame_bytes
         |FROM f""".stripMargin,

    "q38_ann_ivf_topk" ->
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
         |  FROM embeddings WHERE vec_id < 8),
         |asg AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosPm("e.embedding", "c.centv")} DESC, c.cent_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv, cell FROM asg
         |      WHERE vec_id >= 20 AND vec_id < 30),
         |c AS (SELECT vec_id AS cid, embedding AS cv, cell FROM asg),
         |s AS (SELECT qid, cid, cell, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM q JOIN c USING (cell) WHERE cid <> qid),
         |r AS (SELECT qid, cid, cell, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,

    "q39_embedding_neardup" ->
      s"""WITH emb AS (SELECT vec_id, embedding, ${rpBucket("embedding", 2)} AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
         |  ${cosPm("a.embedding", "b.embedding")} AS cos_pm
         |FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosPm("a.embedding", "b.embedding")} >= 450000""".stripMargin,

    "q30_cosine_topk" -> BruteForceTop5Sql,

    // q53 runs the same logical query through the partial-agg TopK
    // aggregator instead of the window — identical results by contract,
    // so the oracle is the same SQL, hash-compared independently.
    "q53_topk_agg" -> BruteForceTop5Sql,

    // q169: MMR λ=1/2 diversified top-3 over the q30 top-10 — the greedy
    // unrolled as chained argmax CTEs: s1 = rel argmax, s2 = argmax of
    // rel − sim(s1,·), s3 = argmax of rel − max(sim(s1,·), sim(s2,·));
    // ties cid asc everywhere. mmr2_pm = rel − maxsim (the ÷2 dropped —
    // pure integer beyond the pinned cosine, Similarity.mmrDiversify
    // derives why the argmax is unchanged).
    "q169_mmr_diverse" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
         |s AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM c, q WHERE cid <> qid),
         |r AS (SELECT qid, cid, cos_pm, row_number() OVER (PARTITION BY qid
         |        ORDER BY cos_pm DESC, cid ASC) AS rk FROM s),
         |cand AS (SELECT qid, cid, cos_pm AS rel_pm FROM r WHERE rk <= 10),
         |cvx AS (SELECT cand.qid, cand.cid, e.embedding AS v
         |  FROM cand JOIN embeddings e ON cand.cid = e.vec_id),
         |pr AS (SELECT a.qid, a.cid AS a, b.cid AS b,
         |    ${cosPm("a.v", "b.v")} AS sim_pm
         |  FROM cvx a JOIN cvx b ON a.qid = b.qid AND a.cid <> b.cid),
         |s1 AS (SELECT qid, cid AS s1, rel_pm AS rel1 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid
         |     ORDER BY rel_pm DESC, cid ASC) AS rn FROM cand) WHERE rn = 1),
         |t2 AS (SELECT c2.qid, c2.cid, c2.rel_pm, p.sim_pm AS ms
         |  FROM cand c2 JOIN s1 ON c2.qid = s1.qid AND c2.cid <> s1.s1
         |  JOIN pr p ON p.qid = c2.qid AND p.a = s1.s1 AND p.b = c2.cid),
         |s2 AS (SELECT qid, cid AS s2, rel_pm AS rel2, ms AS ms2 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid
         |     ORDER BY (rel_pm - ms) DESC, cid ASC) AS rn FROM t2) WHERE rn = 1),
         |t3 AS (SELECT c3.qid, c3.cid, c3.rel_pm,
         |    greatest(p1.sim_pm, p2.sim_pm) AS ms
         |  FROM cand c3 JOIN s1 ON c3.qid = s1.qid JOIN s2 ON c3.qid = s2.qid
         |  JOIN pr p1 ON p1.qid = c3.qid AND p1.a = s1.s1 AND p1.b = c3.cid
         |  JOIN pr p2 ON p2.qid = c3.qid AND p2.a = s2.s2 AND p2.b = c3.cid
         |  WHERE c3.cid <> s1.s1 AND c3.cid <> s2.s2),
         |s3 AS (SELECT qid, cid AS s3, rel_pm AS rel3, ms AS ms3 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid
         |     ORDER BY (rel_pm - ms) DESC, cid ASC) AS rn FROM t3) WHERE rn = 1)
         |SELECT qid AS q_id, CAST(1 AS BIGINT) AS sel_rank, s1 AS doc_id,
         |  rel1 AS rel_pm, CAST(0 AS BIGINT) AS maxsim_pm, rel1 AS mmr2_pm
         |FROM s1
         |UNION ALL SELECT qid, 2, s2, rel2, ms2, rel2 - ms2 FROM s2
         |UNION ALL SELECT qid, 3, s3, rel3, ms3, rel3 - ms3 FROM s3""".stripMargin,

    "q79_pq_encode" ->
      s"""$pqCodesSql
         |SELECT vec_id,
         |  CAST(c0 AS INTEGER) AS code0, CAST(c1 AS INTEGER) AS code1,
         |  CAST(c2 AS INTEGER) AS code2, CAST(c3 AS INTEGER) AS code3,
         |  CAST(c0 + c1 * 16 + c2 * 256 + c3 * 4096 AS BIGINT) AS pq_code
         |FROM codes""".stripMargin,

    "q80_pq_adc_topk" ->
      s"""$pqCodesSql,
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, qv, codes.vec_id AS cid, c0, c1, c2, c3
         |      FROM codes CROSS JOIN q WHERE codes.vec_id <> qid),
         |sc AS (SELECT qid, cid,
         |    CAST(round(1000000.0 * (${pqAdcTerm(0, "cb0")}
         |      + ${pqAdcTerm(1, "cb1")}
         |      + ${pqAdcTerm(2, "cb2")}
         |      + ${pqAdcTerm(3, "cb3")})) AS BIGINT) AS adc_pm
         |  FROM p JOIN cb cb0 ON cb0.s = 0 AND cb0.c = p.c0
         |         JOIN cb cb1 ON cb1.s = 1 AND cb1.c = p.c1
         |         JOIN cb cb2 ON cb2.s = 2 AND cb2.c = p.c2
         |         JOIN cb cb3 ON cb3.s = 3 AND cb3.c = p.c3),
         |r2 AS (SELECT qid, cid, adc_pm,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_pm DESC, cid ASC) AS "rank"
         |  FROM sc)
         |SELECT qid, cid, adc_pm, "rank" FROM r2 WHERE "rank" <= 3""".stripMargin,

    // IVF-PQ: q38's cent/asg cell assignment + the PQ code/ADC chain.
    "q81_ivf_pq_topk" -> IvfPqSql,

    // q92 is q81's semantics through the MATERIALIZED index (build →
    // parquet round-trip → indexed search): identical end state is the
    // contract, so the twin IS q81's SQL — hash-compared independently
    // against the index-path result (the q30/q53 pattern).
    "q92_ivf_pq_indexed" -> IvfPqSql,

    "q31_ann_lsh_topk" ->
      s"""WITH emb AS (SELECT vec_id, embedding, ${rpBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM emb WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS cv, bucket FROM emb),
         |s AS (SELECT qid, cid, q.bucket AS bucket, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM q JOIN c USING (bucket) WHERE cid <> qid),
         |r AS (SELECT qid, cid, bucket, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,

    // q155: recall-vs-index-width audit — the q30 (at k=3) and q31 CTE
    // machinery composed per plane count; the audit arithmetic is pure
    // integers (hits·1e6 div 3), so the only FP lives inside the two
    // proven search twins
    "q155_ann_recall_audit" -> recallAuditSql(Seq(2, 3, 8)),

    // adaptive twin: 2 coarse planes, cap 64, 4 extra planes →
    // shift 2^(4+1)=32, split flag 2^4=16 (disjoint id spaces)
    "q41_ann_adaptive_topk" ->
      s"""WITH emb AS (SELECT vec_id, embedding,
         |    ${rpBucketRange("embedding", 0, 2)} AS bucket,
         |    ${rpBucketRange("embedding", 2, 4)} AS fine
         |  FROM embeddings),
         |cnt AS (SELECT bucket, count(*) AS bn FROM emb GROUP BY bucket),
         |e2 AS (SELECT vec_id, embedding,
         |    CASE WHEN bn > 64 THEN emb.bucket * 32 + 16 + fine
         |         ELSE emb.bucket * 32 END AS bucket
         |  FROM emb JOIN cnt USING (bucket)),
         |q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM e2 WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS cv, bucket FROM e2),
         |s AS (SELECT qid, cid, q.bucket AS bucket, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM q JOIN c USING (bucket) WHERE cid <> qid),
         |r AS (SELECT qid, cid, bucket, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,

    "q50_kmeans_refine" -> kmeansSql(iters = 3, k = 8, dims = 64),

    "q93_pq_trained" -> pqTrainedSql(iters = 2),

    "q97_ann_production" -> annProductionSql(centIters = 2, cbIters = 2),

    "q98_semantic_dedup" -> semanticDedupSql(centIters = 2),

    // Twin of Similarity.annTopKMultiTable: two independent 6-plane
    // tables unioned, distinct scored pairs, then rank.
    "q55_ann_multitable" ->
      s"""WITH t AS (
         |  SELECT vec_id, embedding, 0 AS tbl, ${rpBucketRange("embedding", 0, 6)} AS bucket
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, embedding, 1, ${rpBucketRange("embedding", 6, 6)}
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, tbl, bucket FROM t WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS cv, tbl, bucket FROM t),
         |s AS (SELECT DISTINCT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM q JOIN c USING (tbl, bucket) WHERE cid <> qid),
         |r AS (SELECT qid, cid, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,

    // Twin of Similarity.ivfTopKProbe: the probe list is the same ranking
    // that assigns the corpus (top-nprobe centroid rows per query).
    "q51_ann_multiprobe" ->
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosPm("e.embedding", "c.centv")} DESC, c.cent_id ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, embedding, cell FROM sc WHERE rn = 1),
         |qp AS (SELECT vec_id AS qid, embedding AS qv, cell FROM sc
         |       WHERE vec_id >= 20 AND vec_id < 30 AND rn <= 2),
         |c AS (SELECT vec_id AS cid, embedding AS cv, cell FROM asg),
         |s AS (SELECT qid, cid, cell, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM qp JOIN c USING (cell) WHERE cid <> qid),
         |r AS (SELECT qid, cid, cell, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,
  )

  /** Generated chained-CTE Lloyd iteration: the SQL twin of
    * [[graft.operators.Similarity.kmeansRefine]] — per iteration, nearest
    * centroid by the same scaled-cosine/tie-break window, then
    * component-wise means as `list_reduce` over `list(x ORDER BY vec_id)`,
    * the identical ascending fold the engine runs, so centroid values are
    * BIT-equal across engines and assignments can never diverge on a
    * borderline vector. Emptied cells keep the previous centroid.
    */
  /** The Lloyd CTE chain `e, cent0 .. cent$iters` (cent$it: cell, cv,
    * n_members) WITHOUT the leading WITH or a final SELECT — reused by
    * [[kmeansSql]] (q50) and composed into the q97 production-stack twin.
    */
  private def kmeansCtes(iters: Int, k: Int, dims: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
              |cent0 AS MATERIALIZED (SELECT vec_id AS cell,
              |  list_transform(embedding, x -> x::DOUBLE) AS cv,
              |  CAST(0 AS BIGINT) AS n_members
              |  FROM e WHERE vec_id < $k),
              |""".stripMargin
    for (it <- 1 to iters) {
      sb ++= s"""sc$it AS (SELECT e.vec_id, e.embedding, c.cell,
                |    row_number() OVER (PARTITION BY e.vec_id
                |      ORDER BY ${cosPm("e.embedding", "c.cv")} DESC, c.cell ASC) AS rn
                |  FROM e CROSS JOIN cent${it - 1} c),
                |asg$it AS (SELECT vec_id, embedding, cell FROM sc$it WHERE rn = 1),
                |cm$it AS (SELECT cell, i,
                |    list_reduce(list(embedding[i]::DOUBLE ORDER BY vec_id),
                |      (p, q) -> p + q) / count(*) AS m,
                |    count(*) AS n
                |  FROM asg$it, range(1, ${dims + 1}) t(i) GROUP BY cell, i),
                |nc$it AS (SELECT cell, list(m ORDER BY i) AS cv, max(n) AS n_members
                |  FROM cm$it GROUP BY cell),
                |cent$it AS MATERIALIZED (SELECT p.cell, coalesce(n.cv, p.cv) AS cv,
                |  coalesce(n.n_members, CAST(0 AS BIGINT)) AS n_members
                |  FROM cent${it - 1} p LEFT JOIN nc$it n USING (cell)),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n"
    sb.toString
  }

  private def kmeansSql(iters: Int, k: Int, dims: Int): String =
    s"WITH ${kmeansCtes(iters, k, dims)}\n" +
      s"""SELECT cell, CAST(t.i - 1 AS BIGINT) AS i,
         |  CAST(round(1000000.0 * cv[t.i]) AS BIGINT) AS m_pm, n_members
         |FROM cent$iters, range(1, ${dims + 1}) t(i)""".stripMargin

  /** The per-subspace training + encode CTE chain, ending at
    * `cb(s, c, cv, n2)` and `codes(vec_id, c0..c3)`, WITHOUT the leading
    * WITH or a final SELECT — reused by [[pqTrainedSql]] (q93, trained on
    * the full corpus) and the q97 production twin (trained on a fixed
    * sample via `trainWhere`). Encoding always covers the FULL corpus;
    * only the Lloyd inputs are restricted.
    */
  private def pqTrainCtes(iters: Int, trainWhere: String): String = {
    import graft.operators.Similarity.{PqK, PqSub, PqSubDim}
    require(PqSub == 4, "the CASE pivot below is written for 4 subspaces")
    val sb = new StringBuilder
    for (s <- 0 until PqSub) {
      val off = s * PqSubDim
      sb ++= s"""es$s AS MATERIALIZED (SELECT vec_id,
                |  embedding[${off + 1}:${off + PqSubDim}] AS sv FROM embeddings $trainWhere),
                |c${s}_0 AS MATERIALIZED (SELECT vec_id AS cell,
                |  list_transform(sv, x -> x::DOUBLE) AS cv FROM es$s WHERE vec_id < $PqK),
                |""".stripMargin
      for (it <- 1 to iters) {
        sb ++= s"""sc${s}_$it AS (SELECT e.vec_id, e.sv, c.cell,
                  |    row_number() OVER (PARTITION BY e.vec_id
                  |      ORDER BY ${cosPmD("e.sv", "c.cv", PqSubDim)} DESC, c.cell ASC) AS rn
                  |  FROM es$s e CROSS JOIN c${s}_${it - 1} c),
                  |asg${s}_$it AS (SELECT vec_id, sv, cell FROM sc${s}_$it WHERE rn = 1),
                  |cm${s}_$it AS (SELECT cell, i,
                  |    list_reduce(list(sv[i]::DOUBLE ORDER BY vec_id),
                  |      (p, q) -> p + q) / count(*) AS m
                  |  FROM asg${s}_$it, range(1, ${PqSubDim + 1}) t(i) GROUP BY cell, i),
                  |nc${s}_$it AS (SELECT cell, list(m ORDER BY i) AS cv FROM cm${s}_$it GROUP BY cell),
                  |c${s}_$it AS MATERIALIZED (SELECT p.cell, coalesce(n.cv, p.cv) AS cv
                  |  FROM c${s}_${it - 1} p LEFT JOIN nc${s}_$it n USING (cell)),
                  |""".stripMargin
      }
    }
    // the 4 trained codebooks as one (s, c, cv, n2) table — n2 via the
    // same 0.0-seeded ascending fold as Similarity.pqEncode's norms
    sb ++= (0 until PqSub).map { s =>
      s"""SELECT $s AS s, cell AS c, cv,
         |  list_reduce([0.0] || list_transform(range(1, ${PqSubDim + 1}),
         |    i -> cv[i] * cv[i]), (p, q) -> p + q) AS n2
         |FROM c${s}_$iters""".stripMargin
    }.mkString("cb AS MATERIALIZED (\n", "\nUNION ALL\n", "),\n")
    sb ++= s"""d AS (SELECT vec_id, s, c,
              |    n2 - 2.0 * list_reduce(list_transform(range(1, ${PqSubDim + 1}),
              |      i -> embedding[s * $PqSubDim + i]::DOUBLE * cv[i]), (a, b) -> a + b) AS dist
              |  FROM embeddings CROSS JOIN cb),
              |r AS (SELECT vec_id, s, c,
              |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
              |  FROM d),
              |codes AS (SELECT vec_id,
              |    MAX(CASE WHEN s = 0 THEN c END) AS c0, MAX(CASE WHEN s = 1 THEN c END) AS c1,
              |    MAX(CASE WHEN s = 2 THEN c END) AS c2, MAX(CASE WHEN s = 3 THEN c END) AS c3
              |  FROM r WHERE rn = 1 GROUP BY vec_id)""".stripMargin
    sb.toString
  }

  private def pqTrainedSql(iters: Int): String =
    s"WITH ${pqTrainCtes(iters, "")}\n" +
      """SELECT vec_id,
        |  CAST(c0 AS INTEGER) AS code0, CAST(c1 AS INTEGER) AS code1,
        |  CAST(c2 AS INTEGER) AS code2, CAST(c3 AS INTEGER) AS code3,
        |  CAST(c0 + c1 * 16 + c2 * 256 + c3 * 4096 AS BIGINT) AS pq_code
        |FROM codes""".stripMargin

  /** Generated twin of q97 ([[LlmPipelines.q97AnnProduction]]) — the full
    * trained stack composed from chains already proven exact piecewise:
    * [[kmeansCtes]] trains the coarse centroids (64-dim, k=8, 2 iters),
    * [[pqTrainCtes]] trains the codebooks on the fixed 500-vector sample
    * and encodes the full corpus, then the corpus is assigned to the
    * TRAINED cells and the ADC ranking runs over the TRAINED codebooks.
    * A hash match certifies the whole production path: training (twice),
    * encode, assignment, and search agree bit-for-bit with the engine.
    * Assembled without an outer stripMargin: the chains are already
    * stripped, and re-stripping would eat the first '|' of any '||'.
    */
  private def annProductionSql(centIters: Int, cbIters: Int): String = {
    def adcCv(s: Int, a: String) =
      s"list_reduce(list_transform(range(1, 17), i -> qv[$s * 16 + i]::DOUBLE * $a.cv[i]), (x, y) -> x + y)"
    val tail =
      s"""asgF AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosPm("e.embedding", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e CROSS JOIN cent$centIters c)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv, cell FROM asgF
         |      WHERE vec_id >= 20 AND vec_id < 30),
         |cc AS (SELECT asgF.vec_id AS cid, asgF.cell, c0, c1, c2, c3
         |      FROM asgF JOIN codes ON asgF.vec_id = codes.vec_id),
         |p AS (SELECT qid, qv, cid, q.cell AS cell, c0, c1, c2, c3
         |      FROM q JOIN cc USING (cell) WHERE cid <> qid),
         |sc AS (SELECT qid, cid, cell,
         |    CAST(round(1000000.0 * (${adcCv(0, "cb0")}
         |      + ${adcCv(1, "cb1")}
         |      + ${adcCv(2, "cb2")}
         |      + ${adcCv(3, "cb3")})) AS BIGINT) AS adc_pm
         |  FROM p JOIN cb cb0 ON cb0.s = 0 AND cb0.c = p.c0
         |         JOIN cb cb1 ON cb1.s = 1 AND cb1.c = p.c1
         |         JOIN cb cb2 ON cb2.s = 2 AND cb2.c = p.c2
         |         JOIN cb cb3 ON cb3.s = 3 AND cb3.c = p.c3),
         |r2 AS (SELECT qid, cid, cell, adc_pm,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_pm DESC, cid ASC) AS "rank"
         |  FROM sc)
         |SELECT qid, cid, cell, adc_pm, "rank" FROM r2 WHERE "rank" <= 3""".stripMargin
    s"WITH ${kmeansCtes(centIters, 8, 64)},\n" +
      s"${pqTrainCtes(cbIters, "WHERE vec_id < 500")},\n$tail"
  }

  /** Generated twin of q98 ([[LlmPipelines.q98SemanticDedup]]): the
    * [[kmeansCtes]] Lloyd chain assigns every vector to its trained cell,
    * within-cell pairs at cosine ≥ 0.45 connect, and the q43-pattern
    * recursive reachability CTE labels each duplicate group with its
    * min-id representative. Assembled without an outer stripMargin (the
    * chain is pre-stripped).
    */
  private def semanticDedupSql(centIters: Int): String = {
    val tail =
      s"""asgF AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosPm("e.embedding", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e CROSS JOIN cent$centIters c)
         |  WHERE rn = 1),
         |pr0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosPm("a.embedding", "b.embedding")} AS cos_pm
         |  FROM asgF a JOIN asgF b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |f AS (SELECT id_a, id_b FROM pr0 WHERE cos_pm >= 450000),
         |u AS (SELECT id_a AS a2, id_b AS b2 FROM f
         |      UNION SELECT id_b, id_a FROM f),
         |nd AS (SELECT DISTINCT a2 AS node FROM u),
         |reach(s2, r) AS (
         |  SELECT node, node FROM nd
         |  UNION
         |  SELECT reach.s2, u.b2 FROM reach JOIN u ON reach.r = u.a2),
         |lab AS (SELECT s2 AS vec_id, min(r) AS cluster FROM reach GROUP BY s2)
         |SELECT lab.vec_id, lab.cluster, cnt.cluster_size
         |FROM lab JOIN (SELECT cluster, count(*) AS cluster_size
         |               FROM lab GROUP BY cluster) cnt USING (cluster)""".stripMargin
    s"WITH RECURSIVE ${kmeansCtes(centIters, 8, 64)},\n$tail"
  }

  /** Twin of [[Graphs.edges]]: same-nation customer⨝supplier pairs with
    * haversine-km+1 weights, plus reverse edges for pairs with
    * (custkey+suppkey)%3=0.
    */
  private val EdgesSql =
    """SELECT c_nationkey AS city, 'c' || c_custkey AS src, 's' || s_suppkey AS dst, w
      |FROM (SELECT c_custkey, c_nationkey, s_suppkey,
      |  CAST(round(2.0 * 6371000.0 * asin(least(1.0,
      |    sqrt(pow(sin(radians(s_lat - c_lat) / 2.0), 2.0)
      |       + cos(radians(c_lat)) * cos(radians(s_lat))
      |         * pow(sin(radians(s_lng - c_lng) / 2.0), 2.0)))) / 1000.0) AS BIGINT) + 1 AS w
      |FROM (SELECT c_custkey, c_nationkey,
      |        (c_custkey % 170) - 85 + 0.25 AS c_lat,
      |        (c_custkey * 7 % 350) - 175 + 0.5 AS c_lng FROM customer) c
      |JOIN (SELECT s_suppkey, s_nationkey,
      |        (s_suppkey * 13 % 170) - 85 + 0.5 AS s_lat,
      |        (s_suppkey * 29 % 350) - 175 + 0.5 AS s_lng FROM supplier) s
      |  ON c_nationkey = s_nationkey)
      |UNION ALL
      |SELECT city, dst AS src, src AS dst, w FROM (
      |  SELECT c_nationkey AS city, 'c' || c_custkey AS src, 's' || s_suppkey AS dst, w,
      |    (c_custkey + s_suppkey) % 3 AS rev
      |  FROM (SELECT c_custkey, c_nationkey, s_suppkey,
      |    CAST(round(2.0 * 6371000.0 * asin(least(1.0,
      |      sqrt(pow(sin(radians(s_lat - c_lat) / 2.0), 2.0)
      |         + cos(radians(c_lat)) * cos(radians(s_lat))
      |           * pow(sin(radians(s_lng - c_lng) / 2.0), 2.0)))) / 1000.0) AS BIGINT) + 1 AS w
      |  FROM (SELECT c_custkey, c_nationkey,
      |          (c_custkey % 170) - 85 + 0.25 AS c_lat,
      |          (c_custkey * 7 % 350) - 175 + 0.5 AS c_lng FROM customer) c
      |  JOIN (SELECT s_suppkey, s_nationkey,
      |          (s_suppkey * 13 % 170) - 85 + 0.5 AS s_lat,
      |          (s_suppkey * 29 % 350) - 175 + 0.5 AS s_lng FROM supplier) s
      |    ON c_nationkey = s_nationkey))
      |WHERE rev = 0""".stripMargin

  /** Generated chained-CTE power iteration: the SQL twin of
    * [[graft.operators.GraphMetrics.pagerank]], iteration-for-iteration
    * (same 0.15/0.85 literals, same dangling redistribution, same
    * x·w/outw contribution term), ending in pm-scaled integers so the tiny
    * cross-engine FP summation-order noise (≪ rounding granularity under a
    * contraction mapping) cannot surface.
    */
  private def pagerankSql(edgesSql: String, iters: Int): String = {
    // MATERIALIZED: each iteration references the previous CTEs several
    // times; without it DuckDB re-expands (and re-opens the parquet scans)
    // per reference — 30 iterations exhaust the fd limit.
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (\n$edgesSql\n),\n"
    sb ++= """nodes AS MATERIALIZED (SELECT DISTINCT city, node FROM
             |  (SELECT city, src AS node FROM e UNION ALL SELECT city, dst FROM e)),
             |cnt AS MATERIALIZED (SELECT city, CAST(count(*) AS DOUBLE) AS n FROM nodes GROUP BY city),
             |ow AS MATERIALIZED (SELECT city, src, sum(w) AS ow FROM e GROUP BY city, src),
             |x0 AS MATERIALIZED (SELECT nodes.city, node, 1.0/cnt.n AS x FROM nodes JOIN cnt USING (city)),
             |""".stripMargin
    for (k <- 1 to iters) {
      val p = s"x${k - 1}"
      sb ++= s"""d$k AS (SELECT i.city,
                |  coalesce(sum(CASE WHEN o.src IS NULL THEN i.x END), 0.0) AS dm
                |  FROM $p i LEFT JOIN ow o ON i.city = o.city AND i.node = o.src
                |  GROUP BY i.city),
                |c$k AS (SELECT e.city, e.dst AS node, sum(i.x * e.w / o.ow) AS c
                |  FROM e JOIN $p i ON e.city = i.city AND e.src = i.node
                |  JOIN ow o ON e.city = o.city AND e.src = o.src
                |  GROUP BY e.city, e.dst),
                |x$k AS MATERIALIZED (SELECT n.city, n.node,
                |  0.15/ct.n + 0.85*(coalesce(c.c, 0.0) + d.dm/ct.n) AS x
                |  FROM nodes n JOIN cnt ct USING (city)
                |  JOIN d$k d ON n.city = d.city
                |  LEFT JOIN c$k c ON n.city = c.city AND n.node = c.node),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n" after the last CTE
    sb ++= "\n"
    sb ++= s"""SELECT city, node, CAST(round(1000000.0 * x) AS BIGINT) AS pr_pm,
              |  CAST(round(1000000.0 * (x / avg(x) OVER (PARTITION BY city))) AS BIGINT)
              |    AS pr_norm_pm
              |FROM x$iters""".stripMargin
    sb.toString
  }

  /** Generated chained-CTE BFS + pair-dependency betweenness: the SQL twin
    * of [[graft.operators.GraphMetrics.betweenness]]. Level k is the
    * per-city all-pairs frontier — (s,t) first reached at distance k, with
    * the shortest-path count sigma as an exact BIGINT (σ(s,t)@k = Σ over
    * in-neighbors v of t at distance k−1 of σ(s,v); the anti-join against
    * the cumulative reach table keeps BFS levels disjoint). Brandes'
    * recursive dependency accumulation then collapses to its algebraic
    * closed form over the pair table:
    * bc(v) = Σ_{s,t} σ_sv·σ_vt/σ_st where d(s,v)+d(v,t)=d(s,t)
    * (s≠v, v≠t, s≠t are automatic: d>0 pairs never revisit their source).
    * `levels` must be > the graphs' max finite distance — measured 3 at
    * every test scale factor, generated with 6 for headroom; levels past
    * the diameter are empty and cost nothing. If the LAST level is
    * non-empty the BFS may be truncated (paths longer than `levels` can't
    * be ruled out), so the query emits a poison row
    * (`__ORACLE_BFS_DEPTH_EXCEEDED__`) — a mismatch then reports itself
    * as an oracle-depth problem, never as a silent engine-correctness
    * failure. All-pairs SQL is oracle-only
    * (the driver gates at sf0.01, ≤ ~70 nodes/city); the engine side stays
    * linear-memory Brandes.
    */
  private def betweennessSql(edgesSql: String, levels: Int,
                             sampleNibbleMax: Int = 16): String = {
    val sampled = sampleNibbleMax < 16
    // engine selector: first md5 nibble < sampleNibbleMax — as a char
    // range over DuckDB's lowercase-hex md5() (digits sort before
    // letters in ASCII, so BETWEEN works across the 9/a boundary)
    val maxChar =
      if (sampleNibbleMax <= 10) ('0' + (sampleNibbleMax - 1)).toChar
      else ('a' + (sampleNibbleMax - 11)).toChar
    val sb = new StringBuilder
    sb ++= s"WITH e0 AS MATERIALIZED (\n$edgesSql\n),\n"
    sb ++= """e AS MATERIALIZED (SELECT DISTINCT city, src, dst FROM e0),
             |nodes AS MATERIALIZED (SELECT DISTINCT city, node FROM
             |  (SELECT city, src AS node FROM e UNION ALL SELECT city, dst FROM e)),
             |cnt AS MATERIALIZED (SELECT city, CAST(count(*) AS DOUBLE) AS n FROM nodes GROUP BY city),
             |r0 AS MATERIALIZED (SELECT city, node AS s, node AS t, 0 AS d,
             |  CAST(1 AS BIGINT) AS sig FROM nodes),
             |l0 AS MATERIALIZED (SELECT * FROM r0),
             |""".stripMargin
    if (sampled)
      sb ++= s"""smp AS MATERIALIZED (SELECT city, node FROM nodes
                |  WHERE substr(md5(node), 1, 1) BETWEEN '0' AND '$maxChar'),
                |scnt AS MATERIALIZED (SELECT city, CAST(count(*) AS DOUBLE) AS s
                |  FROM smp GROUP BY city),
                |""".stripMargin
    for (k <- 1 to levels) {
      sb ++= s"""l$k AS MATERIALIZED (
                |  SELECT p.city, p.s, e.dst AS t, $k AS d, sum(p.sig) AS sig
                |  FROM l${k - 1} p JOIN e ON p.city = e.city AND p.t = e.src
                |  WHERE NOT EXISTS (SELECT 1 FROM r${k - 1} r
                |                    WHERE r.city = p.city AND r.s = p.s AND r.t = e.dst)
                |  GROUP BY p.city, p.s, e.dst),
                |r$k AS MATERIALIZED (SELECT * FROM r${k - 1} UNION ALL SELECT * FROM l$k),
                |""".stripMargin
    }
    val srcGate = if (sampled)
      "\n  JOIN smp ON smp.city = sv.city AND smp.node = sv.s" else ""
    val scntJoin = if (sampled) "\n  LEFT JOIN scnt sc ON sc.city = n.city" else ""
    // Sampled: pm-quantize the RESTRICTED sum first (the exact form's
    // hash-stable machinery), THEN apply the Brandes–Pich n/|S| rescale
    // to the rounded integer — round(p1·n/|S|) is a pure function of
    // ints, bit-identical to the engine by construction; rescaling the
    // raw double instead pushed boundary values across pm rounding.
    val vExpr = if (sampled)
      """CASE WHEN coalesce(sc.s, 0.0) > 0 THEN
        |      CAST(CAST(round(1000000.0 * (coalesce(d.bc, 0.0)
        |        * CASE WHEN c.n > 2 THEN 1.0/((c.n-1.0)*(c.n-2.0)) ELSE 0.0 END)) AS BIGINT) AS DOUBLE)
        |        * c.n / sc.s
        |    ELSE 0.0 END AS v""".stripMargin
    else
      """coalesce(d.bc, 0.0)
        |      * CASE WHEN c.n > 2 THEN 1.0/((c.n-1.0)*(c.n-2.0)) ELSE 0.0 END AS v""".stripMargin
    val pmExpr = if (sampled) "CAST(round(v) AS BIGINT)"
    else "CAST(round(1000000.0 * v) AS BIGINT)"
    sb ++= s"""p AS MATERIALIZED (SELECT * FROM r$levels WHERE d > 0),
              |dep AS (SELECT sv.city, sv.t AS node,
              |    sum(CAST(sv.sig AS DOUBLE) * vt.sig / st.sig) AS bc
              |  FROM p sv$srcGate
              |  JOIN p vt ON sv.city = vt.city AND vt.s = sv.t
              |  JOIN p st ON sv.city = st.city AND st.s = sv.s AND st.t = vt.t
              |    AND st.d = sv.d + vt.d
              |  GROUP BY sv.city, sv.t),
              |scored AS (SELECT n.city, n.node,
              |    $vExpr
              |  FROM nodes n JOIN cnt c USING (city)$scntJoin
              |  LEFT JOIN dep d ON d.city = n.city AND d.node = n.node)
              |SELECT city, node, $pmExpr AS bc_pm,
              |  CAST(round(1000000.0 * CASE WHEN avg(v) OVER (PARTITION BY city) = 0.0
              |    THEN 0.0 ELSE v / avg(v) OVER (PARTITION BY city) END) AS BIGINT)
              |    AS bc_norm_pm
              |FROM scored
              |UNION ALL
              |SELECT city, '__ORACLE_BFS_DEPTH_EXCEEDED__ raise betweennessSql levels' AS node,
              |  CAST(NULL AS BIGINT) AS bc_pm, CAST(NULL AS BIGINT) AS bc_norm_pm
              |FROM (SELECT city FROM l$levels LIMIT 1)""".stripMargin
    sb.toString
  }

  /** Generated chained-CTE HITS power iteration: the SQL twin of
    * [[graft.operators.GraphMetrics.hits]], step for step — per iteration
    * a_k = Aᵀh_{k-1} (raw weighted sums), h_k = A·a_k max-normalized per
    * city; final hub/auth sum-normalized per city, pm-scaled. The in-loop
    * max division is the only scaling that matters numerically (overflow
    * guard); the final sum-normalization cancels every other scalar, so
    * engine and oracle agree to well under the pm rounding granularity.
    */
  private def hitsSql(edgesSql: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (\n$edgesSql\n),\n"
    sb ++= """nodes AS MATERIALIZED (SELECT DISTINCT city, node FROM
             |  (SELECT city, src AS node FROM e UNION ALL SELECT city, dst FROM e)),
             |cnt AS MATERIALIZED (SELECT city, CAST(count(*) AS DOUBLE) AS n FROM nodes GROUP BY city),
             |h0 AS MATERIALIZED (SELECT nodes.city, node, 1.0/cnt.n AS x FROM nodes JOIN cnt USING (city)),
             |""".stripMargin
    for (k <- 1 to iters) {
      // Ordered folds, not bare SUM: the engine accumulates each cell in
      // sorted (src, dst) edge order, so a$k sums source-ascending and
      // hr$k destination-ascending — the same FP trajectory bit for bit
      // (compounded over `iters` matmuls, unordered SUM drift could cross
      // a pm rounding boundary).
      sb ++= s"""a$k AS (SELECT e.city, e.dst AS node,
                |  list_reduce(list(h.x * e.w ORDER BY e.src), (p, q) -> p + q) AS x
                |  FROM e JOIN h${k - 1} h ON e.city = h.city AND e.src = h.node
                |  GROUP BY e.city, e.dst),
                |hr$k AS (SELECT e.city, e.src AS node,
                |  list_reduce(list(a.x * e.w ORDER BY e.dst), (p, q) -> p + q) AS x
                |  FROM e JOIN a$k a ON e.city = a.city AND e.dst = a.node
                |  GROUP BY e.city, e.src),
                |h$k AS MATERIALIZED (SELECT n.city, n.node,
                |  coalesce(hr.x, 0.0) / max(coalesce(hr.x, 0.0)) OVER (PARTITION BY n.city) AS x
                |  FROM nodes n LEFT JOIN hr$k hr ON n.city = hr.city AND n.node = hr.node),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2)
    sb ++= "\n"
    sb ++= s"""SELECT n.city, n.node,
              |  CAST(round(1000000.0 * h.x / sum(h.x) OVER (PARTITION BY n.city)) AS BIGINT)
              |    AS hub_pm,
              |  CAST(round(1000000.0 * coalesce(a.x, 0.0)
              |    / sum(coalesce(a.x, 0.0)) OVER (PARTITION BY n.city)) AS BIGINT)
              |    AS auth_pm
              |FROM nodes n
              |JOIN h$iters h ON n.city = h.city AND n.node = h.node
              |LEFT JOIN a$iters a ON n.city = a.city AND n.node = a.node""".stripMargin
    sb.toString
  }

  /** Generated twin of [[graft.functions.IcosaGrid]] (q75 and, through the
    * foreign-cell seam, q37): the whole codec
    * — argmax face selection over the 20 face constants, gnomonic
    * projection into the face tangent plane, integer grid packing, and the
    * inverse (unproject, normalize, asin/atan2) — re-implemented in DuckDB
    * SQL with the same double operation order as the engine. The face
    * constants are printed from the engine's own [[graft.functions.IcosaGrid.faces]]
    * via `Double.toString` (shortest round-trip decimal; DuckDB's strtod is
    * correctly rounded, so the PRINTED CONSTANTS are bit-identical doubles
    * on both engines). The trig outputs are not covered by that guarantee:
    * `cos/sin/asin/atan2` come from JVM `Math` on one side and the host
    * libm on the other, and both specs permit ~1 ulp slack — a synthetic
    * point within a few ulps of a face-dot tie or a `floor(gx/step)` grid
    * boundary could flip its cell id on a different platform/libm. The
    * synthetic lat/lng grid (offsets 0.25/0.5 on an integer-degree lattice)
    * keeps points away from face seams and cell edges by construction:
    * IcosaGridSpec ("q75 oracle lattice…") asserts every lattice point
    * keeps >1e-9 (≫ ulp) margin from any face-dot tie or grid line, so a
    * hash match proves the geometry end to end, with the cross-libm
    * caveat documented rather than claimed away.
    */
  private def icosaCodecSql(res: Int, pts: String, cellCond: String,
                            finalSelect: String): String = {
    import graft.functions.IcosaGrid
    val m = 1L << res
    val step = IcosaGrid.Span / m
    def dl(x: Double): String = { val t = x.toString; if (x < 0) s"($t)" else t }
    val pi = math.Pi.toString
    val faces = IcosaGrid.faces
    val dots = faces.zipWithIndex.map { case (f, i) =>
      s"px*${dl(f.c(0))} + py*${dl(f.c(1))} + pz*${dl(f.c(2))} AS d$i"
    }.mkString(",\n    ")
    val greatest = (0 until 20).map("d" + _).mkString(", ")
    val faceCase =
      (0 until 20).map(i => s"WHEN d$i = bd THEN $i").mkString("CASE ", " ", " END")
    def sel(on: String, name: String, get: IcosaGrid.Face => Double): String =
      faces.zipWithIndex
        .map { case (f, i) => s"WHEN $i THEN ${dl(get(f))}" }
        .mkString(s"CASE $on ", " ", s" END AS $name")
    def basis(on: String): String = Seq[(String, IcosaGrid.Face => Double)](
      ("cx", _.c(0)), ("cy", _.c(1)), ("cz", _.c(2)),
      ("e1x", _.e1(0)), ("e1y", _.e1(1)), ("e1z", _.e1(2)),
      ("e2x", _.e2(0)), ("e2y", _.e2(1)), ("e2z", _.e2(2)),
    ).map { case (n, g) => sel(on, n, g) }.mkString(",\n    ")
    s"""WITH pts AS (
       |$pts),
       |p AS (
       |  SELECT *,
       |    cos(lat * $pi / 180.0) * cos(lng * $pi / 180.0) AS px,
       |    cos(lat * $pi / 180.0) * sin(lng * $pi / 180.0) AS py,
       |    sin(lat * $pi / 180.0) AS pz
       |  FROM pts),
       |dd AS (
       |  SELECT *,
       |    $dots
       |  FROM p),
       |gg AS (SELECT *, GREATEST($greatest) AS bd FROM dd),
       |ff AS (SELECT *, $faceCase AS face FROM gg),
       |esel AS (
       |  SELECT *,
       |    ${basis("face")}
       |  FROM ff),
       |eq AS (SELECT *, px/bd - cx AS qx, py/bd - cy AS qy, pz/bd - cz AS qz FROM esel),
       |exy AS (SELECT *, qx*e1x + qy*e1y + qz*e1z AS gx, qx*e2x + qy*e2y + qz*e2z AS gy FROM eq),
       |eij AS (SELECT *,
       |    GREATEST(-$m, LEAST(${m - 1}, CAST(floor(gx / ${dl(step)}) AS BIGINT))) AS gi,
       |    GREATEST(-$m, LEAST(${m - 1}, CAST(floor(gy / ${dl(step)}) AS BIGINT))) AS gj
       |  FROM exy),
       |enc AS (
       |  SELECT c_custkey,
       |    CASE WHEN $cellCond
       |      THEN CAST(${res * 32} + face AS BIGINT) * 4294967296 + (gi + $m) * 65536 + (gj + $m)
       |    END AS cell
       |  FROM eij),
       |dparts AS (
       |  SELECT c_custkey, cell,
       |    CAST((cell // 4294967296) % 32 AS INTEGER) AS dface,
       |    (cell % 4294967296) // 65536 AS iraw,
       |    cell % 65536 AS jraw
       |  FROM enc),
       |dsel AS (
       |  SELECT *,
       |    ${basis("dface")}
       |  FROM dparts),
       |dxy AS (SELECT *,
       |    (CAST(iraw AS DOUBLE) - $m + 0.5) * ${dl(step)} AS gx,
       |    (CAST(jraw AS DOUBLE) - $m + 0.5) * ${dl(step)} AS gy
       |  FROM dsel),
       |dw AS (SELECT *,
       |    cx + gx*e1x + gy*e2x AS wx,
       |    cy + gx*e1y + gy*e2y AS wy,
       |    cz + gx*e1z + gy*e2z AS wz
       |  FROM dxy),
       |dn AS (SELECT *, sqrt(wx*wx + wy*wy + wz*wz) AS nn FROM dw),
       |dm AS (SELECT *,
       |    CAST(round(asin(wz / nn) * 180.0 / $pi * 1000000.0) AS BIGINT) AS lat_micro,
       |    CAST(round(atan2(wy / nn, wx / nn) * 180.0 / $pi * 1000000.0) AS BIGINT) AS lng_micro
       |  FROM dn)
       |$finalSelect""".stripMargin
  }

  private def icosaSql(res: Int): String = icosaCodecSql(res,
    pts = """  SELECT c_custkey,
             |    CAST((c_custkey % 170) - 85 + 0.25 AS DOUBLE) AS lat,
             |    CAST((c_custkey * 7 % 350) - 175 + 0.5 AS DOUBLE) AS lng
             |  FROM customer""".stripMargin,
    cellCond = "c_custkey % 97 <> 0",
    finalSelect = "SELECT c_custkey, cell, lat_micro, lng_micro FROM dm")

  /** q37's twin: the same generated codec body, fed by the foreign-cell
    * seam (md5 anchor — the exact `Geo.cellToPseudoLatLng` formula) and
    * null-gated on the seam coordinates rather than the key. The GeoJSON
    * carries micro-degree BIGINTs because cross-engine double→string
    * rendering is not contract-stable (see `Graphs.q37CellDecode`).
    */
  private def icosa37Sql(res: Int): String = icosaCodecSql(res,
    pts = """  SELECT c_custkey,
             |    ('0x' || substr(md5(fcell), 1, 8))::BIGINT::DOUBLE % 170.0 - 85.0 + 0.25 AS lat,
             |    ('0x' || substr(md5(fcell), 9, 8))::BIGINT::DOUBLE % 350.0 - 175.0 + 0.5 AS lng
             |  FROM (SELECT c_custkey,
             |      CASE WHEN c_custkey % 97 <> 0 THEN substr(md5(c_name), 1, 15) END AS fcell
             |    FROM customer)""".stripMargin,
    cellCond = "lat IS NOT NULL",
    finalSelect =
      """SELECT c_custkey, cell AS icell, lat_micro, lng_micro,
        |  CASE WHEN cell IS NOT NULL THEN
        |    to_json(struct_pack(coordinates := [lng_micro, lat_micro], type := 'Point'))::VARCHAR
        |  END AS geo
        |FROM dm""".stripMargin)

  /** Graph twins. q34's betweenness oracle is the generated BFS +
    * pair-dependency SQL above; the numerics are additionally pinned by
    * golden ScalaTests.
    */
  val graphs: Map[String, String] = Map(
    "q32_graph_edges" -> EdgesSql,
    "q33_city_pagerank" -> pagerankSql(EdgesSql, graft.operators.GraphMetrics.Iterations),
    // q147: the distributed twin runs the SAME trajectory — same oracle
    "q147_pagerank_distributed" ->
      pagerankSql(EdgesSql, graft.operators.GraphMetrics.Iterations),
    "q34_city_betweenness" -> betweennessSql(EdgesSql, levels = 6),
    // q153: the distributed twin runs the SAME Brandes passes — same oracle
    "q153_betweenness_distributed" -> betweennessSql(EdgesSql, levels = 6),
    // q154: the q34 generator restricted to the md5-sampled source set +
    // the n/|S| rescale — exact on the sample, so hash-checkable
    "q154_betweenness_sampled" ->
      betweennessSql(EdgesSql, levels = 6, sampleNibbleMax = 4),
    "q47_city_hits" -> hitsSql(EdgesSql, graft.operators.GraphMetrics.Iterations),
    "q75_icosa_decode" -> icosaSql(res = 6),
    "q37_cell_decode" -> icosa37Sql(res = 6),

    // q118: global weakly-connected components over the w <= 2000 km
    // thresholded graph — the q43 recursive-reach CC pattern on the
    // q32-verified edge SQL; min(VARCHAR) label = the engine's
    // lexicographic union-find representative (ASCII keys, same order
    // both engines).
    "q118_graph_components" -> GlobalCcSql,

    // q120: the SAME global-CC SQL — the engine answers it by folding
    // three edge batches through the incremental Components registry, so
    // hash-equality against the from-scratch oracle IS the chaining-
    // equivalence proof on the driver's own data.
    "q120_components_incremental" -> GlobalCcSql,

    // q170: k-core (k=3) over q118's thresholded undirected graph — the
    // peel unrolled as 24 generated chained-CTE rounds (degree → keep →
    // restrict); rounds past the fixpoint are no-ops, and the engine's
    // loud convergence require (KCore.kCore) guarantees the fixpoint
    // lands inside the bound on any data this SQL ever sees.
    "q170_kcore" -> {
      // every e$i is referenced twice downstream (its degree table and
      // its restriction join) — WITHOUT materialization DuckDB inlines
      // the chain at branching factor 2, i.e. 2^24 scans of the base
      // tables ("too many open files" long before memory).
      val rounds = 24
      val sb = new StringBuilder
      for (i <- 1 to rounds) sb ++=
        s"""k$i AS (SELECT a FROM (SELECT a, count(*) AS deg
           |    FROM e${i - 1} GROUP BY a) WHERE deg >= 3),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i ka ON e.a = ka.a JOIN k$i kb ON e.b = kb.a),
           |""".stripMargin
      s"""WITH edges0 AS ($EdgesSql),
         |f AS (SELECT DISTINCT src, dst FROM edges0 WHERE w <= 5000),
         |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
         |  SELECT src AS a, dst AS b FROM f WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM f WHERE src <> dst)),
         |${sb.toString}dummy AS (SELECT 1)
         |SELECT a AS node, count(*) AS core_deg FROM e$rounds GROUP BY a""".stripMargin
    },

    // q171: supplier-side projection of the bipartite thresholded graph —
    // shared-customer pairs with the hub cap mirrored (ld <= 32).
    "q171_bipartite_project" -> ProjectionSql(
      "SELECT x.r AS a, y.r AS b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM ek x JOIN ek y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2"),

    // q178: the walk corpus replayed exactly — every step a generated
    // CTE picking adj[hash32('7:'||walk||':'||t) mod deg] (the q170
    // generated-chain convention; hash-determinism makes the "random"
    // walks hash-checkable).
    "q178_random_walks" ->
      s"""WITH ${walkCtes(steps = 8, wpn = 2, seed = 7)}
         |SELECT walk, step, node FROM wl""".stripMargin,

    // q179: skip-gram pairs over the q178 corpus — step distance ≤ 2
    // within a walk ≡ the engine's window-2 pair generation over the
    // reassembled sentences (steps ARE token positions); same PMI-lift
    // arithmetic as q175, minPairCount 2.
    "q179_walk_skipgram" ->
      s"""WITH ${walkCtes(steps = 8, wpn = 2, seed = 7)},
         |pr AS (SELECT least(x.node, y.node) AS a,
         |    greatest(x.node, y.node) AS b
         |  FROM wl x JOIN wl y ON x.walk = y.walk
         |    AND y.step > x.step AND y.step <= x.step + 2
         |  WHERE x.node <> y.node),
         |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pr
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |cw AS (SELECT node AS w, CAST(count(*) AS BIGINT) AS c_w FROM wl
         |  GROUP BY node),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM wl)
         |SELECT cab.a, cab.b, cab.c_ab,
         |  (1000000 * cab.c_ab * tot.n_tok) // (ca.c_w * cb.c_w) AS lift_micro
         |FROM cab JOIN cw ca ON cab.a = ca.w JOIN cw cb ON cab.b = cb.w
         |CROSS JOIN tot""".stripMargin,

    // q180: distance-2 candidates via the adjacency self-projection,
    // RA-weighted (1e6 // deg per mid, summed), existing edges
    // anti-joined; mid cap mirrored (deg <= 64).
    "q180_link_prediction" ->
      s"""WITH edges0 AS ($EdgesSql),
         |f AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges0 WHERE w <= 2000 AND src <> dst),
         |sym AS (SELECT u, v FROM f UNION ALL SELECT v, u FROM f),
         |dg AS (SELECT u AS mid, CAST(count(*) AS BIGINT) AS deg FROM sym
         |  GROUP BY u),
         |ek AS (SELECT s.u AS mid, s.v AS n, dg.deg FROM sym s
         |  JOIN dg ON s.u = dg.mid WHERE dg.deg <= 64),
         |pr AS (SELECT x.n AS a, y.n AS b, CAST(count(*) AS BIGINT) AS cn,
         |    CAST(sum(1000000 // x.deg) AS BIGINT) AS ra_pm
         |  FROM ek x JOIN ek y ON x.mid = y.mid AND x.n < y.n GROUP BY 1, 2)
         |SELECT pr.a, pr.b, pr.cn, pr.ra_pm FROM pr
         |LEFT JOIN f ON pr.a = f.u AND pr.b = f.v WHERE f.u IS NULL""".stripMargin,

    // q182: WL refinement replayed — degree-seeded labels, each round
    // re-hashes (own label | ordered neighbor-label multiset); ordered
    // string_agg ≡ the engine's array_join(array_sort(collect_list)).
    "q182_wl_labels" -> wlSql(rounds = 3),

    // q183: per-city WL fingerprints (the graph is a disjoint union of
    // per-city subgraphs, so global labels ARE per-city labels) —
    // canonical fp = md5 of the ordered label multiset, dedup-grouped.
    "q183_structural_dedup" ->
      s"""${wlCtes(rounds = 3)},
         |nc AS (SELECT DISTINCT city, node FROM (
         |  SELECT city, src AS node FROM edges0 WHERE w <= 2000
         |  UNION ALL SELECT city, dst FROM edges0 WHERE w <= 2000)),
         |fpt AS (SELECT nc.city, CAST(count(*) AS BIGINT) AS n_nodes,
         |    md5(string_agg(l.wl, ',' ORDER BY l.wl)) AS fp
         |  FROM l3 l JOIN nc ON l.n = nc.node GROUP BY nc.city),
         |gs AS (SELECT fp, CAST(count(*) AS BIGINT) AS group_size
         |  FROM fpt GROUP BY fp)
         |SELECT CAST(fpt.city AS INT) AS city, fpt.n_nodes, fpt.fp,
         |  gs.group_size
         |FROM fpt JOIN gs USING (fp)""".stripMargin,

    // q184: WL-subtree kernel between city subgraphs — label-count
    // vectors dotted via the label equi-join, df cap 20 mirrored,
    // self-kernels included (x.g <= y.g).
    "q184_wl_kernel" ->
      s"""${wlCtes(rounds = 3)},
         |nc AS (SELECT DISTINCT CAST(city AS INT) AS g, node FROM (
         |  SELECT city, src AS node FROM edges0 WHERE w <= 2000
         |  UNION ALL SELECT city, dst FROM edges0 WHERE w <= 2000)),
         |c AS (SELECT nc.g, l.wl, CAST(count(*) AS BIGINT) AS c
         |  FROM l3 l JOIN nc ON l.n = nc.node GROUP BY 1, 2),
         |keep AS (SELECT wl FROM
         |  (SELECT wl, count(*) AS df FROM c GROUP BY wl) WHERE df <= 20),
         |ck AS (SELECT c.* FROM c JOIN keep USING (wl))
         |SELECT x.g AS ga, y.g AS gb, CAST(sum(x.c * y.c) AS BIGINT) AS k
         |FROM ck x JOIN ck y ON x.wl = y.wl AND x.g <= y.g GROUP BY 1, 2""".stripMargin,

    // q176: q171's projection Jaccard-normalized against kept-edge
    // degrees — both margins counted over the SAME hub-capped edge set
    // as the pair counts, mirroring jaccardProject's consistency rule.
    "q176_jaccard_project" -> ProjectionSql(
      s"""pj AS (SELECT x.r AS a, y.r AS b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ek x JOIN ek y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2),
         |dg AS (SELECT r, CAST(count(*) AS BIGINT) AS d FROM ek GROUP BY r)
         |SELECT pj.a, pj.b, pj.n_shared,
         |  (1000000 * pj.n_shared) // (da.d + db.d - pj.n_shared) AS jacc_pm
         |FROM pj JOIN dg da ON pj.a = da.r JOIN dg db ON pj.b = db.r""".stripMargin),

    // q174: the engine folds three customer-keyed batches through the
    // projection registry; the oracle is the FULL projection — fold ≡
    // rebuild is the check (the q120/q162 convention).
    "q174_projection_incremental" -> ProjectionSql(
      "SELECT x.r AS a, y.r AS b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM ek x JOIN ek y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2"),

    // q173: DOULION p=1/4 — the projection edge sample mirrors
    // Sampling.hashBucket's md5 bucket (the q46 twin), triangles counted
    // exactly on the sample (count of t rows ≡ the engine's Σtri div 3),
    // estimate = 64× — all pinned, no tolerance.
    "q173_triangles_sampled" -> ProjectionSql(
      s"""pj0 AS (SELECT x.r AS a, y.r AS b
         |  FROM ek x JOIN ek y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2),
         |pj AS (SELECT a, b FROM pj0 WHERE
         |  ('0x' || substr(md5('tri:' || a || '|' || b), 1, 8))::BIGINT % 4 = 0),
         |sym AS (SELECT a AS u, b AS v FROM pj UNION ALL SELECT b, a FROM pj),
         |dg AS (SELECT u AS n, count(*) AS deg FROM sym GROUP BY u),
         |o AS (SELECT s.u AS a, s.v AS b, d2.deg AS db FROM sym s
         |  JOIN dg d1 ON s.u = d1.n JOIN dg d2 ON s.v = d2.n
         |  WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND s.u < s.v)),
         |w AS (SELECT x.a, x.b, y.b AS c FROM o x JOIN o y ON x.a = y.a
         |  WHERE x.db < y.db OR (x.db = y.db AND x.b < y.b)),
         |t AS (SELECT w.a FROM w JOIN o ON w.b = o.a AND w.c = o.b),
         |ne AS (SELECT CAST(coalesce(sum(deg), 0) // 2 AS BIGINT)
         |  AS n_edges_sampled FROM dg),
         |tc AS (SELECT CAST(count(*) AS BIGINT) AS tri_sampled FROM t)
         |SELECT ne.n_edges_sampled, tc.tri_sampled,
         |  tc.tri_sampled * 64 AS est_total
         |FROM ne CROSS JOIN tc""".stripMargin),

    // q172: compact-forward triangle counting over the q171 projection —
    // degree-ordered orientation, wedge self-join at the lowest vertex,
    // one closing equi-join; per-node rollup + exact-integer lcc.
    "q172_triangle_stats" -> ProjectionSql(
      s"""pj AS (SELECT x.r AS a, y.r AS b
         |  FROM ek x JOIN ek y ON x.l = y.l AND x.r < y.r GROUP BY 1, 2),
         |sym AS (SELECT a AS u, b AS v FROM pj UNION ALL SELECT b, a FROM pj),
         |dg AS (SELECT u AS n, count(*) AS deg FROM sym GROUP BY u),
         |o AS (SELECT s.u AS a, s.v AS b, d2.deg AS db FROM sym s
         |  JOIN dg d1 ON s.u = d1.n JOIN dg d2 ON s.v = d2.n
         |  WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND s.u < s.v)),
         |w AS (SELECT x.a, x.b, y.b AS c FROM o x JOIN o y ON x.a = y.a
         |  WHERE x.db < y.db OR (x.db = y.db AND x.b < y.b)),
         |t AS (SELECT w.a, w.b, w.c FROM w
         |  JOIN o ON w.b = o.a AND w.c = o.b),
         |pn AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT a AS n FROM t UNION ALL SELECT b FROM t
         |    UNION ALL SELECT c FROM t) GROUP BY n)
         |SELECT dg.n AS node, CAST(dg.deg AS BIGINT) AS deg,
         |  coalesce(pn.tri, 0) AS tri,
         |  CAST(CASE WHEN dg.deg < 2 THEN 0
         |       ELSE (2 * coalesce(pn.tri, 0) * 1000000)
         |            // (dg.deg * (dg.deg - 1)) END AS BIGINT) AS lcc_pm
         |FROM dg LEFT JOIN pn ON dg.n = pn.n""".stripMargin),
  )

  // q178/q179 shared CTEs: symmetrized w<=2000 graph, neighbor-indexed
  // adjacency, and one generated CTE per walk step; `wl` is the long-form
  // corpus (walk, step, node). MATERIALIZED for the q170 reason — every
  // step CTE is read by its successor AND the final union.
  private def walkCtes(steps: Int, wpn: Int, seed: Int): String = {
    val sb = new StringBuilder
    for (t <- 1 to steps) sb ++=
      s"""s$t AS MATERIALIZED (SELECT p.walk, a.nbr AS node FROM s${t - 1} p
         |  JOIN dg ON p.node = dg.n
         |  JOIN adj a ON a.n = p.node AND a.idx =
         |    ('0x' || substr(md5('$seed:' || p.walk || ':$t'), 1, 8))::BIGINT
         |      % dg.deg),
         |""".stripMargin
    s"""edges0 AS ($EdgesSql),
       |f AS (SELECT DISTINCT src, dst FROM edges0
       |  WHERE w <= 2000 AND src <> dst),
       |sym AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM f
       |  UNION ALL SELECT dst, src FROM f)),
       |adj AS MATERIALIZED (SELECT a AS n,
       |    row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx, b AS nbr
       |  FROM sym),
       |dg AS MATERIALIZED (SELECT a AS n, CAST(count(*) AS BIGINT) AS deg
       |  FROM sym GROUP BY a),
       |s0 AS MATERIALIZED (SELECT n || '#' || k AS walk, n AS node
       |  FROM (SELECT DISTINCT n FROM adj) CROSS JOIN range($wpn) t(k)),
       |${sb}wl AS MATERIALIZED (
       |${(0 to steps).map(t =>
          s"  SELECT walk, CAST($t AS BIGINT) AS step, node FROM s$t")
          .mkString(" UNION ALL\n")})""".stripMargin
  }

  // q182: generated WL-refinement chain — l0 = md5('d' || deg), round t
  // joins round t-1's labels onto the edge targets, aggregates the
  // ordered multiset, and re-hashes. MATERIALIZED per round (each is
  // read by the multiset build AND the label join — the q170 rule).
  private def wlCtes(rounds: Int): String = {
    val sb = new StringBuilder
    for (t <- 1 to rounds) sb ++=
      s"""l$t AS MATERIALIZED (SELECT l.n, l.deg, md5(l.wl || '|' || m.ms) AS wl
         |  FROM l${t - 1} l JOIN (
         |    SELECT s.a AS n, string_agg(p.wl, ',' ORDER BY p.wl) AS ms
         |    FROM sym s JOIN l${t - 1} p ON s.b = p.n GROUP BY s.a) m
         |  ON l.n = m.n),
         |""".stripMargin
    s"""WITH edges0 AS ($EdgesSql),
       |f AS (SELECT DISTINCT src, dst FROM edges0
       |  WHERE w <= 2000 AND src <> dst),
       |sym AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM f
       |  UNION ALL SELECT dst, src FROM f)),
       |l0 AS MATERIALIZED (SELECT a AS n, CAST(count(*) AS BIGINT) AS deg,
       |  md5('d' || count(*)) AS wl FROM sym GROUP BY a),
       |${sb}dummy AS (SELECT 1)""".stripMargin
  }

  private def wlSql(rounds: Int): String =
    s"""${wlCtes(rounds)}
       |SELECT n AS node, deg, wl FROM l$rounds""".stripMargin

  // Shared CTE prefix for q171/q172: the thresholded bipartite edge set
  // split into (customer, supplier) columns, hub-capped. `tail` is either
  // the projection SELECT itself or further CTEs + a final SELECT.
  private def ProjectionSql(tail: String): String = {
    val needsComma = tail.trim.startsWith("pj")
    s"""WITH edges0 AS ($EdgesSql),
       |f AS (SELECT DISTINCT src, dst FROM edges0 WHERE w <= 5000),
       |bp AS (SELECT DISTINCT
       |    CASE WHEN src LIKE 'c%' THEN src ELSE dst END AS l,
       |    CASE WHEN src LIKE 'c%' THEN dst ELSE src END AS r FROM f),
       |keep AS (SELECT l FROM
       |  (SELECT l, count(*) AS ld FROM bp GROUP BY l) WHERE ld <= 32),
       |ek AS (SELECT bp.l, bp.r FROM bp JOIN keep USING (l))${if (needsComma) "," else ""}
       |$tail""".stripMargin
  }

  private lazy val GlobalCcSql: String =
    s"""WITH RECURSIVE edges0 AS ($EdgesSql),
       |f AS (SELECT DISTINCT src, dst FROM edges0 WHERE w <= 2000),
       |u AS (SELECT src AS a, dst AS b FROM f
       |      UNION SELECT dst, src FROM f),
       |n AS (SELECT DISTINCT a AS node FROM u),
       |reach(s2, r) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT reach.s2, u.b FROM reach JOIN u ON reach.r = u.a),
       |lab AS (SELECT s2 AS node, min(r) AS cluster FROM reach GROUP BY s2)
       |SELECT lab.node, lab.cluster, cnt.cluster_size
       |FROM lab JOIN (SELECT cluster, count(*) AS cluster_size
       |               FROM lab GROUP BY cluster) cnt USING (cluster)""".stripMargin

  /** Twin of [[Relational.upsertInputs]] + [[graft.operators.Merge.upsert]]:
    * union with a precedence column, then keep-first per key. `update` →
    * incoming priority 0 (wins), `ignore` → existing priority 0.
    */
  private def upsertSql(update: Boolean): String = {
    val (pExisting, pIncoming) = if (update) (1, 0) else (0, 1)
    s"""WITH base AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100) AS BIGINT) AS val, o_custkey FROM orders),
       |  existing AS (SELECT k, val, 0 AS ver, $pExisting AS pri FROM base),
       |  incoming AS (
       |    SELECT k, val + 111 AS val, 1 AS ver, $pIncoming AS pri FROM base WHERE o_custkey % 3 = 0
       |    UNION ALL
       |    SELECT k + 10000000, val + 222, 1, $pIncoming FROM base WHERE o_custkey % 5 = 0),
       |  u AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY pri ASC, ver DESC) AS rn
       |        FROM (SELECT * FROM existing UNION ALL SELECT * FROM incoming))
       |SELECT k AS "_key", val, ver FROM u WHERE rn = 1""".stripMargin
  }

  /** Twins for the beyond-reference temporal/sampling family
    * ([[Extensions]]). q44 deliberately avoids DuckDB's native ASOF JOIN:
    * at duplicate right timestamps ASOF's pick is unspecified, so the twin
    * is the same deterministic union-window form the engine runs (equal-ts
    * ordering: right before left, ties to the greatest purchase id). Null
    * ordering differs across engines (Spark NULLS FIRST vs DuckDB NULLS
    * LAST on ASC) but only reorders left rows among themselves, which
    * cannot change the carried last-non-null right value.
    */
  // q185–q188 shared fragments: the curriculum ladder stride (lcm 8 over
  // the src0 8× / src1 4× / src2 2× / rest 1× mix) and the salted
  // per-source shuffle rank.
  private val CurStride =
    "(CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 WHEN 'src2' THEN 4 ELSE 8 END)"
  private def curRank(src: String) =
    s"""SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
       |               doc_id ASC) AS rn
       |  FROM $src""".stripMargin

  val extensions: Map[String, String] = Map(
    // q188: two-epoch registry fold — reg0 = interleave of the first
    // third (ladder index j kept), then two extendRegistry replays:
    // freeze the watermark prefix, arrivals continue each source's
    // ladder at (count + rn − 1), tail re-ranks behind the ACTUAL
    // frozen count.
    "q188_curriculum_registry" ->
      s"""WITH p0 AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 = 0),
         |p1 AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 = 1),
         |p2 AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 = 2),
         |r0 AS (${curRank("p0")}),
         |reg0 AS (SELECT doc_id, source, n_chars, rn - 1 AS j,
         |    CAST(row_number() OVER (ORDER BY (rn - 1) * $CurStride ASC, source ASC) AS BIGINT) AS pos
         |  FROM r0),
         |w1 AS (SELECT count(*) // 2 AS w FROM p0),
         |f1 AS (SELECT reg0.* FROM reg0, w1 WHERE pos <= w1.w),
         |n0 AS (SELECT source, count(*) AS n FROM p0 GROUP BY 1),
         |ra1 AS (${curRank("p1")}),
         |a1 AS (SELECT ra1.doc_id, ra1.source, ra1.n_chars,
         |    coalesce(n0.n, 0) + rn - 1 AS j
         |  FROM ra1 LEFT JOIN n0 USING (source)),
         |rem1 AS (SELECT doc_id, source, n_chars, j FROM reg0, w1 WHERE pos > w1.w
         |         UNION ALL SELECT doc_id, source, n_chars, j FROM a1),
         |fc1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM f1),
         |reg1 AS (SELECT doc_id, source, n_chars, j, pos FROM f1
         |         UNION ALL
         |         SELECT doc_id, source, n_chars, j,
         |           CAST(fc1.c + row_number() OVER (ORDER BY j * $CurStride ASC, source ASC) AS BIGINT) AS pos
         |         FROM rem1, fc1),
         |w2 AS (SELECT ((SELECT count(*) FROM p0) + (SELECT count(*) FROM p1)) // 2 AS w),
         |f2 AS (SELECT reg1.* FROM reg1, w2 WHERE pos <= w2.w),
         |n1g AS (SELECT source, count(*) AS n FROM reg1 GROUP BY 1),
         |ra2 AS (${curRank("p2")}),
         |a2 AS (SELECT ra2.doc_id, ra2.source, ra2.n_chars,
         |    coalesce(n1g.n, 0) + rn - 1 AS j
         |  FROM ra2 LEFT JOIN n1g USING (source)),
         |rem2 AS (SELECT doc_id, source, n_chars, j FROM reg1, w2 WHERE pos > w2.w
         |         UNION ALL SELECT doc_id, source, n_chars, j FROM a2),
         |fc2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM f2)
         |SELECT pos, doc_id, source, n_chars, TRUE AS frozen FROM f2
         |UNION ALL
         |SELECT CAST(fc2.c + row_number() OVER (ORDER BY j * $CurStride ASC, source ASC) AS BIGINT) AS pos,
         |  doc_id, source, n_chars, FALSE AS frozen
         |FROM rem2, fc2""".stripMargin,

    // q185: curriculum interleave — the NAIVE two-window form (per-source
    // shuffle rank, then one global row_number over the ladder key): the
    // exact order the bucketed-rank + closed-form-position plan must
    // reproduce. Strides = lcm(8,4,2,1)/weight → src0 1, src1 2, src2 4,
    // rest 8; ties on equal ladder keys break by source ASC.
    "q185_curriculum_order" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos,
        |  doc_id, source, n_chars
        |FROM k""".stripMargin,

    // q198: no-straddle packing — the greedy next-fit replayed as a
    // per-shard recursive walk over the same deterministic (hash, id)
    // order; a fresh shard seeds (pack 0, fill n) with no boundary
    // check, exactly the operator's reset rule.
    "q198_pack_nostraddle" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len($Toks) AS BIGINT) AS n_tok,
         |    ('0x' || substr(md5('pk2:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('pk2-ord:' || doc_id), 1, 8))::BIGINT AS o
         |  FROM documents),
         |r AS (SELECT shard, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY shard ORDER BY o ASC, doc_id ASC) AS rn
         |  FROM t),
         |walk(shard, rn, n_tok, pack, fill) AS (
         |  SELECT shard, rn, n_tok, 0::BIGINT, n_tok FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.shard, r.rn, r.n_tok,
         |    CASE WHEN w.fill > 0 AND w.fill + r.n_tok > 64
         |         THEN w.pack + 1 ELSE w.pack END,
         |    CASE WHEN w.fill > 0 AND w.fill + r.n_tok > 64
         |         THEN r.n_tok ELSE w.fill + r.n_tok END
         |  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1)
         |SELECT shard, pack, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS used_tok,
         |  CAST(greatest(0, 64 - sum(n_tok)) AS BIGINT) AS waste_tok,
         |  CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize
         |FROM walk GROUP BY 1, 2""".stripMargin,

    // q200: the ordered-pipeline capstone — fp first-wins, quality ≥ 500,
    // the interleave windows, then the q198 walk per shard in POSITION
    // order; one manifest row per shard.
    "q200_ordered_pipeline" ->
      s"""WITH RECURSIVE tq AS (SELECT doc_id, source, text, $Toks AS toks
         |  FROM documents),
         |fpx AS (SELECT doc_id, source, toks,
         |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
         |  FROM tq),
         |dd AS (SELECT doc_id, source, toks FROM
         |   (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id ASC) AS drn
         |    FROM fpx)
         |  WHERE drn = 1),
         |qx AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
         |    CAST(round(1000.0 * (0.5 *
         |        (CAST(len(list_filter(toks,
         |           x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT)
         |         / CAST(len(toks) AS BIGINT))
         |      + 0.5 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)))
         |      AS BIGINT) AS qual
         |  FROM dd),
         |g AS (SELECT doc_id, source, n_tok FROM qx WHERE qual >= 500),
         |r AS (SELECT doc_id, source, n_tok,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
         |               doc_id ASC) AS rn
         |  FROM g),
         |k AS (SELECT doc_id, source, n_tok,
         |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
         |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
         |  FROM r),
         |o AS (SELECT doc_id, n_tok,
         |    CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos,
         |    ('0x' || substr(md5('pk2:' || doc_id), 1, 8))::BIGINT % 8 AS shard
         |  FROM k),
         |r3 AS (SELECT shard, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY shard ORDER BY pos ASC, doc_id ASC) AS rn
         |  FROM o),
         |w3(shard, rn, n_tok, pack, fill) AS (
         |  SELECT shard, rn, n_tok, 0::BIGINT, n_tok FROM r3 WHERE rn = 1
         |  UNION ALL
         |  SELECT r3.shard, r3.rn, r3.n_tok,
         |    CASE WHEN w3.fill > 0 AND w3.fill + r3.n_tok > 256
         |         THEN w3.pack + 1 ELSE w3.pack END,
         |    CASE WHEN w3.fill > 0 AND w3.fill + r3.n_tok > 256
         |         THEN r3.n_tok ELSE w3.fill + r3.n_tok END
         |  FROM w3 JOIN r3 ON r3.shard = w3.shard AND r3.rn = w3.rn + 1),
         |p3 AS (SELECT shard, pack, count(*) AS nd, sum(n_tok) AS used
         |  FROM w3 GROUP BY 1, 2)
         |SELECT shard, CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(used) AS BIGINT) AS used_tok,
         |  CAST(sum(greatest(0, 256 - used)) AS BIGINT) AS waste_tok
         |FROM p3 GROUP BY shard""".stripMargin,

    // q199: packing-order ablation — the q198 walk replayed twice, once
    // per stream order (arrival hash vs cost-descending).
    "q199_pack_order_ablation" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len($Toks) AS BIGINT) AS n_tok,
         |    ('0x' || substr(md5('pk2:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('pk2-ord:' || doc_id), 1, 8))::BIGINT AS o
         |  FROM documents),
         |r1 AS (SELECT shard, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY shard ORDER BY o ASC, doc_id ASC) AS rn
         |  FROM t),
         |w1(shard, rn, n_tok, pack, fill) AS (
         |  SELECT shard, rn, n_tok, 0::BIGINT, n_tok FROM r1 WHERE rn = 1
         |  UNION ALL
         |  SELECT r1.shard, r1.rn, r1.n_tok,
         |    CASE WHEN w1.fill > 0 AND w1.fill + r1.n_tok > 64
         |         THEN w1.pack + 1 ELSE w1.pack END,
         |    CASE WHEN w1.fill > 0 AND w1.fill + r1.n_tok > 64
         |         THEN r1.n_tok ELSE w1.fill + r1.n_tok END
         |  FROM w1 JOIN r1 ON r1.shard = w1.shard AND r1.rn = w1.rn + 1),
         |r2 AS (SELECT shard, doc_id, n_tok,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY n_tok DESC, doc_id ASC) AS rn
         |  FROM t),
         |w2(shard, rn, n_tok, pack, fill) AS (
         |  SELECT shard, rn, n_tok, 0::BIGINT, n_tok FROM r2 WHERE rn = 1
         |  UNION ALL
         |  SELECT r2.shard, r2.rn, r2.n_tok,
         |    CASE WHEN w2.fill > 0 AND w2.fill + r2.n_tok > 64
         |         THEN w2.pack + 1 ELSE w2.pack END,
         |    CASE WHEN w2.fill > 0 AND w2.fill + r2.n_tok > 64
         |         THEN r2.n_tok ELSE w2.fill + r2.n_tok END
         |  FROM w2 JOIN r2 ON r2.shard = w2.shard AND r2.rn = w2.rn + 1),
         |p1 AS (SELECT shard, pack, sum(n_tok) AS used,
         |    sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS n_over
         |  FROM w1 GROUP BY 1, 2),
         |p2 AS (SELECT shard, pack, sum(n_tok) AS used,
         |    sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS n_over
         |  FROM w2 GROUP BY 1, 2)
         |SELECT 'arrival_hash' AS strategy, CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(used) AS BIGINT) AS used_tok,
         |  CAST(sum(greatest(0, 64 - used)) AS BIGINT) AS waste_tok,
         |  CAST(sum(n_over) AS BIGINT) AS n_oversize
         |FROM p1
         |UNION ALL
         |SELECT 'size_desc', CAST(count(*) AS BIGINT),
         |  CAST(sum(used) AS BIGINT),
         |  CAST(sum(greatest(0, 64 - used)) AS BIGINT),
         |  CAST(sum(n_over) AS BIGINT)
         |FROM p2""".stripMargin,

    // q196: late-arrival audit — per-user running event-time max over
    // arrival order (event_id), lateness bucketed exactly.
    "q196_late_arrivals" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_us(ts) - (CASE WHEN h % 10 = 0
        |      THEN (h % 172800) * 1000000 ELSE 0 END) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS value_c
        |  FROM (SELECT *,
        |      ('0x' || substr(md5('late:' || event_id), 1, 8))::BIGINT AS h
        |    FROM events)),
        |l AS (SELECT *,
        |    max(ts_us) OVER (PARTITION BY user_id ORDER BY event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM ev),
        |b AS (SELECT value_c,
        |    CASE WHEN hwm IS NULL OR greatest(0, hwm - ts_us) = 0 THEN 'on_time'
        |         WHEN hwm - ts_us <= 3600000000 THEN 'late_1h'
        |         WHEN hwm - ts_us <= 86400000000 THEN 'late_1d'
        |         ELSE 'late_over_1d' END AS bucket,
        |    greatest(0, coalesce(hwm - ts_us, 0)) AS late_us
        |  FROM l)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(value_c) AS BIGINT) AS value_c,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us
        |FROM b GROUP BY bucket""".stripMargin,

    // q193: mixing-quality card — adjacency via the naive global lag()
    // (the single-task form the engine-side equi-join avoids).
    "q193_mixing_quality" ->
      """WITH seq AS (SELECT doc_id + 1 AS pos, source FROM documents),
        |shuf AS (SELECT CAST(row_number() OVER (
        |      ORDER BY ('0x' || substr(md5('shuf1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS BIGINT) AS pos, source
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents),
        |k AS (SELECT doc_id, source,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r),
        |cur AS (SELECT CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos,
        |    source
        |  FROM k),
        |lagd AS (
        |  SELECT 'sequential' AS ordering, source,
        |    lead(source) OVER (ORDER BY pos) AS next_source FROM seq
        |  UNION ALL
        |  SELECT 'shuffled', source, lead(source) OVER (ORDER BY pos) FROM shuf
        |  UNION ALL
        |  SELECT 'curriculum', source, lead(source) OVER (ORDER BY pos) FROM cur),
        |agg AS (SELECT ordering, CAST(count(*) AS BIGINT) AS n_adjacent,
        |    CAST(sum(CASE WHEN source = next_source THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |  FROM lagd WHERE next_source IS NOT NULL GROUP BY ordering),
        |sc AS (SELECT ordering, source, count(*) AS c FROM lagd
        |  WHERE source = next_source GROUP BY ordering, source),
        |md AS (SELECT ordering, source AS mode_same_source FROM (
        |    SELECT ordering, source, row_number() OVER (PARTITION BY ordering
        |      ORDER BY c DESC, source ASC) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT a.ordering, a.n_adjacent, a.n_same, md.mode_same_source,
        |  CAST((a.n_same * 1000000) // a.n_adjacent AS BIGINT) AS same_ppm
        |FROM agg a LEFT JOIN md ON a.ordering = md.ordering""".stripMargin,

    // q192: global deterministic shuffle — the naive twin IS the
    // single-task global window the operator exists to avoid.
    "q192_global_shuffle" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY ('0x' || substr(md5('shuf1:' || doc_id), 1, 8))::BIGINT ASC,
        |             doc_id ASC) AS BIGINT) AS pos,
        |  doc_id, source, n_chars
        |FROM documents""".stripMargin,

    // q190: shard manifest — q185's order in fixed 100-row shards;
    // ids_md5 is ORDER-SENSITIVE (ids joined in position order), so a
    // manifest mismatch catches both membership and ordering drift.
    "q190_curriculum_shards" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r),
        |ord AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos
        |  FROM k)
        |SELECT (pos - 1) // 100 AS shard,
        |  min(pos) AS first_pos, max(pos) AS last_pos,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos)) AS ids_md5
        |FROM ord GROUP BY 1""".stripMargin,

    // q186: prefix-mix audit — per source, doc counts within the first
    // m/8 of q185's order, checkpoints at m ∈ {1,2,4,8} (cp = total·m//8).
    "q186_mix_prefix_audit" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents),
        |k AS (SELECT source,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r),
        |ord AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos
        |  FROM k),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ord),
        |cps AS (SELECT CAST(v.m AS BIGINT) AS m,
        |    CAST((t.total * v.m) // 8 AS BIGINT) AS cp
        |  FROM t, (VALUES (1), (2), (4), (8)) AS v(m))
        |SELECT cps.m AS checkpoint_eighths, cps.cp AS checkpoint_rows,
        |  ord.source, CAST(count(*) AS BIGINT) AS n_docs
        |FROM ord JOIN cps ON ord.pos <= cps.cp
        |GROUP BY 1, 2, 3""".stripMargin,

    // q187: curriculum extension — standing (even ids) ordered as q185,
    // first ⌊N/2⌋ positions frozen; remainder = unserved tail ∪ arrivals
    // (odd ids) re-ranked behind the ACTUAL frozen count, arrivals
    // continuing each source's ladder at (n_standing + rn − 1)·stride.
    "q187_curriculum_extend" ->
      """WITH st0 AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0),
        |ar0 AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1),
        |r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM st0),
        |k AS (SELECT doc_id, source, n_chars,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r),
        |p AS (SELECT doc_id, source, n_chars, key,
        |    CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos
        |  FROM k),
        |w AS (SELECT count(*) // 2 AS w FROM st0),
        |frozen AS (SELECT doc_id, source, n_chars, pos FROM p, w WHERE pos <= w.w),
        |nst AS (SELECT source, count(*) AS n FROM st0 GROUP BY 1),
        |ra AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM ar0),
        |ka AS (SELECT ra.doc_id, ra.source, ra.n_chars,
        |    (coalesce(nst.n, 0) + ra.rn - 1) *
        |      (CASE ra.source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                      WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM ra LEFT JOIN nst USING (source)),
        |rem AS (SELECT doc_id, source, n_chars, key FROM p, w WHERE pos > w.w
        |        UNION ALL SELECT doc_id, source, n_chars, key FROM ka),
        |fc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM frozen)
        |SELECT pos, doc_id, source, n_chars, TRUE AS frozen FROM frozen
        |UNION ALL
        |SELECT CAST(fc.c + row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos,
        |  doc_id, source, n_chars, FALSE AS frozen
        |FROM rem, fc""".stripMargin,

    // q201: manifest diff across the q187 extension — the before order's
    // manifest vs the after order's, shards classified by order-
    // sensitive checksum equality.
    "q201_manifest_diff" ->
      """WITH st0 AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0),
        |ar0 AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM st0),
        |k AS (SELECT doc_id, source,
        |    (rn - 1) * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                            WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM r),
        |p AS (SELECT doc_id, source, key,
        |    CAST(row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT) AS pos
        |  FROM k),
        |w AS (SELECT count(*) // 2 AS w FROM st0),
        |frozen AS (SELECT doc_id, pos FROM p, w WHERE pos <= w.w),
        |nst AS (SELECT source, count(*) AS n FROM st0 GROUP BY 1),
        |ra AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('cur1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM ar0),
        |ka AS (SELECT ra.doc_id, ra.source,
        |    (coalesce(nst.n, 0) + ra.rn - 1) *
        |      (CASE ra.source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |                      WHEN 'src2' THEN 4 ELSE 8 END) AS key
        |  FROM ra LEFT JOIN nst USING (source)),
        |rem AS (SELECT doc_id, source, key FROM p, w WHERE pos > w.w
        |        UNION ALL SELECT doc_id, source, key FROM ka),
        |fc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM frozen),
        |aft AS (SELECT doc_id, pos FROM frozen
        |        UNION ALL
        |        SELECT doc_id,
        |          CAST(fc.c + row_number() OVER (ORDER BY key ASC, source ASC) AS BIGINT)
        |        FROM rem, fc),
        |mb AS (SELECT (pos - 1) // 100 AS shard,
        |    md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos)) AS m
        |  FROM p GROUP BY 1),
        |ma AS (SELECT (pos - 1) // 100 AS shard,
        |    md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos)) AS m
        |  FROM aft GROUP BY 1)
        |SELECT coalesce(mb.shard, ma.shard) AS shard,
        |  CASE WHEN mb.m IS NULL THEN 'new'
        |       WHEN mb.m = ma.m THEN 'unchanged'
        |       ELSE 'rewritten' END AS status
        |FROM mb FULL OUTER JOIN ma ON mb.shard = ma.shard""".stripMargin,

    // q156: TVD drift monitor — exact-integer cross-multiplied form
    // (Σ|ca·nb − cb·na|·1e6 // (2·na·nb)); the md5 half-split is q46's
    // bucket formula with the 'drift' salt, token count is q24's twin
    "q156_drift_tvd" ->
      s"""WITH base AS (SELECT doc_id, n_chars,
         |    CAST(len($Toks) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5('drift:' || doc_id), 1, 8))::BIGINT % 2 AS half
         |  FROM documents),
         |lf AS (SELECT half, n_chars, 'n_chars' AS feature, n_chars // 64 AS bin FROM base
         |       UNION ALL
         |       SELECT half, n_chars, 'n_tokens' AS feature, n_tokens // 8 AS bin FROM base),
         |rows_ AS (
         |  SELECT 'null_pair' AS comparison, feature, bin,
         |         CASE WHEN half = 0 THEN 'a' ELSE 'b' END AS split FROM lf
         |  UNION ALL
         |  SELECT 'len_biased', feature, bin, 'a' FROM lf WHERE half = 0
         |  UNION ALL
         |  SELECT 'len_biased', feature, bin, 'b' FROM lf
         |  WHERE half = 1 AND n_chars <= 306),
         |counts AS (SELECT comparison, feature, bin,
         |    CAST(sum(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM rows_ GROUP BY 1, 2, 3),
         |tot AS (SELECT comparison, feature,
         |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
         |  FROM counts GROUP BY 1, 2)
         |SELECT c.comparison, c.feature, t.na, t.nb,
         |  CAST(sum(abs(c.ca * t.nb - c.cb * t.na)) * 1000000 // (2 * t.na * t.nb) AS BIGINT) AS tvd_pm
         |FROM counts c JOIN tot t USING (comparison, feature)
         |GROUP BY c.comparison, c.feature, t.na, t.nb""".stripMargin,
    // q158: drift registry form — reference histogram (half 0) scored by
    // three arriving batches (half 1, doc_id % 3); same exact-integer
    // TVD arithmetic as q156, reference side pre-aggregated
    "q158_drift_registry" ->
      s"""WITH base AS (SELECT doc_id, n_chars,
         |    CAST(len($Toks) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5('drift:' || doc_id), 1, 8))::BIGINT % 2 AS half
         |  FROM documents),
         |lf AS (SELECT doc_id, half, 'n_chars' AS feature, n_chars // 64 AS bin FROM base
         |       UNION ALL
         |       SELECT doc_id, half, 'n_tokens' AS feature, n_tokens // 8 AS bin FROM base),
         |reg AS (SELECT feature, bin, CAST(count(*) AS BIGINT) AS ca
         |  FROM lf WHERE half = 0 GROUP BY 1, 2),
         |bat AS (SELECT doc_id % 3 AS batch_id, feature, bin,
         |    CAST(count(*) AS BIGINT) AS cb
         |  FROM lf WHERE half = 1 GROUP BY 1, 2, 3),
         |ids AS (SELECT DISTINCT batch_id FROM bat),
         |counts AS (SELECT batch_id, feature, bin,
         |    CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb FROM (
         |    SELECT ids.batch_id, reg.feature, reg.bin, ca, 0 AS cb
         |    FROM ids CROSS JOIN reg
         |    UNION ALL
         |    SELECT batch_id, feature, bin, 0, cb FROM bat)
         |  GROUP BY 1, 2, 3),
         |tot AS (SELECT batch_id, feature,
         |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
         |  FROM counts GROUP BY 1, 2)
         |SELECT c.batch_id, c.feature, t.na, t.nb,
         |  CAST(sum(abs(c.ca * t.nb - c.cb * t.na)) * 1000000 // (2 * t.na * t.nb) AS BIGINT) AS tvd_pm
         |FROM counts c JOIN tot t USING (batch_id, feature)
         |GROUP BY c.batch_id, c.feature, t.na, t.nb""".stripMargin,
    // q160: padded-batch waste audit — same shard/order hashes as the
    // engine (md5 'pb:'/'pb-ord:'), batches of 16 within (shard, bucket),
    // pad = n_rows*batch_max - n_tokens, rolled up per strategy
    "q160_padded_batches" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5('pb:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('pb-ord:' || doc_id), 1, 8))::BIGINT AS ord
         |  FROM documents),
         |rows_ AS (
         |  SELECT 'arrival' AS strategy, shard, 0 AS bucket, n_tokens, ord, doc_id FROM t
         |  UNION ALL
         |  SELECT 'bucketed32', shard, n_tokens // 32, n_tokens, ord, doc_id FROM t),
         |rn AS (SELECT *, row_number() OVER (PARTITION BY strategy, shard, bucket
         |    ORDER BY ord, doc_id) AS r FROM rows_),
         |b AS (SELECT strategy, shard, bucket, (r - 1) // 16 AS batch,
         |    count(*) AS n_rows, max(n_tokens) AS batch_max,
         |    sum(n_tokens) AS n_tokens
         |  FROM rn GROUP BY 1, 2, 3, 4)
         |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
         |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_rows * batch_max - n_tokens) AS BIGINT) AS n_pad,
         |  CAST((1000000 * sum(n_rows * batch_max - n_tokens)) //
         |       (sum(n_tokens) + sum(n_rows * batch_max - n_tokens)) AS BIGINT) AS pad_pm
         |FROM b GROUP BY strategy""".stripMargin,
    // q159: snapshot differ — the same simulated N+1 snapshot on both
    // sides (drop %7, rewrite %5, re-id %11); md5(text) is the content
    // identity, counts roll up per source
    "q159_snapshot_diff" ->
      s"""WITH prev AS (SELECT doc_id, md5(text) AS content, source FROM documents),
         |cur AS (
         |  SELECT doc_id,
         |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS content,
         |    source
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, md5(text), source
         |  FROM documents WHERE doc_id % 11 = 0),
         |j AS (SELECT coalesce(c.source, p.source) AS source,
         |    CASE WHEN p.doc_id IS NULL THEN 'added'
         |         WHEN c.doc_id IS NULL THEN 'removed'
         |         WHEN p.content <> c.content THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
         |SELECT source,
         |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY source""".stripMargin,
    // q127: SFT chat-template rendering — q59's session assignment, the
    // '<|role|>content\n' template, cumulative-length offset windows,
    // ordered string_agg/list rebuilds. Mask spans cover assistant
    // CONTENT only: start = cum + len(role) + 4 ('<|' + '|>'), end = cum
    // + len(segment) − 1 (trailing newline excluded); empty (not NULL)
    // lists when a session has no assistant turn. Mask lists are emitted
    // as canonical JSON strings (to_json, '[5,17]' / '[]') matching the
    // engine's public projection — the driver's pandas-based row sort
    // cannot factorize array cells (ContractSpec pins scalar-only
    // outputs repo-wide).
    "q127_sft_render" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    event_type, $CentsValue AS value_c FROM events),
         |s AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
         |      (PARTITION BY user_id ORDER BY ts_us, event_id)
         |      > ${Extensions.OneDayUs} THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |      ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT)
         |    AS session_seq
         |  FROM s),
         |seg AS (SELECT user_id, session_seq, ts_us, event_id,
         |    CASE WHEN event_type IN ('click', 'view', 'signup')
         |      THEN 'user' ELSE 'assistant' END AS role,
         |    event_type || '=' || value_c::VARCHAR AS content
         |  FROM g),
         |sg AS (SELECT *, '<|' || role || '|>' || content || chr(10) AS segment
         |  FROM seg),
         |o AS (SELECT *, COALESCE(sum(len(segment)) OVER
         |      (PARTITION BY user_id, session_seq ORDER BY ts_us, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM sg)
         |SELECT user_id, session_seq, count(*) AS n_turns,
         |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_assistant,
         |  string_agg(segment, '' ORDER BY ts_us, event_id) AS rendered,
         |  to_json(COALESCE(list(CAST(cum + len(role) + 4 AS BIGINT)
         |      ORDER BY ts_us, event_id)
         |    FILTER (WHERE role = 'assistant'), []::BIGINT[]))::VARCHAR
         |    AS mask_starts,
         |  to_json(COALESCE(list(CAST(cum + len(segment) - 1 AS BIGINT)
         |      ORDER BY ts_us, event_id)
         |    FILTER (WHERE role = 'assistant'), []::BIGINT[]))::VARCHAR
         |    AS mask_ends
         |FROM o GROUP BY user_id, session_seq""".stripMargin,

    // Morton spread: the standard mask cascade, identical longs on both
    // engines (pure BIGINT shifts/masks); bucket = top 4 z bits.
    "q90_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |a AS (SELECT lang, n, sum(n) OVER () AS tt FROM c),
        |b AS (SELECT lang, n, tt, (n * 500) // tt AS base,
        |    (n * 500) % tt AS rem FROM a),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |    500 - sum(base) OVER () AS leftover FROM b),
        |al AS (SELECT lang,
        |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc FROM r),
        |rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5('strat:' || doc_id), 1, 8))::BIGINT,
        |             doc_id) AS rn
        |  FROM documents)
        |SELECT rk.doc_id, rk.lang FROM rk JOIN al USING (lang)
        |WHERE rn <= alloc""".stripMargin,

    "q89_decayed_features" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        |w AS (SELECT user_id, value_c,
        |    CASE WHEN greatest(0, (1706659200000000 - t) // 259200000000) >= 20
        |         THEN 0
        |         ELSE 1000000 >> CAST(greatest(0,
        |           (1706659200000000 - t) // 259200000000) AS INTEGER)
        |    END AS weight
        |  FROM e)
        |SELECT user_id, CAST(sum(value_c * weight) AS BIGINT) AS decayed_ppm,
        |  CAST(sum(value_c) AS BIGINT) AS raw_sum, count(*) AS n
        |FROM w GROUP BY user_id""".stripMargin,

    "q88_time_split" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |s AS (SELECT user_id, t,
        |    CASE WHEN t < 1705881600000000 - 172800000000 THEN 'train'
        |         WHEN t >= 1705881600000000 THEN 'test'
        |         ELSE 'embargo' END AS split
        |  FROM e)
        |SELECT split, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(t) AS min_ts_us, max(t) AS max_ts_us
        |FROM s GROUP BY split""".stripMargin,

    "q86_zorder_layout" ->
      """WITH g AS (SELECT CAST(c_custkey % 256 AS BIGINT) AS gx,
        |    CAST((c_custkey * 7) % 256 AS BIGINT) AS gy FROM customer),
        |s1 AS (SELECT gx, gy, gx & 65535 AS ax, gy & 65535 AS ay FROM g),
        |s2 AS (SELECT *, (ax | (ax << 8)) & 16711935 AS bx,
        |    (ay | (ay << 8)) & 16711935 AS by FROM s1),
        |s3 AS (SELECT *, (bx | (bx << 4)) & 252645135 AS cx,
        |    (by | (by << 4)) & 252645135 AS cy FROM s2),
        |s4 AS (SELECT *, (cx | (cx << 2)) & 858993459 AS dx,
        |    (cy | (cy << 2)) & 858993459 AS dy FROM s3),
        |s5 AS (SELECT gx, gy, (dx | (dx << 1)) & 1431655765 AS ex,
        |    (dy | (dy << 1)) & 1431655765 AS ey FROM s4),
        |z AS (SELECT gx, gy, ex | (ey << 1) AS z FROM s5),
        |b AS (SELECT gx, gy, z, z >> 12 AS bucket FROM z)
        |SELECT bucket, count(*) AS n,
        |  min(gx) AS min_gx, max(gx) AS max_gx,
        |  min(gy) AS min_gy, max(gy) AS max_gy,
        |  min(z) AS z_lo, max(z) AS z_hi
        |FROM b GROUP BY bucket""".stripMargin,

    "q44_asof_join" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type,
         |    $CentsValue AS value_c FROM events),
         |u AS (
         |  SELECT user_id, t, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
         |    event_id AS p_id, value_c AS p_value_c
         |  FROM ev WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT user_id, t, 1 AS side, event_id,
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM ev WHERE event_type = 'click'),
         |w AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN p_id END IGNORE NULLS) OVER win AS m_p_id,
         |    last_value(CASE WHEN side = 0 THEN p_value_c END IGNORE NULLS) OVER win AS m_p_value_c,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS m_t
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, p_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, t AS ts_us, m_p_id, m_p_value_c,
         |  t - m_t AS m_age
         |FROM w WHERE side = 1""".stripMargin,

    "q52_asof_nearest" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type,
         |    $CentsValue AS value_c FROM events),
         |u AS (
         |  SELECT user_id, t, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
         |    event_id AS p_id, value_c AS p_value_c
         |  FROM ev WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT user_id, t, 1 AS side, event_id,
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM ev WHERE event_type = 'click'),
         |w AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN p_id END IGNORE NULLS) OVER wb AS b_id,
         |    last_value(CASE WHEN side = 0 THEN p_value_c END IGNORE NULLS) OVER wb AS b_v,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wb AS b_t,
         |    first_value(CASE WHEN side = 0 THEN p_id END IGNORE NULLS) OVER wf AS f_id,
         |    first_value(CASE WHEN side = 0 THEN p_value_c END IGNORE NULLS) OVER wf AS f_v,
         |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wf AS f_t
         |  FROM u
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, side, p_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY user_id ORDER BY t, side DESC, p_id DESC
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |n AS (SELECT event_id, user_id, t,
         |    b_id, b_v, b_t, f_id, f_v, f_t,
         |    (b_t IS NOT NULL AND (f_t IS NULL OR t - b_t <= f_t - t)) AS use_b
         |  FROM w WHERE side = 1)
         |SELECT event_id, user_id, t AS ts_us,
         |  CASE WHEN use_b THEN b_id WHEN f_t IS NOT NULL THEN f_id END AS m_p_id,
         |  CASE WHEN use_b THEN b_v WHEN f_t IS NOT NULL THEN f_v END AS m_p_value_c,
         |  CASE WHEN use_b THEN t - b_t WHEN f_t IS NOT NULL THEN f_t - t END AS m_age
         |FROM n""".stripMargin,

    "q45_range_join" ->
      s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS t,
         |    $CentsValue AS value_c FROM events),
         |a AS (SELECT event_id AS anchor_id, t AS lo,
         |    t + ${Extensions.SixHoursUs} AS hi FROM ev WHERE event_id % 97 = 0)
         |SELECT anchor_id, count(*) AS n_hits,
         |  CAST(sum(p.value_c) AS BIGINT) AS sum_value_c,
         |  min(p.event_id) AS min_id, max(p.event_id) AS max_id
         |FROM a JOIN ev p ON p.t >= a.lo AND p.t < a.hi
         |GROUP BY anchor_id""".stripMargin,

    "q46_hash_split" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('exp1:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b GROUP BY 1""".stripMargin,

    "q48_sequence_packing" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('pack-ord:' || doc_id), 1, 8))::BIGINT AS ord
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_after
        |  FROM b)
        |SELECT doc_id, shard, (cum_after - n_chars) // 4096 AS pack,
        |  (cum_after - n_chars) % 4096 AS offset_in_pack,
        |  ((cum_after - 1) // 4096) - ((cum_after - n_chars) // 4096) + 1 AS n_chunks
        |FROM c""".stripMargin,

    "q56_interval_overlap" ->
      s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS t FROM events),
         |a AS (SELECT event_id AS a_id, t AS a_lo,
         |    t + ${Extensions.SixHoursUs} AS a_hi FROM ev WHERE event_id % 97 = 0),
         |b AS (SELECT event_id AS b_id, t AS b_lo,
         |    t + ${Extensions.FourHoursUs} AS b_hi FROM ev WHERE event_id % 89 = 0)
         |SELECT a_id, count(*) AS n_overlaps,
         |  min(b_id) AS min_b, max(b_id) AS max_b
         |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
         |GROUP BY a_id""".stripMargin,

    "q54_balanced_mix" ->
      """WITH r AS (SELECT lang, source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY ('0x' || substr(md5('mix1:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM r WHERE rn <= 40
        |GROUP BY lang, source""".stripMargin,

    "q49_quality_gate" ->
      """WITH r AS (SELECT lang, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept, min(n_chars) AS cutoff_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_doc
        |FROM r WHERE (rn-1)*1000000 < 500000*n
        |GROUP BY lang""".stripMargin,

    "q59_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    $CentsValue AS value_c FROM events),
         |s AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
         |      (PARTITION BY user_id ORDER BY ts_us, event_id)
         |      > ${Extensions.ThirtyMinUs} THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |      ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT)
         |    AS session_seq
         |  FROM s)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |  min(ts_us) AS session_start, max(ts_us) AS session_end,
         |  CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration,
         |  CAST(sum(value_c) AS BIGINT) AS sum_value_c
         |FROM g GROUP BY user_id, session_seq""".stripMargin,

    // q116: cohort retention — identical week bucketing (epoch-anchored
    // floor division), distinct (user, week), per-user min week as the
    // cohort, offset rollup, cohort-size window, micro-unit share.
    "q116_cohort_retention" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
         |uw AS (SELECT DISTINCT user_id, wk FROM ev),
         |f AS (SELECT user_id, wk,
         |        min(wk) OVER (PARTITION BY user_id) AS cohort_week FROM uw),
         |o AS (SELECT cohort_week, wk - cohort_week AS week_offset FROM f),
         |r AS (SELECT cohort_week, week_offset, count(*) AS n_users
         |      FROM o GROUP BY cohort_week, week_offset),
         |s AS (SELECT *, sum(CASE WHEN week_offset = 0 THEN n_users END)
         |        OVER (PARTITION BY cohort_week) AS cohort_size FROM r)
         |SELECT cohort_week, week_offset, n_users,
         |  CAST((1000000 * n_users) // cohort_size AS BIGINT) AS retention_pm
         |FROM s""".stripMargin,

    // q119: the q68 union-window as-of twin CHAINED — stage 1 (view →
    // click) with scalar carries (every side-0 row has a non-null v_id,
    // so pairing is safe), stage 2 (click → purchase) with a STRUCT
    // carry so (c_id, its view match) stay atomic even when the nearest
    // click has no view.
    "q119_funnel3" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
         |  FROM events),
         |u1 AS (
         |  SELECT user_id, t, 0 AS side, CAST(NULL AS BIGINT) AS c_id,
         |    event_id AS rid
         |  FROM ev WHERE event_type = 'view'
         |  UNION ALL
         |  SELECT user_id, t, 1, event_id, CAST(NULL AS BIGINT)
         |  FROM ev WHERE event_type = 'click'),
         |w1 AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN rid END IGNORE NULLS) OVER win AS v_id,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS v_t
         |  FROM u1
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, rid
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ck AS (SELECT user_id, t, c_id,
         |    CASE WHEN v_t IS NOT NULL AND t - v_t <= ${Extensions.OneDayUs}
         |      THEN v_id END AS sv
         |  FROM w1 WHERE side = 1),
         |u2 AS (
         |  SELECT user_id, t, 0 AS side, c_id AS tb,
         |    struct_pack(c := c_id, sv := sv) AS pay,
         |    CAST(NULL AS BIGINT) AS p_id
         |  FROM ck
         |  UNION ALL
         |  SELECT user_id, t, 1, CAST(NULL AS BIGINT),
         |    CAST(NULL AS STRUCT(c BIGINT, sv BIGINT)), event_id
         |  FROM ev WHERE event_type = 'purchase'),
         |w2 AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN pay END IGNORE NULLS) OVER win AS m,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS m_t
         |  FROM u2
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, tb
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |p AS (SELECT user_id,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneHourUs}
         |      THEN m.c END AS hit_c,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneHourUs}
         |      THEN m.sv END AS hit_v
         |  FROM w2 WHERE side = 1)
         |SELECT user_id, count(*) AS n_purchases,
         |  count(hit_c) AS n_step2, count(hit_v) AS n_full,
         |  CAST((1000000 * count(hit_c)) // count(*) AS BIGINT) AS conv2_pm,
         |  CAST((1000000 * count(hit_v)) // count(*) AS BIGINT) AS conv_full_pm
         |FROM p GROUP BY user_id""".stripMargin,

    // q122: the q119 chained union-window twin extended one hop — signup
    // → view (7d) → click (24h) → purchase (1h), each hop carrying the
    // accumulated chain as ONE struct so (event, its upstream chain)
    // stay atomic exactly like the engine's funnelN fold.
    "q122_funnel4" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
         |  FROM events),
         |u1 AS (
         |  SELECT user_id, t, 0 AS side, CAST(NULL AS BIGINT) AS lid,
         |    event_id AS rid
         |  FROM ev WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT user_id, t, 1, event_id, CAST(NULL AS BIGINT)
         |  FROM ev WHERE event_type = 'view'),
         |w1 AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN rid END IGNORE NULLS) OVER win AS s_id,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS s_t
         |  FROM u1
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, rid
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |vw AS (SELECT user_id, t, lid AS v_id,
         |    CASE WHEN s_t IS NOT NULL AND t - s_t <= ${Extensions.SevenDayUs}
         |      THEN s_id END AS s1
         |  FROM w1 WHERE side = 1),
         |u2 AS (
         |  SELECT user_id, t, 0 AS side, v_id AS tb,
         |    struct_pack(v := v_id, s := s1) AS pay, CAST(NULL AS BIGINT) AS lid
         |  FROM vw
         |  UNION ALL
         |  SELECT user_id, t, 1, CAST(NULL AS BIGINT),
         |    CAST(NULL AS STRUCT(v BIGINT, s BIGINT)), event_id
         |  FROM ev WHERE event_type = 'click'),
         |w2 AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN pay END IGNORE NULLS) OVER win AS m,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS m_t
         |  FROM u2
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, tb
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ck AS (SELECT user_id, t, lid AS c_id,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneDayUs}
         |      THEN m.v END AS v2,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneDayUs}
         |      THEN m.s END AS s2
         |  FROM w2 WHERE side = 1),
         |u3 AS (
         |  SELECT user_id, t, 0 AS side, c_id AS tb,
         |    struct_pack(c := c_id, v := v2, s := s2) AS pay,
         |    CAST(NULL AS BIGINT) AS lid
         |  FROM ck
         |  UNION ALL
         |  SELECT user_id, t, 1, CAST(NULL AS BIGINT),
         |    CAST(NULL AS STRUCT(c BIGINT, v BIGINT, s BIGINT)), event_id
         |  FROM ev WHERE event_type = 'purchase'),
         |w3 AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN pay END IGNORE NULLS) OVER win AS m,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS m_t
         |  FROM u3
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, tb
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |p AS (SELECT user_id,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneHourUs}
         |      THEN m.c END AS hit_c,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneHourUs}
         |      THEN m.v END AS hit_v,
         |    CASE WHEN m_t IS NOT NULL AND t - m_t <= ${Extensions.OneHourUs}
         |      THEN m.s END AS hit_s
         |  FROM w3 WHERE side = 1)
         |SELECT user_id, count(*) AS n_purchases,
         |  count(hit_c) AS n_click, count(hit_v) AS n_view,
         |  count(hit_s) AS n_full,
         |  CAST((1000000 * count(hit_s)) // count(*) AS BIGINT) AS conv_full_pm
         |FROM p GROUP BY user_id""".stripMargin,

    // The q44 union-window as-of twin with the 1h attribution window
    // (m_t older than t − maxAge ⇒ no conversion), rolled up per user.
    "q68_funnel" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
         |  FROM events),
         |u AS (
         |  SELECT user_id, t, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
         |    event_id AS c_id
         |  FROM ev WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, t, 1 AS side, event_id, CAST(NULL AS BIGINT)
         |  FROM ev WHERE event_type = 'purchase'),
         |w AS (SELECT *,
         |    last_value(CASE WHEN side = 0 THEN c_id END IGNORE NULLS) OVER win AS m_c_id,
         |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER win AS m_t
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, c_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |p AS (SELECT user_id,
         |    CASE WHEN m_t >= t - ${Extensions.OneHourUs} THEN m_c_id END AS hit
         |  FROM w WHERE side = 1)
         |SELECT user_id, count(*) AS n_purchases, count(hit) AS n_converted,
         |  CAST(round(1000000.0 * count(hit) / count(*)) AS BIGINT) AS conv_pm
         |FROM p GROUP BY user_id""".stripMargin,

    "q69_rolling_window" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |  CAST(sum($CentsValue) OVER w AS BIGINT) AS roll_sum_c,
         |  count(*) OVER w AS roll_cnt
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN ${Extensions.OneDayUs} PRECEDING AND CURRENT ROW)""".stripMargin,

    // The PLAIN join — q66 salts the Spark side; salting must be invisible
    // in the output.
    "q66_salted_join" ->
      s"""WITH e AS (SELECT user_id, event_id, $CentsValue AS value_c FROM events),
         |d AS (SELECT user_id, count(*) AS n_user_events FROM e GROUP BY user_id)
         |SELECT e.user_id, count(*) AS n, CAST(sum(value_c) AS BIGINT) AS sum_value_c,
         |  max(n_user_events) AS n_user_events
         |FROM e JOIN d USING (user_id) GROUP BY e.user_id""".stripMargin,
  )

  /** Corpus-curation twins ([[Curation]]). */
  private lazy val ContaminationTwin: String =
    s"""WITH b AS (SELECT doc_id, text,
       |    ('0x' || substr(md5('exp1:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
       |  FROM documents),
       |t AS (SELECT doc_id, bucket, $Toks AS toks FROM b),
       |s AS (SELECT doc_id, bucket, unnest(${shingleList("toks")}) AS sh FROM t),
       |p AS (SELECT doc_id, sh FROM s WHERE bucket >= 95),
       |c AS (SELECT doc_id AS doc_c, sh FROM s WHERE bucket < 90),
       |sz AS (SELECT doc_id, count(*) AS n_shingles FROM p GROUP BY doc_id),
       |j AS (SELECT doc_id, count(DISTINCT sh) AS n_contaminated,
       |    count(DISTINCT doc_c) AS n_corpus_docs
       |  FROM (SELECT p.doc_id, p.sh, c.doc_c FROM p JOIN c USING (sh))
       |  GROUP BY doc_id)
       |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       |  CAST(n_contaminated AS BIGINT) AS n_contaminated,
       |  CAST(n_corpus_docs AS BIGINT) AS n_corpus_docs
       |FROM j JOIN sz USING (doc_id)""".stripMargin

  /** Generated twin of q105 ([[Curation.q105BpeMerges]]) — the BPE merge
    * loop unrolled as a CTE chain, one `(pair count → argmax → greedy
    * merge)` block per iteration, exactly mirroring
    * [[graft.operators.Bpe.trainMerges]]: overlapping pair occurrences
    * all count; ties break (count desc, l asc, r asc); greedy
    * left-to-right = keep the alternating positions of each consecutive
    * match run (`(pos − run_start) % 2 = 0`); consumed right halves
    * vanish via the pos+1 anti-join.
    */
  /** One greedy merge pass as SQL CTEs over the lead-extended table `$p`
    * (emitted by [[bpeLeadSql]]): given the 1-row pair table `$b`,
    * `$m`/`$kp` compute the alternating keep-positions of each match run
    * and `$dst` rebuilds the renumbered next generation. `cols`/`tcols`
    * carry the passthrough columns ("w, f" train-side, "w" apply-side).
    */
  private def bpePassSql(p: String, b: String,
                         m: String, kp: String, dst: String,
                         cols: String, tcols: String): String =
    s"""$m AS (SELECT p.w, p.pos,
       |    row_number() OVER (PARTITION BY p.w ORDER BY p.pos) AS rn
       |  FROM $p p, $b b WHERE p.sym = b.l AND p.nxt = b.r),
       |$kp AS (SELECT w, pos FROM (
       |    SELECT w, pos, pos - min(pos) OVER (PARTITION BY w, pos - rn) AS off
       |    FROM $m) WHERE off % 2 = 0),
       |$dst AS MATERIALIZED (SELECT $cols,
       |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym FROM (
       |    SELECT $tcols, t.pos,
       |      CASE WHEN c.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END AS sym
       |    FROM $p t
       |    LEFT JOIN $kp c ON t.w = c.w AND t.pos = c.pos
       |    LEFT JOIN $kp v ON t.w = v.w AND t.pos = v.pos + 1
       |    WHERE v.pos IS NULL)),
       |""".stripMargin

  private def bpeLeadSql(p: String, src: String, cols: String): String =
    s"""$p AS MATERIALIZED (SELECT $cols, pos, sym,
       |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $src),
       |""".stripMargin

  /** The TRAINING chain: top-`topV` vocabulary, char explode, then per
    * iteration (pair count+argmax `b\$k`, merge pass `s\$k`). Shared by
    * [[bpeSql]] (q105, emits the merge table) and [[bpeApplySql]] (q106,
    * replays `b1..bN` over the full distinct-word list).
    */
  private def bpeTrainCtes(nMerges: Int, topV: Int,
      wordsSrc: String = s"SELECT unnest($Toks) AS w FROM documents"): String = {
    val sb = new StringBuilder
    sb ++= s"""v0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f
              |  FROM ($wordsSrc)
              |  GROUP BY w ORDER BY f DESC, w ASC LIMIT $topV),
              |s0 AS MATERIALIZED (SELECT w, f, CAST(i AS BIGINT) AS pos,
              |    substring(w, CAST(i AS INT), 1) AS sym
              |  FROM (SELECT w, f, unnest(range(1, length(w) + 1)) AS i FROM v0)),
              |""".stripMargin
    for (k <- 1 to nMerges) {
      sb ++= bpeLeadSql(s"p$k", s"s${k - 1}", "w, f")
      sb ++= s"""b$k AS MATERIALIZED (SELECT sym AS l, nxt AS r, CAST(sum(f) AS BIGINT) AS cnt
                |  FROM p$k WHERE nxt IS NOT NULL GROUP BY 1, 2
                |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
                |""".stripMargin
      sb ++= bpePassSql(s"p$k", s"b$k",
        s"m$k", s"kp$k", s"s$k", "w, f", "t.w, t.f")
    }
    sb.toString
  }

  private def bpeSql(nMerges: Int, topV: Int): String = {
    val union = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS merge_rank, l, r, l || r AS merged,
         |  cnt AS pair_count FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${bpeTrainCtes(nMerges, topV)}mg AS (\n$union)\nSELECT * FROM mg"
  }

  /** Generated twin of q106 ([[Curation.q106BpeSegment]]): train (the
    * [[bpeTrainCtes]] chain), then APPLY `b1..bN` in rank order over the
    * corpus' full distinct-word list — the same merge-pass blocks, minus
    * the pair-count argmax. Empty words vanish on both sides (no symbols
    * to explode).
    */
  /** The APPLY chain (`aw0` distinct words from `wordsSrc` → char explode
    * → one merge-pass block per trained rule `b1..bN`), shared by
    * [[bpeApplySql]] (q106) and [[pipelineV2Sql]] (q109).
    */
  private def bpeApplyCtes(nMerges: Int, wordsSrc: String): String = {
    val sb = new StringBuilder
    sb ++= s"""aw0 AS MATERIALIZED (SELECT DISTINCT w FROM ($wordsSrc)),
              |a0 AS MATERIALIZED (SELECT w, CAST(i AS BIGINT) AS pos,
              |    substring(w, CAST(i AS INT), 1) AS sym
              |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM aw0)),
              |""".stripMargin
    for (k <- 1 to nMerges) {
      sb ++= bpeLeadSql(s"ap$k", s"a${k - 1}", "w")
      sb ++= bpePassSql(s"ap$k", s"b$k",
        s"am$k", s"akp$k", s"a$k", "w", "t.w")
    }
    sb.toString
  }

  private def bpeApplySql(nMerges: Int, topV: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeTrainCtes(nMerges, topV)
    sb ++= bpeApplyCtes(nMerges,
      s"SELECT unnest($Toks) AS w FROM documents")
    s"WITH ${sb.toString}seg AS (SELECT w, " +
      s"""string_agg(sym, ' ' ORDER BY pos) AS pieces,
         |  CAST(count(*) AS BIGINT) AS n_pieces FROM a$nMerges GROUP BY w)
         |SELECT * FROM seg""".stripMargin
  }

  /** Generated twin of q109 ([[Curation.q109PipelineV2]]) — the composed
    * pipeline as one CTE chain: the q100 span-dedup CTEs restricted to
    * docs that kept >= 1 block (`rb`), the q103 bigram-fluency arithmetic
    * re-sourced to the REBUILT text, the q104 tercile bound at t33 only
    * (head+middle survive), then the q105/q106 BPE train+apply chains
    * ([[bpeTrainCtes]]/[[bpeApplyCtes]]) re-sourced to the survivors'
    * token stream, rolled up to per-language fertility.
    */
  private def pipelineV2Sql(nMerges: Int, topV: Int): String = {
    val sb = new StringBuilder
    // stage 1: span dedup (q100's CTEs; kept-nothing docs drop out because
    // `rb` groups only surviving blocks)
    sb ++= s"""sd0 AS (SELECT doc_id, $Toks AS toks FROM documents),
              |sdb AS (SELECT doc_id, pos,
              |    array_to_string(toks[pos*3+1 : pos*3+3], ' ') AS blk
              |  FROM (SELECT doc_id, toks,
              |          unnest(range(CAST(ceil(len(toks)/3.0) AS BIGINT))) AS pos
              |        FROM sd0)),
              |sdw AS (SELECT doc_id, pos, blk FROM (
              |    SELECT doc_id, pos, blk,
              |      row_number() OVER (PARTITION BY blk ORDER BY doc_id, pos) AS rn
              |    FROM sdb) WHERE rn = 1),
              |rb AS MATERIALIZED (SELECT s.doc_id, d.lang,
              |    CAST(count(*) AS BIGINT) AS kept_blocks,
              |    string_agg(blk, ' ' ORDER BY s.pos) AS new_text
              |  FROM sdw s JOIN documents d ON s.doc_id = d.doc_id
              |  GROUP BY s.doc_id, d.lang),
              |""".stripMargin
    // stage 2: q103's fluency arithmetic over new_text + the q104 t33 gate
    sb ++= """t AS (SELECT doc_id, string_split_regex(trim(new_text), '\s+') AS toks
             |      FROM rb),
             |bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
             |       FROM (SELECT doc_id, toks,
             |               unnest(range(1, len(toks))) AS i FROM t)),
             |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
             |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
             |v AS (SELECT count(DISTINCT tok) AS v
             |      FROM (SELECT unnest(toks) AS tok FROM t)),
             |p AS (SELECT doc_id, (1000000 * (c2 + 1)) // (c1 + v) AS p_micro
             |      FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
             |f AS (SELECT doc_id,
             |        CAST(sum(p_micro) // count(*) AS BIGINT) AS fluency_pm
             |      FROM p GROUP BY doc_id),
             |fl AS (SELECT f.doc_id, rb.lang, rb.kept_blocks, rb.new_text,
             |        f.fluency_pm
             |       FROM f JOIN rb ON f.doc_id = rb.doc_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY lang
             |          ORDER BY fluency_pm, doc_id) AS rn,
             |        count(*) OVER (PARTITION BY lang) AS n FROM fl),
             |cuts AS (SELECT lang,
             |    min(CASE WHEN (rn-1)*1000000 < 333333*n AND 333333*n <= rn*1000000
             |             THEN fluency_pm END) AS q_t33
             |  FROM rk GROUP BY lang),
             |sv AS MATERIALIZED (SELECT fl.doc_id, fl.lang, fl.kept_blocks,
             |    fl.new_text
             |  FROM fl JOIN cuts USING (lang) WHERE fluency_pm > q_t33),
             |wds AS MATERIALIZED (SELECT lang,
             |    unnest(string_split_regex(trim(new_text), '\s+')) AS w FROM sv),
             |wf AS MATERIALIZED (SELECT lang, w, CAST(count(*) AS BIGINT) AS n
             |  FROM wds GROUP BY lang, w),
             |""".stripMargin
    // stage 3: BPE train on the survivors' token stream, apply to their
    // distinct words
    sb ++= bpeTrainCtes(nMerges, topV, "SELECT w FROM wds")
    sb ++= bpeApplyCtes(nMerges, "SELECT w FROM wds")
    s"WITH ${sb.toString}" +
      s"""seg AS (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
         |  FROM a$nMerges GROUP BY w),
         |agg1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(kept_blocks) AS BIGINT) AS kept_blocks
         |  FROM sv GROUP BY lang),
         |agg2 AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
         |    CAST(sum(n * n_pieces) AS BIGINT) AS n_pieces
         |  FROM wf JOIN seg USING (w) GROUP BY lang)
         |SELECT lang, n_docs, kept_blocks, n_tokens, n_pieces,
         |  (1000000 * n_pieces) // n_tokens AS fertility_pm
         |FROM agg1 JOIN agg2 USING (lang)""".stripMargin
  }

  // q157: exact-integer Okapi BM25 (k1=6/5, b=3/4 cross-multiplied;
  // TermStats.bm25TopK derives the formula). HUGEINT mirrors Spark's
  // DECIMAL(38,0) products; all operands positive, so // and div agree.
  // Shared with q162: registry-served BM25 must be bit-identical to the
  // full rebuild, so the FULL-corpus SQL is its oracle by design.
  private lazy val Bm25Top5Sql =
    s"""WITH tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM documents)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM documents WHERE doc_id % 25 = 0)
         |  WHERE length(term) >= 1),
         |sc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |agg AS (SELECT q_id, doc, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(s_pm) AS BIGINT) AS score_pm FROM sc GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM agg)
         |SELECT q_id, CAST(rk AS BIGINT) AS "rank", doc AS doc_id, n_terms, score_pm
         |FROM r WHERE rk <= 5""".stripMargin

  // q175/q177: windowed (±5 forward) co-occurrence counts + PMI-lift —
  // row-local pair generation mirrored as list lambdas, self-pairs
  // dropped, minPairCount 3 gate BEFORE the margin joins, lift_micro =
  // (1e6·c_ab·n_tok) // (c_a·c_b), the idf_micro integer rule. q177's
  // engine side folds three doc-keyed batches; same full-corpus SQL
  // (fold ≡ rebuild).
  private lazy val TermAssocSql: String =
    s"""WITH t AS (SELECT $Toks AS toks FROM documents),
       |pr AS (SELECT unnest(flatten(list_transform(range(1, len(toks)+1), i ->
       |    list_transform(range(i+1, least(i+5, len(toks))+1), j ->
       |      struct_pack(a := least(toks[i], toks[j]),
       |                  b := greatest(toks[i], toks[j])))))) AS p FROM t),
       |cab AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS c_ab
       |  FROM pr WHERE p.a <> p.b GROUP BY 1, 2 HAVING count(*) >= 3),
       |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok
       |  FROM (SELECT unnest(toks) AS w FROM t))
       |SELECT cab.a, cab.b, cab.c_ab,
       |  (1000000 * cab.c_ab * tot.n_tok) // (ca.c_w * cb.c_w) AS lift_micro
       |FROM cab JOIN cw ca ON cab.a = ca.w JOIN cw cb ON cab.b = cb.w
       |CROSS JOIN tot""".stripMargin

  /** The impact serve + `hit_exact` audit SQL shared by q204 and
    * q206–q210 (the engine side is `Curation.impactServeAudit`): the
    * full-corpus truncated-index serve (per term top-m(n) by tf desc, dl
    * asc, doc asc; m(n) = GREATEST(64, ceil(n_docs/625)) — the calibrated
    * TermStats.impactM, integer arithmetic on both sides), the exact
    * rescore, and the unpruned top-5 the audit flags against. `keep`:
    * the retained-doc predicate the corpus CTEs are filtered to (a
    * retention query's surviving docs; queries still come from the
    * unretained table). `querySlice`: queries are the docs with
    * `doc_id % querySlice = 0`.
    */
  private def impactServeSql(querySlice: Int,
                             keep: Option[String] = None): String = {
    val retained = keep.fold("")(p => s"\n       |     WHERE $p")
    s"""WITH tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
       |    (SELECT doc_id, unnest($Toks) AS term FROM documents$retained)
       |  WHERE length(term) >= 1 GROUP BY 1, 2),
       |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
       |qt AS (SELECT DISTINCT q_id, term FROM
       |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
       |     FROM documents WHERE doc_id % $querySlice = 0)
       |  WHERE length(term) >= 1),
       |trunc AS (SELECT doc, term FROM (SELECT tf.doc, tf.term,
       |    row_number() OVER (PARTITION BY tf.term
       |      ORDER BY tf.tf DESC, dl.dl ASC, tf.doc ASC) AS ir
       |  FROM tf JOIN dl USING (doc))
       |  WHERE ir <= (SELECT GREATEST(64, (n_docs + 624) // 625)
       |               FROM corpus)),
       |cand AS (SELECT DISTINCT qt.q_id, trunc.doc FROM qt
       |  JOIN trunc USING (term)),
       |resc AS (SELECT c.q_id, p.doc, p.term, p.tf FROM cand c
       |  JOIN tf p ON p.doc = c.doc
       |  JOIN qt ON qt.q_id = c.q_id AND qt.term = p.term),
       |sc AS (SELECT q_id, doc,
       |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
       |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
       |  FROM resc JOIN dfq USING (term) JOIN dl USING (doc)
       |       CROSS JOIN corpus),
       |agg AS (SELECT q_id, doc, CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(s_pm) AS BIGINT) AS score_pm FROM sc GROUP BY 1, 2),
       |p5 AS (SELECT q_id, doc, n_terms, score_pm, CAST(rk AS BIGINT) AS "rank"
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_pm DESC, doc ASC) AS rk FROM agg) WHERE rk <= 5),
       |esc AS (SELECT q_id, doc,
       |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
       |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
       |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
       |       JOIN dl USING (doc) CROSS JOIN corpus),
       |ea AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
       |  FROM esc GROUP BY 1, 2),
       |e5 AS (SELECT q_id, doc FROM (SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY score_pm DESC, doc ASC) AS rk
       |  FROM ea) WHERE rk <= 5)
       |SELECT p5.q_id, p5."rank", p5.doc AS doc_id, p5.n_terms, p5.score_pm,
       |  CAST(CASE WHEN e5.doc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS hit_exact
       |FROM p5 LEFT JOIN e5 ON p5.q_id = e5.q_id AND p5.doc = e5.doc""".stripMargin
  }

  private val curationBase: Map[String, String] = Map(
    // q197: quality deciles (exact rank arithmetic, the naive global
    // window form) × near-dup membership (q43's cluster nodes), with
    // q165's quality formula.
    "q197_quality_calibration" ->
      s"""WITH $MinhashPairsCtes,
         |f AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |dn AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_a AS doc_id FROM f UNION SELECT doc_b FROM f)),
         |tq AS (SELECT doc_id, $Toks AS toks FROM documents),
         |qual AS (SELECT doc_id,
         |    CAST(round(1000.0 * (0.5 *
         |        (CAST(len(list_filter(toks,
         |           x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT)
         |         / CAST(len(toks) AS BIGINT))
         |      + 0.5 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)))
         |      AS BIGINT) AS quality_milli
         |  FROM tq),
         |r AS (SELECT doc_id, quality_milli,
         |    CAST(row_number() OVER (ORDER BY quality_milli ASC, doc_id ASC)
         |      AS BIGINT) AS qrank,
         |    CAST(count(*) OVER () AS BIGINT) AS n_total
         |  FROM qual),
         |g2 AS (SELECT r.*,
         |    CASE WHEN dn.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
         |    CAST(((qrank - 1) * 10) // n_total AS BIGINT) AS decile
         |  FROM r LEFT JOIN dn USING (doc_id))
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(is_dup) AS BIGINT) AS n_near_dup,
         |  CAST((1000000 * sum(is_dup)) // count(*) AS BIGINT) AS near_dup_ppm,
         |  CAST(sum(quality_milli) AS BIGINT) AS quality_mass_milli,
         |  min(quality_milli) AS q_min, max(quality_milli) AS q_max
         |FROM g2 GROUP BY decile""".stripMargin,

    // q194: LTR feature table — q161's exact-integer BM25 chain for the
    // candidates, cosPm per pair, q27's shingle Jaccard restricted to
    // candidate pairs, integer length-ratio prior.
    "q194_ltr_features" ->
      s"""WITH cd AS (SELECT d.* FROM documents d
         |    JOIN embeddings e ON d.doc_id = e.vec_id),
         |ce AS (SELECT e.* FROM embeddings e
         |    JOIN documents d ON e.vec_id = d.doc_id),
         |tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM cd)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM cd WHERE doc_id % 25 = 0)
         |  WHERE length(term) >= 1),
         |sc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |agg AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM sc WHERE q_id <> doc GROUP BY 1, 2),
         |cand AS (SELECT q_id, doc AS doc_id, CAST(rk AS BIGINT) AS "rank",
         |    score_pm AS bm25_pm FROM
         |    (SELECT q_id, doc, score_pm, row_number() OVER (PARTITION BY q_id
         |       ORDER BY score_pm DESC, doc ASC) AS rk FROM agg)
         |  WHERE rk <= 5),
         |cosf AS (SELECT cand.q_id, cand.doc_id,
         |    ${cosPm("qe.embedding", "de2.embedding")} AS cos_pm
         |  FROM cand JOIN ce qe ON qe.vec_id = cand.q_id
         |       JOIN ce de2 ON de2.vec_id = cand.doc_id),
         |t2 AS (SELECT doc_id, $Toks AS toks FROM cd),
         |shg AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t2),
         |szf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shg GROUP BY 1),
         |intf AS (SELECT cand.q_id, cand.doc_id, CAST(count(*) AS BIGINT) AS inter
         |  FROM cand JOIN shg a ON a.doc_id = cand.q_id
         |       JOIN shg b ON b.doc_id = cand.doc_id AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |tkf AS (SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tok FROM cd)
         |SELECT cand.q_id, cand.doc_id, cand."rank", cand.bm25_pm, cosf.cos_pm,
         |  (1000000 * coalesce(intf.inter, 0))
         |    // (qs.n_sh + cs.n_sh - coalesce(intf.inter, 0)) AS jac_pm,
         |  (1000000 * least(qt2.n_tok, ct2.n_tok))
         |    // greatest(qt2.n_tok, ct2.n_tok) AS len_ratio_pm
         |FROM cand
         |JOIN cosf USING (q_id, doc_id)
         |LEFT JOIN intf USING (q_id, doc_id)
         |JOIN szf qs ON qs.doc_id = cand.q_id
         |JOIN szf cs ON cs.doc_id = cand.doc_id
         |JOIN tkf qt2 ON qt2.doc_id = cand.q_id
         |JOIN tkf ct2 ON ct2.doc_id = cand.doc_id""".stripMargin,

    // q203: df-capped pruned BM25 + exact-recall audit — candidates
    // from rare terms (2·df ≤ N, all-head queries fall back to all
    // terms), exact rescore of candidates, hit_exact against the
    // unpruned top-5.
    "q203_bm25_pruned" ->
      s"""WITH tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM documents)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM documents WHERE doc_id % 100 = 0)
         |  WHERE length(term) >= 1),
         |qx AS (SELECT qt.q_id, qt.term,
         |    CASE WHEN dfq.df * 1000000 <= 500000 * corpus.n_docs
         |         THEN 1 ELSE 0 END AS rare
         |  FROM qt JOIN dfq USING (term) CROSS JOIN corpus),
         |qflag AS (SELECT q_id, max(rare) AS has_rare FROM qx GROUP BY q_id),
         |gen AS (SELECT qx.q_id, qx.term FROM qx JOIN qflag USING (q_id)
         |  WHERE rare = 1 OR has_rare = 0),
         |cand AS (SELECT DISTINCT gen.q_id, tf.doc FROM gen
         |  JOIN tf USING (term)),
         |resc AS (SELECT c.q_id, p.doc, p.term, p.tf FROM cand c
         |  JOIN tf p ON p.doc = c.doc
         |  JOIN qt ON qt.q_id = c.q_id AND qt.term = p.term),
         |sc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM resc JOIN dfq USING (term) JOIN dl USING (doc)
         |       CROSS JOIN corpus),
         |agg AS (SELECT q_id, doc, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(s_pm) AS BIGINT) AS score_pm FROM sc GROUP BY 1, 2),
         |p5 AS (SELECT q_id, doc, n_terms, score_pm, CAST(rk AS BIGINT) AS "rank"
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM agg) WHERE rk <= 5),
         |esc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |ea AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM esc GROUP BY 1, 2),
         |e5 AS (SELECT q_id, doc FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score_pm DESC, doc ASC) AS rk
         |  FROM ea) WHERE rk <= 5)
         |SELECT p5.q_id, p5."rank", p5.doc AS doc_id, p5.n_terms, p5.score_pm,
         |  CAST(CASE WHEN e5.doc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS hit_exact
         |FROM p5 LEFT JOIN e5 ON p5.q_id = e5.q_id AND p5.doc = e5.doc""".stripMargin,

    // q205: the impact-index monotone merge — the ENGINE truncates the
    // standing (even-id) half, unions the odd-id batch postings, and
    // re-truncates; this SQL computes the full-corpus top-64 in ONE
    // window, never seeing the split. Hash equality = the append-only
    // top-m merge theorem, verified in a second engine.
    "q205_impact_merge" ->
      s"""WITH tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM documents)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |idx AS (SELECT doc, term, tf, dl FROM (SELECT tf.doc, tf.term,
         |    tf.tf, dl.dl, row_number() OVER (PARTITION BY tf.term
         |      ORDER BY tf.tf DESC, dl.dl ASC, tf.doc ASC) AS ir
         |  FROM tf JOIN dl USING (doc)) WHERE ir <= 64)
         |SELECT term, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(tf) AS BIGINT) AS tf_sum,
         |  CAST(sum(doc) AS BIGINT) AS doc_sum,
         |  CAST(sum(dl) AS BIGINT) AS dl_sum
         |FROM idx GROUP BY 1""".stripMargin,

    // q204 and q206–q210 share one serve + audit SQL (impactServeSql);
    // each engine side lands the corpus differently, and hash equality
    // with this from-scratch form pins that landing path:
    //  - q204: in-lineage truncation at the calibrated depth;
    //  - q206: two registry folds (+ a compaction) served from the
    //    materialized stats/impact artifacts — ingest additivity, the
    //    on-disk merge, the materialized df/corpus arithmetic;
    //  - q207: two epoch folds, epoch 0 (doc_id % 3 = 0) retired, the
    //    index rebuilt at the depth RECALIBRATED to the retained count;
    //  - q209: the same retained corpus reached through three epoch
    //    folds (the drop-only arm and crash contract are spec-pinned in
    //    ImpactSegmentsSpec — a row hash can't see them);
    //  - q208: the registry published as doc/term-bucketed catalog
    //    tables — the layout must move ZERO rows;
    //  - q210: the same tables grown by O(batch) appends across three
    //    micro-batches (stream ≡ one-shot publish and the no-registry-
    //    shuffle plan live in StreamBatchEquivalenceSpec /
    //    BucketedServeSpec).
    // Retention queries draw queries from the UNRETAINED doc table — a
    // retired query doc still serves, against retained docs only. Each
    // query has its own slice so no two rows mask each other.
    "q204_bm25_impact" -> impactServeSql(50),
    "q206_impact_registry_serve" -> impactServeSql(40),
    "q207_impact_retain_serve" -> impactServeSql(80, Some("doc_id % 3 <> 0")),
    "q208_bucketed_serve" -> impactServeSql(48),
    "q209_segmented_retain_serve" -> impactServeSql(60, Some("doc_id % 3 <> 0")),
    "q210_stream_grown_serve" -> impactServeSql(72),

    // q202: retrieval serve capstone — the q168 RM3 chain on the
    // doc∩emb slice (%50 queries, feedback pass self-inclusive), the
    // expanded lexical leg self-excluded, RRF-fused with the q161 dense
    // leg, and the q194 feature CTEs joined over the fused top-3. One
    // from-scratch SQL against the engine's registry-composed form.
    "q202_retrieval_serve" ->
      s"""WITH cd AS (SELECT d.* FROM documents d
         |    JOIN embeddings e ON d.doc_id = e.vec_id),
         |ce AS (SELECT e.* FROM embeddings e
         |    JOIN documents d ON e.vec_id = d.doc_id),
         |tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM cd)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM cd WHERE doc_id % 50 = 0)
         |  WHERE length(term) >= 1),
         |bsc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |bagg AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM bsc GROUP BY 1, 2),
         |br AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM bagg),
         |b5 AS (SELECT q_id, doc FROM br WHERE rk <= 5),
         |fbt AS (SELECT b5.q_id, t.term, CAST(sum(t.tf) AS BIGINT) AS fb_tf
         |  FROM b5 JOIN tf t ON b5.doc = t.doc GROUP BY 1, 2),
         |fbx AS (SELECT f.q_id, f.term,
         |    f.fb_tf * ((1000000 * corpus.n_docs) // dfq.df) AS fb_w
         |  FROM fbt f
         |  JOIN dfq ON f.term = dfq.term CROSS JOIN corpus
         |  LEFT JOIN qt ON f.q_id = qt.q_id AND f.term = qt.term
         |  WHERE qt.term IS NULL),
         |er AS (SELECT q_id, term FROM (SELECT q_id, term,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY fb_w DESC, term ASC) AS rn FROM fbx) WHERE rn <= 3),
         |eqt AS (SELECT q_id, term FROM qt
         |  UNION ALL SELECT q_id, term FROM er),
         |esc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM eqt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |eagg AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM esc WHERE q_id <> doc GROUP BY 1, 2),
         |lex AS (SELECT q_id AS q, doc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM eagg),
         |dq AS (SELECT vec_id AS qid, embedding AS qv FROM ce WHERE vec_id % 50 = 0),
         |ds AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
         |  FROM (SELECT vec_id AS cid, embedding AS cv FROM ce) c, dq
         |  WHERE cid <> qid),
         |den AS (SELECT qid AS q, cid AS doc, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos_pm DESC, cid ASC) AS rk FROM ds),
         |contrib AS (
         |  SELECT q, doc, 1000000 // (60 + rk) AS rrf_pm FROM lex WHERE rk <= 5
         |  UNION ALL
         |  SELECT q, doc, 1000000 // (60 + rk) FROM den WHERE rk <= 5),
         |fused0 AS (SELECT q, doc, CAST(sum(rrf_pm) AS BIGINT) AS rrf_pm,
         |    CAST(count(*) AS BIGINT) AS n_legs FROM contrib GROUP BY 1, 2),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY q
         |    ORDER BY rrf_pm DESC, doc ASC) AS rnk FROM fused0),
         |cand AS (SELECT q AS q_id, doc AS doc_id, CAST(rnk AS BIGINT) AS "rank",
         |    rrf_pm, n_legs FROM fr WHERE rnk <= 3),
         |cosf AS (SELECT cand.q_id, cand.doc_id,
         |    ${cosPm("qe.embedding", "de2.embedding")} AS cos_pm
         |  FROM cand JOIN ce qe ON qe.vec_id = cand.q_id
         |       JOIN ce de2 ON de2.vec_id = cand.doc_id),
         |t2 AS (SELECT doc_id, $Toks AS toks FROM cd),
         |shg AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t2),
         |szf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shg GROUP BY 1),
         |intf AS (SELECT cand.q_id, cand.doc_id, CAST(count(*) AS BIGINT) AS inter
         |  FROM cand JOIN shg a ON a.doc_id = cand.q_id
         |       JOIN shg b ON b.doc_id = cand.doc_id AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |tkf AS (SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tok FROM cd)
         |SELECT cand.q_id, cand.doc_id, cand."rank", cand.rrf_pm, cand.n_legs,
         |  cosf.cos_pm,
         |  (1000000 * coalesce(intf.inter, 0))
         |    // (qs.n_sh + cs.n_sh - coalesce(intf.inter, 0)) AS jac_pm,
         |  (1000000 * least(qt2.n_tok, ct2.n_tok))
         |    // greatest(qt2.n_tok, ct2.n_tok) AS len_ratio_pm
         |FROM cand
         |JOIN cosf USING (q_id, doc_id)
         |LEFT JOIN intf USING (q_id, doc_id)
         |JOIN szf qs ON qs.doc_id = cand.q_id
         |JOIN szf cs ON cs.doc_id = cand.doc_id
         |JOIN tkf qt2 ON qt2.doc_id = cand.q_id
         |JOIN tkf ct2 ON ct2.doc_id = cand.doc_id""".stripMargin,

    // q191: dedup-method agreement — the three pair generators replayed
    // with their registered queries' exact definitions (q26 normalized
    // fp, q67 simhash ≤ 3, q28 LSH ≥ 8), flags folded per pair, ONE
    // card row. CTE names chosen clear of MinhashPairsCtes' t/s/bh/g/b/k/p/e.
    "q191_dedup_agreement" ->
      s"""WITH $MinhashPairsCtes,
         |mh AS (SELECT doc_a, doc_b FROM e WHERE n_sig_equal >= 8),
         |fpt AS (SELECT doc_id,
         |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |ex AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM fpt x JOIN fpt y ON x.fp = y.fp AND x.doc_id < y.doc_id),
         |tok2 AS (SELECT doc_id, unnest($Toks) AS tk FROM documents),
         |h2 AS (SELECT doc_id, ${hash32("'0'", "tk")} AS hv FROM tok2),
         |v2 AS (SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS vote
         |  FROM h2 CROSS JOIN (SELECT unnest(range(0,32)) AS j) GROUP BY doc_id, j),
         |f2 AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
         |      AS simhash
         |  FROM v2 GROUP BY doc_id),
         |sh2 AS (SELECT a.doc_id AS doc_a, b3.doc_id AS doc_b
         |  FROM f2 a JOIN f2 b3 ON a.doc_id < b3.doc_id
         |  WHERE bit_count(xor(a.simhash, b3.simhash)) <= 3),
         |tagged AS (SELECT doc_a, doc_b, 'e' AS m FROM ex
         |  UNION ALL SELECT doc_a, doc_b, 's' FROM sh2
         |  UNION ALL SELECT doc_a, doc_b, 'h' FROM mh),
         |flags AS (SELECT doc_a, doc_b,
         |    max(CASE WHEN m = 'e' THEN 1 ELSE 0 END) AS fe,
         |    max(CASE WHEN m = 's' THEN 1 ELSE 0 END) AS fs,
         |    max(CASE WHEN m = 'h' THEN 1 ELSE 0 END) AS fh
         |  FROM tagged GROUP BY 1, 2)
         |SELECT CAST(sum(fe) AS BIGINT) AS n_exact,
         |  CAST(sum(fs) AS BIGINT) AS n_simhash,
         |  CAST(sum(fh) AS BIGINT) AS n_minhash,
         |  CAST(sum(fe * fs) AS BIGINT) AS n_exact_simhash,
         |  CAST(sum(fe * fh) AS BIGINT) AS n_exact_minhash,
         |  CAST(sum(fs * fh) AS BIGINT) AS n_simhash_minhash,
         |  CAST(sum(fe * fs * fh) AS BIGINT) AS n_all3,
         |  CAST(count(*) AS BIGINT) AS n_union
         |FROM flags""".stripMargin,

    // q181: count^{3/4} as sqrt·sqrt∘sqrt (correctly-rounded composition
    // — bit-portable where pow(c,0.75) is libm-dependent), ppm weights
    // via the sorted fold, 1M draws by cumulative-share differencing
    // (the q126 HUGEINT telescoping).
    "q181_negative_sampling" ->
      s"""WITH t AS (SELECT $Toks AS toks FROM documents),
         |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w
         |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |tt AS (SELECT list_reduce([0.0] ||
         |    list_sort(list(sqrt(c_w) * sqrt(sqrt(c_w)))),
         |    (a, b) -> a + b) AS tot FROM cw),
         |wt AS (SELECT w, c_w, CAST(round(1000000.0 * sqrt(c_w) *
         |    sqrt(sqrt(c_w)) / tot) AS BIGINT) AS weight_pm
         |  FROM cw CROSS JOIN tt),
         |ap AS (SELECT *, sum(weight_pm) OVER () AS tw,
         |    sum(weight_pm) OVER (ORDER BY w ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM wt)
         |SELECT w, c_w, weight_pm,
         |  CAST((1000000::HUGEINT * cum) // tw
         |    - (1000000::HUGEINT * (cum - weight_pm)) // tw AS BIGINT)
         |    AS n_draws
         |FROM ap""".stripMargin,
    "q175_term_associations" -> TermAssocSql,
    "q177_term_associations_inc" -> TermAssocSql,
    "q157_bm25_topk" -> Bm25Top5Sql,
    "q162_bm25_registry" -> Bm25Top5Sql,
    // q166: known-item eval card over the q157 machinery — the source
    // doc is the gold answer; hit@1/hit@3/integer MRR. Aggregates
    // without GROUP BY so a zero-hit index still yields one zero row.
    "q166_retrieval_eval" ->
      s"""WITH base AS ($Bm25Top5Sql),
         |hits AS (SELECT q_id, "rank" FROM base WHERE doc_id = q_id),
         |nq AS (SELECT count(*) AS n_queries FROM documents
         |       WHERE doc_id % 25 = 0),
         |agg AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN "rank" = 1 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_hit1,
         |    CAST(coalesce(sum(CASE WHEN "rank" <= 3 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_hit3,
         |    CAST(coalesce(sum(1000000 // "rank"), 0) AS BIGINT) AS rr_sum
         |  FROM hits)
         |SELECT nq.n_queries, agg.n_hit1, agg.n_hit3,
         |  CAST(agg.rr_sum // nq.n_queries AS BIGINT) AS mrr_pm
         |FROM agg CROSS JOIN nq""".stripMargin,
    // q167: graded nDCG@5 over the q157 lists — rel = 5 for the known
    // item else n_terms, gain = 2^rel − 1, discounts the SAME
    // Scala-computed floor(1e6/log2(1+r)) constants the engine joins
    // (TermStats.ndcgWeightPm interpolated below; no SQL log anywhere,
    // so no cross-engine FP can reach the hash). Ideal rank re-ranks the
    // same gains (gain desc, rank asc — equal-gain permutations cannot
    // change Σ gain·w).
    "q167_ndcg_eval" -> {
      val w = (1 to 5).map(r =>
        s"($r, ${graft.operators.TermStats.ndcgWeightPm(r)})").mkString(", ")
      s"""WITH base AS ($Bm25Top5Sql),
         |w(rk, w_pm) AS (VALUES $w),
         |g AS (SELECT q_id, "rank" AS rk,
         |    (1::BIGINT << (CASE WHEN doc_id = q_id THEN 5 ELSE n_terms END))
         |      - 1 AS gain
         |  FROM base),
         |iw AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY gain DESC, rk ASC) AS irk FROM g),
         |a AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_ret,
         |    CAST(sum(gain * wa.w_pm) AS BIGINT) AS dcg_pm,
         |    CAST(sum(gain * wi.w_pm) AS BIGINT) AS idcg_pm
         |  FROM iw JOIN w wa ON iw.rk = wa.rk JOIN w wi ON iw.irk = wi.rk
         |  GROUP BY q_id)
         |SELECT q_id, n_ret, dcg_pm, idcg_pm,
         |  CAST(CASE WHEN idcg_pm = 0 THEN 0
         |       ELSE (1000000 * dcg_pm) // idcg_pm END AS BIGINT) AS ndcg_pm
         |FROM a""".stripMargin
    },
    // q168: RM3 pseudo-relevance feedback — pass 1 is q157's chain
    // (self-retrieval allowed), feedback term mass = (tf summed over each
    // query's top-5 docs) · idf_pm with the original terms anti-joined
    // away (the idf tilt keeps stopword-class terms out — the operator
    // scaladoc prices why), top-3 by fb_w desc / term asc, pass 2
    // re-scores the expanded term set against the same index CTEs.
    "q168_rm3_expansion" ->
      s"""WITH tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM documents)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM documents WHERE doc_id % 50 = 0)
         |  WHERE length(term) >= 1),
         |bsc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |bagg AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM bsc GROUP BY 1, 2),
         |br AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM bagg),
         |b5 AS (SELECT q_id, doc FROM br WHERE rk <= 5),
         |fbt AS (SELECT b5.q_id, t.term, CAST(sum(t.tf) AS BIGINT) AS fb_tf
         |  FROM b5 JOIN tf t ON b5.doc = t.doc GROUP BY 1, 2),
         |fbx AS (SELECT f.q_id, f.term,
         |    f.fb_tf * ((1000000 * corpus.n_docs) // dfq.df) AS fb_w
         |  FROM fbt f
         |  JOIN dfq ON f.term = dfq.term CROSS JOIN corpus
         |  LEFT JOIN qt ON f.q_id = qt.q_id AND f.term = qt.term
         |  WHERE qt.term IS NULL),
         |er AS (SELECT q_id, term FROM (SELECT q_id, term,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY fb_w DESC, term ASC) AS rn FROM fbx) WHERE rn <= 3),
         |eqt AS (SELECT q_id, term FROM qt
         |  UNION ALL SELECT q_id, term FROM er),
         |esc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM eqt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |eagg AS (SELECT q_id, doc, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(s_pm) AS BIGINT) AS score_pm FROM esc GROUP BY 1, 2),
         |erk AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM eagg)
         |SELECT q_id, CAST(rk AS BIGINT) AS "rank", doc AS doc_id, n_terms,
         |  score_pm
         |FROM erk WHERE rk <= 5""".stripMargin,
    // q161: hybrid RRF — q157's BM25 stack (corpus restricted to docs
    // with an embedding twin, self-retrieval excluded pre-rank) + q30's
    // exact-cosine leg, fused by 1e6 // (60 + rank) and re-ranked. All
    // integer beyond the dense leg's pinned cosine formula.
    "q161_hybrid_rrf" ->
      s"""WITH cd AS (SELECT d.* FROM documents d
         |    JOIN embeddings e ON d.doc_id = e.vec_id),
         |ce AS (SELECT e.* FROM embeddings e
         |    JOIN documents d ON e.vec_id = d.doc_id),
         |tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($Toks) AS term FROM cd)
         |  WHERE length(term) >= 1 GROUP BY 1, 2),
         |dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS a_tok FROM dl),
         |qt AS (SELECT DISTINCT q_id, term FROM
         |    (SELECT doc_id AS q_id, unnest(($Toks)[1:4]) AS term
         |     FROM cd WHERE doc_id % 25 = 0)
         |  WHERE length(term) >= 1),
         |sc AS (SELECT q_id, doc,
         |    (CAST((1000000 * n_docs) // df AS HUGEINT) * tf * 44 * a_tok) //
         |    (20 * CAST(a_tok AS HUGEINT) * tf + 6 * a_tok + 18 * n_docs * dl) AS s_pm
         |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       JOIN dl USING (doc) CROSS JOIN corpus),
         |agg AS (SELECT q_id, doc, CAST(sum(s_pm) AS BIGINT) AS score_pm
         |  FROM sc WHERE q_id <> doc GROUP BY 1, 2),
         |lex AS (SELECT q_id AS q, doc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score_pm DESC, doc ASC) AS rk FROM agg),
         |dq AS (SELECT vec_id AS qid, embedding AS qv FROM ce WHERE vec_id % 25 = 0),
         |ds AS (SELECT qid, cid, ${cosPm("qv", "cv")} AS cos_pm
         |  FROM (SELECT vec_id AS cid, embedding AS cv FROM ce) c, dq
         |  WHERE cid <> qid),
         |den AS (SELECT qid AS q, cid AS doc, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos_pm DESC, cid ASC) AS rk FROM ds),
         |contrib AS (
         |  SELECT q, doc, 1000000 // (60 + rk) AS rrf_pm FROM lex WHERE rk <= 5
         |  UNION ALL
         |  SELECT q, doc, 1000000 // (60 + rk) FROM den WHERE rk <= 5),
         |fused AS (SELECT q, doc, CAST(sum(rrf_pm) AS BIGINT) AS rrf_pm,
         |    CAST(count(*) AS BIGINT) AS n_legs FROM contrib GROUP BY 1, 2),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY q
         |    ORDER BY rrf_pm DESC, doc ASC) AS rnk FROM fused)
         |SELECT q AS q_id, CAST(rnk AS BIGINT) AS "rank", doc AS doc_id,
         |  rrf_pm, n_legs
         |FROM fr WHERE rnk <= 3""".stripMargin,
    // q125: overlapping token-window chunking — window 24, stride 16;
    // window count = 1 + ceil((n-24)/16) (integer //), list slicing is
    // 1-based inclusive on both engines via slice/toks[a:b].
    "q125_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks, n,
         |        unnest(range(0, ((greatest(n - 24, 0) + 15) // 16) + 1)) AS i
         |      FROM n)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(i*16 AS BIGINT) AS start_tok,
         |  CAST(least(24, n - i*16) AS BIGINT) AS n_tok,
         |  array_to_string(toks[(i*16+1):(i*16+24)], ' ') AS chunk_text,
         |  md5(array_to_string(toks[(i*16+1):(i*16+24)], ' ')) AS chunk_hash
         |FROM c""".stripMargin,

    // q126: data-constrained epoch allocation — q64's sqrt-weight fold
    // over per-source token supply, the 100k budget apportioned by
    // cumulative-share differencing (floor(B·cum/W) diffed per source —
    // telescopes to B exactly for any weight rounding; HUGEINT products
    // mirror the engine's DECIMAL(38,0)), 4.0-epoch (micro) cap,
    // shortfall as starved_tokens. All-integer beyond the sorted sqrt
    // fold.
    "q126_epoch_allocation" ->
      s"""WITH c AS (SELECT source,
         |    CAST(sum(len($Toks)) AS BIGINT) AS u_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT list_reduce([0.0] || list_sort(list(sqrt(u_tokens))),
         |    (a, b) -> a + b) AS tot FROM c),
         |wt AS (SELECT source, u_tokens,
         |    CAST(round(1000000.0 * sqrt(u_tokens) / tot) AS BIGINT) AS weight_pm
         |  FROM c CROSS JOIN t),
         |ap AS (SELECT *, sum(weight_pm) OVER () AS w,
         |    sum(weight_pm) OVER (ORDER BY source ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM wt),
         |tg AS (SELECT source, u_tokens, weight_pm,
         |    (100000::HUGEINT * cum) // w
         |      - (100000::HUGEINT * (cum - weight_pm)) // w AS target
         |  FROM ap)
         |SELECT source, u_tokens, weight_pm,
         |  CAST(target AS BIGINT) AS target_tokens,
         |  CAST(least(4000000, (1000000::HUGEINT * target) // u_tokens)
         |    AS BIGINT) AS epochs_micro,
         |  CAST(least(target, (4000000::HUGEINT * u_tokens) // 1000000)
         |    AS BIGINT) AS served_tokens,
         |  CAST(target - least(target, (4000000::HUGEINT * u_tokens) // 1000000)
         |    AS BIGINT) AS starved_tokens
         |FROM tg""".stripMargin,

    // q132: dataset card — q26's normalized fingerprint (global
    // first-wins rn), q25's marker-word language guess, q24's stopword
    // list, rolled up per source in integer micro/milli units.
    "q132_dataset_card" ->
      s"""WITH t AS (SELECT doc_id, source, lang, $Toks AS toks,
         |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |s AS (SELECT doc_id, source, lang, fp,
         |    CAST(len(toks) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      x -> x IN ('the','a','of','to','in','is','and'))) AS BIGINT)
         |      AS n_stop,
         |    len(list_filter(toks, x -> x IN ('the','a','is'))) AS s_en,
         |    len(list_filter(toks, x -> x IN ('der','die','das'))) AS s_de,
         |    len(list_filter(toks, x -> x IN ('le','la','les'))) AS s_fr,
         |    len(list_filter(toks, x -> x IN ('el','los','las'))) AS s_es
         |  FROM t),
         |g AS (SELECT *, CASE
         |    WHEN s_en = greatest(s_en,s_de,s_fr,s_es) AND s_en > 0 THEN 'en'
         |    WHEN s_de = greatest(s_en,s_de,s_fr,s_es) AND s_de > 0 THEN 'de'
         |    WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) AND s_fr > 0 THEN 'fr'
         |    WHEN s_es = greatest(s_en,s_de,s_fr,s_es) AND s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_guess,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
         |  FROM s)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST((1000 * sum(n_tok)) // count(*) AS BIGINT)
         |    AS mean_tokens_milli,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST((1000000 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END))
         |    // count(*) AS BIGINT) AS dup_pm,
         |  CAST((1000000 * sum(CASE WHEN lang_guess = lang THEN 1 ELSE 0 END))
         |    // count(*) AS BIGINT) AS lang_match_pm,
         |  CAST(sum((1000000 * n_stop) // n_tok) // count(*) AS BIGINT)
         |    AS stop_pm_mean
         |FROM g GROUP BY source""".stripMargin,

    // q130: content-defined chunking — boundary when the 2-gram hash
    // (seed 7, the engine's md5-prefix hash32) lands in residue class 0
    // mod 8; chunk ids by prefix-sum of markers, ordered rebuild.
    "q130_cdc_chunks" ->
      s"""WITH ${cdcCtes("documents", "")}
         |SELECT doc_id, chunk_seq, n_tok, chunk_text, chunk_hash
         |FROM g""".stripMargin,

    // q131: CDC registry dedup — the shift-invariance payoff: incoming
    // docs (doc_id % 3 = 0) CDC-chunked and checked against the hash
    // registry of the rest of the corpus; only never-seen chunks count
    // as new content, rolled up per doc with the ordered fresh rebuild.
    "q131_cdc_dedup_inc" ->
      s"""WITH inc AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id::BIGINT % 3 = 0),
         |ex AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id::BIGINT % 3 <> 0),
         |${cdcCtes("inc", "i")},
         |${cdcCtes("ex", "x")},
         |reg AS (SELECT DISTINCT chunk_hash FROM xg),
         |f AS (SELECT ig.*, CASE WHEN reg.chunk_hash IS NULL THEN 1 ELSE 0 END
         |        AS isnew
         |      FROM ig LEFT JOIN reg ON ig.chunk_hash = reg.chunk_hash)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |  CAST(sum(isnew) AS BIGINT) AS new_chunks,
         |  CAST(sum(CASE WHEN isnew = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS new_tok,
         |  COALESCE(string_agg(chunk_text, ' ' ORDER BY chunk_seq)
         |    FILTER (WHERE isnew = 1), '') AS new_text
         |FROM f GROUP BY doc_id""".stripMargin,

    // q129: pipeline v5 — q125's chunk CTE → first-wins fingerprint
    // dedup → the q112 packing twin (salt "ridx", budget 256) → per-
    // shard rollup.
    "q129_retrieval_index" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(least(24, n - i*16) AS BIGINT) AS cost,
         |    md5(array_to_string(toks[(i*16+1):(i*16+24)], ' ')) AS chunk_hash
         |  FROM (SELECT doc_id, toks, n,
         |          unnest(range(0, ((greatest(n - 24, 0) + 15) // 16) + 1)) AS i
         |        FROM n)),
         |dd AS (SELECT doc_id || ':' || chunk_idx::VARCHAR AS chunk_id, cost
         |  FROM (SELECT *, row_number() OVER (PARTITION BY chunk_hash
         |          ORDER BY doc_id ASC, chunk_idx ASC) AS rn FROM ch)
         |  WHERE rn = 1),
         |b AS (SELECT chunk_id, cost,
         |    ('0x' || substr(md5('ridx:' || chunk_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('ridx-ord:' || chunk_id), 1, 8))::BIGINT AS ord
         |  FROM dd),
         |c AS (SELECT chunk_id, shard, cost,
         |    CAST(sum(cost) OVER (PARTITION BY shard ORDER BY ord, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_after
         |  FROM b),
         |p AS (SELECT chunk_id, shard, cost,
         |    (cum_after - cost) // 256 AS pack,
         |    ((cum_after - 1) // 256) - ((cum_after - cost) // 256) + 1 AS n_chunks
         |  FROM c)
         |SELECT shard, pack, count(*) AS n_chunks_packed,
         |  CAST(sum(cost) AS BIGINT) AS shard_tokens,
         |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_straddlers
         |FROM p GROUP BY shard, pack""".stripMargin,

    // q128: unigram segmentation — same substring-support vocabulary
    // (top-40 multi + alphabet), segmentation by EXHAUSTIVE enumeration
    // of piece tilings (recursive CTE; words are ≤8 chars so the path
    // count is tetranacci-bounded) ranked by the engine's exact
    // objective. The engine runs per-position Viterbi DP; hash equality
    // proves DP ≡ global enumeration under (np, −score, lex).
    "q128_unigram_segment" ->
      s"""WITH RECURSIVE ${unigramSegCtes("documents", 40)}
         |SELECT useg.w, CAST(wf.f AS BIGINT) AS f,
         |  CAST(np AS BIGINT) AS n_pieces, sc AS score, pieces
         |FROM useg JOIN wf ON useg.w = wf.w""".stripMargin,

    // q133: tokenizer comparison — the q105/q106 BPE train+apply chain
    // and the q128 unigram chain over the SAME corpus vocabulary,
    // joined per word and rolled up to frequency-weighted fertility
    // (milli tokens-per-word) plus who-segments-shorter counts.
    "q133_tokenizer_compare" -> {
      // bpe chains arrive pre-stripped (they stripMargin internally);
      // only the body literal (which embeds the NOT-pre-stripped
      // unigram chain) is stripped here — stripping the bpe chains
      // again would eat the first bar of line-leading '||' concats.
      val bpe = bpeTrainCtes(8, 500) +
        bpeApplyCtes(8, s"SELECT unnest($Toks) AS w FROM documents")
      val body =
        s"""seg AS (SELECT w, CAST(count(*) AS BIGINT) AS bpe_pieces
           |  FROM a8 GROUP BY w),
           |${unigramSegCtes("documents", 40)},
           |j AS (SELECT wf.w, wf.f, seg.bpe_pieces,
           |    CAST(useg.np AS BIGINT) AS uni_pieces
           |  FROM wf JOIN seg ON wf.w = seg.w JOIN useg ON wf.w = useg.w)
           |SELECT count(*) AS n_words, CAST(sum(f) AS BIGINT) AS total_tokens,
           |  CAST((1000 * sum(f * bpe_pieces)) // sum(f) AS BIGINT)
           |    AS bpe_fertility_milli,
           |  CAST((1000 * sum(f * uni_pieces)) // sum(f) AS BIGINT)
           |    AS uni_fertility_milli,
           |  CAST(sum(CASE WHEN uni_pieces < bpe_pieces THEN 1 ELSE 0 END)
           |    AS BIGINT) AS uni_shorter,
           |  CAST(sum(CASE WHEN bpe_pieces < uni_pieces THEN 1 ELSE 0 END)
           |    AS BIGINT) AS bpe_shorter
           |FROM j""".stripMargin
      s"WITH RECURSIVE $bpe$body"
    },

    // q136: unigram hard-EM — stage 1 is the q128 chain (seed scores =
    // substring support); stage 2 re-scores pieces by usage under the
    // stage-1 segmentation (multis not used are PRUNED, singles always
    // survive with their usage), then enumerates again under the
    // refined vocabulary. Hash equality pins E→M→E end to end.
    "q136_unigram_em" ->
      s"""WITH RECURSIVE ${unigramSegCtes("documents", 40)},
         |u2 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS score FROM (
         |    SELECT wf.f, unnest(string_split(useg.pieces, ' ')) AS piece
         |    FROM useg JOIN wf ON useg.w = wf.w) GROUP BY piece),
         |v2 AS (SELECT s.piece, CAST(COALESCE(u2.score, 0) AS BIGINT) AS score
         |       FROM (SELECT piece FROM sub WHERE len(piece) = 1) s
         |       LEFT JOIN u2 ON s.piece = u2.piece
         |       UNION ALL
         |       SELECT piece, score FROM u2 WHERE len(piece) >= 2),
         |paths2(w, pos, np, sc, seg) AS (
         |  SELECT w, 0, 0, 0::BIGINT, '' FROM wf
         |  UNION ALL
         |  SELECT p.w, p.pos + CAST(tj.j AS INT), p.np + 1,
         |         p.sc + COALESCE(v.score, 0),
         |         p.seg || ' ' || substr(p.w, p.pos + 1, CAST(tj.j AS INT))
         |  FROM paths2 p
         |  CROSS JOIN unnest(range(1, 5)) AS tj(j)
         |  LEFT JOIN v2 v
         |    ON v.piece = substr(p.w, p.pos + 1, CAST(tj.j AS INT))
         |  WHERE p.pos + tj.j <= len(p.w) AND (tj.j = 1 OR v.piece IS NOT NULL)
         |),
         |udone2 AS (SELECT w, np, sc, ltrim(seg) AS pieces
         |           FROM paths2 WHERE pos = len(w)),
         |useg2 AS (SELECT w, np, sc, pieces FROM
         |  (SELECT *, row_number() OVER (PARTITION BY w
         |     ORDER BY np ASC, sc DESC, pieces ASC) AS rn FROM udone2)
         |  WHERE rn = 1)
         |SELECT useg2.w, CAST(wf.f AS BIGINT) AS f,
         |  CAST(np AS BIGINT) AS n_pieces, sc AS score, pieces
         |FROM useg2 JOIN wf ON useg2.w = wf.w""".stripMargin,

    // q110: DSIR importance resampling — unigram+bigram OCCURRENCES
    // hashed with the portable md5 base hash into 1024 buckets; raw-side
    // (source != src0) docs scored by the exact integer arithmetic
    // likelihood ratio vs the src0 target model: per-bucket add-one
    // counts share the corpus denominator, so score_pm = (1e6 *
    // sum(ct+1)) // sum(cr+1) over the doc's occurrences; top 100 by
    // (score_pm DESC, md5(doc_id) ASC) — the derandomized Gumbel.
    "q110_dsir_select" ->
      s"""WITH t AS (SELECT doc_id, source, $Toks AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, source, f FROM (
         |    SELECT doc_id, source, unnest(toks) AS f FROM t
         |    UNION ALL
         |    SELECT doc_id, source, toks[i] || ' ' || toks[i+1] AS f
         |    FROM (SELECT doc_id, source, toks,
         |            unnest(range(1, len(toks))) AS i FROM t))),
         |fb AS (SELECT doc_id, source,
         |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
         |       FROM feats),
         |tc AS (SELECT b, count(*) AS ct FROM fb WHERE source = 'src0' GROUP BY b),
         |rc AS (SELECT b, count(*) AS cr FROM fb WHERE source <> 'src0' GROUP BY b),
         |stats AS (SELECT rc.b, coalesce(ct, 0) + 1 AS st, cr + 1 AS sr
         |          FROM rc LEFT JOIN tc USING (b)),
         |scored AS (SELECT doc_id, count(*) AS n_feats,
         |             CAST((1000000 * sum(st)) // sum(sr) AS BIGINT) AS score_pm
         |           FROM fb JOIN stats ON fb.b = stats.b
         |           WHERE source <> 'src0' GROUP BY doc_id)
         |SELECT doc_id, n_feats, score_pm FROM scored
         |ORDER BY score_pm DESC, md5(doc_id::VARCHAR) ASC LIMIT 100""".stripMargin,

    // q111: T5 span corruption — identical hash-Bernoulli mask
    // (md5(doc:pos) % 1000 < 150), identical run grouping (pos − running
    // masked count), dense_rank span numbering with the SAME non-null
    // ordering key (engines disagree on default null placement), and the
    // sentinel/targets rendering mirrored token for token.
    "q111_span_corrupt" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |e AS (SELECT doc_id, i AS pos, toks[i] AS tok,
         |        (('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
         |          % 1000) < 150 AS masked
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
         |r AS (SELECT *, sum(CASE WHEN masked THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS mrn FROM e),
         |g AS (SELECT *, CASE WHEN masked THEN pos - mrn END AS grp FROM r),
         |s AS (SELECT *,
         |        CASE WHEN masked THEN dense_rank() OVER (PARTITION BY doc_id
         |          ORDER BY coalesce(grp, 9223372036854775807)) - 1 END AS span_id,
         |        CASE WHEN masked THEN coalesce(NOT lag(masked)
         |          OVER (PARTITION BY doc_id ORDER BY pos), TRUE)
         |          ELSE FALSE END AS span_start
         |      FROM g),
         |rend AS (SELECT doc_id, pos, masked, span_id,
         |        CASE WHEN NOT masked THEN tok
         |             WHEN span_start THEN '<extra_id_' || span_id::VARCHAR || '>'
         |        END AS in_tok,
         |        CASE WHEN masked AND span_start
         |               THEN '<extra_id_' || span_id::VARCHAR || '> ' || tok
         |             WHEN masked THEN tok END AS tgt_tok
         |      FROM s)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(max(coalesce(span_id, -1)) + 1 AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  coalesce(string_agg(in_tok, ' ' ORDER BY pos), '') AS inputs,
         |  coalesce(string_agg(tgt_tok, ' ' ORDER BY pos), '') AS targets
         |FROM rend GROUP BY doc_id""".stripMargin,

    // q113: exact substring excision (Lee et al. 2022) — overlapping
    // 6-grams, keep = unique OR global-first by (doc, pos) (the same
    // explicit unbounded frames as the engine), coverage = max(keep)
    // over a ROWS 5-preceding frame, survivors rebuilt in order.
    "q113_substring_excise" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |e AS (SELECT doc_id, i AS pos, toks[i] AS tok,
         |        CASE WHEN i + 5 <= len(toks) THEN
         |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |          toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]
         |        END AS gram
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
         |k AS (SELECT doc_id, pos, tok,
         |        CASE WHEN gram IS NOT NULL THEN
         |          CASE WHEN count(*) OVER (PARTITION BY gram) = 1
         |                 OR (first_value(doc_id) OVER w = doc_id
         |                     AND first_value(pos) OVER w = pos)
         |          THEN 1 ELSE 0 END END AS keep
         |      FROM e
         |      WINDOW w AS (PARTITION BY gram ORDER BY doc_id, pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |c AS (SELECT doc_id, pos, tok,
         |        max(keep) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS cov
         |      FROM k)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN coalesce(cov, 1) = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_removed,
         |  coalesce(string_agg(CASE WHEN coalesce(cov, 1) = 1 THEN tok END,
         |    ' ' ORDER BY pos), '') AS new_text
         |FROM c GROUP BY doc_id""".stripMargin,

    // q115: pipeline v3 — the q113 excision chain feeding the q110 DSIR
    // arithmetic on the REBUILT text, top-150 selection, then the
    // q111/q112 mask-count + packing arithmetic (salt "v3"). Every stage
    // is the corresponding standalone oracle's CTE re-sourced.
    "q115_pipeline_v3" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |e AS (SELECT doc_id, i AS pos, toks[i] AS tok,
         |        CASE WHEN i + 5 <= len(toks) THEN
         |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |          toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]
         |        END AS gram
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
         |k AS (SELECT doc_id, pos, tok,
         |        CASE WHEN gram IS NOT NULL THEN
         |          CASE WHEN count(*) OVER (PARTITION BY gram) = 1
         |                 OR (first_value(doc_id) OVER w = doc_id
         |                     AND first_value(pos) OVER w = pos)
         |          THEN 1 ELSE 0 END END AS keep
         |      FROM e
         |      WINDOW w AS (PARTITION BY gram ORDER BY doc_id, pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |cv AS (SELECT doc_id, pos, tok,
         |        max(keep) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS cov
         |      FROM k),
         |ex AS (SELECT doc_id, count(*) AS n_tokens,
         |        CAST(sum(CASE WHEN coalesce(cov, 1) = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |          AS n_removed,
         |        coalesce(string_agg(CASE WHEN coalesce(cov, 1) = 1 THEN tok END,
         |          ' ' ORDER BY pos), '') AS new_text
         |      FROM cv GROUP BY doc_id),
         |surv AS (SELECT ex.doc_id, ex.new_text, d.source,
         |          string_split_regex(trim(ex.new_text), '\\s+') AS toks2
         |        FROM ex JOIN documents d USING (doc_id)
         |        WHERE ex.n_tokens - ex.n_removed >= 6),
         |feats AS (
         |  SELECT doc_id, source, f FROM (
         |    SELECT doc_id, source, unnest(toks2) AS f FROM surv
         |    UNION ALL
         |    SELECT doc_id, source, toks2[i] || ' ' || toks2[i+1] AS f
         |    FROM (SELECT doc_id, source, toks2,
         |            unnest(range(1, len(toks2))) AS i FROM surv))),
         |fb AS (SELECT doc_id, source,
         |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
         |       FROM feats),
         |tc AS (SELECT b, count(*) AS ct FROM fb WHERE source = 'src0' GROUP BY b),
         |rc AS (SELECT b, count(*) AS cr FROM fb WHERE source <> 'src0' GROUP BY b),
         |stats AS (SELECT rc.b, coalesce(ct, 0) + 1 AS st, cr + 1 AS sr
         |          FROM rc LEFT JOIN tc USING (b)),
         |scored AS (SELECT doc_id,
         |             CAST((1000000 * sum(st)) // sum(sr) AS BIGINT) AS score_pm
         |           FROM fb JOIN stats ON fb.b = stats.b
         |           WHERE source <> 'src0' GROUP BY doc_id),
         |picked AS (SELECT doc_id FROM scored
         |           ORDER BY score_pm DESC, md5(doc_id::VARCHAR) ASC LIMIT 150),
         |sel AS (SELECT surv.doc_id, surv.toks2 FROM surv JOIN picked USING (doc_id)),
         |m AS (SELECT doc_id, i AS pos,
         |        (('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
         |          % 1000) < 150 AS masked
         |      FROM (SELECT doc_id, toks2, unnest(range(1, len(toks2)+1)) AS i FROM sel)),
         |mr AS (SELECT *, sum(CASE WHEN masked THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS mrn FROM m),
         |mg AS (SELECT doc_id, masked,
         |        CASE WHEN masked THEN pos - mrn END AS grp FROM mr),
         |md AS (SELECT doc_id, count(*) AS n_tokens,
         |        count(DISTINCT grp) AS n_spans FROM mg GROUP BY doc_id),
         |cost AS (SELECT doc_id, n_tokens + 2 * n_spans AS cost FROM md),
         |pb AS (SELECT doc_id, cost,
         |    ('0x' || substr(md5('v3:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('v3-ord:' || doc_id), 1, 8))::BIGINT AS ord
         |  FROM cost),
         |pc AS (SELECT doc_id, shard, cost,
         |    CAST(sum(cost) OVER (PARTITION BY shard ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_after
         |  FROM pb),
         |pp AS (SELECT doc_id, shard, cost,
         |    (cum_after - cost) // 512 AS pack,
         |    ((cum_after - 1) // 512) - ((cum_after - cost) // 512) + 1 AS n_chunks
         |  FROM pc)
         |SELECT shard, pack, count(*) AS n_examples,
         |  CAST(sum(cost) AS BIGINT) AS pack_tokens,
         |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |FROM pp GROUP BY shard, pack""".stripMargin,

    // q114: incremental substring excision — the q113 windows over the
    // BATCH side only, plus the corpus gram registry as a left-join
    // indicator (a registered gram can never vouch: its global first
    // occurrence lives in the corpus).
    "q114_substring_excise_inc" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |e AS (SELECT doc_id, i AS pos, toks[i] AS tok,
         |        CASE WHEN i + 5 <= len(toks) THEN
         |          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |          toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]
         |        END AS gram
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
         |reg AS (SELECT DISTINCT gram FROM e
         |        WHERE doc_id < 250 AND gram IS NOT NULL),
         |b AS (SELECT e.doc_id, e.pos, e.tok, e.gram,
         |        CASE WHEN reg.gram IS NOT NULL THEN 1 END AS inreg
         |      FROM e LEFT JOIN reg ON e.gram = reg.gram
         |      WHERE e.doc_id >= 250),
         |k AS (SELECT doc_id, pos, tok,
         |        CASE WHEN gram IS NOT NULL THEN
         |          CASE WHEN inreg IS NULL AND (count(*) OVER (PARTITION BY gram) = 1
         |                 OR (first_value(doc_id) OVER w = doc_id
         |                     AND first_value(pos) OVER w = pos))
         |          THEN 1 ELSE 0 END END AS keep
         |      FROM b
         |      WINDOW w AS (PARTITION BY gram ORDER BY doc_id, pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |c AS (SELECT doc_id, pos, tok,
         |        max(keep) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS cov
         |      FROM k)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN coalesce(cov, 1) = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_removed,
         |  coalesce(string_agg(CASE WHEN coalesce(cov, 1) = 1 THEN tok END,
         |    ' ' ORDER BY pos), '') AS new_text
         |FROM c GROUP BY doc_id""".stripMargin,

    // q112: example-prep composition — the q111 mask/span arithmetic
    // reduced to per-doc counts, example cost = n_tokens + 2·n_spans,
    // then the q48 packing arithmetic (salt "t5", 8 shards, budget 512)
    // and the per-pack rollup.
    "q112_example_prep" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |e AS (SELECT doc_id, i AS pos,
         |        (('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
         |          % 1000) < 150 AS masked
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
         |r AS (SELECT *, sum(CASE WHEN masked THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS mrn FROM e),
         |g AS (SELECT doc_id, masked, CASE WHEN masked THEN pos - mrn END AS grp FROM r),
         |d AS (SELECT doc_id, count(*) AS n_tokens,
         |        count(DISTINCT grp) AS n_spans FROM g GROUP BY doc_id),
         |cost AS (SELECT doc_id, n_tokens + 2 * n_spans AS cost FROM d),
         |b AS (SELECT doc_id, cost,
         |    ('0x' || substr(md5('t5:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('t5-ord:' || doc_id), 1, 8))::BIGINT AS ord
         |  FROM cost),
         |c AS (SELECT doc_id, shard, cost,
         |    CAST(sum(cost) OVER (PARTITION BY shard ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_after
         |  FROM b),
         |p AS (SELECT doc_id, shard, cost,
         |    (cum_after - cost) // 512 AS pack,
         |    ((cum_after - 1) // 512) - ((cum_after - cost) // 512) + 1 AS n_chunks
         |  FROM c)
         |SELECT shard, pack, count(*) AS n_examples,
         |  CAST(sum(cost) AS BIGINT) AS pack_tokens,
         |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |FROM p GROUP BY shard, pack""".stripMargin,

    // q117: production DSIR — identical arithmetic to q110 (the
    // materialized-model split changes the number of corpus scans, not
    // the math), top-150 selection.
    "q117_dsir_production" ->
      s"""WITH t AS (SELECT doc_id, source, $Toks AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, source, f FROM (
         |    SELECT doc_id, source, unnest(toks) AS f FROM t
         |    UNION ALL
         |    SELECT doc_id, source, toks[i] || ' ' || toks[i+1] AS f
         |    FROM (SELECT doc_id, source, toks,
         |            unnest(range(1, len(toks))) AS i FROM t))),
         |fb AS (SELECT doc_id, source,
         |         ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b
         |       FROM feats),
         |tc AS (SELECT b, count(*) AS ct FROM fb WHERE source = 'src0' GROUP BY b),
         |rc AS (SELECT b, count(*) AS cr FROM fb WHERE source <> 'src0' GROUP BY b),
         |stats AS (SELECT rc.b, coalesce(ct, 0) + 1 AS st, cr + 1 AS sr
         |          FROM rc LEFT JOIN tc USING (b)),
         |scored AS (SELECT doc_id, count(*) AS n_feats,
         |             CAST((1000000 * sum(st)) // sum(sr) AS BIGINT) AS score_pm
         |           FROM fb JOIN stats ON fb.b = stats.b
         |           WHERE source <> 'src0' GROUP BY doc_id)
         |SELECT doc_id, n_feats, score_pm FROM scored
         |ORDER BY score_pm DESC, md5(doc_id::VARCHAR) ASC LIMIT 150""".stripMargin,

    // q105: BPE merge training — the unrolled iteration chain; see
    // [[bpeSql]]. 8 merges over the top-500 vocabulary, like the engine.
    "q105_bpe_merges" -> bpeSql(nMerges = 8, topV = 500),

    // q109: the composed pipeline-v2 twin — see [[pipelineV2Sql]]. Same
    // constants as the engine: 6 merges, top-400 vocabulary.
    "q109_pipeline_v2" -> pipelineV2Sql(nMerges = 6, topV = 400),

    // q106: BPE segmentation of the full vocabulary with the q105-trained
    // merge table — see [[bpeApplySql]].
    "q106_bpe_segment" -> bpeApplySql(nMerges = 8, topV = 500),

    // q107: trigram stupid backoff (Brants et al. 2007) — train counts
    // from the q46-pattern 80% hash split (salt "lm"), eval trigrams
    // left-join each count table, α=0.4 backoff in exact micro units
    // (1e6 / 4e5 / 1.6e5 numerators), same CASE order as the engine.
    "q107_lm_backoff" ->
      s"""WITH tk AS (SELECT doc_id, $Toks AS t,
         |    ('0x' || substr(md5('lm:' || doc_id), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents),
         |tr AS (SELECT doc_id, t FROM tk WHERE bucket < 80),
         |ev AS (SELECT doc_id, t FROM tk WHERE bucket >= 80),
         |tri_ev AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM ev)),
         |tri_tr AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i FROM tr)),
         |bi_tr AS (SELECT t[i] AS w1, t[i+1] AS w2
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tr)),
         |uni_tr AS (SELECT unnest(t) AS w FROM tr),
         |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri_tr GROUP BY 1, 2, 3),
         |b2 AS (SELECT w1, w2, count(*) AS c2 FROM bi_tr GROUP BY 1, 2),
         |u1 AS (SELECT w, count(*) AS c1 FROM uni_tr GROUP BY 1),
         |nt AS (SELECT count(*) AS n FROM uni_tr),
         |s AS (SELECT e.doc_id,
         |    CASE WHEN c3.c3 IS NOT NULL THEN 3
         |         WHEN b23.c2 IS NOT NULL THEN 2
         |         WHEN u3.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // b12.c2
         |         WHEN b23.c2 IS NOT NULL THEN (400000 * b23.c2) // u2.c1
         |         WHEN u3.c1 IS NOT NULL THEN (160000 * u3.c1) // nt.n
         |         ELSE 0 END AS s_micro
         |  FROM tri_ev e
         |  LEFT JOIN c3 ON c3.w1 = e.w1 AND c3.w2 = e.w2 AND c3.w3 = e.w3
         |  LEFT JOIN b2 b12 ON b12.w1 = e.w1 AND b12.w2 = e.w2
         |  LEFT JOIN b2 b23 ON b23.w1 = e.w2 AND b23.w2 = e.w3
         |  LEFT JOIN u1 u2 ON u2.w = e.w2
         |  LEFT JOIN u1 u3 ON u3.w = e.w3
         |  CROSS JOIN nt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
         |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
         |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
         |  CAST(sum(s_micro) // count(*) AS BIGINT) AS fluency_pm
         |FROM s GROUP BY doc_id""".stripMargin,

    // q103: bigram-LM fluency — identical integer arithmetic to the
    // engine: add-one-smoothed transition probability in micro units via
    // BIGINT division, mean per doc via BIGINT division.
    "q103_lm_fluency" ->
      s"""WITH $LmFluencyCtes
         |SELECT doc_id, n_bigrams, fluency_pm FROM f""".stripMargin,

    // q104: the CCNet gate — q103's scores, per-language tercile cutoffs
    // by the byRank integer bound ((rn−1)·1e6 < p_micro·n ≤ rn·1e6,
    // value asc, doc_id tiebreak), then head/middle/tail labels.
    "q104_ccnet_gate" ->
      s"""WITH $LmFluencyCtes,
         |fl AS (SELECT f.doc_id, d.lang, f.fluency_pm
         |       FROM f JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |          ORDER BY fluency_pm, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n FROM fl),
         |cuts AS (SELECT lang,
         |    min(CASE WHEN (rn-1)*1000000 < 333333*n AND 333333*n <= rn*1000000
         |             THEN fluency_pm END) AS q_t33,
         |    min(CASE WHEN (rn-1)*1000000 < 666667*n AND 666667*n <= rn*1000000
         |             THEN fluency_pm END) AS q_t67
         |  FROM r GROUP BY lang)
         |SELECT fl.doc_id, fl.lang, fl.fluency_pm,
         |  CASE WHEN fl.fluency_pm > q_t67 THEN 'head'
         |       WHEN fl.fluency_pm > q_t33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM fl JOIN cuts USING (lang)""".stripMargin,

    "q60_tfidf_top_term" ->
      // length(term) >= 1 mirrors TermStats.tfidf's empty-term gate: the
      // Spark side drops the '' token that tokenizing an empty/whitespace
      // document produces, so the oracle must too (a data-dependent
      // divergence the synthetic corpus happens not to exercise — guard it
      // anyway).
      s"""WITH toks AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE length(term) >= 1 GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |    CAST(tf * ((1000000 * n_docs) // df) AS BIGINT) AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS rn FROM sc)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |  score
         |FROM r WHERE rn = 1""".stripMargin,

    // The planted-PII string and the four ordered regexp_replace stages
    // are constructed identically on both sides; patterns interpolate
    // from Text.PiiPatterns so the twin can never drift. DuckDB needs the
    // explicit 'g' flag (Spark's regexp_replace is global by default),
    // and counts run on the progressively-redacted stages, matching
    // Text.piiCounts.
    "q87_pii_redaction" -> {
      val Seq(email, ipv4, phone, idnum) =
        graft.functions.Text.PiiPatterns.map(_._2)
      s"""WITH t AS (SELECT doc_id,
         |    text || ' contact u' || doc_id || '@example.com from 10.0.' ||
         |    (doc_id % 256) || '.7 or call +1 555 01' ||
         |    ((doc_id % 90) + 10) || ' ref 9' ||
         |    ((doc_id % 100000000) + 100000000) AS x0 FROM documents),
         |s1 AS (SELECT doc_id, x0, regexp_replace(x0, '$email', '<EMAIL>', 'g') AS x1 FROM t),
         |s2 AS (SELECT *, regexp_replace(x1, '$ipv4', '<IP>', 'g') AS x2 FROM s1),
         |s3 AS (SELECT *, regexp_replace(x2, '$phone', '<PHONE>', 'g') AS x3 FROM s2),
         |s4 AS (SELECT *, regexp_replace(x3, '$idnum', '<ID>', 'g') AS x4 FROM s3)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(x0, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(x1, '$ipv4')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(x2, '$phone')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(x3, '$idnum')) AS BIGINT) AS n_idnum,
         |  md5(x4) AS redacted_md5
         |FROM s4""".stripMargin
    },

    // Shared by q61 and q85: the Bloom-pruned form (q85) is contractually
    // bit-identical to the exact pipeline — false positives pass the gate
    // and die in the exact shingle join — so BOTH queries face the same
    // exact twin. The shared string is the contract, not a convenience.
    "q61_contamination" -> ContaminationTwin,
    "q85_bloom_contamination" -> ContaminationTwin,

    "q62_repetition_signals" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
         |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY doc_id, g),
         |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t_total,
         |    CAST(max(c) AS BIGINT) AS t_top, count(*) AS t_distinct
         |  FROM tc GROUP BY doc_id),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS g FROM t),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS b_total,
         |    CAST(max(c) AS BIGINT) AS b_top
         |  FROM bc GROUP BY doc_id)
         |SELECT ts.doc_id, t_total AS n_tokens,
         |  CAST(round(1000000.0 * t_distinct / t_total) AS BIGINT) AS distinct_ratio_pm,
         |  CAST(round(1000000.0 * t_top / t_total) AS BIGINT) AS top_token_pm,
         |  coalesce(CAST(round(1000000.0 * b_top / b_total) AS BIGINT), 0)
         |    AS top_bigram_pm
         |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id""".stripMargin,

    // rank = ceil(p·n) in INTEGER arithmetic ((rn−1)·1e6 < p_micro·n ≤
    // rn·1e6), mirroring Quantiles.byRank — double-ceil is off by one at
    // p·n values like 0.07·100.
    "q63_length_quantiles" ->
      """WITH r AS (SELECT lang, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, max(n) AS n,
        |  max(CASE WHEN (rn-1)*1000000 < 500000*n AND 500000*n <= rn*1000000
        |      THEN n_chars END) AS q_p50,
        |  max(CASE WHEN (rn-1)*1000000 < 900000*n AND 900000*n <= rn*1000000
        |      THEN n_chars END) AS q_p90,
        |  max(CASE WHEN (rn-1)*1000000 < 990000*n AND 990000*n <= rn*1000000
        |      THEN n_chars END) AS q_p99
        |FROM r GROUP BY lang""".stripMargin,

    "q64_mix_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang),
        |t AS (SELECT list_reduce([0.0] || list_sort(list(sqrt(n_rows))),
        |    (a, b) -> a + b) AS tot FROM c)
        |SELECT lang, n_rows,
        |  CAST(round(1000000.0 * sqrt(n_rows) / tot) AS BIGINT) AS weight_pm
        |FROM c CROSS JOIN t""".stripMargin,

    // q123: weights (the q64 arithmetic over source) → integer
    // largest-remainder apportionment → per-source salted-hash rank
    // selection (the q54 idiom). The selected SET hash-compares.
    "q123_temperature_resample" ->
      """WITH c AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY source),
        |t AS (SELECT list_reduce([0.0] || list_sort(list(sqrt(n_rows))),
        |    (a, b) -> a + b) AS tot FROM c),
        |wt AS (SELECT source, n_rows,
        |    CAST(round(1000000.0 * sqrt(n_rows) / tot) AS BIGINT) AS weight_pm
        |  FROM c CROSS JOIN t),
        |ap AS (SELECT *, (300 * weight_pm) // 1000000 AS base,
        |    (300 * weight_pm) % 1000000 AS rem FROM wt),
        |d AS (SELECT *, 300 - sum(base) OVER () AS deficit,
        |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rd,
        |    row_number() OVER (ORDER BY rem ASC, source ASC) AS ra
        |  FROM ap),
        |tg AS (SELECT source, greatest(0, least(n_rows, base
        |    + CASE WHEN deficit > 0 AND rd <= deficit THEN 1 ELSE 0 END
        |    - CASE WHEN deficit < 0 AND ra <= -deficit THEN 1 ELSE 0 END))
        |    AS target
        |  FROM d),
        |r AS (SELECT doc_id, documents.source AS source, target,
        |    row_number() OVER (PARTITION BY documents.source
        |      ORDER BY ('0x' || substr(md5('temp:' || doc_id), 1, 8))::BIGINT ASC,
        |               doc_id ASC) AS rn
        |  FROM documents JOIN tg ON documents.source = tg.source)
        |SELECT doc_id, source FROM r WHERE rn <= target""".stripMargin,

    "q65_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t),
         |hot AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM s GROUP BY sh)
         |  WHERE df > 3),
         |j AS (SELECT s.doc_id, CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END AS ib
         |  FROM s LEFT JOIN hot h ON s.sh = h.sh)
         |SELECT doc_id, count(*) AS n_shingles, CAST(sum(ib) AS BIGINT) AS n_boiler,
         |  CAST(round(1000000.0 * sum(ib) / count(*)) AS BIGINT) AS boiler_pm
         |FROM j GROUP BY doc_id""".stripMargin,

    // The end-to-end pipeline twin: quality gate → normalized-fingerprint
    // dedup → boilerplate gate over the survivors → per-language rollup.
    "q74_curation_pipeline" ->
      s"""WITH g AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents) WHERE (rn-1)*1000000 < 500000*n),
         |dd AS (SELECT * FROM (SELECT *,
         |    min(doc_id) OVER (PARTITION BY
         |      md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS min_doc
         |  FROM g) WHERE doc_id = min_doc),
         |t AS (SELECT doc_id, $Toks AS toks FROM dd),
         |s AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t),
         |hot AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM s GROUP BY sh)
         |  WHERE df > 3),
         |bp AS (SELECT s.doc_id,
         |    CAST(round(1000000.0 * sum(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END)
         |      / count(*)) AS BIGINT) AS boiler_pm
         |  FROM s LEFT JOIN hot h ON s.sh = h.sh GROUP BY s.doc_id),
         |kept AS (SELECT dd.lang, dd.n_chars, dd.doc_id
         |  FROM dd LEFT JOIN bp ON dd.doc_id = bp.doc_id
         |  WHERE coalesce(bp.boiler_pm, 0) <= 500000)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM kept GROUP BY lang""".stripMargin,

    "q71_hard_negatives" ->
      s"""WITH emb AS (SELECT vec_id, embedding, label,
         |    ${rpBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, label AS q_label, bucket
         |      FROM emb WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS cv, label AS c_label, bucket
         |      FROM emb),
         |s AS (SELECT qid, q_label, cid, c_label, ${cosPm("qv", "cv")} AS cos_pm
         |      FROM q JOIN c USING (bucket)
         |      WHERE cid <> qid AND c_label <> q_label),
         |r AS (SELECT qid, q_label, cid, c_label, cos_pm,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_pm DESC, cid ASC) AS "rank"
         |      FROM s)
         |SELECT * FROM r WHERE "rank" <= 3""".stripMargin,

    "q72_novelty_against" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t),
         |seen AS (SELECT DISTINCT sh FROM s WHERE doc_id % 2 = 0),
         |j AS (SELECT s.doc_id, CASE WHEN seen.sh IS NULL THEN 1 ELSE 0 END AS u
         |  FROM s LEFT JOIN seen ON s.sh = seen.sh
         |  WHERE s.doc_id % 2 = 1)
         |SELECT doc_id, count(*) AS n_shingles, CAST(sum(u) AS BIGINT) AS n_unseen,
         |  CAST(round(1000000.0 * sum(u) / count(*)) AS BIGINT) AS unseen_pm
         |FROM j GROUP BY doc_id""".stripMargin,

    "q73_oov_rate" ->
      s"""WITH tf AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
         |v AS (SELECT term FROM (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf,
         |    row_number() OVER (ORDER BY CAST(sum(tf) AS BIGINT) DESC, term ASC) AS rk
         |  FROM dt GROUP BY term) WHERE rk <= 20)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.term IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(round(1000000.0 * sum(CASE WHEN v.term IS NULL THEN tf ELSE 0 END)
         |    / sum(tf)) AS BIGINT) AS oov_pm
         |FROM dt LEFT JOIN v ON dt.term = v.term GROUP BY doc_id""".stripMargin,

    "q70_novelty" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(${shingleList("toks")}) AS sh FROM t),
         |f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(round(1000000.0 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    / count(*)) AS BIGINT) AS novelty_pm
         |FROM s JOIN f USING (sh) GROUP BY doc_id""".stripMargin,

    // The all-pairs form IS the oracle here — the engine's banded join must
    // find exactly the pairs the exhaustive scan finds (500-doc oracle
    // scale only; the engine never runs all-pairs).
    "q67_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
         |h AS (SELECT doc_id, ${hash32("'0'", "t")} AS hv FROM tok),
         |b AS (SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS vote
         |      FROM h CROSS JOIN (SELECT unnest(range(0,32)) AS j) GROUP BY doc_id, j),
         |f AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
         |      AS simhash
         |  FROM b GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
         |FROM f a JOIN f b2 ON a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin,
  )

  /** [[curationBase]] plus the registry-served LTR twin: q195's oracle
    * is EXACTLY q194's SQL (the q174 convention) — the serve path must
    * reproduce the batch form bit-for-bit on a static corpus.
    */
  val curation: Map[String, String] =
    curationBase + ("q195_ltr_registry" -> curationBase("q194_ltr_features"))

  /** Twins of [[Sinks]] — the materialize-then-read sink/driver family.
    * Each oracle recomputes the intended END STATE directly from the source
    * tables; a hash match proves the Spark-side machinery (array-append
    * merge, metric write-back joins, two-epoch chunked driver with
    * checkpoint resume) left exactly the state one declarative query
    * defines — the T6 idempotence contract.
    */
  val sinks: Map[String, String] = Map(
    // Per-(user, day) newest value from each side; incoming (id%3, +1e6)
    // wins on shared days — the append(OLD.daily_balances, new) semantics.
    "q76_append_series" ->
      s"""WITH ex AS (
         |  SELECT user_id, day, value_c FROM (
         |    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, $CentsValue AS value_c,
         |      row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
         |                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |    FROM events WHERE event_id % 2 = 0)
         |  WHERE rn = 1),
         |inc AS (
         |  SELECT user_id, day, value_c + 1000000 AS value_c FROM (
         |    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, $CentsValue AS value_c,
         |      row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
         |                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |    FROM events WHERE event_id % 3 = 0)
         |  WHERE rn = 1)
         |SELECT coalesce(inc.user_id, ex.user_id) AS user_id,
         |  coalesce(inc.day, ex.day) AS day,
         |  coalesce(inc.value_c, ex.value_c) AS value_c
         |FROM inc FULL OUTER JOIN ex
         |  ON inc.user_id = ex.user_id AND inc.day = ex.day""".stripMargin,

    // The write-back left joins collapse to CASE on the metric frames'
    // membership predicates; unmatched keys stay NULL.
    "q77_merge_metrics" ->
      """SELECT c_name AS "_key", CAST(c_custkey AS BIGINT) AS custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN CAST(c_custkey * 7 AS BIGINT) END AS pagerank_pm,
        |  CASE WHEN c_custkey % 3 = 0 THEN CAST(c_custkey * 11 AS BIGINT) END AS pagerank_n_pm,
        |  CASE WHEN c_custkey % 5 = 0 THEN CAST(c_custkey * 13 AS BIGINT) END AS bc_pm,
        |  CASE WHEN c_custkey % 5 = 0 THEN CAST(c_custkey * 17 AS BIGINT) END AS bc_n_pm,
        |  CASE WHEN c_custkey % 7 = 0 THEN CAST(c_custkey * 19 AS BIGINT) END AS hub_pm,
        |  CASE WHEN c_custkey % 7 = 0 THEN CAST(c_custkey * 23 AS BIGINT) END AS auth_pm
        |FROM customer""".stripMargin,

    // Two chunked epochs + a gated third must leave exactly the state of
    // one direct scan: every event once in the dynamic sink, the snapshot
    // agreeing with the same aggregate. Shared by q78 (delta-log sink)
    // and q91 (height-partitioned dynamic-overwrite sink): both forms
    // MUST leave identical end state — the shared twin is the contract.
    "q78_incremental_driver" -> DriverTwin,
    "q91_partitioned_driver" -> DriverTwin,

    // q101: the jsonlines DSv2 round-trip must be a perfect pass-through —
    // the twin never sees the connector, only the source table.
    "q101_jsonlines_roundtrip" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |WHERE n_chars >= 290 AND lang IN ('en','de','zh')
         |GROUP BY lang""".stripMargin,

    // q108: the tiered sink's two compactions + mixed base/tail read must
    // be invisible — the twin scans the source table directly.
    "q108_tiered_sink" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE n_chars >= 250
         |GROUP BY lang""".stripMargin,
  )

  private lazy val DriverTwin: String =
    s"""WITH docs AS (
       |  SELECT user_id, $CentsValue AS value_c FROM events)
       |SELECT user_id, count(*) AS n_docs,
       |  CAST(sum(value_c) AS BIGINT) AS sum_value_c,
       |  count(*) AS n_events,
       |  CAST(sum(value_c) AS BIGINT) AS snap_sum_c,
       |  true AS gated
       |FROM docs GROUP BY user_id""".stripMargin

  /** Twins of the mergeable-sketch queries (q82–q84,
    * [[graft.operators.Sketches]]). Each twin recomputes the sketch
    * DIRECTLY from the raw table with the same md5-derived hashes — for
    * q82 that is deliberately the un-merged global build, so the hash
    * match also proves merge(per-day sketches) ≡ sketch(union). The KMV
    * scale constant is printed from the engine
    * ([[graft.operators.Sketches.kmvScale]], `Double.toString`
    * round-trips), and the one double division + micro-rounding follow
    * the adc_pm convention: identical op order on both sides.
    */
  val summaries: Map[String, String] = Map(
    // CMS cells: j ∈ [0,4) affine rows over the 32-bit base hash, width
    // 256; estimate = min over the probe key's 4 cells (0 if any is
    // absent — never happens for seen keys).
    "q82_cms_heavy_hitters" ->
      """WITH b AS (SELECT user_id,
        |    ('0x' || substr(md5('cms:' || user_id), 1, 8))::BIGINT AS h
        |  FROM events),
        |js AS (SELECT unnest(range(4)) AS j),
        |cells AS (SELECT j,
        |    ((2*j+1)*(h % 2147483647) + (40503*j+1)) % 2147483647 % 256 AS bucket,
        |    count(*) AS c
        |  FROM b CROSS JOIN js GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT user_id, h FROM b WHERE user_id % 5 = 0),
        |pe AS (SELECT user_id, j,
        |    ((2*j+1)*(h % 2147483647) + (40503*j+1)) % 2147483647 % 256 AS bucket
        |  FROM probes CROSS JOIN js)
        |SELECT pe.user_id, CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS est
        |FROM pe LEFT JOIN cells ON pe.j = cells.j AND pe.bucket = cells.bucket
        |GROUP BY 1""".stripMargin,

    // KMV per day: the 32nd smallest distinct 60-bit hash v32; exact
    // count below k, else round((k−1)·2⁶⁰ / v32 · 1e6).
    "q83_kmv_distinct" ->
      s"""WITH b AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
         |    ('0x' || substr(md5('kmv:' || user_id), 1, 15))::BIGINT AS h
         |  FROM events),
         |r AS (SELECT day, h,
         |    row_number() OVER (PARTITION BY day ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY day) AS cnt
         |  FROM b),
         |g AS (SELECT day, max(CASE WHEN rn = ${Summaries.KmvK} THEN h END) AS vk,
         |    max(cnt) AS cnt
         |  FROM r GROUP BY day)
         |SELECT day, CAST(least(cnt, ${Summaries.KmvK}) AS BIGINT) AS n_mins,
         |  CASE WHEN cnt < ${Summaries.KmvK} THEN CAST(cnt * 1000000 AS BIGINT)
         |       ELSE CAST(round((${graft.operators.Sketches.kmvScale(Summaries.KmvK)}
         |                        / CAST(vk AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  END AS est_micro
         |FROM g""".stripMargin,

    // 64 equi-width bins over [0, 4096); quantile = lower edge of the
    // first bin whose cumulative count reaches rank ⌈p·n⌉ (micro-unit
    // integer rank arithmetic, the q63 rule). The VALUE clamps into
    // [lo, hi-1] before the multiply — identical to the operator (an
    // after-the-multiply bin clamp would diverge on overflow).
    "q84_hist_quantiles" ->
      """WITH h AS (SELECT lang,
        |    ((least(4095, greatest(0, n_chars)) - 0) * 64) // 4096 AS bin,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT lang, bin, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum * 1000000 >= 500000 * n
        |                THEN (bin * 4096) // 64 END) AS BIGINT) AS q_p50,
        |  CAST(min(CASE WHEN cum * 1000000 >= 900000 * n
        |                THEN (bin * 4096) // 64 END) AS BIGINT) AS q_p90,
        |  CAST(min(CASE WHEN cum * 1000000 >= 990000 * n
        |                THEN (bin * 4096) // 64 END) AS BIGINT) AS q_p99
        |FROM cum GROUP BY lang""".stripMargin,
  )
}
