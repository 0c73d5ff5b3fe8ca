package graft

/** DuckDB-dialect oracle SQL, one entry per SparkEntry.queries key.
  * Mirrors each Spark plan value-for-value: exact decimal sums cast to
  * double, identical rounding scales, identical tie-breaks, RE2-safe
  * regexes (no lookahead), explicit 'g' flags on regexp_replace.
  */
object Oracles {

  private val dsumQty  = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  private val dsumDisc =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  val core: Map[String, String] = Map(
    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  $dsumQty AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  $dsumDisc AS sum_disc_price,
         |  ROUND($dsumQty/COUNT(l_quantity), 6) AS avg_qty,
         |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_discount), 6) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
        |ORDER BY o_orderkey""".stripMargin,

    "q03_join_agg" ->
      s"""SELECT l_orderkey, $dsumDisc AS revenue, CAST(o_orderdate AS DATE) AS o_date
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15'
         |  AND l_shipdate > TIMESTAMP '1995-03-15'
         |GROUP BY l_orderkey, o_date
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 20""".stripMargin,

    "q04_broadcast_join" ->
      """SELECT r_name, COUNT(*) AS n_cust,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(c_acctbal), 6) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,

    "q05_dedup_key" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS first_date
        |FROM (SELECT *, ROW_NUMBER() OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q06_regex_extract" ->
      """SELECT CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) <> ''
        |  THEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) END AS k,
        |  COUNT(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "q07_parse_dollars" ->
      """WITH built0 AS (
        |  SELECT o_orderkey, m,
        |    CASE
        |      WHEN o_orderkey % 4 = 0 THEN
        |        '$' || CAST(FLOOR(m/100) AS BIGINT) || '.' || lpad(CAST(m%100 AS VARCHAR), 2, '0') || ' million'
        |      WHEN o_orderkey % 4 = 1 THEN
        |        '$' || CAST(FLOOR(m/1000) AS BIGINT) || '.' || lpad(CAST(m%1000 AS VARCHAR), 3, '0') || ' billion'
        |      WHEN o_orderkey % 4 = 2 THEN '$' || format('{:,}', m)
        |      ELSE 'N/A' END AS raw0
        |  FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS m FROM orders)),
        |built AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 AND raw0 <> 'N/A'
        |      THEN '$' || CAST(m % 97 AS VARCHAR) ||
        |        (CASE WHEN o_orderkey % 3 = 0 THEN '-'
        |              WHEN o_orderkey % 3 = 1 THEN '–' ELSE '—' END) ||
        |        substring(raw0, 2)
        |      ELSE raw0 END ||
        |    CASE WHEN o_orderkey % 11 = 0 AND raw0 <> 'N/A'
        |      THEN '-ish' ELSE '' END AS raw
        |  FROM built0),
        |coll AS (
        |  SELECT o_orderkey, raw,
        |    regexp_replace(raw, '\$.*[-—–]([^a-z]|$)', '$\1', 'g') AS craw
        |  FROM built)
        |SELECT o_orderkey, raw,
        |  CASE
        |    WHEN regexp_matches(craw, '(?i)^\$\s*(\d+\.?\d*)\s*milli?on')
        |      THEN CAST(regexp_extract(craw, '(?i)^\$\s*(\d+\.?\d*)\s*milli?on', 1) AS DOUBLE) * 1000000.0
        |    WHEN regexp_matches(craw, '(?i)^\$\s*(\d+\.?\d*)\s*billi?on')
        |      THEN CAST(regexp_extract(craw, '(?i)^\$\s*(\d+\.?\d*)\s*billi?on', 1) AS DOUBLE) * 1000000000.0
        |    WHEN regexp_matches(craw, '^\$\s*(\d{1,3}([,\.]\d{3})+)')
        |      THEN CAST(regexp_replace(regexp_extract(craw, '^\$\s*(\d{1,3}([,\.]\d{3})+)', 1), '[,\.]', '', 'g') AS DOUBLE)
        |    END AS dollars
        |FROM coll ORDER BY o_orderkey""".stripMargin,

    "q08_multi_date" ->
      """WITH built AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN strftime(o_orderdate, '%B %-d, %Y')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y/%m/%d')
        |      WHEN 2 THEN strftime(o_orderdate, '%B %Y')
        |      ELSE strftime(o_orderdate, '%Y') END AS raw
        |  FROM orders)
        |SELECT o_orderkey, raw,
        |  CAST(COALESCE(
        |    try_strptime(raw, '%B %d, %Y'),
        |    try_strptime(raw, '%Y/%m/%d'),
        |    try_strptime(raw, '%B %Y'),
        |    try_strptime(raw, '%Y')) AS DATE) AS parsed
        |FROM built ORDER BY o_orderkey""".stripMargin,

    "q09_null_prune" ->
      """WITH d AS (SELECT nullif(lang,'zh') AS lang2, nullif(source,'src3') AS src2, text
        |           FROM documents),
        |a AS (SELECT COUNT(*) AS n, COUNT(lang2) AS nn_lang2, COUNT(src2) AS nn_src2,
        |             COUNT(text) AS nn_text FROM d)
        |SELECT column_name, null_frac, null_frac < 0.9 AS keep FROM (
        |  SELECT 'lang2' AS column_name, ROUND(CAST(n - nn_lang2 AS DOUBLE)/n, 6) AS null_frac FROM a
        |  UNION ALL
        |  SELECT 'src2', ROUND(CAST(n - nn_src2 AS DOUBLE)/n, 6) FROM a
        |  UNION ALL
        |  SELECT 'text', ROUND(CAST(n - nn_text AS DOUBLE)/n, 6) FROM a)
        |ORDER BY column_name""".stripMargin,

    "q10_pivot" ->
      """SELECT o_custkey,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q11_coalesce_fill" ->
      """WITH spend AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, spend,
        |  ROUND(COALESCE(NULLIF(spend, 0.0), c_acctbal), 2) AS effective_value
        |FROM customer LEFT JOIN spend ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q12_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q13_conditional_agg" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_value,
        |  COUNT(CASE WHEN l_quantity >= 30 THEN 1 END) AS high_qty_cnt,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_semi_anti" ->
      """SELECT c_mktsegment, grp, n FROM (
        |  SELECT c_mktsegment, 'with_orders' AS grp, COUNT(*) AS n FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT c_mktsegment, 'no_orders', COUNT(*) FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment)
        |ORDER BY c_mktsegment, grp""".stripMargin,

    "q15_string_normalize" ->
      """SELECT p_brand, COUNT(DISTINCT norm_name) AS n_names, MIN(norm_name) AS first_name
        |FROM (SELECT p_brand, lower(trim(regexp_replace(p_name, '\s+', ' ', 'g'))) AS norm_name
        |      FROM part)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q16_type_coercion" ->
      """SELECT event_id,
        |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  CAST(FLOOR(value) AS BIGINT) AS value_int,
        |  event_type = 'purchase' AS is_purchase
        |FROM events ORDER BY event_id""".stripMargin,

    "q17_json_extract" ->
      """SELECT CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^\d+$')
        |  THEN CAST(json_extract_string(props, '$.k') AS INT) END AS k,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "q18_runtime_parse" ->
      """WITH built AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE l_linenumber % 3
        |      WHEN 0 THEN h || 'h ' || CAST(l_partkey % 60 AS VARCHAR) || 'm'
        |      WHEN 1 THEN h || ' hr'
        |      ELSE CAST(l_partkey % 300 AS VARCHAR) || ' m' END AS raw
        |  FROM (SELECT l_orderkey, l_linenumber, l_partkey,
        |          CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR) AS h FROM lineitem))
        |SELECT l_orderkey, l_linenumber, raw,
        |  CASE
        |    WHEN regexp_matches(raw, '^(\d+)\s*h(?:ou)?r?s?\s*(\d*)') THEN
        |      CAST(regexp_extract(raw, '^(\d+)\s*h(?:ou)?r?s?\s*(\d*)', 1) AS BIGINT) * 60 +
        |      COALESCE(try_cast(regexp_extract(raw, '^(\d+)\s*h(?:ou)?r?s?\s*(\d*)', 2) AS BIGINT), 0)
        |    WHEN regexp_matches(raw, '^(\d+)\s*m') THEN
        |      CAST(regexp_extract(raw, '^(\d+)\s*m', 1) AS BIGINT)
        |    END AS minutes
        |FROM built ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q20_map_consolidate" ->
      """WITH built AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN '{"title": "t'||doc_id||'", "also_known_as": "alt'||doc_id||'"}'
        |    WHEN 1 THEN '{"title": "t'||doc_id||'", "alternate_title": "alt'||doc_id||'", "year": "1999"}'
        |    ELSE '{"title": "t'||doc_id||'"}' END AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(len(json_keys(raw)) AS BIGINT) AS n_keys,
        |  json_extract_string(raw, '$.title') AS title,
        |  COALESCE(json_extract_string(raw, '$.also_known_as'),
        |           json_extract_string(raw, '$.alternate_title'),
        |           json_extract_string(raw, '$.working_title')) AS alt_title
        |FROM built ORDER BY doc_id""".stripMargin,

    "q21_suffix_merge" ->
      """WITH wiki AS (SELECT c_custkey AS id, c_name AS name, c_acctbal AS value FROM customer),
        |kaggle AS (SELECT o_custkey AS id,
        |    'Customer#'||CAST(o_custkey AS VARCHAR) AS name,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT w.id, COALESCE(w.name, k.name) AS name,
        |  ROUND(COALESCE(NULLIF(k.value, 0.0), w.value), 2) AS value,
        |  w.value AS value_wiki, k.value AS value_kaggle, k.n_orders
        |FROM wiki w LEFT JOIN kaggle k ON w.id = k.id ORDER BY w.id""".stripMargin,

    "q22_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type, value FROM events),
        |p AS (SELECT user_id, t, MAX(event_id) AS p_id, arg_max(value, event_id) AS p_value
        |      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, t)
        |SELECT e.event_id, e.user_id, p.p_id AS last_purchase_id,
        |  p.p_value AS last_purchase_value,
        |  e.t - p.t AS gap_us
        |FROM ev e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.t >= p.t
        |ORDER BY e.event_id""".stripMargin,

    // q27: ordered funnel — each stage's time is the earliest qualifying
    // event STRICTLY after the previous stage's, chained per-user min
    // aggregates exactly as the plan computes them.
    "q27_funnel" -> {
      val Seq(st1, st2, st3) = graft.operators.EventOps.FunnelStages
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
         |t1 AS (SELECT user_id, MIN(ts_us) AS t_view_us FROM ev
         |       WHERE event_type = '$st1' GROUP BY 1),
         |t2 AS (SELECT user_id, MIN(ts_us) AS t_click_us FROM ev
         |       JOIN t1 USING (user_id)
         |       WHERE event_type = '$st2' AND ts_us > t_view_us GROUP BY 1),
         |t3 AS (SELECT user_id, MIN(ts_us) AS t_purchase_us FROM ev
         |       JOIN t2 USING (user_id)
         |       WHERE event_type = '$st3' AND ts_us > t_click_us GROUP BY 1),
         |u AS (SELECT DISTINCT user_id FROM ev)
         |SELECT user_id, t_view_us, t_click_us, t_purchase_us,
         |  CAST(CASE WHEN t_purchase_us IS NOT NULL THEN 3
         |            WHEN t_click_us IS NOT NULL THEN 2
         |            WHEN t_view_us IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
         |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
         |LEFT JOIN t3 USING (user_id) ORDER BY user_id""".stripMargin
    },

    // q28: retention cohorts in pure integer epoch-day math (µs DIV
    // day width — no calendar/tz functions on either side); the
    // distinct (user, day) CTE makes the final count a distinct-user
    // count by construction, mirroring the Spark plan exactly.
    "q28_retention" -> {
      val dayUs = graft.operators.EventOps.DayUs
      s"""WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // $dayUs AS day
         |             FROM events),
         |coh AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
         |SELECT cohort_day, day - cohort_day AS day_offset,
         |  COUNT(*) AS n_active
         |FROM days JOIN coh USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // q29: per-type daily-volume spike flags. The cleared integer form
    // (W·x − S)² > 9·(W·Q − S²) runs in HUGEINT — exact, like the
    // Spark plan's DECIMAL(38,0); trailing stats over the previous 7
    // OBSERVED days (ROWS frame over the post-aggregate cell frame).
    "q29_event_spike" -> {
      import graft.operators.EventOps.{DayUs, SpikeKSq, SpikeWindow}
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |                CAST(COUNT(*) AS BIGINT) AS n
         |               FROM events GROUP BY 1, 2),
         |tr AS (SELECT event_type, day, n,
         |        CAST(COUNT(n) OVER w AS BIGINT) AS trail_n,
         |        CAST(SUM(n) OVER w AS BIGINT) AS trail_sum,
         |        SUM(CAST(n AS HUGEINT) * n) OVER w AS trail_sq
         |       FROM daily
         |       WINDOW w AS (PARTITION BY event_type ORDER BY day
         |                    ROWS BETWEEN $SpikeWindow PRECEDING AND 1 PRECEDING))
         |SELECT event_type, day, n, trail_n, trail_sum,
         |  CASE WHEN trail_n > 0
         |       THEN ROUND(CAST(trail_sum AS DOUBLE)/trail_n, 6) END AS trail_mean,
         |  (trail_n = $SpikeWindow AND
         |   ($SpikeWindow * CAST(n AS HUGEINT) - trail_sum)
         |     * ($SpikeWindow * CAST(n AS HUGEINT) - trail_sum)
         |     > $SpikeKSq * ($SpikeWindow * trail_sq
         |                    - CAST(trail_sum AS HUGEINT) * trail_sum)) AS is_spike
         |FROM tr ORDER BY event_type, day""".stripMargin
    },

    "q23_range_join" ->
      """WITH w AS (
        |  SELECT o_orderkey AS win_id, o_custkey % 150 AS u,
        |    1704067200000000 + (o_orderkey % 30) * 86400000000 + (o_custkey % 24) * 3600000000 AS start_us
        |  FROM orders WHERE o_orderkey % 199 = 0),
        |w2 AS (SELECT win_id, u, start_us, start_us + 604800000000 AS end_us FROM w),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
        |SELECT e.event_id, e.user_id, w2.win_id, e.t - w2.start_us AS offset_us
        |FROM e JOIN w2 ON e.user_id = w2.u AND e.t >= w2.start_us AND e.t < w2.end_us
        |ORDER BY e.event_id, w2.win_id""".stripMargin,

    "q19_etl_pipeline" ->
      """SELECT c_mktsegment, substring(o_orderpriority, 1, 1) AS priority_class,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(c_acctbal), 6) AS avg_bal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus IN ('O','F','P')
        |GROUP BY c_mktsegment, priority_class
        |ORDER BY c_mktsegment, priority_class""".stripMargin,

    // GROUPING(a, b) packs a as the high bit exactly like Spark's
    // grouping_id(); fact columns are non-null so 'ALL' is unambiguous.
    "q24_rollup" ->
      s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl,
         |  COALESCE(l_returnflag, 'ALL') AS returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS linestatus,
         |  $dsumQty AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_discount), 6) AS avg_disc,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY lvl, returnflag, linestatus""".stripMargin,

    // q25: the salt in the Spark plan is result-invariant (multiplicity-
    // preserving by construction), so the oracle is the PLAIN join.
    "q25_salted_join" ->
      """WITH d AS (SELECT o_custkey % 150 AS user_id, COUNT(*) AS n_orders
        |           FROM orders GROUP BY 1)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(n_orders) AS BIGINT) AS sum_user_orders,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN d USING (user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q26 mirrors the q07/q08/q18 messy-column constructions and parse
    // grammars verbatim, then counts parse outcomes instead of emitting
    // parsed values; verdicts are the same integer-count comparisons as
    // the plan (no float threshold).
    "q26_column_triage" ->
      """WITH built AS (
        |  SELECT
        |    CASE
        |      WHEN o_orderkey % 4 = 0 THEN
        |        '$' || CAST(FLOOR(m/100) AS BIGINT) || '.' || lpad(CAST(m%100 AS VARCHAR), 2, '0') || ' million'
        |      WHEN o_orderkey % 4 = 1 THEN
        |        '$' || CAST(FLOOR(m/1000) AS BIGINT) || '.' || lpad(CAST(m%1000 AS VARCHAR), 3, '0') || ' billion'
        |      WHEN o_orderkey % 4 = 2 THEN '$' || format('{:,}', m)
        |      ELSE 'N/A' END AS money,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN strftime(o_orderdate, '%B %-d, %Y')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y/%m/%d')
        |      WHEN 2 THEN strftime(o_orderdate, '%B %Y')
        |      ELSE strftime(o_orderdate, '%Y') END AS mdate,
        |    CASE WHEN o_orderkey % 20 = 0 THEN strftime(o_orderdate, '%Y/%m/%d') END AS sparse,
        |    o_orderpriority AS prio
        |  FROM (SELECT o_orderkey, o_orderdate, o_orderpriority,
        |          CAST(FLOOR(o_totalprice) AS BIGINT) AS m FROM orders)),
        |flags AS (
        |  SELECT money, mdate, sparse, prio,
        |    (regexp_matches(money, '(?i)^\$\s*(\d+\.?\d*)\s*milli?on')
        |     OR regexp_matches(money, '(?i)^\$\s*(\d+\.?\d*)\s*billi?on')
        |     OR regexp_matches(money, '^\$\s*(\d{1,3}([,\.]\d{3})+)')) AS money_ok,
        |    (COALESCE(try_strptime(mdate, '%B %d, %Y'), try_strptime(mdate, '%Y/%m/%d'),
        |              try_strptime(mdate, '%B %Y'), try_strptime(mdate, '%Y')) IS NOT NULL) AS mdate_ok,
        |    (COALESCE(try_strptime(sparse, '%B %d, %Y'), try_strptime(sparse, '%Y/%m/%d'),
        |              try_strptime(sparse, '%B %Y'), try_strptime(sparse, '%Y')) IS NOT NULL) AS sparse_ok,
        |    (regexp_matches(prio, '^(\d+)\s*h(?:ou)?r?s?\s*(\d*)')
        |     OR regexp_matches(prio, '^(\d+)\s*m')) AS prio_ok
        |  FROM built),
        |a AS (SELECT COUNT(*) AS n,
        |  COUNT(money) AS nn_money,
        |  CAST(SUM(CASE WHEN money IS NOT NULL AND NOT money_ok THEN 1 ELSE 0 END) AS BIGINT) AS nf_money,
        |  COUNT(mdate) AS nn_mdate,
        |  CAST(SUM(CASE WHEN mdate IS NOT NULL AND NOT mdate_ok THEN 1 ELSE 0 END) AS BIGINT) AS nf_mdate,
        |  COUNT(sparse) AS nn_sparse,
        |  CAST(SUM(CASE WHEN sparse IS NOT NULL AND NOT sparse_ok THEN 1 ELSE 0 END) AS BIGINT) AS nf_sparse,
        |  COUNT(prio) AS nn_prio,
        |  CAST(SUM(CASE WHEN prio IS NOT NULL AND NOT prio_ok THEN 1 ELSE 0 END) AS BIGINT) AS nf_prio
        |  FROM flags),
        |t AS (
        |  SELECT 'money' AS column_name, n, n - nn_money AS n_null, nf_money AS n_parse_fail FROM a
        |  UNION ALL SELECT 'mdate', n, n - nn_mdate, nf_mdate FROM a
        |  UNION ALL SELECT 'sparse', n, n - nn_sparse, nf_sparse FROM a
        |  UNION ALL SELECT 'prio', n, n - nn_prio, nf_prio FROM a)
        |SELECT column_name, n AS n_rows, n_null, n_parse_fail,
        |  ROUND(CAST(n_null AS DOUBLE) / n, 6) AS null_frac,
        |  ROUND(CAST(n_parse_fail AS DOUBLE) / NULLIF(n - n_null, 0), 6) AS fail_frac,
        |  CASE WHEN n_null * 10 >= n * 9 THEN 'drop'
        |       WHEN n_parse_fail * 10 <= (n - n_null) * 3 THEN 'coerce'
        |       ELSE 'keep_raw' END AS verdict
        |FROM t ORDER BY column_name""".stripMargin
  )

  /** Text-analysis block (SURVEY §2.D). Tokenization is mirrored as
    * string_split_regex(text,'\s+'); hash60 as
    * CAST('0x'||substr(md5(seed||':'||s),1,15) AS BIGINT). */
  val text: Map[String, String] = Map(
    // t01 is GENERATED from TextAnalysis.langMarkers so both engines
    // embed the identical 10-language function-word tables; best_lang is
    // the same greatest() + priority-order CASE cascade as the plan.
    "t01_lang_id" -> {
      import graft.operators.TextAnalysis.langMarkers
      val scoreDefs = langMarkers.map { case (l, m) =>
        s"  CAST(len(list_filter(toks, x -> x IN (${m.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_$l"
      }.mkString(",\n")
      val scoreNames = langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")
      val gmax = s"GREATEST(${scoreNames})"
      val cascade = langMarkers.init.map { case (l, _) =>
        s"WHEN s_$l = m THEN '$l'"
      }.mkString("\n       ") + s" ELSE '${langMarkers.last._1}'"
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |$scoreDefs
         | FROM t),
         |g AS (SELECT *, $gmax AS m FROM s)
         |SELECT doc_id, $scoreNames,
         |  CASE $cascade END AS best_lang
         |FROM g ORDER BY doc_id""".stripMargin
    },

    // t09 is GENERATED from TextAnalysis.htmlTemplate /
    // htmlBlockPatterns / htmlEntities — the page builder AND the strip
    // rules are shared members, so the two engines run the same strip
    // over byte-identical markup and neither can drift from the other.
    "t09_html_extract" -> {
      import graft.operators.TextAnalysis.{htmlBlockPatterns, htmlEntities, htmlEntityPattern, htmlNumericRefPattern, htmlTemplate}
      val fields = Map(
        "doc_id" -> "CAST(doc_id AS VARCHAR)",
        "lang"   -> "lang",
        "source" -> "source",
        "half1"  -> "substr(text, 1, len(text)//2)",
        "half2"  -> "substr(text, len(text)//2 + 1)",
        "next"   -> "CAST(doc_id + 1 AS VARCHAR)")
      def lit(s: String): String = {
        require(!s.contains("'"), "template chunks must be quote-free")
        s.split("\n", -1).map("'" + _ + "'").mkString(" || chr(10) || ")
      }
      val page = htmlTemplate
        .map { case Left(s) => lit(s); case Right(f) => fields(f) }
        .mkString(" || ")
      val nBlocks = htmlBlockPatterns
        .map(p => s"len(regexp_extract_all(raw, '$p'))").mkString(" + ")
      val deblocked = htmlBlockPatterns
        .foldLeft("raw")((c, p) => s"regexp_replace($c, '$p', ' ', 'g')")
      // Numeric refs decode FIRST (mirroring decodeNumericRefs: split on
      // the ref pattern, rebuild with chr(cp) where the code point is
      // valid, the literal ref otherwise), the named table after.
      val cp =
        """(CASE WHEN substr(refs[i],3,1) IN ('x','X')
          |  THEN CAST(concat('0x', substr(refs[i], 4, len(refs[i])-4)) AS BIGINT)
          |  ELSE CAST(substr(refs[i], 3, len(refs[i])-3) AS BIGINT) END)""".stripMargin
      val decChar =
        s"""(CASE WHEN $cp BETWEEN 1 AND 1114111 AND NOT ($cp BETWEEN 55296 AND 57343)
           |  THEN chr(CAST($cp AS INT)) ELSE refs[i] END)""".stripMargin
      val decoded = htmlEntities.foldLeft("dn") { case (c, (e, v)) =>
        s"replace($c, '$e', '${v.replace("'", "''")}')"
      }
      s"""WITH pages AS (SELECT doc_id, $page AS raw FROM documents),
         |b AS (SELECT doc_id, raw, $deblocked AS db,
         |        CAST($nBlocks AS BIGINT) AS n_blocks FROM pages),
         |t AS (SELECT doc_id, raw, n_blocks,
         |        CAST(len(regexp_extract_all(db, '<[^>]*>')) AS BIGINT) AS n_tags,
         |        regexp_replace(db, '<[^>]*>', ' ', 'g') AS dt FROM b),
         |nr AS (SELECT doc_id, raw, n_blocks, n_tags, dt,
         |        string_split_regex(dt, '$htmlNumericRefPattern') AS parts,
         |        regexp_extract_all(dt, '$htmlNumericRefPattern') AS refs FROM t),
         |nd AS (SELECT doc_id, raw, n_blocks, n_tags, dt,
         |        parts[1] || array_to_string(list_transform(range(1, len(refs)+1),
         |          i -> $decChar || parts[i+1]), '') AS dn FROM nr),
         |e AS (SELECT doc_id, raw, n_blocks, n_tags,
         |        CAST(len(regexp_extract_all(dt, '$htmlEntityPattern')) AS BIGINT) AS n_entities,
         |        trim(regexp_replace($decoded, '[ \\t\\n\\r]+', ' ', 'g')) AS clean FROM nd)
         |SELECT doc_id, n_blocks, n_tags, n_entities,
         |  CAST(len(raw) AS BIGINT) AS n_chars_raw,
         |  CAST(len(clean) AS BIGINT) AS n_chars_clean,
         |  ROUND(CAST(len(clean) AS DOUBLE) / len(raw), 6) AS kept_ratio,
         |  clean AS text_clean
         |FROM e ORDER BY doc_id""".stripMargin
    },

    "t02_quality_score" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split_regex(text, '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, n_chars,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) AS n_stop,
        |   CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct FROM t)
        |SELECT doc_id, n_tokens,
        |  ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
        |  ROUND(LEAST(CAST(n_chars AS DOUBLE), 500.0) / 500.0 * 0.5 +
        |        (1.0 - n_stop / CAST(n_tokens AS DOUBLE)) * 0.3 +
        |        n_distinct / CAST(n_tokens AS DOUBLE) * 0.2, 6) AS quality
        |FROM b ORDER BY doc_id""".stripMargin,

    "t03_token_count" ->
      """WITH t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |FROM t ORDER BY doc_id""".stripMargin,

    // t08: corpus-frequency rare-token signal. The rare CTE's HAVING
    // mirrors TextAnalysis.RareTf; docs with no rare tokens surface via
    // the left join with zero counts (Spark's coalesce(_, 0)).
    "t08_rare_token_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
         |             FROM documents),
         |rare AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok
         |         HAVING count(*) <= ${graft.operators.TextAnalysis.RareTf}),
         |nr AS (SELECT doc_id, count(*) AS n_rare,
         |         sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS n_hapax
         |       FROM tok JOIN rare USING (tok) GROUP BY doc_id),
         |nt AS (SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_tokens
         |       FROM documents)
         |SELECT nt.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(n_rare, 0) AS BIGINT) AS n_rare,
         |  CAST(COALESCE(n_hapax, 0) AS BIGINT) AS n_hapax,
         |  ROUND(CAST(COALESCE(n_rare, 0) AS DOUBLE) / n_tokens, 6) AS rare_frac
         |FROM nt LEFT JOIN nr ON nt.doc_id = nr.doc_id
         |ORDER BY nt.doc_id""".stripMargin,

    // t05 is GENERATED from TextAnalysis' shared pattern constants and
    // the same Luhn position parity (luhnSumSql mirrors luhnSum term by
    // term), so the builder, the checksum, and the masking rules cannot
    // drift between the engines.
    // t10: corpus bigram-LM surprisal. The integer-log definition
    // (len(bin(T2 // c12)) - 1) is shared with the Spark plan; c12 is
    // multiply-referenced and expensive -> AS MATERIALIZED.
    "t10_ngram_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |          i -> toks[i]||' '||toks[i+1])) AS g
         |      FROM toks WHERE len(toks) >= 2),
         |c12 AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT) AS c12 FROM b GROUP BY 1),
         |t2 AS (SELECT CAST(SUM(c12) AS BIGINT) AS t2 FROM c12),
         |o AS (SELECT doc_id, c12,
         |        CAST(len(bin((SELECT t2 FROM t2) // c12)) - 1 AS BIGINT) AS bits
         |      FROM b JOIN c12 USING (g)),
         |st AS (SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS sum_bits,
         |        MAX(bits) AS max_bits,
         |        CAST(SUM(CASE WHEN c12 <= ${graft.operators.TextAnalysis.RareTf}
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_bigrams
         |      FROM o GROUP BY 1),
         |base AS (SELECT doc_id,
         |        CAST(GREATEST(len(string_split_regex(text, '\\s+')) - 1, 0) AS BIGINT) AS n_bigrams
         |      FROM documents)
         |SELECT base.doc_id, n_bigrams,
         |  COALESCE(sum_bits, 0) AS sum_bits,
         |  COALESCE(max_bits, 0) AS max_bits,
         |  COALESCE(n_rare_bigrams, 0) AS n_rare_bigrams,
         |  CASE WHEN n_bigrams = 0 THEN 0.0
         |       ELSE ROUND(CAST(COALESCE(sum_bits, 0) AS DOUBLE) / n_bigrams, 6)
         |  END AS mean_bits
         |FROM base LEFT JOIN st ON base.doc_id = st.doc_id
         |ORDER BY base.doc_id""".stripMargin,

    // t11: per-doc top-K tf-idf keywords. Same micros grammar as the
    // Spark plan (tf * (2(N-df)+1) * 1e6 // (2df+1), HUGEINT-safe);
    // ties by term ASC (binary collation both engines).
    "t11_tfidf_keywords" -> {
      import graft.operators.TextAnalysis.KeywordK
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
         |tokr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |            i -> toks[i]||' '||toks[i+1])) AS tok
         |         FROM toks WHERE len(toks) >= 2),
         |ktf AS MATERIALIZED (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |                     FROM tokr GROUP BY 1, 2),
         |kdf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ktf GROUP BY 1),
         |kn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents),
         |sc AS (SELECT doc_id, tok, tf, df,
         |        CAST((CAST(tf AS HUGEINT) * (2*((SELECT n FROM kn) - df) + 1) * 1000000)
         |             // (2*CAST(df AS HUGEINT) + 1) AS BIGINT) AS micros
         |       FROM ktf JOIN kdf USING (tok)),
         |kr AS (SELECT doc_id, tok, tf, df, micros,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY micros DESC, tok) AS rnk
         |       FROM sc)
         |SELECT doc_id, tok AS term, tf, df,
         |  ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS tfidf, CAST(rnk AS BIGINT) AS rnk
         |FROM kr WHERE rnk <= $KeywordK ORDER BY doc_id, rnk""".stripMargin
    },

    "t05_pii_mask" -> {
      import graft.operators.TextAnalysis.{piiCardPattern, piiEmailPattern, piiIpv4Pattern, piiPhonePattern}
      def luhn(e: String): String = (1 to 16).map { i =>
        val d = s"CAST(substr($e, $i, 1) AS INT)"
        if ((16 - i) % 2 == 1) s"(CASE WHEN 2*$d > 9 THEN 2*$d - 9 ELSE 2*$d END)"
        else d
      }.mkString("(", " + ", ")")
      s"""WITH b0 AS (
         |  SELECT c_custkey, c_nationkey, c_name,
         |    '4' || lpad(CAST(c_custkey % 1000000 AS VARCHAR), 6, '0') ||
         |    lpad(CAST((c_custkey * 7919 + c_nationkey) % 100000000 AS VARCHAR), 8, '0') AS base15
         |  FROM customer),
         |b1 AS (SELECT *, (10 - ${luhn("(base15 || '0')")} % 10) % 10 AS correct FROM b0),
         |built AS (
         |  SELECT c_custkey,
         |    'contact ' || lower(regexp_replace(c_name, '[^A-Za-z0-9#]', '', 'g')) ||
         |    ' at user' || CAST(c_custkey AS VARCHAR) ||
         |    '@example' || CAST(c_nationkey AS VARCHAR) ||
         |    '.com or 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') ||
         |    '-' || lpad(CAST(c_nationkey * 173 % 10000 AS VARCHAR), 4, '0') ||
         |    ' ip 192.' || CAST(c_custkey % 254 + 1 AS VARCHAR) ||
         |    '.' || CAST(c_nationkey % 250 AS VARCHAR) ||
         |    '.' || CAST(c_custkey * 7 % 250 AS VARCHAR) ||
         |    ' card ' || base15 ||
         |    CAST(CASE WHEN c_custkey % 2 = 0 THEN correct ELSE (correct + 5) % 10 END AS VARCHAR) AS raw
         |  FROM b1),
         |m AS (SELECT c_custkey, raw,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$piiEmailPattern', '[EMAIL]', 'g'),
         |      '$piiPhonePattern', '[PHONE]', 'g'),
         |      '$piiIpv4Pattern', '[IP]', 'g') AS after_ip FROM built),
         |r AS (SELECT c_custkey, raw, after_ip,
         |    string_split_regex(after_ip, '$piiCardPattern') AS parts,
         |    regexp_extract_all(after_ip, '$piiCardPattern') AS cands,
         |    regexp_extract_all(raw, '$piiCardPattern') AS rawcands FROM m)
         |SELECT c_custkey, raw,
         |  parts[1] || array_to_string(list_transform(range(1, len(cands)+1), i ->
         |    (CASE WHEN ${luhn("cands[i]")} % 10 = 0 THEN '[CARD]' ELSE cands[i] END) || parts[i+1]), '') AS masked,
         |  CAST(len(regexp_extract_all(raw, '$piiEmailPattern')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$piiPhonePattern')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(raw, '$piiIpv4Pattern')) AS BIGINT) AS n_ips,
         |  CAST(len(rawcands) AS BIGINT) AS n_cards,
         |  CAST(len(list_filter(rawcands, x -> ${luhn("x")} % 10 = 0)) AS BIGINT) AS n_cards_valid
         |FROM r ORDER BY c_custkey""".stripMargin
    },

    "t06_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') AS toks FROM documents),
        |t1 AS (SELECT doc_id, unnest(toks) AS g FROM toks),
        |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM t1 GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tok_n, MAX(c) AS tok_top,
        |              COUNT(*) AS tok_distinct FROM tc GROUP BY 1),
        |b1 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |              i -> toks[i]||' '||toks[i+1])) AS g
        |       FROM toks WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b1 GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bg_n, MAX(c) AS bg_top,
        |              COUNT(*) AS bg_distinct FROM bc GROUP BY 1)
        |SELECT ts.doc_id, tok_n AS n_tokens,
        |  ROUND(CAST(tok_top AS DOUBLE)/tok_n, 6) AS top_tok_frac,
        |  ROUND(CAST(tok_n - tok_distinct AS DOUBLE)/tok_n, 6) AS dup_tok_frac,
        |  COALESCE(bg_n, 0) AS n_2grams,
        |  COALESCE(ROUND(CAST(bg_top AS DOUBLE)/bg_n, 6), 0.0) AS top_2gram_frac,
        |  COALESCE(ROUND(CAST(bg_n - bg_distinct AS DOUBLE)/bg_n, 6), 0.0) AS dup_2gram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""".stripMargin,

    // t07: every rule is integer arithmetic on counts — engine-exact.
    // COALESCE(text,'') keeps the gate total (one row per doc even for
    // NULL text), mirroring qualityFilter's Spark-side coalesce.
    "t07_quality_filter" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(COALESCE(text,''),'\\s+') AS toks FROM documents),
         |t1 AS (SELECT doc_id, unnest(toks) AS g FROM toks),
         |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM t1 GROUP BY 1, 2),
         |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS top,
         |              COUNT(*) AS dist FROM tc GROUP BY 1)
         |SELECT doc_id, n AS n_tokens, dist AS n_distinct, top AS top_count,
         |  n < ${graft.operators.TextAnalysis.MinTokens} AS too_short,
         |  top * 8 > n AS too_repetitive,
         |  dist * 5 < n * 2 AS low_diversity,
         |  NOT (n < ${graft.operators.TextAnalysis.MinTokens} OR top * 8 > n
         |       OR dist * 5 < n * 2) AS keep
         |FROM ts ORDER BY doc_id""".stripMargin,

    "t04_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1, len(toks)+1), i ->
        |    (CAST(('0x'||substr(md5('7:'||toks[i]),1,15)) AS BIGINT) % 1048576) *
        |    ([1,31,961,29791,923521,28629151,887503681,27512614111][((i-1)%8)+1])
        |  )) % 2305843009213693951 AS BIGINT) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,

    // t12: within-doc repetition removal — d11's positional-window
    // grammar (1-based here; only the final text must match) with the
    // FIRST-IN-DOC rule replacing the cross-doc keeper: a window whose
    // fingerprint has a smaller position in the same doc is a repeat,
    // its [i, i+W) positions are dropped, kept tokens re-join in
    // position order. The %3 self-append mirrors the Spark side's
    // planted-repeat convention. win is expensive (md5 per window) and
    // read by two consumers -> AS MATERIALIZED.
    "t12_repeat_removal" -> {
      val w = graft.operators.TextAnalysis.RepeatWindow
      val terms = (0 until w)
        .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]").mkString("||' '||")
      s"""WITH toks AS (SELECT doc_id,
         |    string_split_regex(CASE WHEN doc_id % 3 = 0
         |      THEN text || ' ' || text ELSE text END, '\\s+') AS tk
         |  FROM documents),
         |win0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) - ${w - 2})) AS i
         |         FROM toks WHERE len(tk) >= $w),
         |win AS MATERIALIZED (SELECT doc_id, i,
         |        ${h60(graft.operators.TextAnalysis.RepeatSeed, s"($terms)")} AS f
         |      FROM win0),
         |rep AS MATERIALIZED (SELECT doc_id, i FROM (
         |        SELECT doc_id, i, MIN(i) OVER (PARTITION BY doc_id, f) AS i0
         |        FROM win) WHERE i > i0),
         |rw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_repeat_windows
         |       FROM rep GROUP BY doc_id),
         |rmpos AS (SELECT DISTINCT doc_id, j FROM
         |          (SELECT doc_id, unnest(range(i, i + $w)) AS j FROM rep)),
         |tok0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS j FROM toks),
         |tokpos AS (SELECT doc_id, j, tk[j] AS tok FROM tok0),
         |ag AS (SELECT t.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_removed,
         |    COALESCE(string_agg(CASE WHEN r.doc_id IS NULL THEN t.tok END,
         |      ' ' ORDER BY t.j), '') AS cleaned_text
         |  FROM tokpos t LEFT JOIN rmpos r ON r.doc_id = t.doc_id AND r.j = t.j
         |  GROUP BY t.doc_id)
         |SELECT ag.doc_id, n_tokens, n_removed,
         |  COALESCE(rw.n_repeat_windows, 0) AS n_repeat_windows, cleaned_text
         |FROM ag LEFT JOIN rw ON ag.doc_id = rw.doc_id
         |ORDER BY ag.doc_id""".stripMargin
    },

    // t13: linear quality classifier — the SAME weight/threshold
    // constants as the Spark plan (shared literals, so the dot product
    // cannot drift); all features are non-negative ppm integers, so
    // DuckDB's floor // and Spark's truncating DIV agree.
    "t13_quality_classifier" -> {
      import graft.operators.TextAnalysis._
      val stops = langMarkers.head._2.map(m => s"'$m'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |    CAST(len(regexp_extract_all(text, '$QcPunctPattern')) AS BIGINT) AS n_punct,
         |    string_split_regex(text, '\\s+') AS toks
         |  FROM documents),
         |t1 AS (SELECT doc_id, n_chars, n_punct, unnest(toks) AS tok FROM base),
         |ag AS (SELECT doc_id, n_chars, n_punct,
         |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN tok IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         |    CAST(SUM(CASE WHEN regexp_matches(tok, '^[0-9]+$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
         |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
         |  FROM t1 GROUP BY 1, 2, 3),
         |f AS (SELECT doc_id, n_tokens,
         |    LEAST(n_chars, $QcLenSat) * 1000000 // $QcLenSat AS len_ppm,
         |    n_stop * 1000000 // n_tokens AS stop_ppm,
         |    n_distinct * 1000000 // n_tokens AS distinct_ppm,
         |    n_punct * 1000000 // GREATEST(n_chars, 1) AS punct_ppm,
         |    n_digit * 1000000 // n_tokens AS digit_ppm
         |  FROM ag)
         |SELECT doc_id, n_tokens, len_ppm, stop_ppm, distinct_ppm, punct_ppm,
         |  digit_ppm,
         |  ($QcWLen*len_ppm + $QcWStop*stop_ppm + $QcWDistinct*distinct_ppm
         |   + ($QcWPunct)*punct_ppm + ($QcWDigit)*digit_ppm) AS score_micros,
         |  ($QcWLen*len_ppm + $QcWStop*stop_ppm + $QcWDistinct*distinct_ppm
         |   + ($QcWPunct)*punct_ppm + ($QcWDigit)*digit_ppm) >= $QcThreshold AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // t14: C4 line filtering — the SAME geometry/planting constants as
    // the Spark plan (shared literals); rules evaluate rendered CONTENT
    // (contains / LIKE '%.' / token count), precedence blocklist →
    // unterminated → short.
    "t14_boilerplate_filter" -> {
      import graft.operators.TextAnalysis._
      val words = BpBlocklist
      val wordCase = words.zipWithIndex.map { case (w, j) =>
        s"WHEN ${j * BpPolicyMod} THEN '$w'" }.mkString(" ")
      val polHit = words.map(w => s"contains(txt, '$w')").mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
         |    $BpLineBase + doc_id % $BpLineMod AS len FROM documents),
         |b AS (SELECT doc_id, toks, len, len(toks) AS n FROM t),
         |l AS (SELECT doc_id, toks, len, n,
         |    unnest(range(0, (n + len - 1) // len)) AS i FROM b),
         |r AS (SELECT doc_id, i,
         |    array_to_string(toks[i*len+1 : i*len+len], ' ')
         |      || CASE WHEN (doc_id + i) % $BpPolicyMod = 0 THEN ' ' ||
         |           CASE (doc_id + i) % ${BpPolicyMod * words.size}
         |             $wordCase ELSE '${words.head}' END
         |         ELSE '' END
         |      || CASE WHEN (doc_id + i) % $BpTermMod <> 0 THEN '.' ELSE '' END AS txt,
         |    LEAST(len, n - i*len)
         |      + CASE WHEN (doc_id + i) % $BpPolicyMod = 0 THEN 1 ELSE 0 END AS cnt
         |  FROM l),
         |f AS (SELECT doc_id, i, txt, cnt, ($polHit) AS pol,
         |    txt LIKE '%.' AS term FROM r),
         |ag AS (SELECT doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_lines,
         |    CAST(SUM(CASE WHEN NOT pol AND term AND cnt >= $BpMinTokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    CAST(SUM(CASE WHEN pol THEN 1 ELSE 0 END) AS BIGINT) AS n_policy,
         |    CAST(SUM(CASE WHEN NOT pol AND NOT term THEN 1 ELSE 0 END) AS BIGINT) AS n_unterminated,
         |    CAST(SUM(CASE WHEN NOT pol AND term AND cnt < $BpMinTokens THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |    COALESCE(string_agg(CASE WHEN NOT pol AND term AND cnt >= $BpMinTokens
         |      THEN txt END, chr(10) ORDER BY i), '') AS cleaned_text
         |  FROM f GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_kept, n_policy, n_unterminated, n_short,
         |  n_kept >= $BpMinLines AS keep, cleaned_text
         |FROM ag ORDER BY doc_id""".stripMargin
    }
  )

  /** hash60 mirror: first 15 hex digits of md5(seed:s) as bigint. */
  private def h60(seed: Int, x: String): String =
    s"CAST(('0x'||substr(md5('$seed:'||$x),1,15)) AS BIGINT)"

  /** x13's BPE training chain (vocab build + one p/c/g/v CTE quartet
    * per merge round), generated once from the shared round count and
    * reused by every vocabulary consumer (x13, x16) so the trained
    * merges cannot drift between them. Exposes g1..gR (the per-round
    * picks) and vR (the merged vocabulary). */
  private def bpeTrainCtes: String = {
    val R = graft.operators.Sampling.BpeMerges
    val rounds = (1 to R).map { r =>
      s"""p$r AS (SELECT freq, ss, unnest(range(1, len(ss))) AS i FROM
         |  (SELECT string_split(w[2:-2], ')(') AS ss, freq FROM v${r - 1})),
         |c$r AS (SELECT ss[i] AS lhs, ss[i+1] AS rhs,
         |          CAST(SUM(freq) AS BIGINT) AS cnt
         |        FROM p$r GROUP BY 1, 2),
         |g$r AS MATERIALIZED (SELECT $r AS rnd, lhs, rhs, lhs||rhs AS merged, cnt
         |        FROM c$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |v$r AS MATERIALIZED (SELECT replace(w,
         |        '('||(SELECT lhs FROM g$r)||')('||(SELECT rhs FROM g$r)||')',
         |        '('||(SELECT merged FROM g$r)||')') AS w, freq FROM v${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT regexp_replace(tok, '(.)', '(\\1)', 'g') AS w,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
       |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')
       |  GROUP BY tok),
       |$rounds""".stripMargin
  }

  /** x17's BATCHED training chain: same v0 vocabulary and per-round
    * pair-count CTEs as [[bpeTrainCtes]], but each round unrolls
    * [[graft.operators.Sampling.BpeBatch]] conflict-ladder steps
    * (e12's selection-ladder pattern): step k takes the (cnt DESC,
    * lhs, rhs) argmax over pairs sharing NO symbol with an earlier
    * step's acceptance; the round's vocabulary update applies the
    * accepted replaces in pick order (disjoint, so order is
    * immaterial — kept for byte-parity with the Spark fold). Absent
    * picks coalesce to a CHR(1) sentinel that can never match a
    * framed symbol, so a thin fixture degrades to a no-op replace
    * instead of a NULL-poisoned vocabulary. */
  private def bpeBatchTrainCtes: String = {
    val R = graft.operators.Sampling.BpeBatchRounds
    val B = graft.operators.Sampling.BpeBatch
    def sel(r: Int, k: Int, fld: String): String =
      s"COALESCE((SELECT $fld FROM g${r}_$k), chr(1))"
    val rounds = (1 to R).map { r =>
      val steps = (1 to B).map { k =>
        val conflicts =
          if (k == 1) ""
          else "WHERE " + (1 until k).map(j =>
            s"NOT EXISTS (SELECT 1 FROM g${r}_$j q " +
              s"WHERE c.lhs IN (q.lhs, q.rhs) OR c.rhs IN (q.lhs, q.rhs))")
            .mkString(" AND ")
        s"""g${r}_$k AS MATERIALIZED (
           |  SELECT $r AS rnd, $k AS pick, lhs, rhs, lhs||rhs AS merged, cnt
           |  FROM c$r c $conflicts
           |  ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val applied = (1 to B).foldLeft("w") { (acc, k) =>
        s"replace($acc, '('||${sel(r, k, "lhs")}||')('||${sel(r, k, "rhs")}||')'," +
          s" '('||${sel(r, k, "merged")}||')')"
      }
      s"""p$r AS (SELECT freq, ss, unnest(range(1, len(ss))) AS i FROM
         |  (SELECT string_split(w[2:-2], ')(') AS ss, freq FROM v${r - 1})),
         |c$r AS (SELECT ss[i] AS lhs, ss[i+1] AS rhs,
         |          CAST(SUM(freq) AS BIGINT) AS cnt
         |        FROM p$r GROUP BY 1, 2),
         |$steps,
         |v$r AS MATERIALIZED (SELECT $applied AS w, freq FROM v${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT regexp_replace(tok, '(.)', '(\\1)', 'g') AS w,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
       |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')
       |  GROUP BY tok),
       |$rounds""".stripMargin
  }

  /** m07's pixel-grammar → aHash → band-candidate CTE chain, shared by
    * m07 (pair emission) and m08 (component resolution over the same
    * pair graph). Ends at `cand` (id_a, id_b, fa, fb). Bit 63 cannot
    * be built as 1<<63 (DuckDB refuses the signed overflow) — its
    * addend is the Long.MinValue literal, the same two's-complement
    * value Spark's 1L<<63 wraps to; the BIGINT sum runs in HUGEINT
    * and casts back exactly. */
  private def m07PairCtes: String = {
    import graft.operators.Multimodal.{M07Seed, M07Bands}
    s"""msrc AS (SELECT doc_id,
       |    CASE WHEN doc_id > 0 AND (doc_id % 17 = 0 OR doc_id % 31 = 0)
       |         THEN doc_id - 1 ELSE doc_id END AS b,
       |    (doc_id > 0 AND doc_id % 17 <> 0 AND doc_id % 31 = 0) AS edited
       |  FROM documents),
       |dims AS (SELECT doc_id, b, edited,
       |    8 + (b % 9) AS w, 8 + ((b * 7) % 9) AS h FROM msrc),
       |rh AS (SELECT doc_id, w, h, edited, y.y AS y,
       |    ${h60(M07Seed, "b || ':' || y.y")} AS r
       |  FROM dims, range(0, 16) y(y) WHERE y.y < h),
       |pix AS MATERIALIZED (SELECT doc_id,
       |    ((y * 8) // h) * 8 + ((x.x * 8) // w) AS bidx,
       |    CASE WHEN edited THEN LEAST(((r >> (8 * (x.x % 7))) & 255) + 3, 255)
       |         ELSE (r >> (8 * (x.x % 7))) & 255 END AS p
       |  FROM rh, range(0, 16) x(x) WHERE x.x < w),
       |tot AS (SELECT doc_id, CAST(SUM(p) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM pix GROUP BY 1),
       |blk AS (SELECT doc_id, bidx, CAST(SUM(p) AS BIGINT) AS bs,
       |    CAST(COUNT(*) AS BIGINT) AS nb FROM pix GROUP BY 1, 2),
       |fp AS MATERIALIZED (SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN bs * n > total * nb THEN
       |      CASE WHEN bidx = 63 THEN -9223372036854775808
       |           ELSE (CAST(1 AS BIGINT) << CAST(bidx AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS fp
       |  FROM blk b JOIN tot t ON b.doc_id = t.doc_id GROUP BY 1),
       |bands AS (SELECT doc_id, fp, t.band,
       |    (fp >> (16 * CAST(band AS INT))) & 65535 AS key
       |  FROM fp, range(0, $M07Bands) t(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.fp AS fa, b.fp AS fb
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** m09's sample-grammar mirror: the WAV corpus is deterministic
    * (real PCM bytes under the md5 sample rule), and PCM decode is
    * byte-exact by definition, so the oracle recomputes the SAMPLES —
    * the generation rule, never bytes (m07's convention). Re-encode
    * plants enter as 256× magnitudes (the decoded 16-bit store), gain
    * edits as the rail-saturating ±5 shift; the frame-energy hash is
    * the same strict cross-multiply with the Long.MinValue bit-63
    * literal, bands/candidates identical to m07's machinery. */
  private def m09PairCtes: String = {
    import graft.operators.Multimodal.M09Seed
    s"""asrc AS (SELECT doc_id,
       |    CASE WHEN doc_id > 0 AND (doc_id % 19 = 0 OR doc_id % 29 = 0)
       |         THEN doc_id - 1 ELSE doc_id END AS b,
       |    (doc_id > 0 AND doc_id % 19 = 0) AS reenc,
       |    (doc_id > 0 AND doc_id % 19 <> 0 AND doc_id % 29 = 0) AS edited
       |  FROM documents),
       |alen AS (SELECT doc_id, b, reenc, edited, 64 + ((b * 5) % 97) AS n
       |  FROM asrc),
       |agrp AS (SELECT doc_id, reenc, edited, n, g.g AS g,
       |    ${h60(M09Seed, "b || ':' || g.g")} AS r
       |  FROM alen, range(0, 23) g(g) WHERE g.g * 7 < n),
       |asmp AS MATERIALIZED (SELECT doc_id, n,
       |    (64 * (g * 7 + k.k)) // n AS f,
       |    abs(CASE WHEN reenc THEN 256 * (((r >> (8 * k.k)) & 255) - 128)
       |         WHEN edited THEN
       |           CASE WHEN ((r >> (8 * k.k)) & 255) - 128 >= 0
       |                THEN LEAST(((r >> (8 * k.k)) & 255) - 128 + 5, 127)
       |                ELSE GREATEST(((r >> (8 * k.k)) & 255) - 128 - 5, -128) END
       |         ELSE ((r >> (8 * k.k)) & 255) - 128 END) AS a
       |  FROM agrp, range(0, 7) k(k) WHERE g * 7 + k.k < n),
       |atot AS (SELECT doc_id, CAST(SUM(a) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM asmp GROUP BY 1),
       |afrm AS (SELECT doc_id, f, CAST(SUM(a) AS BIGINT) AS fs,
       |    CAST(COUNT(*) AS BIGINT) AS nf FROM asmp GROUP BY 1, 2),
       |afp AS MATERIALIZED (SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN fs * t.n > total * nf THEN
       |      CASE WHEN f = 63 THEN -9223372036854775808
       |           ELSE (CAST(1 AS BIGINT) << CAST(f AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS fp
       |  FROM afrm m JOIN atot t ON m.doc_id = t.doc_id GROUP BY 1),
       |abands AS (SELECT doc_id, fp, t.band,
       |    (fp >> (16 * CAST(band AS INT))) & 65535 AS key
       |  FROM afp, range(0, ${graft.operators.Multimodal.M07Bands}) t(band)),
       |acand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.fp AS fa, b.fp AS fb
       |  FROM abands a JOIN abands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** m11's frame-grammar mirror: the MP4 corpus is deterministic (real
    * PNG frames under the md5 pixel rule, addressed by real sample
    * tables) and PNG decode is pixel-exact, so the oracle recomputes
    * FRAME PIXELS per (doc, frame, y, x) — the generation rule, never
    * container bytes (m07's convention, one dimension up). Trim plants
    * drop frame 0 of the source; re-encode plants differ only in PNG
    * filter bytes so they vanish at the pixel level. Frame hashes are
    * aHash64 (the m07 block grammar), the inverted index carries the
    * d02-style stop-frame df cap, pairs need ≥ MinShared shared
    * hashes. */
  private def m11PairCtes: String = {
    import graft.operators.Multimodal.{M11Seed, M11MaxFrameDf}
    s"""vsrc AS (SELECT doc_id,
       |    CASE WHEN doc_id > 0 AND (doc_id % 23 = 0 OR doc_id % 37 = 0)
       |         THEN doc_id - 1 ELSE doc_id END AS b,
       |    (doc_id > 0 AND doc_id % 23 <> 0 AND doc_id % 37 = 0) AS trimd
       |  FROM documents),
       |vdim AS (SELECT doc_id, b, trimd, 3 + (b % 3) AS nf,
       |    8 + (b % 9) AS w, 8 + ((b * 5) % 9) AS h FROM vsrc),
       |vfr AS (SELECT doc_id, b, w, h, f.f AS f
       |  FROM vdim, range(0, 5) f(f)
       |  WHERE f.f < nf AND (NOT trimd OR f.f >= 1)),
       |vrh AS (SELECT doc_id, f, w, h, y.y AS y,
       |    ${h60(M11Seed, "b || ':' || f || ':' || y.y")} AS r
       |  FROM vfr, range(0, 16) y(y) WHERE y.y < h),
       |vpix AS MATERIALIZED (SELECT doc_id, f,
       |    ((y * 8) // h) * 8 + ((x.x * 8) // w) AS bidx,
       |    (r >> (8 * (x.x % 7))) & 255 AS p
       |  FROM vrh, range(0, 16) x(x) WHERE x.x < w),
       |vtot AS (SELECT doc_id, f, CAST(SUM(p) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM vpix GROUP BY 1, 2),
       |vblk AS (SELECT doc_id, f, bidx, CAST(SUM(p) AS BIGINT) AS bs,
       |    CAST(COUNT(*) AS BIGINT) AS nb FROM vpix GROUP BY 1, 2, 3),
       |vhash AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM (
       |  SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN bs * t.n > total * nb THEN
       |      CASE WHEN bidx = 63 THEN -9223372036854775808
       |           ELSE (CAST(1 AS BIGINT) << CAST(bidx AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS fp
       |  FROM vblk k JOIN vtot t ON k.doc_id = t.doc_id AND k.f = t.f
       |  GROUP BY t.doc_id, t.f)),
       |vkept AS (SELECT doc_id, fp FROM vhash
       |  WHERE fp IN (SELECT fp FROM vhash GROUP BY fp
       |               HAVING COUNT(*) <= $M11MaxFrameDf)),
       |vnv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM vhash GROUP BY 1),
       |vshared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM vkept a JOIN vkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** x10's chunking CTE chain (tokenize → chunk-index explode → md5 of
    * the token slice), generated once from the shared geometry
    * constants and reused by every chunk-consuming oracle (x10, x12) so
    * the fingerprints cannot drift between them. `fromSql` supplies the
    * (doc_id, text) source relation; the final CTE `c` carries
    * (doc_id, toks, n, chunk_no, chunk_md5). */
  private def chunkCtes(fromSql: String): String = {
    val C = graft.operators.Sampling.ChunkTokens
    val S = graft.operators.Sampling.ChunkStride
    s"""t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM $fromSql),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |cn AS (SELECT doc_id, toks, n,
       |        unnest(range(0, CASE WHEN n <= $C THEN 1
       |                            ELSE (n - $C + $S - 1) // $S + 1 END)) AS chunk_no
       |      FROM n),
       |c AS (SELECT doc_id, toks, n, chunk_no,
       |        md5(array_to_string(toks[chunk_no * $S + 1 : chunk_no * $S + $C], ' ')) AS chunk_md5
       |      FROM cn)""".stripMargin
  }

  /** RHP band-assignment mirror for the shared e02/d05 bucketing: one
    * SELECT per LSH table, with the hyperplane sign weights (md5-parity,
    * [[graft.functions.Vec.rhpSign]]) embedded as ±1 literals — the exact
    * arrays [[graft.functions.RhpBucket]] builds at plan time, summed in
    * the same index order, so bucket ids match the Spark plan
    * bit-for-bit and the "approximate" queries are hash-gated exactly.
    * `rhpBits` is the CALIBRATED band width (Similarity.scaledRhpBits of
    * the corpus count) — [[graft.Verify]] threads the same count both
    * engines see, so plan and mirror always agree. */
  private def rhpBandsSql(rhpBits: Int): String = {
    import graft.operators.Similarity.{RhpSeedBase, RhpTables}
    (0 until RhpTables).map { t =>
      val bits = (0 until rhpBits).map { j =>
        val w = (0 until 64).map(i =>
          if (graft.functions.Vec.rhpSign(RhpSeedBase + t * rhpBits + j, i) > 0)
            "1" else "-1").mkString("[", ",", "]")
        s"(CASE WHEN list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * ($w)[i])) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $t AS tbl, CAST($bits AS BIGINT) AS bkt FROM embeddings"
    }.mkString("\n  UNION ALL\n")
  }

  /** Distinct word-k-gram shingles CTE (mirrors Text.shingles /
    * GraftShingles at any k): range upper bound len(toks)-(k-2) makes
    * exactly n-k+1 windows, and the len >= k guard mirrors the Spark
    * side's empty-set-for-short-docs rule. */
  private def shingleCteK(name: String, k: Int,
                          docPred: String = "TRUE"): String = {
    val terms = (0 until k)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString("||' '||")
    s"""$name AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-${k - 2}),
       |    i -> $terms)) AS sh
       |  FROM (SELECT doc_id, string_split_regex(text,'\\s+') AS toks FROM documents
       |        WHERE $docPred)
       |  WHERE len(toks) >= $k)""".stripMargin
  }

  /** Distinct word-3-gram shingles CTE (mirrors Text.shingles). */
  private val shingleCte = shingleCteK("sh", 3)

  /** Dedup block (SURVEY §2.B). */
  /** d06's from-scratch component resolution (recursive CTE over the
    * d03 pair graph) — shared verbatim by d06 and d09 (whose gate it
    * turns into an incremental-equals-from-scratch proof).
    * Connected components as a recursive CTE: reach(rid, lbl) holds
    * "vertex lbl reaches vertex rid"; UNION (set semantics) bounds the
    * recursion, and MIN(lbl) per rid is exactly the component-min
    * labelling the Spark loop converges to. */
  private def d06Sql(d03Ctes: String, docPred: String = "TRUE"): String =
    s"""WITH RECURSIVE $d03Ctes,
       |edges AS (SELECT id_a AS ea, id_b AS eb FROM d03pairs
       |          UNION ALL SELECT id_b, id_a FROM d03pairs),
       |reach(rid, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE $docPred
       |  UNION
       |  SELECT e.eb, r.lbl FROM reach r JOIN edges e ON r.rid = e.ea),
       |lab AS MATERIALIZED (SELECT rid AS doc_id, MIN(lbl) AS canonical_id FROM reach GROUP BY rid),
       |gs AS (SELECT canonical_id AS cid, COUNT(*) AS group_size FROM lab GROUP BY 1)
       |SELECT doc_id, canonical_id, group_size, doc_id = canonical_id AS is_keeper
       |FROM lab JOIN gs ON canonical_id = cid ORDER BY doc_id""".stripMargin

  def dedup(rhpBits: Int = graft.operators.Similarity.RhpBits): Map[String, String] = {
    import graft.functions.Text.{minhashA, minhashB, MinhashMod => M}
    val minhashes = (0 until 16)
      .map(j => s"list_min(list_transform(hb, h -> (h * ${minhashA(j)} + ${minhashB(j)}) % $M))")
      .mkString(",\n        ")
    val simhashBits = (0 until 32).map(i =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val cosine =
      """list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, len(b.embedding)+1), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))))""".stripMargin
    // d03's candidate + verified-pair CTE chain, shared by d03 itself and
    // d06's component resolution over the same pair graph. The shingle
    // CTE is a parameter so d16 can run the whole chain on
    // corpus-minus-deleted (banding and verification are per-doc /
    // per-pair, so the filtered chain's pairs are exactly the full
    // chain's pairs with both endpoints live).
    def d03CtesWith(shCteStr: String): String =
      s"""$shCteStr,
         |hbt AS (SELECT doc_id, sh, list_transform(sh, s -> ${h60(0, "s")} % $M) AS hb FROM sh),
         |sig AS (SELECT doc_id, sh, [$minhashes] AS sig FROM hbt),
         |bands AS (SELECT doc_id, b, sig[b*4+1:b*4+4] AS bsig FROM sig, range(0,4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |d03pairs AS (SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b,
         |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) AS jaccard
         |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
         |WHERE jaccard >= 0.5)""".stripMargin
    val d03Ctes = d03CtesWith(shingleCte)
    val deletePred = {
      import graft.operators.Incremental.{DeleteMod, DeleteRes}
      s"doc_id % $DeleteMod <> $DeleteRes"
    }
    // d17's composed survivor set: deleted ∧ not-re-ingested is the
    // only slice absent at the end of append→delete→append.
    val composedPred = {
      import graft.operators.Incremental.{DeleteMod, DeleteRes, ComposedReingestMod}
      s"NOT (doc_id % $DeleteMod = $DeleteRes AND doc_id % $ComposedReingestMod <> 0)"
    }
    // x08's full mirror as a predicate-parameterized builder: x08 runs
    // it at TRUE, x18 on corpus-minus-deleted — same SQL, one source.
    def x08SqlWith(docPred: String): String = {
      import graft.operators.TextAnalysis.MinTokens
      import graft.operators.Dedup.{DecontamN, DecontamSeed, DecontamBenchMod}
      import graft.operators.Sampling.{SplitSeed, TrainPct, ValPct}
      s"""WITH RECURSIVE ${d03CtesWith(shingleCteK("sh", 3, docPred))},
           |${shingleCteK("sh8", DecontamN, docPred)},
           |qtc AS (SELECT doc_id, g, COUNT(*) AS c FROM (
           |          SELECT doc_id, unnest(string_split_regex(COALESCE(text,''),'\\s+')) AS g
           |          FROM documents WHERE $docPred) t GROUP BY 1, 2),
           |qts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS top,
           |               COUNT(*) AS dist FROM qtc GROUP BY 1),
           |qk AS (SELECT doc_id, NOT (n < $MinTokens OR top * 8 > n
           |                           OR dist * 5 < n * 2) AS q_keep FROM qts),
           |benchdoc AS (SELECT doc_id,
           |    ${h60(DecontamSeed, "CAST(doc_id AS VARCHAR)")} % $DecontamBenchMod = 0 AS is_bench
           |  FROM documents WHERE $docPred),
           |grams AS (SELECT m.doc_id, b.is_bench, ${h60(DecontamSeed, "g")} AS gh
           |          FROM (SELECT doc_id, unnest(sh) AS g FROM sh8) m
           |          JOIN benchdoc b ON m.doc_id = b.doc_id),
           |benchg AS (SELECT DISTINCT gh FROM grams WHERE is_bench),
           |contam AS (SELECT DISTINCT doc_id FROM (
           |            SELECT DISTINCT doc_id, gh FROM grams WHERE NOT is_bench) t
           |           JOIN benchg USING (gh)),
           |stage0 AS MATERIALIZED (SELECT d.doc_id,
           |    CASE WHEN b.is_bench THEN 'benchmark'
           |         WHEN NOT qk.q_keep THEN 'low_quality'
           |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
           |         ELSE 'clean' END AS st
           |  FROM documents d JOIN benchdoc b USING (doc_id)
           |  JOIN qk USING (doc_id) LEFT JOIN contam c ON d.doc_id = c.doc_id),
           |clean AS MATERIALIZED (SELECT doc_id FROM stage0 WHERE st = 'clean'),
           |cpairs AS (SELECT id_a, id_b FROM d03pairs
           |           JOIN clean a ON id_a = a.doc_id
           |           JOIN clean b ON id_b = b.doc_id),
           |cedges AS (SELECT id_a AS ea, id_b AS eb FROM cpairs
           |           UNION ALL SELECT id_b, id_a FROM cpairs),
           |reach(rid, lbl) AS (
           |  SELECT doc_id, doc_id FROM clean
           |  UNION
           |  SELECT e.eb, r.lbl FROM reach r JOIN cedges e ON r.rid = e.ea),
           |lab AS MATERIALIZED (SELECT rid AS doc_id, MIN(lbl) AS lbl FROM reach GROUP BY rid),
           |tq AS (SELECT doc_id, n_chars, string_split_regex(text, '\\s+') AS toks
           |       FROM documents WHERE $docPred),
           |tb AS (SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS n_tokens,
           |   CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) AS n_stop,
           |   CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct FROM tq),
           |qual AS (SELECT doc_id,
           |  ROUND(LEAST(CAST(n_chars AS DOUBLE), 500.0) / 500.0 * 0.5 +
           |        (1.0 - n_stop / CAST(n_tokens AS DOUBLE)) * 0.3 +
           |        n_distinct / CAST(n_tokens AS DOUBLE) * 0.2, 6) AS quality
           |  FROM tb),
           |gr AS (SELECT lbl, COUNT(*) AS group_size FROM lab GROUP BY 1),
           |kp AS (SELECT lbl, doc_id AS keeper_id FROM (
           |        SELECT lab.lbl, lab.doc_id,
           |          ROW_NUMBER() OVER (PARTITION BY lab.lbl
           |            ORDER BY quality DESC, lab.doc_id) AS rn
           |        FROM lab JOIN qual USING (doc_id)) WHERE rn = 1),
           |sp AS (SELECT doc_id,
           |    CASE WHEN bucket < $TrainPct THEN 'train'
           |         WHEN bucket < ${TrainPct + ValPct} THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |          ${h60(SplitSeed, "CAST(doc_id AS VARCHAR)")} % 100 AS bucket
           |        FROM documents WHERE $docPred)),
           |cleanrows AS (SELECT lab.doc_id,
           |    CASE WHEN lab.doc_id = kp.keeper_id THEN 'kept'
           |         ELSE 'duplicate' END AS stage,
           |    lab.lbl AS group_id, gr.group_size, kp.keeper_id,
           |    CASE WHEN lab.doc_id = kp.keeper_id THEN sp.split
           |         ELSE 'none' END AS split,
           |    lab.doc_id = kp.keeper_id AS keep
           |  FROM lab JOIN gr USING (lbl) JOIN kp USING (lbl)
           |  JOIN sp USING (doc_id)),
           |droprows AS (SELECT doc_id, st AS stage,
           |    CAST(-1 AS BIGINT) AS group_id, CAST(0 AS BIGINT) AS group_size,
           |    CAST(-1 AS BIGINT) AS keeper_id, 'none' AS split, FALSE AS keep
           |  FROM stage0 WHERE st <> 'clean')
           |SELECT doc_id, stage, group_id, group_size, keeper_id, split, keep
           |FROM (SELECT * FROM cleanrows UNION ALL SELECT * FROM droprows)
           |ORDER BY doc_id""".stripMargin
    }
    Map(
      "d01_dedup_exact" ->
        """WITH doubled AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
          |SELECT sha256(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
          |FROM doubled GROUP BY 1 ORDER BY keep_id""".stripMargin,

      // d13: URL generation (shared variant templates, Dedup.urlVariants)
      // + the same ordered canonicalization chain as the plan. Every
      // regexp_replace carries 'g' — Spark replaces all matches by
      // default, DuckDB only the first without the flag (two utm params
      // in one query string would otherwise survive half-stripped).
      "d13_url_dedup" -> {
        import graft.operators.Dedup.{urlTrackingParamPattern, urlVariants}
        def sqlV(v: Seq[Either[String, String]]): String = v.map {
          case Left(s)      => "'" + s + "'"
          case Right("cid") => "CAST(doc_id // 4 AS VARCHAR)"
          case Right(f)     => sys.error(s"unknown url field $f")
        }.mkString(" || ")
        s"""WITH raw AS (SELECT doc_id,
           |  CASE doc_id % 4 WHEN 0 THEN ${sqlV(urlVariants(0))}
           |                  WHEN 1 THEN ${sqlV(urlVariants(1))}
           |                  WHEN 2 THEN ${sqlV(urlVariants(2))}
           |                  ELSE ${sqlV(urlVariants(3))} END AS url
           |  FROM documents),
           |c AS (SELECT doc_id, url,
           |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |  regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
           |    ':(80|443)$$', '', 'g') AS host,
           |  regexp_replace(regexp_replace(replace(replace(
           |      regexp_replace(regexp_replace(
           |        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1),
           |        '#.*$$', '', 'g'), '$urlTrackingParamPattern', '', 'g'),
           |      '?&', '?'), '&&', '&'),
           |    '[?&]+$$', '', 'g'), '/+$$', '', 'g') AS path
           |  FROM raw)
           |SELECT scheme || '://' || host || path AS canonical_url,
           |  MIN(doc_id) AS keep_id, COUNT(*) AS n_spellings,
           |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw
           |FROM c GROUP BY 1 ORDER BY keep_id""".stripMargin
      },

      "d02_ngram_jaccard" ->
        s"""WITH $shingleCte,
           |inv0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
           |inv AS (SELECT doc_id, n_sh, s FROM (
           |          SELECT *, COUNT(*) OVER (PARTITION BY s) AS df FROM inv0)
           |        WHERE df <= ${graft.operators.Dedup.NgramMaxDf}),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
           |      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
           |      GROUP BY 1,2,3,4)
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE), 6) AS jaccard FROM p)
           |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      // d10: cross-doc duplicated-span stats over distinct SpanK-token
      // windows (shingleCteK mirrors GraftShingles at k=8; short docs
      // fall out of the CTE and re-enter with n_spans = 0 via the left
      // join, matching the Spark side's empty-array size()). Spans are
      // reduced to hash60 fingerprints before grouping — the exact
      // mirror of the Spark side's shuffle-narrowing projection.
      "d10_span_dup" ->
        s"""WITH ${shingleCteK("sp8", graft.operators.Dedup.SpanK)},
           |occ AS (SELECT doc_id, ${h60(graft.operators.Dedup.SpanSeed, "sp")} AS sph
           |        FROM (SELECT doc_id, unnest(sh) AS sp FROM sp8)),
           |dup AS (SELECT sph, min(doc_id) AS keeper FROM occ GROUP BY sph
           |        HAVING count(*) >= 2),
           |pd AS (SELECT doc_id, count(*) AS n_dup,
           |         sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS n_masked
           |       FROM occ JOIN dup USING (sph) GROUP BY doc_id),
           |nt AS (SELECT d.doc_id, CAST(COALESCE(len(s.sh), 0) AS BIGINT) AS n_spans
           |       FROM documents d LEFT JOIN sp8 s ON d.doc_id = s.doc_id)
           |SELECT nt.doc_id, n_spans,
           |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
           |  CAST(COALESCE(n_masked, 0) AS BIGINT) AS n_masked,
           |  CASE WHEN n_spans > 0
           |       THEN ROUND(CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_spans, 6)
           |       ELSE 0.0 END AS dup_frac
           |FROM nt LEFT JOIN pd ON nt.doc_id = pd.doc_id
           |ORDER BY nt.doc_id""".stripMargin,

      // d11: the masking transform — positional windows (1-based here;
      // only the final text must match), same hash60 fingerprints as
      // d10, df/keeper per fingerprint, tokens covered by a non-keeper
      // dup window replaced by the sentinel, text re-joined in token
      // order (string_agg ORDER BY = Spark's sorted-struct rebuild).
      "d11_span_mask" -> {
        val k = graft.operators.Dedup.SpanK
        val terms = (0 until k)
          .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]").mkString("||' '||")
        s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
           |              FROM documents),
           |win0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) - ${k - 2})) AS i
           |         FROM toks WHERE len(tk) >= $k),
           |win AS (SELECT doc_id, i, ${h60(graft.operators.Dedup.SpanSeed, s"($terms)")} AS f
           |        FROM win0),
           |pg AS (SELECT doc_id, f, list_sort(list(i)) AS ii FROM win GROUP BY doc_id, f),
           |dfk AS (SELECT doc_id, f, ii,
           |          count(*) OVER (PARTITION BY f) AS ndocs,
           |          min(doc_id) OVER (PARTITION BY f) AS keeper
           |        FROM pg),
           |bad0 AS (SELECT doc_id, unnest(ii) AS i
           |         FROM dfk WHERE ndocs >= 2 AND doc_id <> keeper),
           |badpos AS (SELECT DISTINCT doc_id, j
           |           FROM (SELECT doc_id, unnest(range(i, i + $k)) AS j FROM bad0)),
           |tok0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS j FROM toks),
           |tokpos AS (SELECT doc_id, j, tk[j] AS tok FROM tok0)
           |SELECT t.doc_id,
           |  CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_masked,
           |  string_agg(CASE WHEN b.doc_id IS NOT NULL
           |                  THEN '${graft.operators.Dedup.MaskToken}'
           |                  ELSE t.tok END, ' ' ORDER BY t.j) AS masked_text
           |FROM tokpos t LEFT JOIN badpos b ON b.doc_id = t.doc_id AND b.j = t.j
           |GROUP BY t.doc_id
           |ORDER BY t.doc_id""".stripMargin
      },

      // d08: same inverted index as d02; containment divides by the
      // SMALLER set instead of the union (integer/integer → identical
      // doubles on both engines).
      "d08_containment" ->
        s"""WITH $shingleCte,
           |inv0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
           |inv AS (SELECT doc_id, n_sh, s FROM (
           |          SELECT *, COUNT(*) OVER (PARTITION BY s) AS df FROM inv0)
           |        WHERE df <= ${graft.operators.Dedup.NgramMaxDf}),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
           |      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
           |      GROUP BY 1,2,3,4)
           |SELECT id_a, id_b, n_a, n_b, containment FROM (
           |  SELECT id_a, id_b, na AS n_a, nb AS n_b,
           |    ROUND(CAST(inter AS DOUBLE)/CAST(LEAST(na, nb) AS DOUBLE), 6) AS containment FROM p)
           |WHERE containment >= ${graft.operators.Dedup.ContainTau} ORDER BY id_a, id_b""".stripMargin,

      "d03_minhash_lsh" ->
        s"""WITH $d03Ctes
           |SELECT id_a, id_b, jaccard FROM d03pairs ORDER BY id_a, id_b""".stripMargin,

      // s05's emitted pair set == batch d03 (the streaming parity the
      // spec asserts per-micro-batch) — its oracle is d03's verbatim.
      "s05_stream_neardup" ->
        s"""WITH $d03Ctes
           |SELECT id_a, id_b, jaccard FROM d03pairs ORDER BY id_a, id_b""".stripMargin,

      "d06_dup_groups" -> d06Sql(d03Ctes),

      // d09's oracle IS d06's from-scratch SQL: the Spark side ingests
      // the 20% batch incrementally (base CC + label-space merge), the
      // oracle recomputes components over the combined corpus from
      // nothing — hash equality on every gate run is the
      // incremental == from-scratch proof, not a one-off spec claim.
      "d09_incremental_groups" -> d06Sql(d03Ctes),

      // d16's oracle is d06's from-scratch SQL on corpus-MINUS-deleted
      // (the d09 convention inverted): the Spark side propagates the
      // takedown through persisted labels + the labeled pair graph
      // (touched-component re-CC, keeper re-election, splits); the
      // oracle re-resolves components of the remaining corpus from
      // nothing — hash equality IS the delete-propagation proof.
      "d16_delete_groups" ->
        d06Sql(d03CtesWith(shingleCteK("sh", 3, deletePred)), deletePred),

      // s10's oracle is d16's VERBATIM (from-scratch on corpus-minus-
      // deleted): the Spark side applies the same takedown slice as a
      // THREE-micro-batch CDC stream against persisted state — hash
      // equality proves the per-batch deletes COMPOSE to the one-shot
      // takedown (the e11 = e09 oracle-sharing precedent).
      "s10_stream_takedown" ->
        d06Sql(d03CtesWith(shingleCteK("sh", 3, deletePred)), deletePred),

      // d17's oracle is d06's from-scratch SQL on the COMPOSED survivor
      // set ((base ∪ batch₁) − deleted) ∪ batch₂ = everything except
      // the deleted-and-not-re-ingested slice. The Spark side chains
      // THREE production state operations (append, delete, append with
      // re-ingestion) through one carried state; equality with the
      // from-scratch mirror on the survivors is what "the lifecycle
      // composes" means — stale bands, a resurrected pair, or a
      // relabel bug in either append would each diverge.
      "d17_lifecycle_groups" ->
        d06Sql(d03CtesWith(shingleCteK("sh", 3, composedPred)), composedPred),

      "d04_simhash" ->
        s"""WITH $shingleCte,
           |hsh AS (SELECT doc_id, list_transform(sh, t -> ${h60(0, "t")}) AS hs FROM sh),
           |fp AS (SELECT doc_id, CAST($simhashBits AS BIGINT) AS fp FROM hsh),
           |bands AS (SELECT doc_id, fp, b, (fp >> (8*b)) & 255 AS key FROM fp, range(0,4) t(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb
           |         FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming FROM cand
           |WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY id_a, id_b""".stripMargin,

      "d07_decontaminate" -> {
        import graft.operators.Dedup.{DecontamN, DecontamSeed, DecontamBenchMod}
        val benchMark = s"${h60(DecontamSeed, "CAST(doc_id AS VARCHAR)")} % $DecontamBenchMod"
        s"""WITH ${shingleCteK("sh8", DecontamN)},
           |marked AS (SELECT doc_id, sh, $benchMark = 0 AS is_bench FROM sh8),
           |grams AS (SELECT doc_id, is_bench, ${h60(DecontamSeed, "g")} AS gh
           |          FROM (SELECT doc_id, is_bench, unnest(sh) AS g FROM marked)),
           |bench AS (SELECT DISTINCT gh, doc_id AS bench_id FROM grams WHERE is_bench),
           |hits AS (SELECT doc_id, COUNT(DISTINCT gh) AS n_hit_ngrams,
           |                COUNT(DISTINCT bench_id) AS n_bench_docs
           |         FROM (SELECT DISTINCT doc_id, gh FROM grams WHERE NOT is_bench) t
           |         JOIN bench USING (gh) GROUP BY doc_id),
           |alltrain AS (SELECT doc_id FROM documents WHERE $benchMark <> 0)
           |SELECT doc_id, COALESCE(n_hit_ngrams, 0) AS n_hit_ngrams,
           |  COALESCE(n_bench_docs, 0) AS n_bench_docs,
           |  COALESCE(n_hit_ngrams, 0) > 0 AS contaminated
           |FROM alltrain LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin
      },

      // d14: bloom-filter decontamination — d07's gram machinery, but the
      // benchmark side collapses to its set-bit positions (two disjoint
      // bit slices of the one hash60 digest, % / // on BloomBits) and the
      // corpus check is position membership. False positives are
      // md5-deterministic, so the mirror reproduces them bit-for-bit.
      // grams/tg feed multiple consumers → AS MATERIALIZED (DuckDB 1.0
      // inlines multiply-referenced CTEs).
      "d14_bloom_decontaminate" -> {
        import graft.operators.Dedup.{DecontamN, DecontamSeed, DecontamBenchMod, BloomBits}
        val benchMark = s"${h60(DecontamSeed, "CAST(doc_id AS VARCHAR)")} % $DecontamBenchMod"
        s"""WITH ${shingleCteK("sh8", DecontamN)},
           |marked AS (SELECT doc_id, sh, $benchMark = 0 AS is_bench FROM sh8),
           |grams AS MATERIALIZED (SELECT doc_id, is_bench, ${h60(DecontamSeed, "g")} AS gh
           |          FROM (SELECT doc_id, is_bench, unnest(sh) AS g FROM marked)),
           |bgh AS (SELECT DISTINCT gh FROM grams WHERE is_bench),
           |pos AS MATERIALIZED (SELECT DISTINCT p FROM (
           |  SELECT gh % $BloomBits AS p FROM bgh
           |  UNION ALL SELECT (gh // $BloomBits) % $BloomBits FROM bgh)),
           |tg AS MATERIALIZED (SELECT DISTINCT doc_id, gh FROM grams WHERE NOT is_bench),
           |cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY 1),
           |hit AS (SELECT doc_id, COUNT(*) AS n_bloom_hits FROM tg
           |        WHERE gh % $BloomBits IN (SELECT p FROM pos)
           |          AND (gh // $BloomBits) % $BloomBits IN (SELECT p FROM pos)
           |        GROUP BY 1),
           |alltrain AS (SELECT doc_id FROM documents WHERE $benchMark <> 0)
           |SELECT doc_id, COALESCE(n_grams, 0) AS n_grams,
           |  COALESCE(n_bloom_hits, 0) AS n_bloom_hits,
           |  COALESCE(n_bloom_hits, 0) > 0 AS flagged
           |FROM alltrain LEFT JOIN cnt USING (doc_id)
           |LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin
      },

      // d15: PageRank-class domain centrality — the iterative graph
      // recurrence unrolled as 8 CTE iterations (e03's Lloyd pattern).
      // Everything is exact integer arithmetic ((r·w) DIV w_out
      // contributions, 150000 + 85·Σ DIV 100 update) and the edge
      // grammar is closed-form (home = doc % nDomains, md5 outlinks, 1
      // in 10 rerouted to hub 0), so the "approximate" iterative
      // algorithm is hash-gated like everything else. nDomains is a
      // scalar subquery of the corpus count — the same value the Spark
      // plan driver-folds.
      "d15_domain_rank" -> {
        import graft.operators.Dedup.{RankIters, RankSeed, RankLinksPerDoc,
          RankHubMod, RankDocsPerDomain}
        val iters = (1 to RankIters).map { k =>
          s"""c$k AS (SELECT e.dst, CAST(SUM((r.r * e.w) // e.wsum) AS BIGINT) AS sc
             |  FROM ew e JOIN r${k - 1} r ON r.dom = e.src GROUP BY 1),
             |r$k AS (SELECT dom, CAST(150000 + (85 * COALESCE(sc, 0)) // 100 AS BIGINT) AS r
             |  FROM doms LEFT JOIN c$k ON c$k.dst = doms.dom)""".stripMargin
        }.mkString(",\n")
        s"""WITH nd AS (SELECT GREATEST(16, COUNT(*) // $RankDocsPerDomain) AS n FROM documents),
           |dcs AS (SELECT doc_id, doc_id % (SELECT n FROM nd) AS src FROM documents),
           |lk AS (SELECT src, CASE WHEN h % $RankHubMod = 0 THEN 0
           |         ELSE (h // $RankHubMod) % (SELECT n FROM nd) END AS dst
           |  FROM (SELECT src, ${h60(RankSeed, "doc_id || ':' || j.j")} AS h
           |        FROM dcs, range(0, $RankLinksPerDoc) j(j))),
           |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
           |          FROM lk GROUP BY 1, 2),
           |wout AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum
           |                      FROM edges GROUP BY 1),
           |ew AS MATERIALIZED (SELECT e.src, e.dst, e.w, w.wsum
           |                    FROM edges e JOIN wout w USING (src)),
           |doms AS MATERIALIZED (SELECT src AS dom, CAST(COUNT(*) AS BIGINT) AS n_docs
           |                      FROM dcs GROUP BY 1),
           |r0 AS (SELECT dom, CAST(1000000 AS BIGINT) AS r FROM doms),
           |$iters
           |SELECT doms.dom, n_docs, wsum AS w_out, r AS rank_micros
           |FROM doms JOIN wout ON wout.src = doms.dom
           |JOIN r$RankIters USING (dom)
           |ORDER BY dom""".stripMargin
      },

      // x08: the curation DECISION table — t07's integer quality gate,
      // d07's bench quarantine + contamination verdicts, d03's verified
      // pairs restricted to clean docs resolved by d06's recursive-CTE
      // components, the KEEP-BEST-QUALITY keeper (t02 quality DESC,
      // doc_id tie-break — 6-dp rounding makes the ordering
      // engine-exact), and x05's hash split for survivors. Every
      // fragment is the corresponding gated key's oracle verbatim, so
      // the composition inherits their parity arguments.
      "x08_curation_decide" -> x08SqlWith("TRUE"),

      // x18's oracle is x08's chain VERBATIM on corpus-minus-deleted
      // (benchmark rows are takedown-exempt — the registry is
      // immutable, which is also what keeps contamination monotone
      // under deletes): quality-keeper re-election, component splits,
      // and decision-frame reassembly are hash-proved from scratch.
      "x18_curation_delete" -> {
        import graft.operators.Dedup.{DecontamSeed, DecontamBenchMod}
        import graft.operators.Incremental.{DeleteMod, DeleteRes}
        x08SqlWith(s"NOT (doc_id % $DeleteMod = $DeleteRes AND " +
          s"${h60(DecontamSeed, "CAST(doc_id AS VARCHAR)")} % $DecontamBenchMod <> 0)")
      },

      // x19's oracle is x08's chain on the COMPOSED survivor set: the
      // x18 takedown slice (bench-exempt) minus the re-ingested third.
      // The from-scratch mirror's registry is the survivors' bench
      // grams — equal to the composed state's monotone registry because
      // the slice never contains a bench row; hash equality proves the
      // merge/delete/merge state machine composes (monotone
      // contamination, registry immutability, pair-graph hygiene,
      // quality-keeper re-election) on every run.
      "x19_curation_lifecycle" -> {
        import graft.operators.Dedup.{DecontamSeed, DecontamBenchMod}
        import graft.operators.Incremental.{DeleteMod, DeleteRes, ComposedReingestMod}
        x08SqlWith(s"NOT (doc_id % $DeleteMod = $DeleteRes AND " +
          s"${h60(DecontamSeed, "CAST(doc_id AS VARCHAR)")} % $DecontamBenchMod <> 0 AND " +
          s"doc_id % $ComposedReingestMod <> 0)")
      },

      // bands feeds BOTH sides of the candidate self-join; DuckDB 1.0
      // INLINES repeated CTE references (measured: the un-hinted d12
      // mirror ran >4 h at sf1 where the MATERIALIZED form takes ~7 min),
      // so multiply-referenced expensive CTEs carry the hint. Purely an
      // evaluation directive — values are unchanged.
      "d05_embedding_dedup" ->
        s"""WITH bands AS MATERIALIZED (
           |${rhpBandsSql(rhpBits)}),
           |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |         FROM bands x JOIN bands y
           |         ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
           |SELECT id_a, id_b, cosine FROM (
           |  SELECT id_a, id_b, ROUND($cosine, 6) AS cosine
           |  FROM cand JOIN embeddings a ON a.vec_id = id_a
           |            JOIN embeddings b ON b.vec_id = id_b)
           |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin
    )
  }

  /** Similarity block (SURVEY §2.C). e02's LSH bands are deterministic,
    * so its oracle mirrors the bucketing exactly (rhpBandsSql) and even
    * the "approximate" query is hash-gated; its recall vs e01 is
    * additionally spec-tested.
    *
    * `pqShortlist` is the CALIBRATED ADC depth shared by e04/e05/e06
    * (n/20, Similarity.calibratedPqShortlist). */
  def similarity(rhpBits: Int = graft.operators.Similarity.RhpBits,
                 pqShortlist: Int = graft.operators.Similarity.PqShortlist): Map[String, String] = {
    val cosQC =
      """list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE)*CAST(c.embedding[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE)*CAST(qv[i] AS DOUBLE))))
        |    * sqrt(list_sum(list_transform(range(1, len(c.embedding)+1), i -> CAST(c.embedding[i] AS DOUBLE)*CAST(c.embedding[i] AS DOUBLE)))))""".stripMargin
    // Raw (unrounded) cosine between two 64-dim vector expressions —
    // casts mirror Vec.cosine (both sides to double), sums run in index
    // order, so assignment argmaxes compare bit-identical doubles.
    def cosRaw(a: String, b: String): String =
      s"list_sum(list_transform(range(1,65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / (sqrt(list_sum(list_transform(range(1,65), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE))))" +
        s" * sqrt(list_sum(list_transform(range(1,65), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))))"
    // One Lloyd assignment CTE pair (a$n/m$n): nearest centroid from
    // cent$prev by raw cosine, ties to the lowest cell id — the mirror of
    // Similarity.kmeansAssign's max_by over (score, -cell). `src` is
    // `trainset` for the Lloyd iterations (sampled training) and
    // `embeddings` for the final index-build assignment.
    def assignCte(n: Int, cent: String, src: String): String =
      s"""a$n AS (SELECT e.vec_id, c.cell, ${cosRaw("e.embedding", "c.cv")} AS score
         |        FROM $src e, $cent c),
         |m$n AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rr
         |          FROM a$n) WHERE rr = 1)""".stripMargin
    // Exact scaled-integer centroid means — Similarity.kmeansUpdate.
    // (Joining full embeddings by vec_id is already trainset-restricted:
    // m$n only contains sampled ids.)
    def updateCte(n: Int): String =
      s"""comp$n AS (SELECT cell, i,
         |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (COUNT(*) * 1000000.0) AS c
         |  FROM embeddings JOIN m$n USING (vec_id), range(1, 65) t(i)
         |  GROUP BY cell, i),
         |cent$n AS (SELECT cell, list(c ORDER BY i) AS cv FROM comp$n GROUP BY cell)""".stripMargin
    import graft.operators.Similarity.{KmeansCells, KmeansIters, KmeansSampleSeed, KmeansTrainPermille, Probe}
    val lloyd = (1 to KmeansIters).map(n =>
      assignCte(n, s"cent${n - 1}", "trainset") + ",\n" + updateCte(n)).mkString(",\n")
    // e04 per-subspace mirrors: the SAME Lloyd shape as e03, run on each
    // PqSubDim-dim slice (sl$m = embedding[lo:hi], 1-based inclusive —
    // Spark's slice(embedding, lo, PqSubDim)). cosRawN is cosRaw at
    // slice width.
    import graft.operators.Similarity.{PqM, PqSubDim}
    def cosRawN(a: String, b: String, n: Int): String =
      s"list_sum(list_transform(range(1,${n + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / (sqrt(list_sum(list_transform(range(1,${n + 1}), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE))))" +
        s" * sqrt(list_sum(list_transform(range(1,${n + 1}), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))))"
    def pqAssign(m: Int, n: Int, src: String): String =
      s"""p${m}a$n AS (SELECT e.vec_id, c.cell, ${cosRawN("e.emb", "c.cv", PqSubDim)} AS score
         |        FROM $src e, p${m}c${n - 1} c),
         |p${m}m$n AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rr
         |          FROM p${m}a$n) WHERE rr = 1)""".stripMargin
    def pqUpdate(m: Int, n: Int): String =
      s"""p${m}comp$n AS (SELECT cell, i,
         |  CAST(SUM(CAST(FLOOR(CAST(emb[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (COUNT(*) * 1000000.0) AS c
         |  FROM sl$m JOIN p${m}m$n USING (vec_id), range(1, ${PqSubDim + 1}) t(i)
         |  GROUP BY cell, i),
         |p${m}c$n AS (SELECT cell, list(c ORDER BY i) AS cv FROM p${m}comp$n GROUP BY cell)""".stripMargin
    // `seedPred` restricts the PQ codebook SEEDS (e06 trains on the base
    // corpus only; everything else reads whatever `trainset` the entry
    // defines, so sampling restrictions flow through membership joins).
    def pqCtesWithSeeds(seedPred: String): String = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      val slice =
        s"""sl$m AS (SELECT vec_id, embedding[$lo:$hi] AS emb FROM embeddings),
           |tr$m AS (SELECT s.vec_id, s.emb FROM sl$m s JOIN trainset t USING (vec_id)),
           |p${m}c0 AS (SELECT CAST(vec_id AS INT) AS cell,
           |  list_transform(emb, x -> CAST(x AS DOUBLE)) AS cv FROM sl$m
           |  WHERE vec_id < $KmeansCells AND $seedPred)""".stripMargin
      val iters = (1 to KmeansIters).map(n =>
        pqAssign(m, n, s"tr$m") + ",\n" + pqUpdate(m, n)).mkString(",\n")
      val finalAssign = pqAssign(m, KmeansIters + 1, s"sl$m")
      s"$slice,\n$iters,\n$finalAssign"
    }.mkString(",\n")
    val pqCtes = pqCtesWithSeeds("TRUE")
    val reconJoins = (1 until PqM).map(m =>
      s"JOIN p${m}m${KmeansIters + 1} m$m ON m$m.vec_id = m0.vec_id " +
        s"JOIN p${m}c$KmeansIters c$m ON c$m.cell = m$m.cell").mkString("\n        ")
    val reconCat = (0 until PqM).map(m => s"c$m.cv").mkString(" || ")
    // e05's full WITH-body as a reusable CTE chain (ends at r2: the
    // ranked dense results) — the standalone e05 entry selects from it,
    // and e10 composes it with the BM25 chain below for rank fusion.
    // `live` injects a liveness predicate on a vec_id expression into
    // the INDEX side (the adc scan) and the QUERY side, while training
    // stays full-corpus — e15's takedown mirror: frozen quantizers,
    // deleted vectors gone from the index, deleted docs no longer
    // querying.
    // `trainPred` restricts EVERY training CTE (Lloyd sample, coarse
    // seeds, PQ seeds) — the frozen-quantizer mirror (e06 trains on the
    // base slice; e17 on the composed base); `live` restricts the index
    // and query sides (e15's takedown mirror; e17's survivors).
    def e05BodyTrainLive(trainPred: String, live: String => String): String =
      s"""trainset AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille
         |    AND $trainPred),
         |cent0 AS (
         |  SELECT CAST(vec_id AS INT) AS cell,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings WHERE vec_id < $KmeansCells AND $trainPred),
         |$lloyd,
         |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
         |${pqCtesWithSeeds(trainPred)},
         |rec AS (SELECT m0.vec_id, ($reconCat) AS recon
         |        FROM p0m${KmeansIters + 1} m0 JOIN p0c$KmeansIters c0 ON c0.cell = m0.cell
         |        $reconJoins),
         |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
         |      WHERE vec_id % 100 = 0 AND ${live("vec_id")}),
         |probed AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY ROUND(${cosRaw("q.qv", "c.cv")}, 6) DESC, c.cell) AS rr
         |    FROM q, cent$KmeansIters c) WHERE rr <= $Probe),
         |adc AS (SELECT p.q_id, r.vec_id AS c_id,
         |    ROUND(${cosRawN("q.qv", "r.recon", 64)}, 6) AS adc
         |  FROM probed p JOIN q USING (q_id)
         |  JOIN m${KmeansIters + 1} mf ON mf.cell = p.cell
         |  JOIN rec r ON r.vec_id = mf.vec_id AND r.vec_id <> p.q_id
         |  WHERE ${live("r.vec_id")}),
         |short AS (SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rr
         |    FROM adc) WHERE rr <= $pqShortlist),
         |scored AS (SELECT sh.q_id, sh.c_id, ROUND($cosQC, 6) AS cosine
         |  FROM short sh JOIN q ON q.q_id = sh.q_id JOIN embeddings c ON c.vec_id = sh.c_id),
         |r2 AS (SELECT q_id, c_id, cosine,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM scored)""".stripMargin
    def e05BodyWith(live: String => String): String =
      e05BodyTrainLive("TRUE", live)
    val e05Body = e05BodyWith(_ => "TRUE")
    // e09's full WITH-body (ends at lexr: the ranked lexical results).
    // Its query CTE is named lexq, NOT q, so the chain composes with
    // e05Body (which owns `q`) in e10's fused oracle. `docPred` filters
    // the corpus (e14's takedown mirror: from-scratch on
    // corpus-minus-deleted); every global stat (N, T, df, the cap)
    // derives downstream of the filter, so cap re-crossing mirrors free.
    def bm25BodyWith(docPred: String): String = {
      import graft.operators.Retrieval.{MaxDfDiv, QueryEvery}
      s"""toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
         |              FROM documents WHERE $docPred),
         |tokr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |                 i -> toks[i]||' '||toks[i+1])) AS tok
         |         FROM toks WHERE len(toks) >= ${graft.operators.Retrieval.TermGram}),
         |btf AS MATERIALIZED (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |                    FROM tokr GROUP BY 1, 2),
         |bdl AS MATERIALIZED (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         |                    FROM btf GROUP BY 1),
         |bnt AS (SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM documents WHERE $docPred) AS n,
         |              (SELECT CAST(SUM(dl) AS HUGEINT) FROM bdl) AS t),
         |bdf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM btf GROUP BY 1
         |       HAVING COUNT(*) * $MaxDfDiv <= (SELECT n FROM bnt)),
         |lexq AS (SELECT doc_id AS q_id, tok FROM btf WHERE doc_id % $QueryEvery = 0),
         |lexsc AS (SELECT lexq.q_id, btf.doc_id,
         |        CAST(SUM(
         |          ((2*((SELECT n FROM bnt) - df) + 1) * 44 * (SELECT t FROM bnt) * tf * 1000000)
         |          // ((2*df + 1) * (20*(SELECT t FROM bnt)*tf + 6*(SELECT t FROM bnt)
         |                           + 18*bdl.dl*(SELECT n FROM bnt)))
         |        ) AS BIGINT) AS micros
         |       FROM lexq JOIN btf USING (tok) JOIN bdf USING (tok)
         |       JOIN bdl ON btf.doc_id = bdl.doc_id
         |       WHERE btf.doc_id <> lexq.q_id
         |       GROUP BY 1, 2),
         |lexr AS (SELECT q_id, doc_id, micros,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY micros DESC, doc_id) AS rnk
         |      FROM lexsc)""".stripMargin
    }
    val bm25Body = bm25BodyWith("TRUE")
    // Greedy-MMR selection ladder shared by e12 (brute pool) and e13
    // (ANN pool): expects a `pool`(q_id, c_id, relm) CTE upstream and
    // unrolls Similarity.K selection steps (e03's bounded-iteration
    // pattern) — s1 = relevance argmax; step i joins the not-yet-picked
    // pool against the selected set's pairwise sims and takes the
    // (mmr DESC, c_id ASC) argmax. Every CTE that is both
    // upstream-expensive and multiply-referenced is MATERIALIZED (the
    // DuckDB-inlines-shared-CTEs lesson).
    val mmrLadder: String = {
      val k = graft.operators.Similarity.K
      val steps = (2 to k).map { i =>
        val sel = (1 until i).map(j => s"SELECT * FROM s$j")
          .mkString(" UNION ALL ")
        s"""sel${i - 1} AS MATERIALIZED ($sel),
           |sc$i AS (SELECT p.q_id, p.c_id, p.relm,
           |    p.relm - MAX(y.simm) AS mmrm
           |  FROM pool p JOIN sel${i - 1} s ON s.q_id = p.q_id
           |  JOIN simsym y ON y.q_id = p.q_id AND y.ca = p.c_id AND y.cb = s.c_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
           |                    WHERE z.q_id = p.q_id AND z.c_id = p.c_id)
           |  GROUP BY p.q_id, p.c_id, p.relm),
           |s$i AS MATERIALIZED (SELECT q_id, c_id, relm, mmrm, $i AS rnk FROM (
           |  SELECT q_id, c_id, relm, mmrm,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY mmrm DESC, c_id) AS rr
           |  FROM sc$i) WHERE rr = 1)""".stripMargin
      }.mkString(",\n")
      val unionAll = (1 to k).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""pv AS MATERIALIZED (SELECT p.q_id, p.c_id, e.embedding AS v
         |  FROM pool p JOIN embeddings e ON e.vec_id = p.c_id),
         |pr AS MATERIALIZED (SELECT x.q_id, x.c_id AS ca, y.c_id AS cb,
         |    CAST(ROUND(ROUND(${cosRaw("x.v", "y.v")}, 6) * 1000000) AS BIGINT) AS simm
         |  FROM pv x JOIN pv y ON x.q_id = y.q_id AND x.c_id < y.c_id),
         |simsym AS MATERIALIZED (SELECT q_id, ca, cb, simm FROM pr
         |  UNION ALL SELECT q_id, cb AS ca, ca AS cb, simm FROM pr),
         |s1 AS MATERIALIZED (SELECT q_id, c_id, relm, relm AS mmrm, 1 AS rnk FROM (
         |  SELECT q_id, c_id, relm,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY relm DESC, c_id) AS rr
         |  FROM pool) WHERE rr = 1),
         |$steps
         |SELECT q_id, c_id, relm AS rel_micros, mmrm AS mmr_micros,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM ($unionAll) ORDER BY q_id, rnk""".stripMargin
    }
    Map(
      // e05 composes the two index mirrors verbatim: e03's coarse Lloyd
      // CTEs give the cell assignment (m{iters+1}), e04's per-subspace
      // Lloyd CTEs give the PQ reconstructions (rec); the ADC scan then
      // joins THROUGH the cell assignment so only vectors in a query's
      // probed cells are scored — the composed plan's defining property.
      "e05_ivfpq" ->
        s"""WITH $e05Body
           |SELECT q_id, c_id, cosine, rnk FROM r2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

      // e10: RRF fusion of the lexical (bm25Body -> lexr) and dense
      // (e05Body -> r2) rankings — both chains composed VERBATIM, so the
      // fused oracle and the standalone gates cannot drift. Fused score
      // is exact integer micros (1000000 // (RrfC + rnk) per list
      // membership), provenance ranks surface as nullable columns.
      "e10_hybrid_rrf" -> {
        import graft.operators.Retrieval.{K, RrfC, RrfK}
        s"""WITH $bm25Body,
           |$e05Body,
           |fu AS (
           |  SELECT q_id, doc_id AS id, 1000000 // ($RrfC + rnk) AS m,
           |         rnk AS lex_rnk, CAST(NULL AS BIGINT) AS den_rnk
           |  FROM lexr WHERE rnk <= $K
           |  UNION ALL
           |  SELECT q_id, c_id AS id, 1000000 // ($RrfC + rnk) AS m,
           |         CAST(NULL AS BIGINT) AS lex_rnk, rnk AS den_rnk
           |  FROM r2 WHERE rnk <= 10),
           |ff AS (SELECT q_id, id, CAST(SUM(m) AS BIGINT) AS micros,
           |         MAX(lex_rnk) AS lex_rnk, MAX(den_rnk) AS den_rnk
           |       FROM fu GROUP BY 1, 2),
           |fr AS (SELECT q_id, id, micros, lex_rnk, den_rnk,
           |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY micros DESC, id) AS rnk
           |       FROM ff)
           |SELECT q_id, id AS doc_id, ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS rrf,
           |  CAST(lex_rnk AS BIGINT) AS lex_rnk, CAST(den_rnk AS BIGINT) AS den_rnk,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM fr WHERE rnk <= $RrfK ORDER BY q_id, rnk""".stripMargin
      },

      // e06 mirrors the APPEND posture in SQL: every training CTE
      // (coarse seeds, Lloyd sample, PQ seeds) is restricted to the BASE
      // corpus (vec_id % IngestMod <> 0) — the frozen quantizers — while
      // the final assignment/encode/query CTEs run over ALL embeddings,
      // i.e. base-index ∪ appended batch. Hash equality against the
      // Spark appendToIndex plan proves frozen-quantizer append equals
      // indexing the combined corpus.
      "e06_index_append" ->
        s"""WITH trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille
           |    AND vec_id % ${graft.operators.Incremental.IngestMod} <> 0),
           |cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cell,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |  FROM embeddings
           |  WHERE vec_id < $KmeansCells AND vec_id % ${graft.operators.Incremental.IngestMod} <> 0),
           |$lloyd,
           |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
           |${pqCtesWithSeeds(s"vec_id % ${graft.operators.Incremental.IngestMod} <> 0")},
           |rec AS (SELECT m0.vec_id, ($reconCat) AS recon
           |        FROM p0m${KmeansIters + 1} m0 JOIN p0c$KmeansIters c0 ON c0.cell = m0.cell
           |        $reconJoins),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |probed AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id
           |        ORDER BY ROUND(${cosRaw("q.qv", "c.cv")}, 6) DESC, c.cell) AS rr
           |    FROM q, cent$KmeansIters c) WHERE rr <= $Probe),
           |adc AS (SELECT p.q_id, r.vec_id AS c_id,
           |    ROUND(${cosRawN("q.qv", "r.recon", 64)}, 6) AS adc
           |  FROM probed p JOIN q USING (q_id)
           |  JOIN m${KmeansIters + 1} mf ON mf.cell = p.cell
           |  JOIN rec r ON r.vec_id = mf.vec_id AND r.vec_id <> p.q_id),
           |short AS (SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rr
           |    FROM adc) WHERE rr <= $pqShortlist),
           |scored AS (SELECT sh.q_id, sh.c_id, ROUND($cosQC, 6) AS cosine
           |  FROM short sh JOIN q ON q.q_id = sh.q_id JOIN embeddings c ON c.vec_id = sh.c_id),
           |r2 AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM scored)
           |SELECT q_id, c_id, cosine, rnk FROM r2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

      "e04_pq_ann" ->
        s"""WITH trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille),
           |$pqCtes,
           |rec AS (SELECT m0.vec_id, ($reconCat) AS recon
           |        FROM p0m${KmeansIters + 1} m0 JOIN p0c$KmeansIters c0 ON c0.cell = m0.cell
           |        $reconJoins),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |adc AS (SELECT q.q_id, r.vec_id AS c_id,
           |    ROUND(${cosRawN("q.qv", "r.recon", 64)}, 6) AS adc
           |  FROM q, rec r WHERE r.vec_id <> q.q_id),
           |short AS (SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rr
           |    FROM adc) WHERE rr <= $pqShortlist),
           |scored AS (SELECT sh.q_id, sh.c_id, ROUND($cosQC, 6) AS cosine
           |  FROM short sh JOIN q ON q.q_id = sh.q_id JOIN embeddings c ON c.vec_id = sh.c_id),
           |r2 AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM scored)
           |SELECT q_id, c_id, cosine, rnk FROM r2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
      "e03_ivf_ann" ->
        s"""WITH cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cell,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |  FROM embeddings WHERE vec_id < $KmeansCells),
           |trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille),
           |$lloyd,
           |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |probed AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id
           |        ORDER BY ROUND(${cosRaw("q.qv", "c.cv")}, 6) DESC, c.cell) AS rr
           |    FROM q, cent$KmeansIters c) WHERE rr <= $Probe),
           |scored AS (
           |  SELECT p.q_id, c.vec_id AS c_id,
           |    ROUND($cosQC, 6) AS cosine
           |  FROM probed p JOIN q USING (q_id)
           |  JOIN m${KmeansIters + 1} mf ON mf.cell = p.cell
           |  JOIN embeddings c ON c.vec_id = mf.vec_id AND c.vec_id <> p.q_id),
           |r AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM scored)
           |SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

      // e08: e03's probe chain with the metadata predicate joined into
      // the scored CTE — the filter lands on the CANDIDATE side before
      // ranking, exactly where the Spark plan's left-semi lands it, so
      // the top-10 is of the FILTERED set (a post-filtered top-10 of
      // the unfiltered set would silently truncate).
      "e08_filtered_ann" ->
        s"""WITH cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cell,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |  FROM embeddings WHERE vec_id < $KmeansCells),
           |trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille),
           |$lloyd,
           |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |probed AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id
           |        ORDER BY ROUND(${cosRaw("q.qv", "c.cv")}, 6) DESC, c.cell) AS rr
           |    FROM q, cent$KmeansIters c) WHERE rr <= $Probe),
           |scored AS (
           |  SELECT p.q_id, c.vec_id AS c_id,
           |    ROUND($cosQC, 6) AS cosine
           |  FROM probed p JOIN q USING (q_id)
           |  JOIN m${KmeansIters + 1} mf ON mf.cell = p.cell
           |  JOIN embeddings c ON c.vec_id = mf.vec_id AND c.vec_id <> p.q_id
           |  JOIN documents doc ON doc.doc_id = c.vec_id AND doc.lang = 'en'),
           |r AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM scored)
           |SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

      // e09: BM25 top-k with rational idf — every intermediate is exact
      // integer arithmetic in HUGEINT (Spark mirrors in DECIMAL(38,0)),
      // per-term micro-scores via truncating integer division, summed
      // exactly; the only float is the 6dp display division. Constants
      // (query rule, df cap, k) come from Retrieval. tf/dl are
      // multiply-referenced AND expensive → AS MATERIALIZED (DuckDB
      // inlines shared CTEs otherwise — the d12 lesson).
      "e09_bm25_topk" -> {
        import graft.operators.Retrieval.K
        s"""WITH $bm25Body
           |SELECT q_id, doc_id, ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS score,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM lexr WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
      },

      // e11's oracle is e09's VERBATIM — the incremental-equivalence
      // gate (d09/e06/x09 convention): base-postings ∪ batch-postings
      // must hash-equal one-shot indexing of the combined corpus.
      "e11_postings_append" -> {
        import graft.operators.Retrieval.K
        s"""WITH $bm25Body
           |SELECT q_id, doc_id, ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS score,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM lexr WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
      },

      // e14: the takedown mirror is e09's chain on corpus-MINUS-deleted
      // (the d09 convention inverted): from-scratch indexing of the
      // remaining docs — N/T/df/the df cap all re-derived — must
      // hash-equal the Spark side's delete-propagated persisted index.
      "e14_postings_delete" -> {
        import graft.operators.Retrieval.K
        import graft.operators.Incremental.{DeleteMod, DeleteRes}
        s"""WITH ${bm25BodyWith(s"doc_id % $DeleteMod <> $DeleteRes")}
           |SELECT q_id, doc_id, ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS score,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM lexr WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
      },

      // e16: the composed-lifecycle mirror for the lexical index —
      // e09's chain from scratch on the COMPOSED survivor set (d17's
      // predicate: everything except deleted-and-not-re-ingested). The
      // Spark side runs append→delete→append through SEGMENTED state
      // with tombstone liveness; hash equality proves dead rows stay
      // dead, re-ingests resurrect nothing stale, and N/T/df/cap are
      // all live-view-derived after three operations.
      "e16_postings_lifecycle" -> {
        import graft.operators.Retrieval.K
        import graft.operators.Incremental.{DeleteMod, DeleteRes, ComposedReingestMod}
        s"""WITH ${bm25BodyWith(
             s"NOT (doc_id % $DeleteMod = $DeleteRes AND doc_id % $ComposedReingestMod <> 0)")}
           |SELECT q_id, doc_id, ROUND(CAST(micros AS DOUBLE)/1000000, 6) AS score,
           |  CAST(rnk AS BIGINT) AS rnk
           |FROM lexr WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
      },

      // e15: the dense-index takedown mirror — training CTEs stay
      // FULL-corpus (frozen quantizers: production never retrains on
      // delete), while the adc scan's index side and the query set are
      // restricted to live ids. Hash equality proves delete-from-index
      // leaves exactly the index of the remaining corpus.
      "e15_index_delete" -> {
        import graft.operators.Incremental.{DeleteMod, DeleteRes}
        s"""WITH ${e05BodyWith(c => s"$c % $DeleteMod <> $DeleteRes")}
           |SELECT q_id, c_id, cosine, rnk FROM r2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
      },

      // e17: the composed-lifecycle mirror for the dense index —
      // training CTEs on the 60% BASE slice (quantizers frozen through
      // all three operations), index/query CTEs on the composed
      // survivor set. Encoding is a per-vector map under frozen params,
      // so append→delete→append(re-ingest) must leave exactly the
      // survivors' index — hash equality proves it.
      "e17_index_lifecycle" -> {
        import graft.operators.Incremental.{IngestMod, ComposedBatch2Res,
          DeleteMod, DeleteRes, ComposedReingestMod}
        s"""WITH ${e05BodyTrainLive(
             s"vec_id % $IngestMod NOT IN (0, $ComposedBatch2Res)",
             c => s"NOT ($c % $DeleteMod = $DeleteRes AND $c % $ComposedReingestMod <> 0)")}
           |SELECT q_id, c_id, cosine, rnk FROM r2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
      },

      // e07: per-cell label profile under the SAME trained coarse
      // quantizer as e03 (identical Lloyd CTEs + full-corpus final
      // assignment); majority label ties break to the lowest label id,
      // mirroring the Spark max_by over (n, -label).
      "e07_cluster_stats" ->
        s"""WITH cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cell,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |  FROM embeddings WHERE vec_id < $KmeansCells),
           |trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille),
           |$lloyd,
           |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
           |hist AS (SELECT m.cell, e.label, count(*) AS n
           |         FROM m${KmeansIters + 1} m JOIN embeddings e USING (vec_id)
           |         GROUP BY m.cell, e.label),
           |top AS (SELECT cell, label, n,
           |          ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rr
           |        FROM hist),
           |tot AS (SELECT cell, sum(n) AS n_vecs FROM hist GROUP BY cell)
           |SELECT CAST(t.cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
           |  CAST(p.label AS BIGINT) AS top_label, CAST(p.n AS BIGINT) AS top_n,
           |  ROUND(CAST(p.n AS DOUBLE) / n_vecs, 6) AS purity
           |FROM tot t JOIN top p ON p.cell = t.cell AND p.rr = 1
           |ORDER BY cell""".stripMargin,

      // d12 (here, not the dedup block: it composes e03's Lloyd CTEs):
      // d05's verified pair set -> connected components (d06's recursive
      // CTE over embedding vertices) -> SemDeDup keeper = the group
      // member with the highest 6-dp cosine to its assigned trained
      // centroid, ties to the lowest vec_id (mirrors Spark's max_by
      // over (cscore, -id)).
      "d12_semantic_groups" ->
        s"""WITH RECURSIVE bands AS MATERIALIZED (
           |${rhpBandsSql(rhpBits)}),
           |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |         FROM bands x JOIN bands y
           |         ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
           |d12p AS MATERIALIZED (SELECT id_a, id_b FROM (
           |  SELECT id_a, id_b, ROUND(${cosRaw("a.embedding", "b.embedding")}, 6) AS cosine
           |  FROM cand JOIN embeddings a ON a.vec_id = id_a
           |            JOIN embeddings b ON b.vec_id = id_b)
           |  WHERE cosine >= 0.45),
           |edges AS (SELECT id_a AS ea, id_b AS eb FROM d12p
           |          UNION ALL SELECT id_b, id_a FROM d12p),
           |reach(rid, lbl) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT e.eb, r.lbl FROM reach r JOIN edges e ON r.rid = e.ea),
           |lab AS MATERIALIZED (SELECT rid AS vec_id, MIN(lbl) AS group_id FROM reach GROUP BY rid),
           |cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cell,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |  FROM embeddings WHERE vec_id < $KmeansCells),
           |trainset AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE ${h60(KmeansSampleSeed, "CAST(vec_id AS VARCHAR)")} % 1000 < $KmeansTrainPermille),
           |$lloyd,
           |${assignCte(KmeansIters + 1, s"cent$KmeansIters", "embeddings")},
           |cs AS MATERIALIZED (SELECT e.vec_id, ROUND(${cosRaw("e.embedding", "c.cv")}, 6) AS cscore
           |       FROM embeddings e JOIN m${KmeansIters + 1} mf USING (vec_id)
           |       JOIN cent$KmeansIters c ON c.cell = mf.cell),
           |mm AS MATERIALIZED (SELECT l.vec_id, l.group_id, cs.cscore FROM lab l JOIN cs USING (vec_id)),
           |gs AS (SELECT group_id, COUNT(*) AS group_size FROM mm GROUP BY 1),
           |kp AS (SELECT group_id, vec_id AS keeper_id FROM (
           |        SELECT group_id, vec_id,
           |          ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY cscore DESC, vec_id) AS rr
           |        FROM mm) WHERE rr = 1)
           |SELECT mm.vec_id, mm.group_id, gs.group_size, mm.cscore,
           |  kp.keeper_id, mm.vec_id = kp.keeper_id AS is_keeper
           |FROM mm JOIN gs USING (group_id) JOIN kp USING (group_id)
           |ORDER BY mm.vec_id""".stripMargin,

      "e01_knn_brute" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |s AS (SELECT q_id, c.vec_id AS c_id,
           |  ROUND($cosQC, 6) AS cosine
           |  FROM q JOIN embeddings c ON c.vec_id <> q_id),
           |r AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM s)
           |SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

      // e12: greedy MMR over the exact brute pool — pool CTEs here, the
      // shared unrolled selection ladder (mmrLadder) does the rest.
      "e12_mmr_rerank" -> {
        val p = graft.operators.Similarity.MmrPool
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |sc0 AS (SELECT q_id, c.vec_id AS c_id, ROUND($cosQC, 6) AS cos6
           |        FROM q JOIN embeddings c ON c.vec_id <> q_id),
           |pool AS MATERIALIZED (SELECT q_id, c_id,
           |    CAST(ROUND(cos6 * 1000000) AS BIGINT) AS relm
           |  FROM (SELECT q_id, c_id, cos6,
           |          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, c_id) AS rr
           |        FROM sc0) WHERE rr <= $p),
           |$mmrLadder""".stripMargin
      },

      // e13: the SAME ladder over the ANN pool — e05's full CTE chain
      // (coarse Lloyd × per-subspace PQ, probe, ADC, exact re-rank)
      // truncated at MmrPool depth IS the pool; hash equality against
      // the Spark plan proves the rerank composes with the scaled index
      // path bit-for-bit.
      "e13_mmr_ann" -> {
        val p = graft.operators.Similarity.MmrPool
        s"""WITH $e05Body,
           |pool AS MATERIALIZED (SELECT q_id, c_id,
           |    CAST(ROUND(cosine * 1000000) AS BIGINT) AS relm
           |  FROM r2 WHERE rnk <= $p),
           |$mmrLadder""".stripMargin
      },

      "e02_ann_lsh" -> {
        // Multi-probe mirror: whenever the calibrated width exceeds the
        // catalog RhpBits, the Spark side probes each query's base
        // bucket plus all single-bit XOR flips — data-independent, so
        // the SQL generates the identical probe set. At the gate SFs
        // the probe CTE degenerates to the plain query-side filter and
        // the SQL is the round-10 text.
        val qprobes =
          if (rhpBits <= graft.operators.Similarity.RhpBits)
            "SELECT vec_id, tbl, bkt FROM bands WHERE vec_id % 100 = 0"
          else
            s"""SELECT vec_id, tbl, bkt FROM bands WHERE vec_id % 100 = 0
               |           UNION ALL
               |           SELECT vec_id, tbl, xor(bkt, CAST(1 AS BIGINT) << j) AS bkt
               |           FROM bands, range(0, $rhpBits) t(j) WHERE vec_id % 100 = 0""".stripMargin
        s"""WITH bands AS MATERIALIZED (
           |${rhpBandsSql(rhpBits)}),
           |qprobes AS ($qprobes),
           |cand AS (SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS c_id
           |         FROM qprobes x JOIN bands y
           |         ON x.tbl = y.tbl AND x.bkt = y.bkt
           |           AND x.vec_id <> y.vec_id),
           |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
           |s AS (SELECT cand.q_id, c_id, ROUND($cosQC, 6) AS cosine
           |      FROM cand JOIN q USING (q_id) JOIN embeddings c ON c.vec_id = c_id),
           |r AS (SELECT q_id, c_id, cosine,
           |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk FROM s)
           |SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
      }
    )
  }

  /** Multimodal + streaming blocks (SURVEY §2.E/F). m01/m02 oracles are
    * the GENERATION rule (dimensions, segment layout, byte-sums the
    * payloads were synthesized from) — independent ground truth the
    * byte-level parsers must round-trip exactly. Payload layout: PNG =
    * sig + IHDR + 4 tEXt(8 data bytes) + IEND = 125 bytes; JPEG = SOI +
    * APP0 + 4 COM(8) + SOF0 + EOI = 89 bytes. */
  /** Byte-sum of the 8 big-endian bytes of bigint v (oracle helper). */
  private val BS = "((v>>56)&255)+((v>>48)&255)+((v>>40)&255)+((v>>32)&255)+((v>>24)&255)+((v>>16)&255)+((v>>8)&255)+(v&255)"

  val eventsAndMedia: Map[String, String] = Map(
    "m01_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 125 ELSE 103 END AS BIGINT) AS n_bytes,
        |  CAST(64 + doc_id % 1920 AS BIGINT) AS width,
        |  CAST(64 + n_chars % 1080 AS BIGINT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Per-segment byte-sums in closed form: the k-th metadata segment
    // carries the 8 big-endian bytes of v = doc_id*4096 + k; IHDR data
    // is w4 h4 + [8,6,0,0,0] (sum 14); APP0 data sums to 291; SOF0 data
    // is 8 + h2 w2 + component bytes (sum 79).
    "m02_frame_sample" ->
      s"""WITH base AS (SELECT doc_id, 64 + doc_id % 1920 AS w, 64 + n_chars % 1080 AS h FROM documents),
        |meta AS (SELECT doc_id, k, doc_id*4096 + k AS v FROM base, range(1, 5) t(k)),
        |seg AS (
        |  SELECT doc_id, 0 AS frame_no, 'IHDR' AS marker, 13 AS seg_len,
        |    w//256 + w%256 + h//256 + h%256 + 14 AS checksum, TRUE AS is_keyframe
        |  FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, k, 'tEXt', 8, $BS, FALSE FROM meta WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 5, 'IEND', 0, 0, FALSE FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 0, 'APP0', 14, 291, FALSE FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id, k, 'COM', 8, $BS, FALSE FROM meta WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id, 5, 'SOF0', 15, 87 + h//256 + h%256 + w//256 + w%256, TRUE
        |  FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id, 6, 'SOS', 10, 106, FALSE FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id, 7, 'EOI', 0, 0, FALSE FROM base WHERE doc_id % 2 = 1)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no, marker,
        |  CAST(seg_len AS BIGINT) AS seg_len, CAST(checksum AS BIGINT) AS checksum,
        |  is_keyframe
        |FROM seg ORDER BY doc_id, frame_no""".stripMargin,

    "m03_audio_meta" ->
      """WITH g AS (SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    8000 + (doc_id % 5) * 8000 AS sr,
        |    8 * (1 + doc_id % 3) AS bits,
        |    2 * (8 + n_chars % 32) AS ns
        |  FROM documents),
        |x AS (SELECT doc_id, ch, sr, bits, ns, ch * (bits // 8) AS block FROM g)
        |SELECT doc_id,
        |  CAST(12 + 24 + 8 + ns * block AS BIGINT) AS n_bytes,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(bits AS BIGINT) AS bits_per_sample,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST((ns * block * 1000) // (sr * block) AS BIGINT) AS duration_ms,
        |  'wav' AS format
        |FROM x ORDER BY doc_id""".stripMargin,

    // m04: the MP4 generation rule in closed form. Fixed box overhead is
    // 439 bytes (ftyp 24 + moov 407 + mdat header 8); duration is the
    // same integer division the box walker computes from mvhd.
    "m04_video_meta" ->
      """WITH g AS (SELECT doc_id,
        |    128 + doc_id % 1792 AS w,
        |    96 + n_chars % 984 AS h,
        |    600 * (1 + doc_id % 4) AS ts,
        |    600 + (n_chars * 37) % 72000 AS du,
        |    4 + doc_id % 32 AS pad
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(439 + pad AS BIGINT) AS n_bytes,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS codec,
        |  CAST((du * 1000) // ts AS BIGINT) AS duration_ms,
        |  'mp4' AS format
        |FROM g ORDER BY doc_id""".stripMargin,

    // m05: the Spark side groups by (md5(payload), length) — pure
    // content addressing, no generation key in sight; the oracle
    // restates the groups from the generation rule (payload is
    // injective in ckey = doc_id % (n//2), byte lengths are the m01
    // structural constants), so the gate proves content hashing
    // recovers exactly the byte-equality classes.
    "m05_media_dedup" ->
      """WITH m AS (SELECT greatest(1, count(*) // 2) AS mm FROM documents),
        |g AS (SELECT doc_id, doc_id % (SELECT mm FROM m) AS ckey FROM documents)
        |SELECT min(doc_id) AS keep_id,
        |  CAST(CASE WHEN ckey % 2 = 0 THEN 125 ELSE 103 END AS BIGINT) AS n_bytes,
        |  count(*) AS n_copies
        |FROM g GROUP BY ckey ORDER BY keep_id""".stripMargin,

    // m06: the oracle recomputes the segment VALUES from the generation
    // rule (m01/m02's convention — independent ground truth the byte
    // parser must round-trip): segment k of source doc s carries
    // s*4096 + k, +1 on the trailing `tamper` segments of the planted
    // variant; marker follows the container format (even source = PNG
    // tEXt, odd = JPEG COM).
    "m06_media_neardup" -> {
      val segs = graft.operators.Multimodal.MetaSegments
      val thr = graft.operators.Multimodal.NeardupMinShared
      s"""WITH mx AS (SELECT MAX(doc_id) + 1 AS shift FROM documents),
         |med AS (SELECT doc_id AS media_id, doc_id AS src, CAST(0 AS BIGINT) AS tamper FROM documents
         |        UNION ALL
         |        SELECT doc_id + (SELECT shift FROM mx), doc_id, 1 + doc_id % 2 FROM documents),
         |f AS (SELECT media_id, k AS ord,
         |        CASE WHEN src % 2 = 0 THEN 'tEXt' ELSE 'COM' END AS marker,
         |        src * 4096 + k + CASE WHEN k > $segs - tamper THEN 1 ELSE 0 END AS v
         |      FROM med, range(1, ${segs + 1}) t(k)),
         |p AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |        CAST(COUNT(*) AS BIGINT) AS n_shared
         |      FROM f a JOIN f b ON a.ord = b.ord AND a.marker = b.marker
         |        AND a.v = b.v AND a.media_id < b.media_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= $thr
         |ORDER BY id_a, id_b""".stripMargin
    },

    // m07: the oracle derives each document's IMAGE from the pixel
    // grammar (m01's generation-rule convention — fully independent of
    // the byte path, so the gate proves encode → real zlib/CRC PNG →
    // decode → unfilter → aHash round-trips the grammar exactly):
    // per-row md5 pixel stream, exact integer 8×8 block-mean hash
    // (strict cross-multiply, no division), 4×16-bit band buckets,
    // hamming via bit_count(xor). The CTE chain lives in
    // [[m07PairCtes]], shared with m08's component resolution.
    "m07_perceptual_dedup" -> {
      import graft.operators.Multimodal.M07MaxHamming
      s"""WITH $m07PairCtes
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= $M07MaxHamming
         |ORDER BY id_a, id_b""".stripMargin
    },

    // m09: perceptual AUDIO near-dup — m07's gate convention for the
    // time axis ([[m09PairCtes]]: the md5 sample grammar recomputed,
    // frame-energy cross-multiply hash, the same band machinery).
    "m09_audio_dedup" -> {
      import graft.operators.Multimodal.M09MaxHamming
      s"""WITH $m09PairCtes
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM acand WHERE bit_count(xor(fa, fb)) <= $M09MaxHamming
         |ORDER BY id_a, id_b""".stripMargin
    },

    // m12's oracle is m09's VERBATIM: the audio trak carries the SAME
    // sample grammar, so hash equality proves the MP4 table-addressed
    // extraction equals the WAV decode — container-independence of the
    // perceptual hash, gated every run (the e11 = e09 convention).
    "m12_mp4_audio" -> {
      import graft.operators.Multimodal.M09MaxHamming
      s"""WITH $m09PairCtes
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM acand WHERE bit_count(xor(fa, fb)) <= $M09MaxHamming
         |ORDER BY id_a, id_b""".stripMargin
    },

    // m11: perceptual VIDEO near-dup — the frame-grammar mirror
    // ([[m11PairCtes]]): per-frame aHash over recomputed pixels,
    // capped frame-hash inverted index, pairs at >= MinShared.
    "m11_video_neardup" -> {
      import graft.operators.Multimodal.M11MinShared
      s"""WITH $m11PairCtes
         |SELECT s.id_a, s.id_b, s.n_shared, a.nf AS n_a, b.nf AS n_b
         |FROM vshared s JOIN vnv a ON a.doc_id = s.id_a
         |JOIN vnv b ON b.doc_id = s.id_b
         |WHERE s.n_shared >= $M11MinShared
         |ORDER BY s.id_a, s.id_b""".stripMargin
    },

    // m10: perceptual audio GROUPS — the same component fixpoint over
    // m09's pair graph (the shared m09PairCtes).
    "m10_audio_groups" -> {
      import graft.operators.Multimodal.M09MaxHamming
      s"""WITH RECURSIVE $m09PairCtes,
         |apairs AS MATERIALIZED (SELECT id_a, id_b FROM acand
         |  WHERE bit_count(xor(fa, fb)) <= $M09MaxHamming),
         |edges AS (SELECT id_a AS ea, id_b AS eb FROM apairs
         |          UNION ALL SELECT id_b, id_a FROM apairs),
         |reach(rid, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.eb, r.lbl FROM reach r JOIN edges e ON r.rid = e.ea),
         |lab AS MATERIALIZED (SELECT rid AS doc_id, MIN(lbl) AS canonical_id
         |  FROM reach GROUP BY rid),
         |gs AS (SELECT canonical_id AS cid, COUNT(*) AS group_size FROM lab GROUP BY 1)
         |SELECT doc_id, canonical_id, group_size, doc_id = canonical_id AS is_keeper
         |FROM lab JOIN gs ON canonical_id = cid ORDER BY doc_id""".stripMargin
    },

    // m08: perceptual duplicate GROUPS — d06's recursive-CTE component
    // fixpoint over m07's pair graph (the shared m07PairCtes), min-id
    // canonical keeper, group sizes.
    "m08_media_groups" -> {
      import graft.operators.Multimodal.M07MaxHamming
      s"""WITH RECURSIVE $m07PairCtes,
         |mpairs AS MATERIALIZED (SELECT id_a, id_b FROM cand
         |  WHERE bit_count(xor(fa, fb)) <= $M07MaxHamming),
         |edges AS (SELECT id_a AS ea, id_b AS eb FROM mpairs
         |          UNION ALL SELECT id_b, id_a FROM mpairs),
         |reach(rid, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.eb, r.lbl FROM reach r JOIN edges e ON r.rid = e.ea),
         |lab AS MATERIALIZED (SELECT rid AS doc_id, MIN(lbl) AS canonical_id
         |  FROM reach GROUP BY rid),
         |gs AS (SELECT canonical_id AS cid, COUNT(*) AS group_size FROM lab GROUP BY 1)
         |SELECT doc_id, canonical_id, group_size, doc_id = canonical_id AS is_keeper
         |FROM lab JOIN gs ON canonical_id = cid ORDER BY doc_id""".stripMargin
    },

    "s03_stream_dedup" -> {
      import graft.operators.EventOps.DupIdShift
      s"""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
         |            FROM events),
         |dbl AS (SELECT * FROM ev
         |        UNION ALL
         |        SELECT event_id + $DupIdShift, user_id, event_type, ts_us FROM ev)
         |SELECT user_id, event_type, ts_us,
         |  MIN(event_id) AS keep_id, COUNT(*) AS n_copies
         |FROM dbl GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, ts_us""".stripMargin
    },

    "s01_window_agg" -> s01WindowAggSql,

    // s09: the drained watermarked streaming aggregation equals batch
    // s01 — its oracle is s01's VERBATIM, so the hash gate proves the
    // append-mode cross-micro-batch aggregation-state path (windows
    // straddling the 3 time-slice cuts re-assemble in state) against
    // the same ground truth every round.
    "s09_stream_window" -> s01WindowAggSql,

    // s04: dim misses surface as 'UNKNOWN' (left join), windows mirror
    // s01's hour-truncation.
    "s04_stream_enrich" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
        |  COALESCE(c_mktsegment, 'UNKNOWN') AS segment, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events LEFT JOIN customer ON c_custkey = user_id AND c_custkey < 150
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "s02_sessionize" -> s02SessionizeSql,

    // s06's drained streaming sessionization equals batch s02 (the
    // parity StreamingParitySpec asserts per-micro-batch) — its oracle
    // is s02's verbatim, so the hash gate proves the STREAMING state
    // path against the same ground truth every round.
    "s06_stream_sessionize" -> s02SessionizeSql,

    // s08: the MULTI-micro-batch drain (corpus time-sliced across 3
    // real batches) — same ground truth again; the gate proves that
    // sessions straddling micro-batch boundaries re-assemble through
    // flatMapGroupsWithState state exactly.
    "s08_stream_multibatch" -> s02SessionizeSql,

    // s07: stream-stream join, mirrored as a plain inequality join. The
    // attribution window is DERIVED FROM THE EVENTS TABLE IN SQL with
    // the same integer math as StreamOps.s07JoinWindowUs (4 × span ×
    // users ÷ events, floored — `//` and Long division agree on
    // non-negative operands), so no calibration threading is needed and
    // a drifted Spark-side formula cannot silently pass.
    "s07_stream_join" ->
      """WITH w AS (SELECT CAST(4 AS HUGEINT)
        |                    * (max(epoch_us(ts)) - min(epoch_us(ts)))
        |                    * count(DISTINCT user_id) // count(*) AS wus
        |           FROM events)
        |SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id AS user_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM events v JOIN events p ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + (SELECT wus FROM w)
        |ORDER BY view_id, purchase_id""".stripMargin
  )

  // lazy: referenced by the eventsAndMedia map above, which would
  // otherwise initialize first and capture null
  /** s01's tumbling-window aggregation, shared with s09 (the drained
    * streaming form is gated against the identical ground truth). */
  private lazy val s01WindowAggSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private lazy val s02SessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
      |f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      |                       OR ts_us - lag(ts_us) OVER w > 1800000000
      |                     THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no FROM f)
      |SELECT user_id, sess_no, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Curation block (SURVEY §2.H): deterministic md5-derived sampling
    * and packing — randomness-free, so exactly mirrorable. */
  val curation: Map[String, String] = Map(
    // x07: data-card cube; GROUPING(lang, source) = Spark grouping_id
    // (q24-proven parity), pre-aggregated to (lang, source) cells so the
    // mirror keeps the same two-level shape as the plan.
    "x07_datasheet" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS n,
        |    sum(len(string_split_regex(text, '\s+'))) AS tok,
        |    sum(n_chars) AS ch
        |  FROM documents GROUP BY lang, source)
        |SELECT CAST(GROUPING(lang, source) AS BIGINT) AS lvl,
        |  COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
        |  CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(ch) AS BIGINT) AS n_chars,
        |  ROUND(CAST(SUM(ch) AS DOUBLE) / SUM(n), 6) AS avg_chars
        |FROM cells GROUP BY CUBE (lang, source)
        |ORDER BY lvl, lang, source""".stripMargin,

    // x11: per-source token-count quantiles — quantile_disc semantics via
    // the identical compact (source, tc) cell frame + cumulative window +
    // integer threshold (100·cum ≥ p·n, no division) as the plan.
    "x11_quantile_profile" -> {
      val qcols = graft.operators.Sampling.QuantilePcts.map(p =>
        s"MIN(CASE WHEN cum * 100 >= n_docs * $p THEN tc END) AS p$p").mkString(",\n  |  ")
      s"""WITH t AS (SELECT source,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS tc FROM documents),
         |counts AS (SELECT source, tc, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |cum AS (SELECT source, tc,
         |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY tc) AS BIGINT) AS cum
         |  FROM counts),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM counts GROUP BY 1)
         |SELECT source, n_docs,
         |  $qcols
         |FROM cum JOIN tot USING (source)
         |GROUP BY source, n_docs ORDER BY source""".stripMargin
    },

    "x01_hash_sample" ->
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang,
         |    ${h60(graft.operators.Sampling.SampleSeed, "CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         |    CASE WHEN lang = 'en' THEN ${graft.operators.Sampling.RateEn}
         |         WHEN lang = 'zh' THEN ${graft.operators.Sampling.RateZh}
         |         ELSE ${graft.operators.Sampling.RateDefault} END AS rate
         |  FROM documents)
         |WHERE bucket < rate ORDER BY doc_id""".stripMargin,

    "x05_strat_split" -> {
      import graft.operators.Sampling.{SplitSeed, TrainPct, ValPct}
      s"""SELECT doc_id, lang, bucket,
         |  CASE WHEN bucket < $TrainPct THEN 'train'
         |       WHEN bucket < ${TrainPct + ValPct} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |        ${h60(SplitSeed, "CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "x04_quota_sample" -> {
      import graft.operators.Sampling.{QuotaPerSource, QuotaSeed}
      s"""WITH h AS (SELECT doc_id, source,
         |    ${h60(QuotaSeed, "CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         |r AS (SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS pick_rank
         |  FROM h)
         |SELECT source, doc_id, pick_rank FROM r
         |WHERE pick_rank <= $QuotaPerSource ORDER BY source, doc_id""".stripMargin
    },

    // x10: overlapping fixed-window chunking — geometry constants shared
    // with Sampling.x10SeqChunk; chunk text fingerprints are md5 of the
    // space-rejoined token slice, identical strings on both engines.
    "x10_seq_chunk" ->
      s"""WITH ${chunkCtes("(SELECT doc_id, text FROM documents)")}
         |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
         |  CAST(chunk_no * ${graft.operators.Sampling.ChunkStride} AS BIGINT) AS start_tok,
         |  CAST(LEAST(${graft.operators.Sampling.ChunkTokens}, n - chunk_no * ${graft.operators.Sampling.ChunkStride}) AS BIGINT) AS n_chunk_tokens,
         |  chunk_md5
         |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    // x12: chunk-level exact dedup over x10's fingerprints — the chunk
    // CTEs are the SAME generated text as x10's (chunkCtes), over the
    // doubled corpus (ids shifted by max(doc_id)+1, mirroring the Spark
    // side's driver-folded shift — collision-proof at any corpus size,
    // unlike the old fixed +1,000,000), so the two keys cannot drift.
    // Keeper = lexicographic min (doc_id, chunk_no), derived as min-doc
    // then min-chunk-within-that-doc.
    "x12_chunk_dedup" ->
      s"""WITH ${chunkCtes(
             "(SELECT doc_id, text FROM documents UNION ALL " +
             "SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) " +
             "AS doc_id, text FROM documents)")},
         |g AS (SELECT chunk_md5, COUNT(*) AS n_copies,
         |        COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS keep_doc
         |      FROM c GROUP BY 1 HAVING COUNT(*) >= 2),
         |k AS (SELECT g.chunk_md5, CAST(MIN(c.chunk_no) AS BIGINT) AS keep_chunk
         |      FROM c JOIN g ON c.chunk_md5 = g.chunk_md5 AND c.doc_id = g.keep_doc
         |      GROUP BY 1)
         |SELECT g.chunk_md5, keep_doc, keep_chunk,
         |  CAST(n_copies AS BIGINT) AS n_copies, CAST(n_docs AS BIGINT) AS n_docs
         |FROM g JOIN k ON g.chunk_md5 = k.chunk_md5
         |ORDER BY g.chunk_md5""".stripMargin,

    // x14: deterministic KMV-sample quantile sketch — same hash-order
    // sample rule (k smallest h60(doc_id) per source, v tie-break
    // mirroring graft_mink_pairs' (key, id) order) and the x11 integer rank
    // rule over the sorted sample.
    "x14_quantile_sketch" -> {
      import graft.operators.Sampling.{QSketchK, QSketchSeed, QuantilePcts}
      val qcols = QuantilePcts.map(p =>
        s"vs[CAST(($p * sample_m + 99) // 100 AS INT)] AS p${p}_micros")
        .mkString(",\n  ")
      s"""WITH v AS (SELECT source,
         |    CAST(n_chars AS BIGINT) * 1000000
         |      // GREATEST(len(string_split_regex(text, '\\s+')), 1) AS v,
         |    ${h60(QSketchSeed, "CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT source, v,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, v) AS rn,
         |        COUNT(*) OVER (PARTITION BY source) AS n FROM v),
         |s2 AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |        CAST(COUNT(*) AS BIGINT) AS sample_m,
         |        list_sort(list(v)) AS vs
         |      FROM r WHERE rn <= $QSketchK GROUP BY source)
         |SELECT source, n_docs, sample_m,
         |  $qcols
         |FROM s2 ORDER BY source""".stripMargin
    },

    // x13: BPE merge training, one unrolled CTE chain per round (e03's
    // Lloyd pattern): v{r} applies round r's argmax merge as the same
    // literal replace the Spark side folds; every v/g CTE is
    // multiply-referenced -> AS MATERIALIZED (the DuckDB CTE-inlining
    // rule).
    "x13_bpe_merges" -> {
      val R = graft.operators.Sampling.BpeMerges
      s"""WITH $bpeTrainCtes
         |SELECT CAST(rnd AS BIGINT) AS rnd, lhs, rhs, merged, cnt AS freq
         |FROM (${(1 to R).map(r => s"SELECT * FROM g$r").mkString(" UNION ALL ")})
         |ORDER BY rnd""".stripMargin
    },

    // x17: BATCHED BPE training — per round, BpeBatch unrolled
    // conflict-ladder steps (argmax over pairs sharing no symbol with
    // an earlier acceptance) and one replace-chain vocabulary update.
    "x17_bpe_merges_batched" -> {
      import graft.operators.Sampling.{BpeBatch, BpeBatchRounds}
      val all = (for (r <- 1 to BpeBatchRounds; k <- 1 to BpeBatch)
        yield s"SELECT * FROM g${r}_$k").mkString(" UNION ALL ")
      s"""WITH $bpeBatchTrainCtes
         |SELECT CAST(rnd AS BIGINT) AS rnd, CAST(pick AS BIGINT) AS pick,
         |  lhs, rhs, merged, cnt AS freq
         |FROM ($all)
         |ORDER BY rnd, pick""".stripMargin
    },

    // x16: BPE encode with the TRAINED merges — x13's training chain
    // verbatim (shared generator, so the vocabularies cannot drift),
    // then the same greedy left-to-right replace applied per corpus
    // token; subword count = '(' count of the framed-and-merged form.
    "x16_bpe_encode" -> {
      val R = graft.operators.Sampling.BpeMerges
      val applies = (1 to R).map { r =>
        s"""e$r AS (SELECT doc_id, replace(w,
           |    '('||(SELECT lhs FROM g$r)||')('||(SELECT rhs FROM g$r)||')',
           |    '('||(SELECT merged FROM g$r)||')') AS w, base FROM e${r - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeTrainCtes,
         |tk AS (SELECT doc_id, tok FROM
         |    (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
         |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
         |e0 AS (SELECT doc_id, regexp_replace(tok, '(.)', '(\\1)', 'g') AS w,
         |         CAST(LENGTH(tok) AS BIGINT) AS base FROM tk),
         |$applies,
         |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_enc_tokens,
         |    CAST(SUM(base) AS BIGINT) AS n_base_symbols,
         |    CAST(SUM(LENGTH(w) - LENGTH(replace(w, '(', ''))) AS BIGINT) AS n_symbols
         |  FROM e$R GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(n_enc_tokens, 0) AS n_enc_tokens,
         |  COALESCE(n_base_symbols, 0) AS n_base_symbols,
         |  COALESCE(n_symbols, 0) AS n_symbols,
         |  COALESCE(n_base_symbols - n_symbols, 0) AS n_merges_applied
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN ag USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "x02_seq_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         |    ${h60(graft.operators.Sampling.ShardSeed, "CAST(doc_id AS VARCHAR)")} % ${graft.operators.Sampling.PackShards} AS shard
         |  FROM documents),
         |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |p AS (SELECT shard, CAST((cum - n_tokens) // ${graft.operators.Sampling.PackTokens} AS BIGINT) AS pack_no,
         |        n_tokens, doc_id FROM c)
         |SELECT shard, pack_no, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM p GROUP BY shard, pack_no ORDER BY shard, pack_no""".stripMargin,

    // x06: the keep decision is exact-integer (HUGEINT here, DECIMAL(38,0)
    // in Spark): h·W·n < 2^60·wt·T — no float rate, no rounding boundary.
    "x06_source_mix" -> {
      import graft.operators.Sampling.MixSeed
      s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         |cw AS (SELECT source, n,
         |    CAST(1 + (COALESCE(try_cast(regexp_extract(source, '(\\d+)$$', 1) AS INT), 0) % 3) AS BIGINT) AS wt
         |  FROM c),
         |tw AS (SELECT SUM(wt) AS W FROM cw),
         |tt AS (SELECT MIN((n * W) // wt) AS T FROM cw, tw)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN cw USING (source), tw, tt
         |WHERE CAST(${h60(MixSeed, "CAST(d.doc_id AS VARCHAR)")} AS HUGEINT) * W * n
         |    < CAST(1152921504606846976 AS HUGEINT) * wt * T
         |ORDER BY d.doc_id""".stripMargin
    },

    // x15: temperature mixture — w = floor(sqrt(n)) (exact below 2^52,
    // the range the Spark side requires), full epochs ⌊B·w/(W·n)⌋, the
    // extra copy by the same exact-integer hash threshold as x06.
    "x15_temperature_mix" -> {
      import graft.operators.Sampling.{TempSeed, TempSkewSeed}
      s"""WITH sk AS (SELECT doc_id, source FROM documents
         |  WHERE ${h60(TempSkewSeed, "CAST(doc_id AS VARCHAR)")}
         |    % (1 + COALESCE(try_cast(regexp_extract(source, '(\\d+)$$', 1) AS INT), 0) % 4) = 0),
         |c AS (SELECT source, COUNT(*) AS n FROM sk GROUP BY source),
         |w AS (SELECT source, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS wt FROM c),
         |t AS (SELECT SUM(n) AS B, SUM(wt) AS W FROM w),
         |r AS (SELECT source, n, wt, B, W,
         |    CAST((CAST(B AS HUGEINT) * wt) // (CAST(W AS HUGEINT) * n) AS BIGINT) AS ef
         |  FROM w, t),
         |s AS (SELECT d.doc_id, d.source, r.ef
         |    + CASE WHEN CAST(${h60(TempSeed, "CAST(d.doc_id AS VARCHAR)")} AS HUGEINT) * W * n
         |           < CAST(1152921504606846976 AS HUGEINT)
         |             * (CAST(B AS HUGEINT) * wt - CAST(ef AS HUGEINT) * W * n)
         |      THEN 1 ELSE 0 END AS ne
         |  FROM sk d JOIN r USING (source))
         |SELECT doc_id, source, CAST(i AS BIGINT) AS epoch
         |FROM (SELECT doc_id, source, unnest(range(0, ne)) AS i FROM s WHERE ne > 0)
         |ORDER BY doc_id, epoch""".stripMargin
    }
  )

  /** x03 mirror: 2^60 (the hash60 space) is a power of two, hence exactly
    * representable as a double — the estimator division is bit-identical. */
  private val x03Sql: Map[String, String] = {
    import graft.operators.Sampling.{KmvK, KmvSeed}
    Map("x03_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT lang, ${h60(KmvSeed, "tok")} AS h
         |  FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)),
         |r AS (SELECT lang, h,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS cnt FROM h)
         |SELECT lang, CAST(MAX(cnt) AS BIGINT) AS n_exact,
         |  ROUND(CASE WHEN MAX(CASE WHEN rn = $KmvK THEN h END) IS NULL
         |    THEN CAST(MAX(cnt) AS DOUBLE)
         |    ELSE ${(KmvK - 1).toDouble} * 1152921504606846976.0
         |      / CAST(MAX(CASE WHEN rn = $KmvK THEN h END) AS DOUBLE) END, 6) AS kmv_estimate
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** Full oracle map. `rhpBits` must match the band width the cataloged
    * d05/e02 plans will actually use at the SF being verified, and
    * `pqShortlist` the ADC shortlist depth of e04/e05/e06 —
    * [[graft.Verify]] passes Similarity.calibratedRhpBits /
    * calibratedPqShortlist(sfDir); both floor at the catalog defaults
    * at the gate SFs (OracleContractSpec). */
  def all(rhpBits: Int = graft.operators.Similarity.RhpBits,
          pqShortlist: Int = graft.operators.Similarity.PqShortlist): Map[String, String] = {
    val m = core ++ text ++ dedup(rhpBits) ++
      similarity(rhpBits, pqShortlist) ++
      eventsAndMedia ++ curation ++ x03Sql
    // x09 (incremental curation merge) is frame-equal to x08 on the
    // full corpus BY DESIGN — gating it against x08's mirror verbatim
    // is the point: the oracle proves incremental == from-scratch.
    m + ("x09_curation_merge" -> m("x08_curation_decide"))
  }
}
