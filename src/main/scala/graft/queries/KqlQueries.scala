package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kql.{Catalog, Kql}

/** Correctness-gate queries expressed as actual KQL text and compiled by the
  * engine (parse → lower → Catalyst). These exercise the full KQL spine at
  * the DuckDB oracle, complementing CoreQueries' direct-DataFrame forms.
  */
object KqlQueries {

  private def kq(name: String, kql: String, oracle: String): Q =
    Q(name, oracle)((s: SparkSession, dir: String) =>
      Kql.run(s, Catalog.forTestData(s, dir), kql))

  val all: Seq[Q] = Seq(

    kq("kql_filter_count",
      "events | where event_type == 'error' | count",
      "SELECT count(*) AS Count FROM events WHERE event_type = 'error'"),

    kq("kql_where_project_sort",
      """lineitem
        | | where l_quantity >= 45 and l_returnflag == 'R'
        | | project l_orderkey, l_linenumber, l_quantity
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    kq("kql_extend_arith",
      """lineitem
        | | where l_orderkey < 100
        | | extend unit = l_extendedprice / l_quantity
        | | project l_orderkey, l_linenumber, unit
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """SELECT l_orderkey, l_linenumber, l_extendedprice / l_quantity AS unit
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    kq("kql_summarize_aggs",
      """lineitem
        | | summarize n=count(), sum_qty=sum(l_quantity), mn=min(l_extendedprice),
        |     mx=max(l_extendedprice), dc=dcount(l_partkey) by l_returnflag, l_linestatus
        | | sort by l_returnflag asc, l_linestatus asc""".stripMargin,
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
        |       min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
        |       count(DISTINCT l_partkey) AS dc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    kq("kql_bin_time",
      """events
        | | summarize n=count(), dc_users=dcount(user_id) by h=bin(ts, 1h), event_type
        | | sort by h asc, event_type asc""".stripMargin,
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS dc_users
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin),

    kq("kql_countif_case",
      """orders
        | | extend bucket = case(o_totalprice < 50000, 'small', o_totalprice < 200000, 'mid', 'large')
        | | summarize n=count(), urgent=countif(o_orderpriority == '1-URGENT') by bucket
        | | sort by bucket asc""".stripMargin,
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 200000 THEN 'mid' ELSE 'large' END AS bucket,
        |       count(*) AS n,
        |       count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    kq("kql_topn",
      "orders | top 10 by o_totalprice desc, o_orderkey asc | project o_orderkey, o_totalprice",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    kq("kql_sort_nulls_iff",
      """customer
        | | extend bal = iff(c_acctbal < 0, null, c_acctbal)
        | | sort by bal desc nulls last, c_custkey asc
        | | project c_custkey, bal""".stripMargin,
      """SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        |FROM customer ORDER BY bal DESC NULLS LAST, c_custkey""".stripMargin),

    kq("kql_distinct",
      "customer | distinct c_mktsegment, c_nationkey | sort by c_mktsegment asc, c_nationkey asc",
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),

    kq("kql_union",
      """events | where event_type == 'click'
        | | union (events | where event_type == 'error')
        | | summarize n=count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT * FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT * FROM events WHERE event_type = 'error'
        |) GROUP BY event_type ORDER BY event_type""".stripMargin),

    kq("kql_join_inner",
      """orders | where o_totalprice > 400000
        | | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | | project o_orderkey, c_name
        | | sort by o_orderkey asc""".stripMargin,
      """SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin),

    kq("kql_join_left",
      """customer | where c_custkey <= 200
        | | join kind=left (orders | where o_totalprice > 400000) on $left.c_custkey == $right.o_custkey
        | | project c_custkey, o_orderkey
        | | sort by c_custkey asc, o_orderkey asc""".stripMargin,
      """SELECT c_custkey, o_orderkey FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
        |  ON c_custkey = o_custkey
        |WHERE c_custkey <= 200 ORDER BY c_custkey, o_orderkey""".stripMargin),

    kq("kql_extract_toint",
      """events
        | | extend k = toint(extract('"k": (\d+)', 1, props))
        | | where exists(k)
        | | summarize n=count() by k
        | | sort by k asc""".stripMargin,
      """SELECT CAST(nullif(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k,
        |       count(*) AS n
        |FROM events WHERE nullif(regexp_extract(props, '"k": (\d+)', 1), '') IS NOT NULL
        |GROUP BY 1 ORDER BY k""".stripMargin),

    kq("kql_datetime_filter",
      """orders | where o_orderdate >= datetime(1997-06-01) | summarize n=count() by o_orderpriority
        | | sort by o_orderpriority asc""".stripMargin,
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-06-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    kq("kql_has",
      "documents | where text has 'spark' | project doc_id | sort by doc_id asc",
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(text, '(?i)(^|[^A-Za-z0-9])spark([^A-Za-z0-9]|$)')
        |ORDER BY doc_id""".stripMargin),

    kq("kql_strings",
      """part | where p_name contains 'green' or p_type startswith 'PROMO'
        | | project p_partkey, p_name | sort by p_partkey asc""".stripMargin,
      """SELECT p_partkey, p_name FROM part
        |WHERE contains(p_name, 'green') OR starts_with(p_type, 'PROMO')
        |ORDER BY p_partkey""".stripMargin),

    kq("kql_let_join",
      """let big = (orders | where o_totalprice > 450000);
        |big | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | | project o_orderkey, o_totalprice, c_name
        | | sort by o_orderkey asc""".stripMargin,
      """SELECT o_orderkey, o_totalprice, c_name FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 450000 ORDER BY o_orderkey""".stripMargin),

    // schemaless (VariantType) path: props is dynamic JSON, field access +
    // cross-type comparison + aggregation all through the variant column
    kq("kql_variant_filter",
      """eventsv | where props.k >= 50
        | | summarize n=count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    kq("kql_variant_agg",
      """eventsv | extend k = toint(props.k)
        | | summarize mn=min(k), mx=max(k), s=sum(k) by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS mn,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS mx,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS s
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // cross-type total-order sort on a variant key (value/mod.rs:146-209):
    // 7 branches build null/bool/int/float/string/array/object variants from
    // event_id residues; rn = row_number() makes the ORDER gate-visible
    // (the driver's comparator re-sorts rows before hashing, so without rn
    // only membership would be checked). The oracle replays the
    // (rank, num, str) key the engine's variantOrderKey struct encodes.
    kq("kql_variant_sort",
      """eventsv
        | | where event_id < 400
        | | extend m7 = event_id - bin(event_id, 7)
        | | extend v = todynamic(case(
        |     m7 == 0, 'null',
        |     m7 == 1, iff(event_id - bin(event_id, 2) == 0, 'true', 'false'),
        |     m7 == 2, tostring(event_id - bin(event_id, 13)),
        |     m7 == 3, strcat(tostring(event_id - bin(event_id, 13)), '.5'),
        |     m7 == 4, strcat('"w', tostring(event_id - bin(event_id, 5)), '"'),
        |     m7 == 5, strcat('[', tostring(event_id - bin(event_id, 3)), ']'),
        |     strcat('{"a":', tostring(event_id - bin(event_id, 3)), '}')))
        | | sort by v asc, event_id asc
        | | extend rn = row_number()
        | | project rn, event_id, vs = tostring(v)""".stripMargin,
      """WITH base AS (SELECT event_id, event_id % 7 AS m7, event_id % 13 AS m13,
        |    event_id % 5 AS m5, event_id % 3 AS m3, event_id % 2 AS m2
        |  FROM events WHERE event_id < 400),
        |k AS (SELECT event_id,
        |    CASE WHEN m7 = 1 THEN 1 WHEN m7 IN (2,3) THEN 2 WHEN m7 = 4 THEN 5
        |         WHEN m7 = 5 THEN 6 WHEN m7 = 6 THEN 7 END AS rank,
        |    CASE WHEN m7 = 1 THEN CASE WHEN m2 = 0 THEN 1.0 ELSE 0.0 END
        |         WHEN m7 = 2 THEN CAST(m13 AS DOUBLE)
        |         WHEN m7 = 3 THEN m13 + 0.5 END AS num,
        |    CASE WHEN m7 = 4 THEN 'w' || m5
        |         WHEN m7 = 5 THEN '[' || m3 || ']'
        |         WHEN m7 = 6 THEN '{"a":' || m3 || '}' END AS str,
        |    CASE WHEN m7 = 0 THEN NULL
        |         WHEN m7 = 1 THEN CASE WHEN m2 = 0 THEN 'true' ELSE 'false' END
        |         WHEN m7 = 2 THEN CAST(m13 AS VARCHAR)
        |         WHEN m7 = 3 THEN m13 || '.5'
        |         WHEN m7 = 4 THEN 'w' || m5
        |         WHEN m7 = 5 THEN '[' || m3 || ']'
        |         ELSE '{"a":' || m3 || '}' END AS vs
        |  FROM base)
        |SELECT CAST(row_number() OVER
        |         (ORDER BY rank NULLS LAST, num, str, event_id) AS BIGINT) AS rn,
        |       event_id, vs
        |FROM k ORDER BY rn""".stripMargin),

    kq("kql_in_between",
      """orders
        | | where o_orderpriority in ('1-URGENT', '2-HIGH') and o_totalprice between (100000 .. 150000)
        | | project o_orderkey, o_totalprice | sort by o_orderkey asc""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |  AND o_totalprice BETWEEN 100000 AND 150000
        |ORDER BY o_orderkey""".stripMargin),

    // datetime scalar surface: truncations + field extraction over UTC
    // timestamps, feeding a summarize
    kq("kql_dtfns",
      """events
        | | extend d = startofday(ts), h = hourofday(ts)
        | | summarize n = count() by d, h
        | | sort by d asc, h asc | limit 100""".stripMargin,
      """SELECT d, h, n FROM (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
        |         CAST(hour(ts) AS BIGINT) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |ORDER BY d, h LIMIT 100""".stripMargin),

    // string scalar surface (real-KQL functions beyond the reference's
    // closed expression set): strlen / substring (0-based) / toupper
    kq("kql_strfns",
      """documents
        | | extend n = strlen(text), head = substring(text, 0, 8), up = toupper(lang)
        | | project doc_id, n, head, up
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, CAST(len(text) AS BIGINT) AS n,
        |       substring(text, 1, 8) AS head, upper(lang) AS up
        |FROM documents ORDER BY doc_id""".stripMargin),

    // pipeline scalar functions inside KQL: tokencount() in an extend feeds
    // a summarize — one engine surface over both query and curation ops.
    // sum() through the KQL path is double by KQL typing; integer token
    // counts stay exact in double up to 2^53.
    kq("kql_tokencount",
      """documents
        | | extend n = tokencount(text)
        | | summarize n_docs=count(), total_tokens=sum(n), max_tokens=max(n) by lang
        | | sort by lang asc""".stripMargin,
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) AS DOUBLE) AS total_tokens,
        |  CAST(max(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // free-text search across all string columns (KQL's log-exploration
    // staple, beyond the reference's step set) — case-insensitive
    // substring disjunction, here over event_type and the props JSON
    kq("kql_search",
      """events | search "err"
        | | summarize n=count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |WHERE lower(event_type) LIKE '%err%' OR lower(props) LIKE '%err%'
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // parse step: pattern-split extraction of a typed column out of raw
    // log text (here the props JSON treated as text), feeding a summarize
    kq("kql_parse",
      """events
        | | parse props with "{\"k\": " kv:long "}"
        | | summarize n=count(), mx=max(kv) by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n,
        |  max(CAST(regexp_extract(props, '\{"k": (.*)\}', 1) AS BIGINT)) AS mx
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // existence joins (beyond the reference's 4 kinds): blocklist/allowlist
    // filtering without widening rows — the curation-removal primitive
    kq("kql_join_anti",
      """orders
        | | join kind=leftanti (customer | where c_mktsegment == 'BUILDING')
        |     on $left.o_custkey == $right.c_custkey
        | | summarize n=count() by o_orderpriority
        | | sort by o_orderpriority asc""".stripMargin,
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    kq("kql_join_semi",
      """customer
        | | join kind=leftsemi (orders | where o_totalprice >= 200000)
        |     on $left.c_custkey == $right.o_custkey
        | | project c_custkey, c_name
        | | sort by c_custkey asc""".stripMargin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice >= 200000)
        |ORDER BY c_custkey""".stripMargin),

    // null/empty scalar surface: isempty/isnotempty/isnull + KQL coalesce
    // (skips empty STRINGS, not just nulls). The data has no nulls, so the
    // query synthesizes them through iff() branches first.
    kq("kql_nullfns",
      """lineitem
        | | extend m = iff(l_discount > 0.05, l_linestatus, '')
        | | extend e = isempty(m), ne = isnotempty(m),
        |          nn = isnull(iff(l_quantity < 10.0, null, l_returnflag)),
        |          c = coalesce(m, l_returnflag)
        | | summarize n = count() by e, ne, nn, c
        | | sort by e asc, ne asc, nn asc, c asc""".stripMargin,
      """SELECT e, ne, nn, c, count(*) AS n FROM (
        |  SELECT (m IS NULL OR m = '') AS e,
        |         NOT (m IS NULL OR m = '') AS ne,
        |         (CASE WHEN l_quantity < 10.0 THEN NULL
        |               ELSE l_returnflag END) IS NULL AS nn,
        |         coalesce(nullif(m, ''), l_returnflag) AS c
        |  FROM (SELECT CASE WHEN l_discount > 0.05 THEN l_linestatus
        |               ELSE '' END AS m, * FROM lineitem))
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),

    // math scalars, restricted to cross-engine-EXACT results (the gate
    // hashes doubles at full precision): abs over longs, round() of x/8
    // (positive halves round away from zero in both engines), sign of an
    // exact-zero-capable difference, and pow(2, n) which every libm gets
    // exact. ln/exp/sqrt/log2/log10 are pinned in MathFnSpec instead —
    // their last ulp is libm-specific.
    kq("kql_mathfns",
      """lineitem
        | | extend a = abs(toint(l_quantity) - 25),
        |          r = round(l_extendedprice / 8.0),
        |          s = sign(l_discount - 0.04),
        |          p = pow(2.0, l_linenumber)
        | | project l_orderkey, l_linenumber, a, r, s, p
        | | sort by l_orderkey asc, l_linenumber asc
        | | limit 2000""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |       abs(CAST(l_quantity AS BIGINT) - 25) AS a,
        |       round(l_extendedprice / 8.0) AS r,
        |       CAST(sign(l_discount - 0.04) AS DOUBLE) AS s,
        |       pow(2.0, l_linenumber) AS p
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 2000""".stripMargin),

    // array/string scalars: split (literal delimiter, trailing empties
    // kept), 0-based indexed split element, indexof (0-based, -1 absent),
    // array_length, strcat_delim (nulls skipped, concat_ws semantics)
    kq("kql_arrayfns",
      """documents
        | | extend toks = array_length(split(text, ' ')),
        |          first = split(text, ' ', 0),
        |          i = indexof(text, 'table'),
        |          j = strcat_delim('|', lang, source)
        | | project doc_id, toks, first, i, j
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |       string_split(text, ' ')[1] AS first,
        |       CAST(strpos(text, 'table') - 1 AS BIGINT) AS i,
        |       concat_ws('|', lang, source) AS j
        |FROM documents ORDER BY doc_id""".stripMargin),

    // datetime surface #2: Sunday-start weeks (KQL convention — Spark and
    // DuckDB both default Monday, so each side derives Sunday explicitly),
    // boundary-crossing datetime_diff, ISO week numbers, end-of-day ticks
    kq("kql_dtfns2",
      """events
        | | extend w = startofweek(ts), dw = dayofweek(ts),
        |          m = startofmonth(ts), eod = endofday(ts),
        |          dd = datetime_diff('day', ts, datetime(2024-01-01)),
        |          hh = datetime_diff('hour', ts, datetime(2024-01-01)),
        |          wy = weekofyear(ts)
        | | summarize n = count() by w, dw, m, eod, dd, hh, wy
        | | sort by hh asc, dw asc""".stripMargin,
      """SELECT w, dw, m, eod, dd, hh, wy, count(*) AS n FROM (
        |  SELECT
        |    CAST(date_trunc('day', ts)
        |         - to_days(CAST(dayofweek(ts) AS INT)) AS TIMESTAMP) AS w,
        |    CAST(dayofweek(ts) AS BIGINT) AS dw,
        |    CAST(date_trunc('month', ts) AS TIMESTAMP) AS m,
        |    CAST(date_trunc('day', ts) + INTERVAL 1 DAY
        |         - INTERVAL 1 MICROSECOND AS TIMESTAMP) AS eod,
        |    date_diff('day', TIMESTAMP '2024-01-01', ts) AS dd,
        |    date_diff('hour', TIMESTAMP '2024-01-01', ts) AS hh,
        |    CAST(weekofyear(ts) AS BIGINT) AS wy
        |  FROM events)
        |GROUP BY 1, 2, 3, 4, 5, 6, 7 ORDER BY hh, dw""".stripMargin),

    // extended aggregates: sample stdev/variance (floored at fixed scale —
    // accumulation order differs across engines, so raw doubles can't
    // hash), total-ruled arg extremes (extreme key, then extreme return
    // value on ties), and sorted make_set projected as a joined string —
    // the driver's pandas comparator cannot sort/hash array cells, so the
    // gate-visible column must be scalar (strcat_array on both sides)
    kq("kql_agg_ext",
      """lineitem
        | | summarize sd = stdev(l_quantity), va = variance(l_quantity),
        |             am = arg_max(l_extendedprice, l_orderkey),
        |             an = arg_min(l_extendedprice, l_orderkey),
        |             st = make_set(l_linestatus)
        |     by l_returnflag
        | | extend sdi = toint(bin(sd * 1000.0, 1.0)),
        |          vai = toint(bin(va * 1000.0, 1.0)),
        |          sts = strcat_array(st, ',')
        | | project l_returnflag, sdi, vai, am, an, sts
        | | sort by l_returnflag asc""".stripMargin,
      """SELECT l_returnflag,
        |  CAST(floor(stddev_samp(l_quantity) * 1000) AS BIGINT) AS sdi,
        |  CAST(floor(var_samp(l_quantity) * 1000) AS BIGINT) AS vai,
        |  (array_agg(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey DESC))[1] AS am,
        |  (array_agg(l_orderkey ORDER BY l_extendedprice ASC, l_orderkey ASC))[1] AS an,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS sts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // hierarchical top-k: level 1 keeps the top 3 event types by count,
    // level 2 the top 2 users per surviving type. Both engines use the
    // same total tie rule (agg desc, then key asc) so ranking is
    // deterministic under count ties.
    kq("kql_topnested",
      """events
        | | top-nested 3 of event_type by n1 = count(),
        |   top-nested 2 of user_id by n2 = count()
        | | sort by event_type asc, user_id asc""".stripMargin,
      """WITH l1 AS (
        |  SELECT event_type, count(*) AS n1,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
        |  FROM events GROUP BY 1),
        |k1 AS (SELECT event_type, n1 FROM l1 WHERE rk <= 3),
        |l2 AS (
        |  SELECT e.event_type, e.user_id, count(*) AS n2,
        |         row_number() OVER (PARTITION BY e.event_type
        |                            ORDER BY count(*) DESC, e.user_id ASC) AS rk
        |  FROM events e JOIN k1 USING (event_type)
        |  GROUP BY 1, 2)
        |SELECT l2.event_type, k1.n1, l2.user_id, l2.n2
        |FROM l2 JOIN k1 USING (event_type) WHERE l2.rk <= 2
        |ORDER BY event_type, user_id""".stripMargin),

    // schemaless mv-expand: a variant JSON array explodes per element,
    // `to typeof(long)` types them (non-numeric elements → null)
    kq("kql_mvexpand_variant",
      """documents
        | | where doc_id < 300
        | | extend a = todynamic(strcat('[', tostring(doc_id % 5),
        |     ', "x", ', tostring(doc_id % 3), ']'))
        | | mv-expand with_itemindex=ix a to typeof(long)
        | | project doc_id, ix, a
        | | sort by doc_id asc, ix asc""".stripMargin,
      """SELECT doc_id, ix, a FROM (
        |  SELECT doc_id, unnest([0, 1, 2]::BIGINT[]) AS ix,
        |         unnest([doc_id % 5, NULL, doc_id % 3]) AS a
        |  FROM documents WHERE doc_id < 300) t
        |ORDER BY doc_id, ix""".stripMargin),

    // head-form multi-source union with isfuzzy: the missing branch is
    // skipped, the two real tables union with per-row provenance
    kq("kql_union_multi",
      """union withsource=Src isfuzzy=true nation, region, no_such_table
        | | summarize n = count() by Src
        | | sort by Src asc""".stripMargin,
      """SELECT 'nation' AS Src, count(*) AS n FROM nation
        |UNION ALL SELECT 'region', count(*) FROM region
        |ORDER BY Src""".stripMargin),

    // parse kind=regex over the props JSON text (raw fragments, typed
    // capture); same RE2-compatible pattern replays in DuckDB
    kq("kql_parse_regex",
      """events
        | | where event_id < 1500
        | | parse kind=regex props with '\\{"k": ' k: long '\\}'
        | | project event_id, k
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CAST(regexp_extract(props, '\{"k": (.*?)\}', 1) AS BIGINT) AS k
        |FROM events WHERE event_id < 1500
        |ORDER BY event_id""".stripMargin),

    // expression sort keys (real-KQL surface): order by computed values,
    // lowered into the same TakeOrderedAndProject shape as field keys
    kq("kql_sort_expr",
      """documents
        | | top 100 by strlen(text) desc, doc_id asc
        | | project doc_id, n = strlen(text)""".stripMargin,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n
        |FROM documents ORDER BY length(text) DESC, doc_id LIMIT 100""".stripMargin),

    // pivot auto-schema: values discovered by one bounded eager distinct
    // scan, sorted for deterministic column order; empty cells stay null
    kq("kql_pivot_auto",
      """lineitem
        | | project l_returnflag, l_linestatus, l_quantity
        | | evaluate pivot(l_linestatus, sum(l_quantity))
        | | sort by l_returnflag asc""".stripMargin,
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // geo_point_in_polygon: even-odd ray casting over a literal GeoJSON
    // square with a triangular hole; .5-offset latitudes dodge edge/
    // vertex degeneracies and the same unrolled edge arithmetic replays
    // in SQL (horizontal edges contribute 0 in both engines — their
    // first conjunct is false before the zero-denominator division)
    kq("kql_geo_polygon",
      """events
        | | where event_id < 2000
        | | extend x = todouble(event_id % 13) - 1.0,
        |          y = todouble(event_id % 12) - 0.5
        | | project event_id, inp = geo_point_in_polygon(x, y,
        |     '{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],[[4,4],[6,4],[5,6],[4,4]]]}')
        | | sort by event_id asc""".stripMargin,
      """WITH p AS (
        |  SELECT event_id,
        |    CAST(event_id % 13 AS DOUBLE) - 1.0 AS x,
        |    CAST(event_id % 12 AS DOUBLE) - 0.5 AS y
        |  FROM events WHERE event_id < 2000)
        |SELECT event_id, (
        |  CASE WHEN (0 > y) <> (0 > y) AND x < (10) * (y - 0) / (0) + 0 THEN 1 ELSE 0 END +
        |  CASE WHEN (0 > y) <> (10 > y) AND x < (0) * (y - 0) / (10) + 10 THEN 1 ELSE 0 END +
        |  CASE WHEN (10 > y) <> (10 > y) AND x < (-10) * (y - 10) / (0) + 10 THEN 1 ELSE 0 END +
        |  CASE WHEN (10 > y) <> (0 > y) AND x < (0) * (y - 10) / (-10) + 0 THEN 1 ELSE 0 END +
        |  CASE WHEN (4 > y) <> (4 > y) AND x < (2) * (y - 4) / (0) + 4 THEN 1 ELSE 0 END +
        |  CASE WHEN (4 > y) <> (6 > y) AND x < (-1) * (y - 4) / (2) + 6 THEN 1 ELSE 0 END +
        |  CASE WHEN (6 > y) <> (4 > y) AND x < (-1) * (y - 6) / (-2) + 5 THEN 1 ELSE 0 END
        |  ) % 2 = 1 AS inp
        |FROM p ORDER BY event_id""".stripMargin),

    // replace_regex (all matches, $1 group refs) + has_ipv4 (strict
    // octet validation on separator-delimited tokens, no lookaround —
    // the identical pattern replays in RE2)
    kq("kql_extras2",
      """events
        | | where event_id < 1500
        | | extend s = strcat('addr 10.', tostring(event_id % 256), '.0.',
        |                     tostring(event_id % 300))
        | | project event_id,
        |     rr = replace_regex(props, '[0-9]+', '#'),
        |     rg = replace_regex(props, '"k": ([0-9]+)', 'k:$1'),
        |     h1 = has_ipv4(s),
        |     h2 = has_ipv4(replace_string(s, 'addr ', 'addr='))
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS rr,
        |  regexp_replace(props, '"k": ([0-9]+)', 'k:\1', 'g') AS rg,
        |  len(list_filter(string_split_regex(
        |    'addr 10.' || (event_id % 256) || '.0.' || (event_id % 300),
        |    '[\s,;:\[\]()"'']+'), t -> regexp_matches(t,
        |    '^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$')))
        |    > 0 AS h1,
        |  false AS h2
        |FROM events WHERE event_id < 1500
        |ORDER BY event_id""".stripMargin),

    // period offsets, typed extract, extract_groups, treepath
    kq("kql_extras1",
      """events
        | | where event_id < 1200
        | | project event_id,
        |     pd = startofday(ts, -1),
        |     nm = startofmonth(ts, 1),
        |     ed = endofday(ts, -1),
        |     ex = extract('"k": ([0-9]+)', 1, props, typeof(long)),
        |     eg = strcat_array(extract_groups('"(k)": ([0-9]+)', props), ','),
        |     tp = strcat_array(treepath(todynamic(props)), '|')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  date_trunc('day', ts) - INTERVAL 1 DAY AS pd,
        |  CAST(date_trunc('month', ts + INTERVAL 1 MONTH) AS TIMESTAMP)
        |    AS nm,
        |  date_trunc('day', ts) - INTERVAL 1 MICROSECOND AS ed,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS ex,
        |  'k,' || regexp_extract(props, '"(k)": ([0-9]+)', 2) AS eg,
        |  '[''k'']' AS tp
        |FROM events WHERE event_id < 1200
        |ORDER BY event_id""".stripMargin),

    // sequence_detect: view → click → purchase funnels per user, bound
    // to nearest predecessors — the DuckDB ASOF JOIN chain is the exact
    // oracle of the cascaded as-of lowering (inclusive >=, same collapse)
    kq("kql_seqdetect",
      """events
        | | extend v = event_type == 'view', c = event_type == 'click',
        |          p = event_type == 'purchase'
        | | evaluate sequence_detect(ts, 1d, 2d, v, c, p, user_id)
        | | sort by user_id asc, p asc, c asc, v asc""".stripMargin,
      """WITH vv AS (SELECT user_id, ts AS vt FROM events
        |            WHERE event_type = 'view'),
        |cc AS (SELECT user_id, ts AS ct FROM events
        |       WHERE event_type = 'click'),
        |pp AS (SELECT user_id, ts AS pt FROM events
        |       WHERE event_type = 'purchase'),
        |s2 AS (
        |  SELECT cc.user_id, vv.vt, cc.ct
        |  FROM cc ASOF LEFT JOIN (SELECT DISTINCT user_id, vt FROM vv) vv
        |    ON cc.user_id = vv.user_id AND cc.ct >= vv.vt
        |  WHERE vv.vt IS NOT NULL
        |    AND epoch_us(cc.ct) - epoch_us(vv.vt) <= 86400000000
        |    AND epoch_us(cc.ct) - epoch_us(vv.vt) <= 172800000000),
        |s2c AS (SELECT user_id, ct, max(vt) AS vt FROM s2 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT pp.user_id, s.vt, s.ct, pp.pt
        |  FROM pp ASOF LEFT JOIN s2c s
        |    ON pp.user_id = s.user_id AND pp.pt >= s.ct
        |  WHERE s.ct IS NOT NULL
        |    AND epoch_us(pp.pt) - epoch_us(s.ct) <= 86400000000
        |    AND epoch_us(pp.pt) - epoch_us(s.vt) <= 172800000000)
        |SELECT user_id, vt AS v, ct AS c, pt AS p,
        |       epoch_us(pt) - epoch_us(vt) AS duration
        |FROM s3 ORDER BY user_id, p, c, v""".stripMargin),

    // row_cumsum restart segments + Kusto clock-shape timespan rendering
    kq("kql_span_cumsum",
      """events
        | | where event_id < 1500
        | | sort by event_id asc
        | | extend cs = row_cumsum(toint(bin(value * 100.0, 1.0)),
        |                          event_id % 200 == 0)
        | | project event_id, cs,
        |     t1 = tostring(make_timespan(1, 2, 3, 4.5)),
        |     t2 = tostring(make_timespan(-1, 0)),
        |     t3 = tostring(totimespan('2.03:04:05'))
        | | sort by event_id asc""".stripMargin,
      """WITH e AS (
        |  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS v,
        |         CASE WHEN event_id % 200 = 0 THEN 1 ELSE 0 END AS r
        |  FROM events WHERE event_id < 1500),
        |s AS (SELECT *, sum(r) OVER (ORDER BY event_id) AS seg FROM e)
        |SELECT event_id,
        |  CAST(sum(v) OVER (PARTITION BY seg ORDER BY event_id) AS BIGINT)
        |    AS cs,
        |  '1.02:03:04.5000000' AS t1, '-01:00:00' AS t2,
        |  '2.03:04:05' AS t3
        |FROM s ORDER BY event_id""".stripMargin),

    // buildschema + conditional moments: props is homogeneous {"k": long}
    // so its merged schema is a literal; the constructed column mixes an
    // object and an array shape → sorted alternatives. stdevif/varianceif
    // floor at 1e-3 (cross-engine summation order, same rule as stdev)
    kq("kql_aggschema",
      """events
        | | extend p = todynamic(props),
        |     d = todynamic(iff(value > 15,
        |           strcat('{"a":', tostring(event_id), '}'), '[1, "x"]'))
        | | summarize sch = buildschema(p), sch2 = buildschema(d),
        |     sd = stdevif(value, value > 10),
        |     va = varianceif(value, value > 10)
        |     by event_type
        | | project event_type, s1 = tostring(sch), s2 = tostring(sch2),
        |     sdi = toint(bin(sd * 1000.0, 1.0)),
        |     vai = toint(bin(va * 1000.0, 1.0))
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type,
        |  '{"k":"long"}' AS s1,
        |  '[{"`indexer`":["long","string"]},{"a":"long"}]' AS s2,
        |  CAST(floor(stddev_samp(CASE WHEN value > 10 THEN value END)
        |    * 1000) AS BIGINT) AS sdi,
        |  CAST(floor(var_samp(CASE WHEN value > 10 THEN value END)
        |    * 1000) AS BIGINT) AS vai
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // with others: excluded keys bucket under the label per parent,
    // re-aggregated from raw rows, deeper levels nesting inside the
    // bucket — dcount stays exact where combining group results couldn't
    kq("kql_topnested_others",
      """events
        | | top-nested 2 of event_type with others = 'OTHER' by n1 = count(),
        |   top-nested 2 of user_id by d2 = dcount(value)
        | | sort by event_type asc, user_id asc""".stripMargin,
      """WITH l1 AS (
        |  SELECT event_type, count(*) AS n1,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type ASC)
        |           AS rk
        |  FROM events GROUP BY 1),
        |k1 AS (SELECT event_type FROM l1 WHERE rk <= 2),
        |r AS (
        |  SELECT CASE WHEN event_type IN (SELECT event_type FROM k1)
        |              THEN event_type ELSE 'OTHER' END AS event_type,
        |         user_id, value
        |  FROM events),
        |g1 AS (SELECT event_type, count(*) AS n1 FROM r GROUP BY 1),
        |l2 AS (
        |  SELECT event_type, user_id, count(DISTINCT value) AS d2,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY count(DISTINCT value) DESC, user_id ASC)
        |           AS rk
        |  FROM r GROUP BY 1, 2)
        |SELECT l2.event_type, g1.n1, l2.user_id, CAST(l2.d2 AS BIGINT) AS d2
        |FROM l2 JOIN g1 USING (event_type) WHERE l2.rk <= 2
        |ORDER BY event_type, user_id""".stripMargin),

    // generated source: inclusive grid through a distributed spark.range
    // (sum stays exact — integer values in doubles are order-insensitive)
    kq("kql_range",
      """range x from 1 to 1000 step 7
        | | extend y = x * 2
        | | summarize n = count(), s = sum(y)""".stripMargin,
      """SELECT count(*) AS n, CAST(sum(x * 2) AS DOUBLE) AS s
        |FROM generate_series(1, 1000, 7) AS t(x)""".stripMargin),

    // serialized window scalars over the sort's key order: lag/lead/
    // row_number/running-sum. The cumsum runs over integer cents
    // (floor(value*100)) so accumulation is order-insensitive-exact in
    // both engines.
    kq("kql_window",
      """events
        | | where event_type == 'purchase'
        | | sort by ts asc, event_id asc
        | | extend rn = row_number(), pv = prev(event_id), nx = next(event_id),
        |          cum = row_cumsum(toint(bin(value * 100.0, 1.0)))
        | | project event_id, rn, pv, nx, cum
        | | limit 1000""".stripMargin,
      """SELECT event_id,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  lag(event_id) OVER w AS pv,
        |  lead(event_id) OVER w AS nx,
        |  CAST(sum(CAST(floor(value * 100.0) AS BIGINT))
        |       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS cum
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (ORDER BY ts, event_id)
        |ORDER BY ts, event_id LIMIT 1000""".stripMargin),

    // conditional aggregate family over integer cents (exact in double
    // regardless of accumulation order); avgif mirrors as sum/count on
    // the DuckDB side for bit-exact division
    kq("kql_aggif",
      """events
        | | extend cents = toint(bin(value * 100.0, 1.0)), d = startofday(ts)
        | | summarize s = sumif(cents, event_type == 'purchase'),
        |             a = avgif(cents, event_type == 'signup'),
        |             mn = minif(cents, event_type == 'view'),
        |             mx = maxif(cents, event_type == 'click'),
        |             dc = dcountif(user_id, event_type == 'error')
        |     by d
        | | sort by d asc""".stripMargin,
      """SELECT d, s, a, mn, mx, dc FROM (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
        |    coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN cents END)
        |                  AS DOUBLE), 0.0) AS s,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN cents END) AS DOUBLE)
        |      / count(CASE WHEN event_type = 'signup' THEN cents END) AS a,
        |    min(CASE WHEN event_type = 'view' THEN cents END) AS mn,
        |    max(CASE WHEN event_type = 'click' THEN cents END) AS mx,
        |    count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS dc
        |  FROM (SELECT *, CAST(floor(value * 100.0) AS BIGINT) AS cents
        |        FROM events)
        |  GROUP BY 1) ORDER BY d""".stripMargin),

    // schema introspection: compile-time metadata only — the oracle pins
    // the expected rows as literals (the Spark side derives them from the
    // resolved schema)
    kq("kql_getschema",
      "documents | getschema | sort by ColumnOrdinal asc",
      """SELECT * FROM (VALUES
        |  ('doc_id', CAST(0 AS BIGINT), 'bigint', 'long'),
        |  ('text',   CAST(1 AS BIGINT), 'string', 'string'),
        |  ('lang',   CAST(2 AS BIGINT), 'string', 'string'),
        |  ('source', CAST(3 AS BIGINT), 'string', 'string'),
        |  ('n_chars', CAST(4 AS BIGINT), 'bigint', 'long'))
        |  AS t(ColumnName, ColumnOrdinal, DataType, ColumnType)
        |ORDER BY ColumnOrdinal""".stripMargin),

    // pivot plugin: one aggregated column per listed value — a single
    // partial/final aggregation (plan has no per-value scans); combos
    // with no rows are null in both engines (sum-of-nothing)
    kq("kql_pivot",
      """documents
        | | project lang, source, n_chars
        | | evaluate pivot(source, s = sum(n_chars), 'src0', 'src7', 'src19')
        | | sort by lang asc""".stripMargin,
      """SELECT lang,
        |  CAST(sum(CASE WHEN source = 'src0' THEN n_chars END) AS DOUBLE) AS src0,
        |  CAST(sum(CASE WHEN source = 'src7' THEN n_chars END) AS DOUBLE) AS src7,
        |  CAST(sum(CASE WHEN source = 'src19' THEN n_chars END) AS DOUBLE) AS src19
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // parse-where: extraction that FILTERS — non-matching rows drop
    // instead of keeping null captures
    kq("kql_parsewhere",
      """events
        | | parse-where props with "{\"k\": 1" rest:string "}"
        | | summarize n = count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |WHERE regexp_matches(props, '(?s)\{"k": 1.*\}')
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // mv-apply: per-row subquery over the row's tokens — filter long
    // tokens, aggregate count/distinct back to one row per document.
    // Docs with no qualifying token disappear (inner explode), matching
    // the unnest-then-group oracle.
    kq("kql_mvapply",
      """documents
        | | extend toks = split(text, ' ')
        | | mv-apply t = toks on (where strlen(t) > 4 | summarize n = count(), d = dcount(t))
        | | project doc_id, n, d
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, count(*) AS n, count(DISTINCT t) AS d
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |      FROM documents)
        |WHERE len(t) > 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // union withsource: rows keep the name of the scan they came from
    kq("kql_union_withsource",
      """customer
        | | project key = c_custkey
        | | union withsource=src (supplier | project key = s_suppkey)
        | | summarize n = count() by src
        | | sort by src asc""".stripMargin,
      """SELECT src, count(*) AS n FROM (
        |  SELECT 'customer' AS src FROM customer
        |  UNION ALL SELECT 'supplier' AS src FROM supplier)
        |GROUP BY 1 ORDER BY src""".stripMargin),

    // scalar lets: parse-time substitution feeding a filter that still
    // pushes down to the scan
    kq("kql_scalar_let",
      """let qty = 45; let flag = 'R';
        |lineitem
        | | where l_quantity >= qty and l_returnflag == flag
        | | summarize n = count() by l_linestatus
        | | sort by l_linestatus asc""".stripMargin,
      """SELECT l_linestatus, count(*) AS n FROM lineitem
        |WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin),

    // multi-key equi join (the reference allows exactly one key pair):
    // both key columns join conjunctively, same-name pairs dedup, still
    // a hash join
    kq("kql_join_multikey",
      """events
        | | summarize n = count() by user_id, event_type
        | | join kind=inner (events
        |     | where value >= 50.0
        |     | summarize m = count() by user_id, event_type)
        |     on user_id, event_type
        | | summarize pairs = count(), tot = sum(n), hits = sum(m) by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT a.event_type, count(*) AS pairs,
        |       CAST(sum(a.n) AS DOUBLE) AS tot,
        |       CAST(sum(b.m) AS DOUBLE) AS hits
        |FROM (SELECT user_id, event_type, count(*) AS n FROM events
        |      GROUP BY 1, 2) a
        |JOIN (SELECT user_id, event_type, count(*) AS m FROM events
        |      WHERE value >= 50.0 GROUP BY 1, 2) b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        |GROUP BY 1 ORDER BY a.event_type""".stripMargin),

    // round-8 join kind=innerunique (real ADX's default kind; our bare
    // `join` stays inner for reference parity): one left row per key —
    // the deterministic pick is row_number over the left row's columns
    // in schema order, which the oracle replays verbatim
    kq("kql_join_innerunique",
      """events
        | | project user_id, event_id, value
        | | join kind=innerunique (events
        |     | summarize total = count() by user_id) on user_id
        | | sort by user_id asc""".stripMargin,
      """WITH l AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY user_id, event_id, value) AS rn
        |  FROM events),
        |r AS (SELECT user_id, count(*) AS total FROM events
        |      GROUP BY user_id)
        |SELECT l.user_id, event_id, value, total
        |FROM l JOIN r USING (user_id) WHERE rn = 1
        |ORDER BY l.user_id""".stripMargin),

    // string scalar surface #2: countof / tohex / base64 round-trip /
    // extract_all / matches regex — all exact string results, plus an
    // anchored bin over doc length
    kq("kql_strfns2",
      """documents
        | | where text matches regex 'table.*table'
        | | extend c = countof(text, 'the'),
        |          c2 = countof(strcat(lang, lang, lang), strcat(lang, lang)),
        |          hx = tohex(doc_id),
        |          hx4 = tohex(doc_id, 6),
        |          rt = base64_decode_tostring(base64_encode_tostring(source)),
        |          words = array_length(extract_all('[a-z]+', text)),
        |          nb = bin_at(n_chars, 50, 10)
        | | project doc_id, c, c2, hx, hx4, rt, words, nb
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  CAST((len(text) - len(replace(text, 'the', ''))) / 3 AS BIGINT) AS c,
        |  CAST(len(list_filter(range(1, 2 * len(lang) + 2),
        |    i -> (lang || lang || lang)[i : i + 2 * len(lang) - 1]
        |         = lang || lang)) AS BIGINT) AS c2,
        |  lower(to_hex(doc_id)) AS hx,
        |  lpad(lower(to_hex(doc_id)),
        |       CAST(greatest(len(lower(to_hex(doc_id))), 6) AS INT),
        |       '0') AS hx4,
        |  decode(from_base64(to_base64(encode(source)))) AS rt,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS words,
        |  10 + floor((n_chars - 10) / 50.0) * 50 AS nb
        |FROM documents
        |WHERE regexp_matches(text, 'table.*table')
        |ORDER BY doc_id""".stripMargin),

    // datatable: inline literal dimension joined against real data —
    // the lookup-table idiom
    kq("kql_datatable",
      """let dims = (datatable (lang: string, label: string)
        |  ['en', 'english', 'de', 'german', 'fr', 'french']);
        |documents
        | | join kind=left (dims) on lang
        | | summarize n = count() by lbl = coalesce(label, 'other')
        | | sort by lbl asc""".stripMargin,
      // the coalesce keeps unmatched docs visible: KQL summarize drops
      // null group keys, so a bare `by label` would lose them
      """SELECT coalesce(label, 'other') AS lbl, count(*) AS n FROM documents
        |LEFT JOIN (VALUES ('en', 'english'), ('de', 'german'),
        |                  ('fr', 'french')) AS dims(lang, label)
        |  USING (lang)
        |GROUP BY 1 ORDER BY lbl""".stripMargin),

    // case-insensitive operator family (=~, in~) and phrase-list
    // predicates (has_any / has_all)
    kq("kql_ci_ops",
      """documents
        | | where lang =~ 'EN' or lang in~ ('DE', 'FR')
        | | where text has_any ('spark', 'window') and text !has_all ('zebra', 'quark')
        | | summarize n = count() by lang
        | | sort by lang asc""".stripMargin,
      """SELECT lang, count(*) AS n FROM documents
        |WHERE (lower(lang) = lower('EN')
        |       OR lower(lang) IN (lower('DE'), lower('FR')))
        |  AND (regexp_matches(text, '(?i)(^|[^A-Za-z0-9])spark([^A-Za-z0-9]|$)')
        |       OR regexp_matches(text, '(?i)(^|[^A-Za-z0-9])window([^A-Za-z0-9]|$)'))
        |  AND NOT (regexp_matches(text, '(?i)(^|[^A-Za-z0-9])zebra([^A-Za-z0-9]|$)')
        |       AND regexp_matches(text, '(?i)(^|[^A-Za-z0-9])quark([^A-Za-z0-9]|$)'))
        |GROUP BY 1 ORDER BY lang""".stripMargin),

    // todynamic: JSON text parsed into a variant, then the usual variant
    // field-path machinery
    kq("kql_todynamic",
      """events
        | | extend d = todynamic(props)
        | | project event_id, k = toint(d.k)
        | | sort by event_id asc | limit 2000""".stripMargin,
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin),

    // lookup: dimension-enrichment join sugar, default kind=leftouter
    kq("kql_lookup",
      """customer
        | | lookup (nation | project n_nationkey, n_name)
        |     on $left.c_nationkey == $right.n_nationkey
        | | summarize cnt = count() by n_name
        | | sort by n_name asc""".stripMargin,
      """SELECT n_name, count(*) AS cnt FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin),

    // registered views splice inline at scan (reference http_server views;
    // previously ScalaTest-only — this gates the splice itself)
    Q("kql_view",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin)(
      (s, dir) => {
        val cat = Catalog.forTestData(s, dir)
        cat.registerView("bigorders",
          "orders | where o_totalprice > 400000")
        Kql.run(s, cat,
          "views.bigorders | project o_orderkey, o_totalprice | sort by o_orderkey asc")
      }),

    // raw() native pass-through (reference connector raw_query; gated
    // server-side behind allowRaw, but first-class in the library API)
    Q("kql_raw",
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_quantity > 45 GROUP BY 1 ORDER BY l_returnflag""".stripMargin)(
      (s, dir) => {
        val cat = Catalog.forTestData(s, dir)
        Kql.run(s, cat,
          """raw("SELECT l_returnflag, count(*) AS n FROM lineitem
            |      WHERE l_quantity > 45 GROUP BY 1")
            | | sort by l_returnflag asc""".stripMargin)
      }),

    // externaldata: ad-hoc file source with declared schema (Kusto's
    // operator; local paths, no egress) — reads the same parquet the
    // catalog serves, so the oracle is the plain table query
    Q("kql_externaldata",
      """SELECT doc_id, lang FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin)(
      (s, dir) => Kql.run(s, Catalog.forTestData(s, dir),
        s"""externaldata (doc_id: long, lang: string)
           |  ['file://$dir/documents.parquet'] with(format='parquet')
           | | where doc_id < 100
           | | project doc_id, lang
           | | sort by doc_id asc""".stripMargin)),

    // exact top-hitters (Kusto surface; Kusto's own is CMS-approximate —
    // ours is exact with Kusto's approximate_* column naming, so the
    // DuckDB oracle can hash it bit-for-bit; integer cents keep the
    // double sum order-insensitive-exact)
    kq("kql_tophitters",
      """events
        | | extend cents = toint(bin(value * 100.0, 1.0))
        | | top-hitters 5 of user_id by cents""".stripMargin,
      """SELECT user_id,
        |  CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS DOUBLE)
        |    AS approximate_sum_cents
        |FROM events GROUP BY user_id
        |ORDER BY approximate_sum_cents DESC, user_id LIMIT 5""".stripMargin),

    // reproducible sample-distinct: the engine picks the N smallest
    // xxhash64(value) — the oracle replays Spark's XXH64.hashLong(v, 42)
    // in HUGEINT mod-2^64 SQL (same machinery as the minhash/LSH oracles)
    Q("kql_sample_distinct", {
      import PipelineQueries.SignLshSql.{hashLongCtes, W}
      s"""WITH ids AS (SELECT DISTINCT user_id, CAST(user_id AS HUGEINT) AS l
         |             FROM events),
         |${hashLongCtes("hx", "l", "CAST(42 AS HUGEINT)", "ids")},
         |s AS (SELECT user_id,
         |        CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh
         |      FROM hx6)
         |SELECT user_id FROM
         |  (SELECT user_id FROM s ORDER BY sh, user_id LIMIT 10)
         |ORDER BY user_id""".stripMargin
    })((s, dir) => Kql.run(s, Catalog.forTestData(s, dir),
      "events | sample-distinct 10 of user_id | sort by user_id asc")),

    // bag_unpack over the variant (schemaless) events view: merged-schema
    // inference + typed variant_get projection, gated through a grouped
    // count on the unpacked key
    kq("kql_bag_unpack",
      """eventsv | evaluate bag_unpack(props, 'p_')
        | | summarize n = count() by p_k
        | | sort by p_k asc""".stripMargin,
      """SELECT CAST(props->>'k' AS BIGINT) AS p_k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY p_k""".stripMargin),

    // round-5 array/set scalar batch: every array-valued result is
    // projected through strcat_array so the gate-visible columns stay
    // scalar (the driver's pandas comparator cannot sort array cells —
    // the kql_agg_ext lesson). Integer elements keep array_sum exact.
    // the top-2000 selection runs FIRST (TakeOrderedAndProject over the
    // narrow base columns), and the ten array expressions evaluate on the
    // 2000 survivors only — computing them under the sort cost 3.4 s of
    // per-row array work on the full table for rows the limit then threw
    // away (~0.3 s this way)
    kq("kql_arrayfns2",
      """lineitem
        | | top 2000 by l_orderkey asc, l_linenumber asc
        | | extend q = toint(l_quantity)
        | | extend a = pack_array(l_linenumber, q, 3), b = pack_array(q, 5)
        | | project l_orderkey, l_linenumber,
        |     srt = strcat_array(array_sort_asc(a), ','),
        |     dsrt = strcat_array(array_sort_desc(a), ','),
        |     rev = strcat_array(array_reverse(a), ','),
        |     cat = strcat_array(array_concat(a, b), ','),
        |     sl = strcat_array(array_slice(a, 1, 2), ','),
        |     idx = array_index_of(a, 3),
        |     asum = array_sum(a),
        |     un = strcat_array(set_union(a, b), ','),
        |     ix = strcat_array(set_intersect(a, b), ','),
        |     dif = strcat_array(set_difference(a, b), ',')
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         [l_linenumber, CAST(trunc(l_quantity) AS INTEGER), 3] AS a,
        |         [CAST(trunc(l_quantity) AS INTEGER), 5] AS b
        |  FROM (SELECT * FROM lineitem
        |        ORDER BY l_orderkey, l_linenumber LIMIT 2000))
        |SELECT l_orderkey, l_linenumber,
        |  array_to_string(list_sort(a, 'ASC', 'NULLS LAST'), ',') AS srt,
        |  array_to_string(list_sort(a, 'DESC', 'NULLS LAST'), ',') AS dsrt,
        |  array_to_string(list_reverse(a), ',') AS rev,
        |  array_to_string(list_concat(a, b), ',') AS cat,
        |  array_to_string(a[2:3], ',') AS sl,
        |  CAST(list_position(a, 3) - 1 AS BIGINT) AS idx,
        |  CAST(list_sum(a) AS DOUBLE) AS asum,
        |  array_to_string(list_sort(list_distinct(list_concat(a, b)),
        |    'ASC', 'NULLS LAST'), ',') AS un,
        |  coalesce(array_to_string(list_sort(list_distinct(list_intersect(a, b)),
        |    'ASC', 'NULLS LAST'), ','), '') AS ix,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(a, x -> NOT list_contains(b, x))),
        |    'ASC', 'NULLS LAST'), ','), '') AS dif
        |FROM base
        |ORDER BY l_orderkey, l_linenumber LIMIT 2000""".stripMargin),

    // bag scalars: bag_keys over the schemaless events view, bag_pack
    // round-tripped through variant field paths
    kq("kql_bagfns",
      """eventsv
        | | extend b = bag_pack('id', event_id, 'kk', toint(props.k))
        | | project event_id,
        |     keys = strcat_array(bag_keys(props), ','),
        |     bid = tolong(b.id), bk = tolong(b.kk)
        | | sort by event_id asc | limit 2000""".stripMargin,
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props), 'ASC', 'NULLS LAST'),
        |    ',') AS keys,
        |  event_id AS bid,
        |  CAST(props->>'k' AS BIGINT) AS bk
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin),

    // print: single-row scalar source (Kusto calculator statement)
    kq("kql_print",
      "print x = 1 + 2, s = strcat('a', 'b'), f = 10.0 / 4, b = 3 > 1",
      "SELECT CAST(3 AS BIGINT) AS x, 'ab' AS s, CAST(2.5 AS DOUBLE) AS f, true AS b"),

    // mv-expand with_itemindex: 0-based element index per expanded row
    kq("kql_mvexpand_idx",
      """lineitem
        | | extend a = split(strcat(l_returnflag, ',', l_linestatus), ',')
        | | mv-expand with_itemindex=ix a
        | | summarize n = count() by e = tostring(a), ix
        | | sort by e asc, ix asc""".stripMargin,
      """SELECT e, ix, count(*) AS n FROM (
        |  SELECT unnest(string_split(l_returnflag || ',' || l_linestatus,
        |           ',')) AS e,
        |         CAST(generate_subscripts(string_split(
        |           l_returnflag || ',' || l_linestatus, ','), 1) - 1
        |           AS BIGINT) AS ix
        |  FROM lineitem)
        |GROUP BY e, ix ORDER BY e, ix""".stripMargin),

    // partition by: the serialized window scalars distributed per key —
    // one hash shuffle on user_id serves the sort, the three windows, and
    // the per-key take (PlanSpec/PartitionSpec pin the no-SinglePartition
    // shape). prev's -1 default fills only out-of-bounds rows; event_id is
    // non-null in the fixture so lag+coalesce mirrors it exactly.
    kq("kql_partition",
      """events
        | | partition by user_id (sort by ts asc, event_id asc
        |     | extend rk = row_number(), pv = prev(event_id, 1, -1),
        |              cum = row_cumsum(toint(bin(value * 100.0, 1.0)))
        |     | take 3)
        | | project user_id, event_id, rk, pv, cum
        | | sort by user_id asc, rk asc""".stripMargin,
      """SELECT user_id, event_id, rk, pv, cum FROM (
        |  SELECT user_id, event_id,
        |    CAST(row_number() OVER w AS BIGINT) AS rk,
        |    coalesce(lag(event_id) OVER w, -1) AS pv,
        |    CAST(sum(CAST(floor(value * 100.0) AS BIGINT))
        |         OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin),

    // partition by + top: per-key top-N without a global sort; ties broken
    // by event_id so both engines rank identically
    kq("kql_partition_top",
      """events
        | | where event_type == 'purchase'
        | | partition by user_id (top 2 by value desc, event_id asc)
        | | extend cents = toint(bin(value * 100.0, 1.0))
        | | project user_id, event_id, cents
        | | sort by user_id asc, event_id asc""".stripMargin,
      """SELECT user_id, event_id,
        |  CAST(floor(value * 100.0) AS BIGINT) AS cents
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS rk
        |  FROM events WHERE event_type = 'purchase')
        |WHERE rk <= 2 ORDER BY user_id, event_id""".stripMargin),

    // make-series: gap-filled fixed-step series per group (arrays), the
    // series projected through strcat_array so the gate-visible columns
    // stay scalar. 2024-01-01 is day-aligned, so anchored bins equal epoch
    // day bins on both sides; counts/mins are long arrays (string-exact).
    kq("kql_makeseries",
      """events
        | | make-series n = count(), m = min(user_id) on ts
        |     from datetime(2024-01-01) to datetime(2024-01-31) step 1d
        |     by event_type
        | | project event_type, ns = strcat_array(n, ','),
        |           ms = strcat_array(m, ',')
        | | sort by event_type asc""".stripMargin,
      """WITH counts AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         count(*) AS n, min(user_id) AS m
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, d
        |  FROM (SELECT DISTINCT event_type FROM counts),
        |       (SELECT unnest(range(19723, 19753)) AS d)),
        |filled AS (
        |  SELECT g.event_type, g.d, coalesce(c.n, 0) AS n,
        |         coalesce(c.m, 0) AS m
        |  FROM grid g LEFT JOIN counts c
        |    ON g.event_type = c.event_type AND g.d = c.d)
        |SELECT event_type,
        |  string_agg(CAST(n AS VARCHAR), ',' ORDER BY d) AS ns,
        |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY d) AS ms
        |FROM filled GROUP BY 1 ORDER BY 1""".stripMargin),

    // materialize: the let compiles once and persists; both union branches
    // read the same InMemoryRelation (MaterializeSpec pins the plan).
    // Results are semantics-identical to a plain let — that is the point —
    // so the oracle is the straightforward doubled-rows SQL.
    kq("kql_materialize",
      """let m = materialize(events | where event_type != 'error'
        |                    | summarize n = count() by event_type);
        |m | union (m) | summarize s = sum(n) by event_type
        | | sort by event_type asc""".stripMargin,
      """WITH m AS (
        |  SELECT event_type, count(*) AS n FROM events
        |  WHERE event_type <> 'error' GROUP BY 1)
        |SELECT event_type, CAST(sum(n) AS DOUBLE) AS s
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM m)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // function lets: parse-time macro expansion — the oracle replicates
    // the EXPANDED arithmetic in the same IEEE operation order, so the
    // composed-call column hashes bit-exact
    kq("kql_funclet",
      """let cents = (x: real) { toint(bin(x * 100.0, 1.0)) };
        |let taxed = (x: real, r: real) { cents(x * (1.0 + r)) };
        |let isbig = (x: real) { x >= 50.0 };
        |events
        | | where event_type == 'purchase' and isbig(value)
        | | extend c = cents(value), t = taxed(value, 0.1)
        | | summarize s = sum(c), st = sum(t), n = count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type,
        |  CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS DOUBLE) AS s,
        |  CAST(sum(CAST(floor((value * (1.0 + 0.1)) * 100.0) AS BIGINT))
        |       AS DOUBLE) AS st,
        |  count(*) AS n
        |FROM events
        |WHERE event_type = 'purchase' AND value >= 50.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // scan: per-user view→purchase sequence matching inside partition by
    // (distributed per-key state machine). For DISJOINT step conditions
    // the single-active-match semantics reduce to lag() algebra: a view
    // whose previous relevant row is not a view STARTS a match, a purchase
    // whose previous relevant row is a view COMPLETES it, and the match id
    // is the running count of starts — which is what the oracle replays.
    kq("kql_scan",
      """events
        | | partition by user_id (sort by ts asc, event_id asc
        |     | scan with (step s1: event_type == 'view';
        |                  step s2: event_type == 'purchase'))
        | | summarize n = count(), s = sum(match_id) by step
        | | sort by step asc""".stripMargin,
      """WITH rel AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_t
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |marked AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'view'
        |              AND (prev_t IS NULL OR prev_t <> 'view')
        |         THEN 1 ELSE 0 END AS starts,
        |    CASE WHEN event_type = 'purchase' AND prev_t = 'view'
        |         THEN 1 ELSE 0 END AS completes
        |  FROM rel),
        |numbered AS (
        |  SELECT *, sum(starts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid
        |  FROM marked)
        |SELECT CASE WHEN event_type = 'view' THEN 's1' ELSE 's2' END AS step,
        |  count(*) AS n, CAST(sum(mid) AS DOUBLE) AS s
        |FROM numbered
        |WHERE event_type = 'view' OR completes = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // series scalar family over make-series output: FIR trailing sums,
    // reducers, elementwise arithmetic — integer-valued doubles, so the
    // string projections format identically in both engines
    kq("kql_seriesfns",
      """events
        | | make-series n = count() on ts
        |     from datetime(2024-01-01) to datetime(2024-01-31) step 1d
        |     by event_type
        | | extend f = series_fir(n, pack_array(1, 1, 1)),
        |          tot = series_sum(n), mx = series_max(n),
        |          dbl = series_add(n, n)
        | | project event_type, fs = strcat_array(f, ','), tot, mx,
        |           ds = strcat_array(dbl, ',')
        | | sort by event_type asc""".stripMargin,
      """WITH counts AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         count(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, d
        |  FROM (SELECT DISTINCT event_type FROM counts),
        |       (SELECT unnest(range(19723, 19753)) AS d)),
        |filled AS (
        |  SELECT g.event_type, g.d, coalesce(c.n, 0) AS n
        |  FROM grid g LEFT JOIN counts c
        |    ON g.event_type = c.event_type AND g.d = c.d),
        |ser AS (
        |  SELECT event_type, list(n ORDER BY d) AS narr
        |  FROM filled GROUP BY 1)
        |SELECT event_type,
        |  array_to_string([CAST(list_sum(list_slice(narr, greatest(i - 2, 1), i))
        |    AS DOUBLE) FOR i IN range(1, len(narr) + 1)], ',') AS fs,
        |  CAST(list_sum(narr) AS DOUBLE) AS tot,
        |  list_max(narr) AS mx,
        |  array_to_string(list_transform(narr, x -> x * 2), ',') AS ds
        |FROM ser ORDER BY 1""".stripMargin),

    // invoke: tabular function let spliced at the call site with a scalar
    // arg — the oracle is the hand-inlined equivalent
    kq("kql_invoke",
      """let hourly = (T: table, et: string) {
        |  T | where event_type == et
        |    | summarize n = count() by h = hourofday(ts)
        |};
        |events | invoke hourly('click') | sort by h asc""".stripMargin,
      """SELECT count(*) AS n, CAST(hour(ts) AS BIGINT) AS h
        |FROM events WHERE event_type = 'click'
        |GROUP BY 2 ORDER BY 2""".stripMargin),

    // aggregation batch 2: take_any (deterministic minimum, so min() IS
    // the oracle), binary_all_* bit folds, and the HLL sketch family at a
    // cardinality where DataSketches stays in exact list mode (≤5 distinct
    // event types per user, far below the ~512-coupon promotion) — the
    // estimate equals DuckDB's exact distinct count, so the sketch path
    // itself is hash-gated
    kq("kql_agg_ext2",
      """events
        | | extend cents = toint(bin(value * 100.0, 1.0))
        | | summarize a = take_any(event_type), ba = binary_all_and(cents),
        |             bo = binary_all_or(cents), bx = binary_all_xor(cents),
        |             s = hll(event_type)
        |     by user_id
        | | project user_id, a, ba, bo, bx, d = dcount_hll(s)
        | | sort by user_id asc""".stripMargin,
      """SELECT user_id, min(event_type) AS a,
        |  bit_and(CAST(floor(value * 100.0) AS BIGINT)) AS ba,
        |  bit_or(CAST(floor(value * 100.0) AS BIGINT)) AS bo,
        |  bit_xor(CAST(floor(value * 100.0) AS BIGINT)) AS bx,
        |  count(DISTINCT event_type) AS d
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // set statements and render directives are tolerated no-ops — the
    // gate proves a dashboard-tail query runs unchanged
    kq("kql_render_set",
      """set notruncation;
        |set truncationmaxsize = 1000000;
        |events | where event_type == 'error'
        | | summarize n = count() by event_type
        | | sort by event_type asc
        | | render timechart with (title = 'errors')""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type = 'error' GROUP BY 1 ORDER BY 1""".stripMargin),

    // datetime_add (calendar clamp + time-of-day carry mirrors DuckDB's
    // INTERVAL month addition), format_datetime, and a contains_cs filter
    // (case-sensitive LIKE on the oracle side)
    kq("kql_dtadd_fmt",
      """events
        | | where event_type contains_cs 'chase'
        | | extend nxt = datetime_add('month', 1, ts),
        |          d2 = datetime_add('hour', -5, ts),
        |          fmt = format_datetime(ts, 'yyyy-MM-dd HH:mm:ss')
        | | summarize n = count(), mn = min(nxt), mf = min(fmt),
        |             m2 = max(d2) by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n,
        |  min(ts + INTERVAL 1 MONTH) AS mn,
        |  min(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS mf,
        |  max(ts - INTERVAL 5 HOUR) AS m2
        |FROM events WHERE event_type LIKE '%chase%'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // series_stats_dynamic over make-series output: every projected field
    // is either integer-exact or one IEEE division of exact operands, so
    // the bag roundtrip hash-matches
    kq("kql_series_stats",
      """events
        | | make-series n = count() on ts
        |     from datetime(2024-01-01) to datetime(2024-01-31) step 1d
        |     by event_type
        | | extend st = series_stats_dynamic(n)
        | | project event_type, mn = toreal(st.min), mx = toreal(st.max),
        |           av = toreal(st.avg), sm = toreal(st.sum),
        |           mni = tolong(st.min_idx), ln = tolong(st.len)
        | | sort by event_type asc""".stripMargin,
      """WITH counts AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |         count(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, d
        |  FROM (SELECT DISTINCT event_type FROM counts),
        |       (SELECT unnest(range(19723, 19753)) AS d)),
        |filled AS (
        |  SELECT g.event_type, g.d, coalesce(c.n, 0) AS n
        |  FROM grid g LEFT JOIN counts c
        |    ON g.event_type = c.event_type AND g.d = c.d),
        |ser AS (
        |  SELECT event_type, list(n ORDER BY d) AS narr
        |  FROM filled GROUP BY 1)
        |SELECT event_type,
        |  CAST(list_min(narr) AS DOUBLE) AS mn,
        |  CAST(list_max(narr) AS DOUBLE) AS mx,
        |  CAST(list_sum(narr) AS DOUBLE) / CAST(len(narr) AS DOUBLE) AS av,
        |  CAST(list_sum(narr) AS DOUBLE) AS sm,
        |  CAST(list_position(narr, list_min(narr)) - 1 AS BIGINT) AS mni,
        |  CAST(len(narr) AS BIGINT) AS ln
        |FROM ser ORDER BY 1""".stripMargin),

    // toscalar: eager scalar subquery folded into the outer filter —
    // max() is order-independent-exact, so the threshold (and therefore
    // the row set) is bit-identical to DuckDB's correlated scalar
    kq("kql_toscalar",
      """events
        | | where value > toscalar(events | where event_type == 'purchase'
        |                          | summarize m = max(value)) / 2.0
        | | summarize n = count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |WHERE value > (SELECT max(value) FROM events
        |               WHERE event_type = 'purchase') / 2.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // tee: side-write AND pass-through (reference pipeline.rs split sink).
    // The gate reads the SINK back and hashes that against the oracle, so
    // what is verified is the side-effect itself — the rows that reached
    // parquet — not just the pass-through half. A fresh temp dir per call
    // keeps the append-mode sink deterministic across repeated runs.
    Q("kql_tee",
      """SELECT event_id, user_id FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)(
      (s, dir) => {
        val cat = Catalog.forTestData(s, dir)
        val sink = Q.tempDir("graft_gate_tee") + "/out"
        cat.registerSink("dest", sink)
        Kql.run(s, cat,
          """events | where event_type == 'purchase'
            | | project event_id, user_id | tee dest | count""".stripMargin)
        s.read.parquet(sink).orderBy("event_id")
      }),

    // write: terminal sink (reference pipeline.rs write step). Same
    // read-the-sink-back shape as kql_tee — the gate hashes the persisted
    // rows, closing the last "untested in gate" steps from SURVEY §2.1.
    Q("kql_write",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 450000 ORDER BY o_orderkey""".stripMargin)(
      (s, dir) => {
        val cat = Catalog.forTestData(s, dir)
        val sink = Q.tempDir("graft_gate_write") + "/out"
        cat.registerSink("dest", sink)
        Kql.run(s, cat,
          """orders | where o_totalprice > 450000
            | | project o_orderkey, o_totalprice | write dest""".stripMargin)
        s.read.parquet(sink).orderBy("o_orderkey")
      }),

    // round-6 datetime batch 3: component getters + quarter/period ends
    // (endof* = next-period start − 1 µs, clamp-safe month adds)
    kq("kql_dtfns3",
      """events
        | | where event_id < 2000
        | | project event_id,
        |     y = getyear(ts), mo = getmonth(ts), doy = dayofyear(ts),
        |     sq = startofquarter(ts), ew = endofweek(ts),
        |     em = endofmonth(ts), ey = endofyear(ts)
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS mo,
        |  CAST(dayofyear(ts) AS BIGINT) AS doy,
        |  CAST(date_trunc('quarter', ts) AS TIMESTAMP) AS sq,
        |  date_trunc('day', ts) - to_days(CAST(dayofweek(ts) AS INT))
        |    + INTERVAL 7 DAY - INTERVAL 1 MICROSECOND AS ew,
        |  date_trunc('month', ts + INTERVAL 1 MONTH)
        |    - INTERVAL 1 MICROSECOND AS em,
        |  date_trunc('year', ts + INTERVAL 12 MONTH)
        |    - INTERVAL 1 MICROSECOND AS ey
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin),

    // round-6 string batch 3: reverse, strrep, and the Kusto regex trim
    // family (one anchored match per side; same RE2 pattern both engines)
    kq("kql_strfns3",
      """documents
        | | project doc_id,
        |     r = reverse(substring(text, 0, 12)),
        |     rep = strrep(lang, 3, '-'),
        |     t1 = trim('[ae]', source),
        |     t2 = trim_start('[A-Z]+', substring(text, 0, 8)),
        |     t3 = trim_end('[0-9]+', strcat(lang, tostring(doc_id))),
        |     tr = translate('aeiou', 'AEIOU', source),
        |     sc = strcmp(lang, source)
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  reverse(substr(text, 1, 12)) AS r,
        |  lang || '-' || lang || '-' || lang AS rep,
        |  regexp_replace(regexp_replace(source, '^(?:[ae])', ''),
        |                 '(?:[ae])$', '') AS t1,
        |  regexp_replace(substr(text, 1, 8), '^(?:[A-Z]+)', '') AS t2,
        |  regexp_replace(lang || CAST(doc_id AS VARCHAR),
        |                 '(?:[0-9]+)$', '') AS t3,
        |  translate(source, 'aeiou', 'AEIOU') AS tr,
        |  CAST(CASE WHEN lang < source THEN -1 WHEN lang > source THEN 1
        |            ELSE 0 END AS BIGINT) AS sc
        |FROM documents ORDER BY doc_id""".stripMargin),

    // round-6 IPv4 batch: parse/format/range/private over synthesized
    // addresses (split + arithmetic lowerings replayed verbatim in SQL;
    // h ∈ 8..15 lands inside 10.8.0.0/13, h ∈ 0..1 are malformed)
    kq("kql_ipfns",
      """events
        | | where event_id < 3000
        | | extend m = event_id - bin(event_id, 256),
        |          h = event_id - bin(event_id, 16)
        | | extend ip = case(h == 0, strcat('300.1.2.', tostring(m)),
        |                    h == 1, 'not-an-ip',
        |                    strcat('10.', tostring(h), '.', tostring(m), '.25'))
        | | extend ipl = parse_ipv4(ip)
        | | extend fmt = format_ipv4(ipl),
        |          inr = ipv4_is_in_range(ip, '10.8.0.0/13'),
        |          priv = ipv4_is_private(ip)
        | | summarize n = count(), valid = countif(isnotnull(ipl)),
        |     s = sum(ipl), nin = countif(inr), npriv = countif(priv),
        |     anyfmt = min(fmt)
        |     by h
        | | sort by h asc""".stripMargin,
      """WITH base AS (
        |  SELECT event_id, event_id % 256 AS m, event_id % 16 AS h
        |  FROM events WHERE event_id < 3000),
        |w AS (
        |  SELECT h,
        |    CASE WHEN h = 0 THEN '300.1.2.' || m
        |         WHEN h = 1 THEN 'not-an-ip'
        |         ELSE '10.' || h || '.' || m || '.25' END AS ip
        |  FROM base),
        |p AS (
        |  SELECT h, ip,
        |    CASE WHEN len(string_split(ip, '.')) = 4
        |          AND TRY_CAST(string_split(ip, '.')[1] AS BIGINT) BETWEEN 0 AND 255
        |          AND TRY_CAST(string_split(ip, '.')[2] AS BIGINT) BETWEEN 0 AND 255
        |          AND TRY_CAST(string_split(ip, '.')[3] AS BIGINT) BETWEEN 0 AND 255
        |          AND TRY_CAST(string_split(ip, '.')[4] AS BIGINT) BETWEEN 0 AND 255
        |      THEN TRY_CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
        |         + TRY_CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
        |         + TRY_CAST(string_split(ip, '.')[3] AS BIGINT) * 256
        |         + TRY_CAST(string_split(ip, '.')[4] AS BIGINT) END AS ipl
        |  FROM w)
        |SELECT h, count(*) AS n, count(ipl) AS valid,
        |  COALESCE(CAST(sum(ipl) AS DOUBLE), 0.0) AS s,
        |  count(CASE WHEN floor(CAST(ipl AS DOUBLE) / 524288.0)
        |             = floor(168296448.0 / 524288.0) THEN 1 END) AS nin,
        |  count(CASE WHEN floor(ipl / 16777216) = 10
        |              OR floor(ipl / 1048576) = 2753
        |              OR floor(ipl / 65536) = 49320 THEN 1 END) AS npriv,
        |  min(CASE WHEN ipl IS NOT NULL THEN
        |    CAST(CAST(floor(ipl / 16777216) % 256 AS BIGINT) AS VARCHAR) || '.' ||
        |    CAST(CAST(floor(ipl / 65536) % 256 AS BIGINT) AS VARCHAR) || '.' ||
        |    CAST(CAST(floor(ipl / 256) % 256 AS BIGINT) AS VARCHAR) || '.' ||
        |    CAST(CAST(ipl % 256 AS BIGINT) AS VARCHAR) END) AS anyfmt
        |FROM p GROUP BY h ORDER BY h""".stripMargin),

    // round-6 array batch 3: shifts, rotations, element-wise iff over a
    // fixed 4-element array — every output scalarized through
    // strcat_array, elements kept non-null via explicit fills so the
    // join text is engine-agnostic
    kq("kql_arrayfns3",
      """events
        | | where event_id < 500
        | | extend a = pack_array(event_id, event_id + 1, event_id + 2, event_id + 3)
        | | project event_id,
        |     sl = strcat_array(array_shift_left(a, 1, -1), ','),
        |     sr = strcat_array(array_shift_right(a, 2, -1), ','),
        |     rl = strcat_array(array_rotate_left(a, 1), ','),
        |     rr = strcat_array(array_rotate_right(a, 1), ','),
        |     ci = strcat_array(
        |       array_iff(pack_array(true, false, true, false),
        |                 a, array_rotate_left(a, 2)), ',')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  (event_id+1) || ',' || (event_id+2) || ',' || (event_id+3) || ',-1' AS sl,
        |  '-1,-1,' || event_id || ',' || (event_id+1) AS sr,
        |  (event_id+1) || ',' || (event_id+2) || ',' || (event_id+3) || ',' || event_id AS rl,
        |  (event_id+3) || ',' || event_id || ',' || (event_id+1) || ',' || (event_id+2) AS rr,
        |  event_id || ',' || (event_id+3) || ',' || (event_id+2) || ',' || (event_id+1) AS ci
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin),

    // round-6 gettype over a mixed variant column: per-row runtime type
    // dispatch, grouped — the oracle maps the construction classes
    kq("kql_gettype",
      """eventsv
        | | where event_id < 400
        | | extend m7 = event_id - bin(event_id, 7)
        | | extend v = todynamic(case(m7 == 0, 'null', m7 == 1, 'true',
        |     m7 == 2, tostring(event_id), m7 == 3, '1.5', m7 == 4, '"w"',
        |     m7 == 5, '[1]', '{"a":1}'))
        | | summarize n = count() by t = gettype(v)
        | | sort by t asc""".stripMargin,
      """SELECT CASE event_id % 7
        |    WHEN 0 THEN 'null' WHEN 1 THEN 'bool' WHEN 2 THEN 'long'
        |    WHEN 3 THEN 'real' WHEN 4 THEN 'string' WHEN 5 THEN 'array'
        |    ELSE 'dictionary' END AS t,
        |  count(*) AS n
        |FROM events WHERE event_id < 400
        |GROUP BY 1 ORDER BY t""".stripMargin),

    // round-6 run-based serialized ranks — the oracle replays the same
    // change-counting windows over the identical total order
    kq("kql_rowrank",
      """events
        | | where event_id < 2000
        | | sort by event_type asc, event_id asc
        | | extend d = row_rank_dense(event_type), m = row_rank_min(event_type)
        | | project event_id, event_type, d, m
        | | sort by event_id asc""".stripMargin,
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (ORDER BY event_type, event_id) AS rn,
        |    CASE WHEN lag(event_type) OVER (ORDER BY event_type, event_id)
        |           IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS ch
        |  FROM events WHERE event_id < 2000),
        |r AS (SELECT event_id, event_type,
        |    SUM(ch) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS d,
        |    MAX(CASE WHEN ch = 1 THEN rn END)
        |      OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS m
        |  FROM s)
        |SELECT event_id, event_type, CAST(d AS BIGINT) AS d,
        |       CAST(m AS BIGINT) AS m
        |FROM r ORDER BY event_id""".stripMargin),

    // round-6 todatetime/totimespan casts: datetime text parse and the
    // clock-form timespan, verified through timespan division
    kq("kql_tscasts",
      """events
        | | where event_id < 400
        | | extend m = event_id - bin(event_id, 4),
        |          dd = event_id - bin(event_id, 9)
        | | project event_id,
        |     d = todatetime(strcat('2024-0', tostring(m + 1), '-1',
        |           tostring(dd), ' 0', tostring(m), ':15:00')),
        |     sp = totimespan(strcat(tostring(m), ':30:00')) / 1m,
        |     bad = todatetime('never')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CAST('2024-0' || (m + 1) || '-1' || dd || ' 0' || m || ':15:00'
        |       AS TIMESTAMP) AS d,
        |  CAST(m * 60 + 30 AS DOUBLE) AS sp,
        |  CAST(NULL AS TIMESTAMP) AS bad
        |FROM (SELECT event_id, event_id % 4 AS m, event_id % 9 AS dd
        |      FROM events WHERE event_id < 400) t
        |ORDER BY event_id""".stripMargin),

    // round-6 series fills: one null injected at position m∈{0,1,2} (or
    // none) — the oracle enumerates the per-position fill outcomes
    kq("kql_seriesfill",
      """events
        | | where event_id < 500
        | | extend m = event_id - bin(event_id, 6)
        | | extend a = pack_array(iff(m == 0, tolong(''), event_id),
        |                         iff(m == 1, tolong(''), event_id + 1),
        |                         iff(m == 2, tolong(''), event_id + 2))
        | | project event_id,
        |     ff = strcat_array(series_fill_const(series_fill_forward(a), -9), ','),
        |     bf = strcat_array(series_fill_const(series_fill_backward(a), -9), ','),
        |     cf = strcat_array(series_fill_const(a, 0), ',')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CASE m WHEN 0 THEN '-9,' || (e+1) || ',' || (e+2)
        |         WHEN 1 THEN e || ',' || e || ',' || (e+2)
        |         WHEN 2 THEN e || ',' || (e+1) || ',' || (e+1)
        |         ELSE e || ',' || (e+1) || ',' || (e+2) END AS ff,
        |  CASE m WHEN 0 THEN (e+1) || ',' || (e+1) || ',' || (e+2)
        |         WHEN 1 THEN e || ',' || (e+2) || ',' || (e+2)
        |         WHEN 2 THEN e || ',' || (e+1) || ',-9'
        |         ELSE e || ',' || (e+1) || ',' || (e+2) END AS bf,
        |  CASE m WHEN 0 THEN '0,' || (e+1) || ',' || (e+2)
        |         WHEN 1 THEN e || ',0,' || (e+2)
        |         WHEN 2 THEN e || ',' || (e+1) || ',0'
        |         ELSE e || ',' || (e+1) || ',' || (e+2) END AS cf
        |FROM (SELECT event_id, event_id AS e, event_id % 6 AS m
        |      FROM events WHERE event_id < 500) t
        |ORDER BY event_id""".stripMargin),

    // round-6 parse_url: component bag over synthesized URLs — the
    // oracle rebuilds the canonical (key-sorted) JSON text directly from
    // the same components
    kq("kql_parseurl",
      """events
        | | where event_id < 400
        | | extend h = event_id - bin(event_id, 5),
        |          m = event_id - bin(event_id, 3),
        |          k = event_id - bin(event_id, 13)
        | | extend url = strcat('https://usr', tostring(h), ':pw@www.ex',
        |     tostring(h), '.com', iff(m == 0, ':8080', ''), '/p/',
        |     tostring(m), '?a=', tostring(k), '&b=2#f', tostring(h))
        | | project event_id, pu = tostring(parse_url(url))
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  '{"Fragment":"f' || h || '","Host":"www.ex' || h ||
        |  '.com","Password":"pw","Path":"/p/' || m || '","Port":"' ||
        |  CASE WHEN m = 0 THEN '8080' ELSE '' END ||
        |  '","Query Parameters":{"a":"' || k ||
        |  '","b":"2"},"Scheme":"https","Username":"usr' || h || '"}' AS pu
        |FROM (SELECT event_id, event_id % 5 AS h, event_id % 3 AS m,
        |             event_id % 13 AS k
        |      FROM events WHERE event_id < 400) t
        |ORDER BY event_id""".stripMargin),

    // round-6 evaluate narrow(): wide-row transposition to
    // (Row, Column, Value) string triples over a serialized prefix
    kq("kql_narrow",
      """events
        | | where event_id < 10
        | | project event_id, event_type, user_id
        | | sort by event_id asc
        | | evaluate narrow()
        | | sort by Row asc, Column asc""".stripMargin,
      """WITH e AS (
        |  SELECT event_id, event_type, user_id,
        |         row_number() OVER (ORDER BY event_id) - 1 AS r
        |  FROM events WHERE event_id < 10)
        |SELECT r AS "Row", c AS "Column", v AS "Value" FROM (
        |  SELECT r, 'event_id' AS c, CAST(event_id AS VARCHAR) AS v FROM e
        |  UNION ALL
        |  SELECT r, 'event_type', event_type FROM e
        |  UNION ALL
        |  SELECT r, 'user_id', CAST(user_id AS VARCHAR) FROM e) t
        |ORDER BY "Row", "Column"""".stripMargin),

    // round-6 parse_version + column_ifexists: version packing arithmetic
    // replayed in SQL; column_ifexists resolves `value` (present) and
    // falls back for a column no table has
    kq("kql_verfns",
      """events
        | | where event_id < 300
        | | extend ver = strcat(tostring(event_id - bin(event_id, 4)), '.',
        |     tostring(event_id - bin(event_id, 11)),
        |     iff(event_id - bin(event_id, 2) == 0, '.7', ''))
        | | project event_id, pv = parse_version(ver),
        |     c1 = column_ifexists('value', -1.0),
        |     c2 = column_ifexists('nosuch', 'dflt')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  (event_id % 4) * 1000000000000 + (event_id % 11) * 100000000
        |    + CASE WHEN event_id % 2 = 0 THEN 7 * 10000 ELSE 0 END AS pv,
        |  value AS c1, 'dflt' AS c2
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin),

    // round-6 make_bag / make_bag_if: shallow bag merge per group with the
    // deterministic first-sorted-bag-wins rule — the oracle replays it
    // with json_each + arg_min on the bag text
    kq("kql_makebag",
      """events
        | | where event_id < 600
        | | extend m = event_id - bin(event_id, 3)
        | | extend b = todynamic(strcat('{"',
        |     case(m == 0, 'a', m == 1, 'b', 'c'),
        |     '":', tostring(event_id - bin(event_id, 97)), '}'))
        | | summarize mb = make_bag(b), mbi = make_bag_if(b, m != 2)
        |     by u = event_id - bin(event_id, 7)
        | | project u, s1 = tostring(mb), s2 = tostring(mbi)
        | | sort by u asc""".stripMargin,
      """WITH base AS (
        |  SELECT event_id, event_id % 3 AS m, event_id % 7 AS u,
        |         event_id % 97 AS v FROM events WHERE event_id < 600),
        |kv AS (SELECT u, m, bag,
        |    CASE WHEN m = 0 THEN 'a' WHEN m = 1 THEN 'b' ELSE 'c' END AS k,
        |    CAST(v AS VARCHAR) AS val
        |  FROM (SELECT u, m, v,
        |    '{"' || CASE WHEN m = 0 THEN 'a' WHEN m = 1 THEN 'b'
        |            ELSE 'c' END || '":' || v || '}' AS bag FROM base) w2),
        |win  AS (SELECT u, k, arg_min(val, bag) AS val
        |         FROM kv GROUP BY u, k),
        |winf AS (SELECT u, k, arg_min(val, bag) AS val
        |         FROM kv WHERE m != 2 GROUP BY u, k),
        |a1 AS (SELECT u, '{' || string_agg('"' || k || '":' || val,
        |         ',' ORDER BY k) || '}' AS s1 FROM win GROUP BY u),
        |a2 AS (SELECT u, '{' || string_agg('"' || k || '":' || val,
        |         ',' ORDER BY k) || '}' AS s2 FROM winf GROUP BY u)
        |SELECT a1.u, a1.s1, COALESCE(a2.s2, '{}') AS s2
        |FROM a1 LEFT JOIN a2 ON a1.u = a2.u ORDER BY a1.u""".stripMargin),

    // round-6 arg_max(f, *): the whole winning row per group — one struct
    // through the aggregate, expanded to Kusto's output shape. The oracle
    // replays the total tie rule (key desc, then every return desc in
    // column order) with a window rank
    kq("kql_argmax_star",
      """events
        | | summarize arg_max(value, *) by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, event_id, ts, user_id, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id DESC, ts DESC,
        |             user_id DESC, props DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // round-6 misc scalars: variadic extrema, repeat/zip/scalar-range,
    // set/bag membership — zip exercised through mv-expand so the
    // array-of-arrays shape flattens to oracle-friendly scalars
    kq("kql_miscfns",
      """events
        | | where event_id < 500
        | | extend a = pack_array(event_id, event_id + 2),
        |          b = pack_array(event_id + 1)
        | | extend z = zip(a, b)
        | | mv-expand z
        | | project event_id,
        |     mn = min_of(value, 50.0), mx = max_of(event_id, 100),
        |     rng = strcat_array(range(event_id, event_id + 4, 2), ','),
        |     rep = strcat_array(repeat(event_id, 2), ','),
        |     she = set_has_element(a, event_id + 2),
        |     shf = set_has_element(b, event_id),
        |     bh = bag_has_key(props, 'k'),
        |     zs = strcat_array(z, ',')
        | | sort by event_id asc, zs asc""".stripMargin,
      """WITH e AS (SELECT event_id, value, props FROM events
        |           WHERE event_id < 500),
        |r AS (
        |  SELECT event_id, value, props,
        |    event_id || ',' || (event_id + 1) AS zs FROM e
        |  UNION ALL
        |  SELECT event_id, value, props,
        |    CAST(event_id + 2 AS VARCHAR) AS zs FROM e)
        |SELECT event_id,
        |  LEAST(value, 50.0) AS mn,
        |  GREATEST(event_id, 100) AS mx,
        |  event_id || ',' || (event_id + 2) || ',' || (event_id + 4) AS rng,
        |  event_id || ',' || event_id AS rep,
        |  TRUE AS she, FALSE AS shf,
        |  list_contains(json_keys(props), 'k') AS bh,
        |  zs
        |FROM r ORDER BY event_id, zs""".stripMargin),

    // round-6 find: cross-table predicate search — union by name with
    // null-fill for table-specific columns, source_ provenance
    kq("kql_find",
      """find in (events, orders) where value > 300 or o_totalprice > 450000
        | | summarize n = count(), sv = sum(value), so = sum(o_totalprice)
        |     by source_
        | | sort by source_ asc""".stripMargin,
      """WITH u AS (
        |  SELECT 'events' AS source_, value,
        |         CAST(NULL AS DOUBLE) AS o_totalprice FROM events
        |  UNION ALL
        |  SELECT 'orders', NULL, o_totalprice FROM orders)
        |SELECT source_, count(*) AS n,
        |  COALESCE(CAST(sum(value) AS DOUBLE), 0.0) AS sv,
        |  COALESCE(CAST(sum(o_totalprice) AS DOUBLE), 0.0) AS so
        |FROM u WHERE value > 300 OR o_totalprice > 450000
        |GROUP BY source_ ORDER BY source_""".stripMargin),

    // round-6 as: the named prefix is compiled once per reference site
    // like a query let; the self-join proves the binding resolves
    kq("kql_as",
      """orders | where o_totalprice > 400000 | as big
        | | join kind=inner (big) on $left.o_orderkey == $right.o_orderkey
        | | summarize n = count()""".stripMargin,
      """SELECT count(*) AS n FROM orders WHERE o_totalprice > 400000"""),

    // round-6 hash(): Kusto's xxhash64 surface — the oracle replays
    // Spark's XXH64.hashLong(v, 42) in HUGEINT mod-2^64 SQL (the same
    // machinery as the minhash/sample-distinct oracles)
    Q("kql_hash", {
      import PipelineQueries.SignLshSql.{hashLongCtes, W}
      s"""WITH ids AS (SELECT event_id, CAST(event_id AS HUGEINT) AS l
         |             FROM events WHERE event_id < 500),
         |${hashLongCtes("hx", "l", "CAST(42 AS HUGEINT)", "ids")},
         |s AS (SELECT event_id,
         |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh
         |  FROM hx6)
         |SELECT event_id, CAST(sh AS BIGINT) AS h,
         |  CAST(((sh % 7) + 7) % 7 AS BIGINT) AS hm
         |FROM s ORDER BY event_id""".stripMargin
    })((s, dir) => Kql.run(s, Catalog.forTestData(s, dir),
      """events | where event_id < 500
        | | extend h = hash(event_id), hm = hash(event_id, 7)
        | | project event_id, h, hm | sort by event_id asc""".stripMargin)),

    // round-6 trig/math batch. Transcendental outputs are floored at a
    // fixed scale: java.lang.Math and C libm are each ≤1 ulp but not both
    // correctly rounded, so raw doubles can't hash across engines (same
    // rule as the stdev gate above). pi/degrees/radians/atan2/cot ride
    // the same guard. ceiling is exact and compares raw.
    kq("kql_mathfns2",
      """lineitem
        | | where l_orderkey < 2000
        | | extend x = l_discount * 10.0, q = l_quantity
        | | project l_orderkey, l_linenumber,
        |     si = toint(bin(sin(x) * 100000.0, 1.0)),
        |     co = toint(bin(cos(x) * 100000.0, 1.0)),
        |     ta = toint(bin(tan(x) * 100000.0, 1.0)),
        |     at = toint(bin(atan(x) * 100000.0, 1.0)),
        |     a2 = toint(bin(atan2(x, 2.0) * 100000.0, 1.0)),
        |     dg = toint(bin(degrees(x) * 100000.0, 1.0)),
        |     rd = toint(bin(radians(q) * 100000.0, 1.0)),
        |     e2 = toint(bin(exp2(x) * 1000.0, 1.0)),
        |     ce = ceiling(l_extendedprice / 100.0),
        |     cl = ceiling(l_orderkey),
        |     p = toint(bin(pi() * 100000.0, 1.0))
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(sin(l_discount * 10.0) * 100000) AS BIGINT) AS si,
        |  CAST(floor(cos(l_discount * 10.0) * 100000) AS BIGINT) AS co,
        |  CAST(floor(tan(l_discount * 10.0) * 100000) AS BIGINT) AS ta,
        |  CAST(floor(atan(l_discount * 10.0) * 100000) AS BIGINT) AS at,
        |  CAST(floor(atan2(l_discount * 10.0, 2.0) * 100000) AS BIGINT) AS a2,
        |  CAST(floor(degrees(l_discount * 10.0) * 100000) AS BIGINT) AS dg,
        |  CAST(floor(radians(l_quantity) * 100000) AS BIGINT) AS rd,
        |  CAST(floor(pow(2.0, l_discount * 10.0) * 1000) AS BIGINT) AS e2,
        |  ceil(l_extendedprice / 100.0) AS ce,
        |  CAST(ceil(l_orderkey) AS BIGINT) AS cl,
        |  CAST(floor(pi() * 100000) AS BIGINT) AS p
        |FROM lineitem WHERE l_orderkey < 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // round-6 string batch 4 on real data: byte-length vs char-length,
    // regex first-match index (oracled as length-of-prefix-before-match),
    // metachar escaping (both engines: global regexp_replace with a
    // backref), csv re-join
    kq("kql_strfns4",
      """documents
        | | extend t = substring(text, 0, 40)
        | | project doc_id,
        |     bs = string_size(t),
        |     cs = strlen(t),
        |     ir = indexof_regex(t, '[0-9]+'),
        |     rq = regex_quote(substring(t, 0, 12)),
        |     pc = strcat_array(parse_csv(strcat(lang, ',', source)), '|')
        | | sort by doc_id asc""".stripMargin,
      """WITH b AS (SELECT doc_id, substr(text, 1, 40) AS t, lang, source
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(strlen(t) AS BIGINT) AS bs,
        |  CAST(length(t) AS BIGINT) AS cs,
        |  CAST(CASE WHEN regexp_matches(t, '[0-9]')
        |       THEN length(regexp_replace(t, '(?s)[0-9].*$', ''))
        |       ELSE -1 END AS BIGINT) AS ir,
        |  regexp_replace(substr(t, 1, 12),
        |    '([\\.\[\]{}()*+?^$|\-/])', '\\\1', 'g') AS rq,
        |  lang || '|' || source AS pc
        |FROM b ORDER BY doc_id""".stripMargin),

    // round-6 url/csv scalars: DuckDB 1.0 has no url_encode/decode, so
    // the oracle pins the expected constants as SQL literals (still an
    // ANSI-SQL cross-check of the same result shape)
    kq("kql_urlfns",
      """print e = url_encode('a b&c/d?x=1'),
        |      c = url_encode_component('a b&c'),
        |      d = url_decode('a%20b%26c'),
        |      r = url_decode(url_encode('k=v& w')),
        |      q = strcat_array(parse_csv('a,"b,c",d'), '|')""".stripMargin,
      """SELECT 'a+b%26c%2Fd%3Fx%3D1' AS e, 'a%20b%26c' AS c,
        |       'a b&c' AS d, 'k=v& w' AS r, 'a|b,c|d' AS q""".stripMargin),

    // round-6 sample step: reproducible pick = smallest xxhash64 of the
    // (single-column) row; the oracle replays Spark's XXH64.hashLong in
    // HUGEINT SQL and takes the same 200
    Q("kql_sample", {
      import PipelineQueries.SignLshSql.{hashLongCtes, W}
      s"""WITH ids AS (SELECT event_id, CAST(event_id AS HUGEINT) AS l
         |             FROM events),
         |${hashLongCtes("hx", "l", "CAST(42 AS HUGEINT)", "ids")},
         |s AS (SELECT event_id,
         |    CASE WHEN h >= 9223372036854775808 THEN h - $W ELSE h END AS sh
         |  FROM hx6),
         |pick AS (SELECT event_id FROM s ORDER BY sh, event_id LIMIT 200)
         |SELECT event_id FROM pick ORDER BY event_id""".stripMargin
    })((s, dir) => Kql.run(s, Catalog.forTestData(s, dir),
      "events | project event_id | sample 200 | sort by event_id asc")),

    // round-6 project-reorder: the driver hash is column-order-blind, so
    // the gate proves execution + row integrity; the spec pins ordering
    kq("kql_reorder",
      """lineitem
        | | where l_orderkey < 200
        | | project l_orderkey, l_linenumber, l_quantity, l_extendedprice
        | | project-reorder l_q*, * asc
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """SELECT l_quantity, l_extendedprice, l_linenumber, l_orderkey
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // round-6 parse-kv: round-trip a composed k=v string back into typed
    // columns (first-wins, typed casts); the oracle recomputes directly
    kq("kql_parsekv",
      """lineitem
        | | where l_orderkey < 500
        | | extend s = strcat('qty=', tostring(toint(l_quantity)),
        |                     '; flag=', l_returnflag,
        |                     '; price=', tostring(l_extendedprice))
        | | parse-kv s as (qty: long, flag: string, price: real)
        |   with (pair_delimiter=';', kv_delimiter='=')
        | | project l_orderkey, l_linenumber, qty, flag, price
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  CAST(trunc(l_quantity) AS BIGINT) AS qty,
        |  l_returnflag AS flag, l_extendedprice AS price
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // round-6 reduce by: deterministic digit-run→'*' patterns, one hash
    // aggregation; both engines apply the same regexp_replace rule
    kq("kql_reduce",
      """events
        | | extend m = strcat(event_type, ' code', tostring(event_id % 50),
        |                     ' u', tostring(user_id % 7))
        | | reduce by m
        | | sort by Pattern asc""".stripMargin,
      """WITH b AS (SELECT event_type || ' code' ||
        |    CAST(event_id % 50 AS VARCHAR) || ' u' ||
        |    CAST(user_id % 7 AS VARCHAR) AS m FROM events)
        |SELECT regexp_replace(m, '[0-9]+', '*', 'g') AS Pattern,
        |       count(*) AS Count, min(m) AS Representative
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-6 tdigest family: sketch per group, estimate per group. Below
    // the compression threshold the GK sketch answers the exact rank rule
    // ceil(p·n), which the oracle replays (same contract as
    // pl_token_quantiles_approx; pinned by TDigestSpec)
    kq("kql_tdigest",
      """events
        | | where event_id < 5000
        | | summarize td = tdigest(value) by event_type
        | | project event_type, p50 = percentile_tdigest(td, 50),
        |           p95 = percentile_tdigest(td, 95)
        | | sort by event_type asc""".stripMargin,
      """WITH t AS (SELECT event_type, value FROM events
        |           WHERE event_id < 5000),
        |r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS cnt FROM t)
        |SELECT event_type,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * cnt) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.95 * cnt) AS BIGINT) THEN value END) AS p95
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-6 tdigest merge: per-group sketches merged into one, then
    // estimated — the 100 TB pre-aggregation path (store kilobyte
    // sketches per rollup, merge on demand, never re-scan)
    kq("kql_tdigest_merge",
      """events
        | | where event_id < 5000
        | | summarize td = tdigest(value) by event_type
        | | summarize m = merge_tdigest(td)
        | | project p50 = percentile_tdigest(m, 50),
        |           p90 = percentile_tdigest(m, 90),
        |           p99 = percentile_tdigest(m, 99)""".stripMargin,
      """WITH t AS (SELECT value FROM events WHERE event_id < 5000),
        |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |        count(*) OVER () AS cnt FROM t)
        |SELECT
        |  max(CASE WHEN rn = CAST(ceil(0.50 * cnt) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.90 * cnt) AS BIGINT) THEN value END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN value END) AS p99
        |FROM r""".stripMargin),

    // round-10 heavy-hitters family: the frequency analog of the
    // tdigest/hll rollup sketches (Spark's DataSketches approx_top_k).
    // Counts are EXACT below the sketch's tracked-item budget (10k items
    // by default, vs a handful of event types), so a plain GROUP BY
    // oracle compares after a deterministic re-sort of the estimate.
    kq("kql_topk_approx",
      """events
        | | summarize tk = topk_approx(event_type, 10)
        | | mv-expand tk
        | | project item = tostring(tk.item), cnt = tolong(tk.count)
        | | sort by cnt desc, item asc""".stripMargin,
      """SELECT event_type AS item, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY cnt DESC, item""".stripMargin),

    // accumulate per rollup group, combine across groups, estimate once —
    // the mergeable pre-aggregation path (store kilobyte sketches per
    // rollup, merge on demand, never re-scan), proving the combine step
    // preserves exact counts below budget
    kq("kql_topk_merge",
      """events
        | | extend g = user_id % 4
        | | summarize s = topk_accum(event_type) by g
        | | summarize m = merge_topk(s)
        | | project tk = topk_estimate(m, 10)
        | | mv-expand tk
        | | project item = tostring(tk.item), cnt = tolong(tk.count)
        | | sort by cnt desc, item asc""".stripMargin,
      """SELECT event_type AS item, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY cnt DESC, item""".stripMargin),

    // round-6 bitwise scalars + countof regex + take_anyif: DuckDB's
    // &, |, xor(), ~, <<, >> (arithmetic), bit_count and
    // len(regexp_extract_all) replay the same rules
    kq("kql_binfns",
      """lineitem
        | | where l_orderkey < 1000
        | | extend q = toint(l_quantity), k = l_orderkey
        | | project k, l_linenumber,
        |     ba = binary_and(k, q), bo = binary_or(k, q),
        |     bx = binary_xor(k, q), bn = binary_not(q),
        |     sl = binary_shift_left(q, 3), sr = binary_shift_right(k, 2),
        |     c1 = bitset_count_ones(k),
        |     cr = countof(strcat(l_returnflag, l_linestatus, l_returnflag),
        |                  '[AF]+', 'regex')
        | | sort by k asc, l_linenumber asc""".stripMargin,
      """SELECT l_orderkey AS k, l_linenumber,
        |  l_orderkey & CAST(trunc(l_quantity) AS BIGINT) AS ba,
        |  l_orderkey | CAST(trunc(l_quantity) AS BIGINT) AS bo,
        |  xor(l_orderkey, CAST(trunc(l_quantity) AS BIGINT)) AS bx,
        |  ~CAST(trunc(l_quantity) AS BIGINT) AS bn,
        |  CAST(trunc(l_quantity) AS BIGINT) << 3 AS sl,
        |  l_orderkey >> 2 AS sr,
        |  CAST(bit_count(l_orderkey) AS BIGINT) AS c1,
        |  CAST(len(regexp_extract_all(
        |    l_returnflag || l_linestatus || l_returnflag, '[AF]+'))
        |    AS BIGINT) AS cr
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY k, l_linenumber""".stripMargin),

    // round-6 take_anyif: the arbitrary-but-stable minimum of matching
    // rows (null when none match), replayed as min(CASE WHEN …)
    kq("kql_take_anyif",
      """orders
        | | summarize big = take_anyif(o_orderpriority, o_totalprice > 300000),
        |             none = take_anyif(o_orderpriority, o_totalprice < 0)
        |     by o_orderstatus
        | | sort by o_orderstatus asc""".stripMargin,
      """SELECT o_orderstatus,
        |  min(CASE WHEN o_totalprice > 300000 THEN o_orderpriority END) AS big,
        |  min(CASE WHEN o_totalprice < 0 THEN o_orderpriority END) AS none
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-6 series_outliers: documented Tukey rule (exact rank-rule
    // quartiles, (x−med)/IQR outside the 1.5 fences) replayed on a fixed
    // 3-element series; scores floored at fixed scale (float division)
    kq("kql_series_outliers",
      """lineitem
        | | where l_orderkey < 1000
        | | extend s = series_outliers(pack_array(
        |     l_quantity, l_extendedprice / 1000.0, l_discount * 10.0))
        | | project l_orderkey, l_linenumber,
        |     s0 = toint(bin(array_sum(series_abs(s)) * 1000.0, 1.0))
        | | sort by l_orderkey asc, l_linenumber asc""".stripMargin,
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    list_sort([l_quantity, l_extendedprice / 1000.0,
        |               l_discount * 10.0]) AS s,
        |    [l_quantity, l_extendedprice / 1000.0,
        |     l_discount * 10.0] AS raw
        |  FROM lineitem WHERE l_orderkey < 1000),
        |q AS (SELECT l_orderkey, l_linenumber, raw,
        |        s[1] AS q1, s[2] AS med, s[3] AS q3, s[3] - s[1] AS iqr
        |      FROM b),
        |sc AS (SELECT l_orderkey, l_linenumber,
        |  list_sum(list_transform(raw, x -> CASE
        |    WHEN iqr = 0 THEN 0.0
        |    WHEN x > q3 + 1.5 * iqr THEN abs((x - med) / iqr)
        |    WHEN x < q1 - 1.5 * iqr THEN abs((x - med) / iqr)
        |    ELSE 0.0 END)) AS total
        |  FROM q)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(total * 1000.0) AS BIGINT) AS s0
        |FROM sc ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // round-6 facet: Kusto's N per-column tables stacked as
    // (facet_column, value, count_) in the single-table contract
    kq("kql_facet",
      """events
        | | facet by event_type, user_id
        | | sort by facet_column asc, value asc""".stripMargin,
      """SELECT 'event_type' AS facet_column,
        |       CAST(event_type AS VARCHAR) AS value, count(*) AS count_
        |FROM events GROUP BY 2
        |UNION ALL
        |SELECT 'user_id', CAST(user_id AS VARCHAR), count(*)
        |FROM events GROUP BY 2
        |ORDER BY facet_column, value""".stripMargin),

    // round-6 fork: Kusto's per-branch result tables stacked by name
    // with fork_table provenance (single-table contract, like facet)
    kq("kql_fork",
      """events
        | | fork errs = (where event_type == 'error'
        |                 | summarize n = count(), sv = sum(value))
        |        clicks = (where event_type == 'click'
        |                 | summarize n = count(), sv = sum(value))
        | | sort by fork_table asc""".stripMargin,
      """SELECT count(*) AS n, sum(value) AS sv, 'errs' AS fork_table
        |FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT count(*), sum(value), 'clicks'
        |FROM events WHERE event_type = 'click'
        |ORDER BY fork_table""".stripMargin),

    // round-6 conditional collectors: only matching rows enter the
    // sorted list/set (gate-visible as joined strings — the comparator
    // can't hash array cells)
    kq("kql_makelist_if",
      """orders
        | | summarize l = make_list_if(o_orderpriority, o_totalprice > 400000),
        |             s = make_set_if(o_orderpriority, o_totalprice > 400000)
        |     by o_orderstatus
        | | project o_orderstatus, ls = strcat_array(l, ','),
        |           ss = strcat_array(s, ',')
        | | sort by o_orderstatus asc""".stripMargin,
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(o_orderpriority)
        |    FILTER (o_totalprice > 400000)), ',') AS ls,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority)
        |    FILTER (o_totalprice > 400000))), ',') AS ss
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-6 array_split + format_bytes: literal-oracle print (DuckDB
    // has no equivalents; the constants pin the documented semantics)
    kq("kql_split_bytes",
      """print arr = array_split(pack_array(1, 2, 3, 4, 5), 2),
        |      arr2 = array_split(pack_array(1, 2, 3, 4), -1)
        | | project a = strcat_array(arr[0], ','),
        |           b = strcat_array(arr[1], ','),
        |           c = strcat_array(arr2[1], ','),
        |           f1 = format_bytes(1024), f2 = format_bytes(1537, 1),
        |           f3 = format_bytes(1073741824), f4 = format_bytes(17)""".stripMargin,
      """SELECT '1,2' AS a, '3,4,5' AS b, '4' AS c,
        |       '1 KB' AS f1, '1.5 KB' AS f2, '1 GB' AS f3,
        |       '17 Bytes' AS f4""".stripMargin),

    // round-6 datetime batch 4: endofquarter, datetime_part, and the
    // UTC↔zone wall-clock shifts (DuckDB's timezone() replays both
    // directions; Tokyo has no DST so the round-trip is identity)
    kq("kql_dtfns4",
      """events
        | | where event_id < 2000
        | | project event_id,
        |     eq = endofquarter(ts),
        |     q = datetime_part('quarter', ts),
        |     mi = datetime_part('minute', ts),
        |     ms = datetime_part('millisecond', ts),
        |     wy = datetime_part('week_of_year', ts),
        |     lc = datetime_utc_to_local(ts, 'America/New_York'),
        |     rt = datetime_local_to_utc(
        |            datetime_utc_to_local(ts, 'Asia/Tokyo'), 'Asia/Tokyo')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  date_trunc('quarter', ts + INTERVAL 3 MONTH)
        |    - INTERVAL 1 MICROSECOND AS eq,
        |  CAST(datepart('quarter', ts) AS BIGINT) AS q,
        |  CAST(datepart('minute', ts) AS BIGINT) AS mi,
        |  CAST((epoch_us(ts) % 1000000) // 1000 AS BIGINT) AS ms,
        |  CAST(weekofyear(ts) AS BIGINT) AS wy,
        |  CAST(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ))
        |    AS TIMESTAMP) AS lc,
        |  ts AS rt
        |FROM events WHERE event_id < 2000
        |ORDER BY event_id""".stripMargin),

    // round-6 datetime batch 5: calendar/timespan constructors + the four
    // epoch converters. Fractions picked binary-exact (.25/.5) so Spark's
    // truncating double→long cast and DuckDB's rounding cast agree
    kq("kql_dtfns5",
      """events
        | | where event_id < 2000
        | | project event_id,
        |     md = make_datetime(2021, 3, event_id % 27 + 1, 6, 45, 30.25),
        |     mt = make_timespan(1, 2, event_id % 60, 30.5),
        |     us = unixtime_seconds_todatetime(1600000000 + event_id),
        |     um = unixtime_milliseconds_todatetime(1600000000000 + event_id),
        |     uu = unixtime_microseconds_todatetime(1600000000000000 + event_id),
        |     un = unixtime_nanoseconds_todatetime(1600000000000000000 + event_id)
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  make_timestamp(2021, 3, CAST(event_id % 27 + 1 AS INT),
        |                 6, 45, 30.25) AS md,
        |  CAST(86400000000 + 7200000000 + (event_id % 60) * 60000000
        |       + 30500000 AS BIGINT) AS mt,
        |  make_timestamp((1600000000 + event_id) * 1000000) AS us,
        |  make_timestamp((1600000000000 + event_id) * 1000) AS um,
        |  make_timestamp(1600000000000000 + event_id) AS uu,
        |  make_timestamp((1600000000000000000 + event_id) // 1000) AS un
        |FROM events WHERE event_id < 2000
        |ORDER BY event_id""".stripMargin),

    // diffpatterns: per-side basket lattices (en vs de) merged on
    // segment identity, ranked by |ΔPercent|
    kq("kql_diffpatterns",
      """documents
        | | project lang, source, lb = bin(n_chars, 200)
        | | evaluate diffpatterns(0.02, lang, 'en', 'de')""".stripMargin,
      """WITH t AS (
        |  SELECT lang, source, (n_chars // 200) * 200 AS lb FROM documents
        |  WHERE lang IN ('en', 'de')),
        |e AS (SELECT lang, mask,
        |        CASE WHEN mask % 2 = 1 THEN source END AS source,
        |        CASE WHEN (mask // 2) % 2 = 1 THEN lb END AS lb
        |      FROM t CROSS JOIN (SELECT unnest(range(1, 4)) AS mask) m),
        |na AS (SELECT count(*) AS TA FROM t WHERE lang = 'en'),
        |nb AS (SELECT count(*) AS TB FROM t WHERE lang = 'de'),
        |ga AS (SELECT mask, source, lb, count(*) AS ca FROM e, na
        |       WHERE lang = 'en' GROUP BY 1, 2, 3
        |       HAVING count(*) >= 0.02 * any_value(TA)),
        |gb AS (SELECT mask, source, lb, count(*) AS cb FROM e, nb
        |       WHERE lang = 'de' GROUP BY 1, 2, 3
        |       HAVING count(*) >= 0.02 * any_value(TB)),
        |mg AS (
        |  SELECT coalesce(ga.mask, gb.mask) AS mask,
        |    coalesce(ga.ca, 0) AS CountA, coalesce(gb.cb, 0) AS CountB,
        |    coalesce(ga.source, gb.source) AS source,
        |    coalesce(ga.lb, gb.lb) AS lb
        |  FROM ga FULL JOIN gb
        |    ON ga.mask IS NOT DISTINCT FROM gb.mask
        |   AND ga.source IS NOT DISTINCT FROM gb.source
        |   AND ga.lb IS NOT DISTINCT FROM gb.lb),
        |sc AS (
        |  SELECT mask, CountA, CountB, source, lb,
        |    100.0 * CountA / TA AS PercentA,
        |    100.0 * CountB / TB AS PercentB
        |  FROM mg, na, nb)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY abs(PercentA - PercentB) DESC, mask,
        |             source NULLS FIRST, lb NULLS FIRST) AS BIGINT)
        |    AS SegmentId,
        |  CAST(CountA AS BIGINT) AS CountA, CAST(CountB AS BIGINT) AS CountB,
        |  PercentA, PercentB, abs(PercentA - PercentB) AS PercentDiffAB,
        |  source, lb
        |FROM sc ORDER BY SegmentId""".stripMargin),

    // round-8 diffpatterns_text: the diffpatterns lattice over the
    // text's first 4 whitespace tokens as positional attributes
    // (documented rule — ADX's algorithm is unpublished); Pattern
    // renders wildcard/absent positions as '*'
    kq("kql_diffpatterns_text",
      """documents
        | | evaluate diffpatterns_text(0.03, text, lang, 'en', 'de')
        | | sort by SegmentId asc""".stripMargin,
      """WITH raw AS (
        |  SELECT lang, string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE lang IN ('en', 'de')),
        |t AS (SELECT lang, tk[1] AS t1, tk[2] AS t2,
        |             tk[3] AS t3, tk[4] AS t4 FROM raw),
        |e AS (SELECT lang, mask,
        |        CASE WHEN mask % 2 = 1 THEN t1 END AS t1,
        |        CASE WHEN (mask // 2) % 2 = 1 THEN t2 END AS t2,
        |        CASE WHEN (mask // 4) % 2 = 1 THEN t3 END AS t3,
        |        CASE WHEN (mask // 8) % 2 = 1 THEN t4 END AS t4
        |      FROM t CROSS JOIN (SELECT unnest(range(1, 16)) AS mask) m),
        |na AS (SELECT count(*) AS TA FROM t WHERE lang = 'en'),
        |nb AS (SELECT count(*) AS TB FROM t WHERE lang = 'de'),
        |ga AS (SELECT mask, t1, t2, t3, t4, count(*) AS ca FROM e, na
        |       WHERE lang = 'en' GROUP BY 1, 2, 3, 4, 5
        |       HAVING count(*) >= 0.03 * any_value(TA)),
        |gb AS (SELECT mask, t1, t2, t3, t4, count(*) AS cb FROM e, nb
        |       WHERE lang = 'de' GROUP BY 1, 2, 3, 4, 5
        |       HAVING count(*) >= 0.03 * any_value(TB)),
        |mg AS (
        |  SELECT coalesce(ga.mask, gb.mask) AS mask,
        |    coalesce(ga.ca, 0) AS CountA, coalesce(gb.cb, 0) AS CountB,
        |    coalesce(ga.t1, gb.t1) AS t1, coalesce(ga.t2, gb.t2) AS t2,
        |    coalesce(ga.t3, gb.t3) AS t3, coalesce(ga.t4, gb.t4) AS t4
        |  FROM ga FULL JOIN gb
        |    ON ga.mask IS NOT DISTINCT FROM gb.mask
        |   AND ga.t1 IS NOT DISTINCT FROM gb.t1
        |   AND ga.t2 IS NOT DISTINCT FROM gb.t2
        |   AND ga.t3 IS NOT DISTINCT FROM gb.t3
        |   AND ga.t4 IS NOT DISTINCT FROM gb.t4),
        |sc AS (SELECT mask, CountA, CountB, t1, t2, t3, t4,
        |    100.0 * CountA / TA AS PercentA,
        |    100.0 * CountB / TB AS PercentB
        |  FROM mg, na, nb)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY abs(PercentA - PercentB) DESC, mask,
        |      t1 NULLS FIRST, t2 NULLS FIRST, t3 NULLS FIRST,
        |      t4 NULLS FIRST) AS BIGINT) AS SegmentId,
        |  CAST(CountA AS BIGINT) AS CountA,
        |  CAST(CountB AS BIGINT) AS CountB,
        |  PercentA, PercentB, abs(PercentA - PercentB) AS PercentDiffAB,
        |  coalesce(t1, '*') || ' ' || coalesce(t2, '*') || ' ' ||
        |  coalesce(t3, '*') || ' ' || coalesce(t4, '*') AS Pattern
        |FROM sc ORDER BY SegmentId""".stripMargin),

    // autocluster: the basket lattice with dominance pruning — a segment
    // drops when a strictly more specific frequent segment explains
    // ≥50% of its rows; the oracle replays the prune with NOT EXISTS
    kq("kql_autocluster",
      """documents
        | | project lang, source, lb = bin(n_chars, 100)
        | | evaluate autocluster(0.02, 0.5)""".stripMargin,
      """WITH t AS (
        |  SELECT lang, source, (n_chars // 100) * 100 AS lb FROM documents),
        |n AS (SELECT count(*) AS N FROM t),
        |e AS (SELECT mask,
        |        CASE WHEN mask % 2 = 1 THEN lang END AS lang,
        |        CASE WHEN (mask // 2) % 2 = 1 THEN source END AS source,
        |        CASE WHEN (mask // 4) % 2 = 1 THEN lb END AS lb
        |      FROM t CROSS JOIN (SELECT unnest(range(1, 8)) AS mask) m),
        |g AS (SELECT mask, lang, source, lb, count(*) AS cnt
        |      FROM e GROUP BY 1, 2, 3, 4),
        |f AS (SELECT g.* FROM g, n WHERE cnt >= 0.02 * N),
        |pr AS (
        |  SELECT s.* FROM f s
        |  WHERE NOT EXISTS (SELECT 1 FROM f t
        |    WHERE (t.mask & s.mask) = s.mask AND t.mask <> s.mask
        |      AND (s.mask % 2 = 0 OR t.lang IS NOT DISTINCT FROM s.lang)
        |      AND ((s.mask // 2) % 2 = 0
        |           OR t.source IS NOT DISTINCT FROM s.source)
        |      AND ((s.mask // 4) % 2 = 0 OR t.lb IS NOT DISTINCT FROM s.lb)
        |      AND t.cnt >= 0.5 * s.cnt))
        |SELECT CAST(row_number() OVER (
        |    ORDER BY cnt DESC, mask, lang NULLS FIRST, source NULLS FIRST,
        |             lb NULLS FIRST) AS BIGINT) AS SegmentId,
        |  cnt AS Count, 100.0 * cnt / (SELECT N FROM n) AS Percent,
        |  lang, source, lb
        |FROM pr ORDER BY SegmentId""".stripMargin),

    // evaluate basket: frequent attribute-combination segments over the
    // projected columns — one masked expansion + one hash aggregation;
    // oracle replays the same mask lattice with integer bit tests
    kq("kql_basket",
      """documents
        | | project lang, source, lb = bin(n_chars, 100)
        | | evaluate basket(0.02)""".stripMargin,
      """WITH t AS (
        |  SELECT lang, source, (n_chars // 100) * 100 AS lb FROM documents),
        |n AS (SELECT count(*) AS N FROM t),
        |e AS (SELECT mask,
        |        CASE WHEN mask % 2 = 1 THEN lang END AS lang,
        |        CASE WHEN (mask // 2) % 2 = 1 THEN source END AS source,
        |        CASE WHEN (mask // 4) % 2 = 1 THEN lb END AS lb
        |      FROM t CROSS JOIN (SELECT unnest(range(1, 8)) AS mask) m),
        |g AS (SELECT mask, lang, source, lb, count(*) AS cnt
        |      FROM e GROUP BY 1, 2, 3, 4),
        |f AS (SELECT * FROM g, n WHERE cnt >= 0.02 * N)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY cnt DESC, mask, lang NULLS FIRST, source NULLS FIRST,
        |             lb NULLS FIRST) AS BIGINT) AS SegmentId,
        |  cnt AS Count, 100.0 * cnt / N AS Percent, lang, source, lb
        |FROM f ORDER BY SegmentId""".stripMargin),

    // parse_xml: attributes → @keys, repeated siblings → arrays, mixed
    // text → #text; canonical key-sorted output (documented deviation
    // from Kusto's document order); literal-pinned
    kq("kql_parse_xml",
      """print a = tostring(parse_xml('<a><b>1</b><b>2</b></a>')),
        |      b = tostring(parse_xml('<r id="7">hi<c x="y"/></r>')),
        |      c = tostring(parse_xml('<e/>')),
        |      d = tostring(parse_xml('busted <<'))""".stripMargin,
      """SELECT '{"a":{"b":["1","2"]}}' AS a,
        |  '{"r":{"#text":"hi","@id":"7","c":{"@x":"y"}}}' AS b,
        |  '{"e":null}' AS c, CAST(NULL AS VARCHAR) AS d""".stripMargin),

    // round-6 index batch: Kusto's full indexof / array_index_of forms
    // (start from either end, bounded window, k-th occurrence)
    kq("kql_idxfns",
      """documents
        | | where doc_id < 400
        | | extend t = substring(text, 0, 60)
        | | extend a = split(t, ' ')
        | | project doc_id,
        |     i1 = indexof(t, 'a', 5),
        |     i2 = indexof(t, 'a', 0, 20),
        |     i3 = indexof(t, 'a', 0, -1, 2),
        |     i4 = indexof(t, 'zz', 3),
        |     i5 = indexof(t, 'a', -10),
        |     ai1 = array_index_of(a, 'the', 1),
        |     ai2 = array_index_of(a, 'the', 0, -1, 2),
        |     ai3 = array_index_of(a, 'the', 2, 3)
        | | sort by doc_id asc""".stripMargin,
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 60) AS t,
        |         string_split(substr(text, 1, 60), ' ') AS a
        |  FROM documents WHERE doc_id < 400),
        |f AS (
        |  SELECT doc_id, t, a,
        |    strpos(substr(t, 6), 'a') AS p1,
        |    strpos(substr(t, 1, 20), 'a') AS p2,
        |    strpos(t, 'a') AS pa,
        |    strpos(substr(t, 4), 'zz') AS p4,
        |    greatest(len(t) - 10, 0) AS st5,
        |    list_filter(list_transform(a, (x, i) ->
        |      CASE WHEN x = 'the' THEN i - 1 END), x -> x IS NOT NULL)
        |      AS thepos
        |  FROM d)
        |SELECT doc_id,
        |  CAST(CASE WHEN p1 > 0 THEN 5 + p1 - 1 ELSE -1 END AS BIGINT) AS i1,
        |  CAST(CASE WHEN p2 > 0 THEN p2 - 1 ELSE -1 END AS BIGINT) AS i2,
        |  CAST(CASE WHEN pa > 0 AND strpos(substr(t, pa + 1), 'a') > 0
        |       THEN pa + strpos(substr(t, pa + 1), 'a') - 1
        |       ELSE -1 END AS BIGINT) AS i3,
        |  CAST(CASE WHEN p4 > 0 THEN 3 + p4 - 1 ELSE -1 END AS BIGINT) AS i4,
        |  CAST(CASE WHEN strpos(substr(t, st5 + 1), 'a') > 0
        |       THEN st5 + strpos(substr(t, st5 + 1), 'a') - 1
        |       ELSE -1 END AS BIGINT) AS i5,
        |  CAST(coalesce([x FOR x IN thepos IF x >= 1][1], -1) AS BIGINT)
        |    AS ai1,
        |  CAST(coalesce(thepos[2], -1) AS BIGINT) AS ai2,
        |  CAST(coalesce([x FOR x IN thepos IF x >= 2 AND x < 5][1], -1)
        |    AS BIGINT) AS ai3
        |FROM f ORDER BY doc_id""".stripMargin),

    // round-6 aggregate batch: percentiles_array (one sketch pass, one
    // array column — exact under the GK no-compression contract, groups
    // ≤112 rows at sf0.1), percentilew (frequency-weighted exact
    // percentile, oracled by literally expanding the multiset), and the
    // count_distinct aliases
    kq("kql_aggpct",
      """documents
        | | extend n = tokencount(text), w = doc_id % 3, d10 = doc_id % 10
        | | summarize pa = percentiles_array(n, 25, 50, 75),
        |     pw = percentilew(n, w, 50),
        |     cd = count_distinct(d10),
        |     cdi = count_distinctif(d10, n > 50)
        |     by lang, source
        | | extend pa = strcat_array(pa, ',')
        | | sort by lang asc, source asc""".stripMargin,
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n,
        |    doc_id % 3 AS w
        |  FROM documents),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY lang, source ORDER BY n)
        |          AS rn,
        |        count(*) OVER (PARTITION BY lang, source) AS cnt FROM t),
        |ranks AS (
        |  SELECT lang, source,
        |    [CAST(max(CASE WHEN rn = greatest(1,
        |            CAST(ceil(0.25 * cnt) AS BIGINT)) THEN n END) AS DOUBLE),
        |     CAST(max(CASE WHEN rn = greatest(1,
        |            CAST(ceil(0.50 * cnt) AS BIGINT)) THEN n END) AS DOUBLE),
        |     CAST(max(CASE WHEN rn = greatest(1,
        |            CAST(ceil(0.75 * cnt) AS BIGINT)) THEN n END) AS DOUBLE)]
        |      AS pa,
        |    count(DISTINCT doc_id % 10) AS cd,
        |    count(DISTINCT CASE WHEN n > 50 THEN doc_id % 10 END) AS cdi
        |  FROM r GROUP BY lang, source),
        |wq AS (
        |  SELECT lang, source, quantile_cont(n, 0.5) AS pw
        |  FROM (SELECT e.lang, e.source, e.n
        |        FROM t e, unnest(range(e.w))) x
        |  GROUP BY lang, source)
        |SELECT ranks.lang, ranks.source, array_to_string(pa, ',') AS pa,
        |       wq.pw,
        |       CAST(cd AS BIGINT) AS cd, CAST(cdi AS BIGINT) AS cdi
        |FROM ranks LEFT JOIN wq USING (lang, source)
        |ORDER BY lang, source""".stripMargin),

    // round-6 ipv4 batch 2: CIDR compare/match with the least-prefix
    // rule, suffix extraction, mask formatting. Octets synthesized from
    // event_id so the oracle replays the masks with integer arithmetic —
    // no IP parsing on the DuckDB side
    kq("kql_ipfns2",
      """events
        | | where event_id < 2000
        | | extend o3 = event_id % 256, o2 = event_id % 64
        | | extend ip1 = strcat('10.', tostring(o2), '.', tostring(o3), '.7'),
        |          ip2 = strcat('10.', tostring(o2), '.0.0/16')
        | | project event_id,
        |     c24 = ipv4_compare(ip1,
        |       strcat('10.', tostring(o2), '.', tostring(o3), '.200'), 24),
        |     c32 = ipv4_compare(ip1,
        |       strcat('10.', tostring(o2), '.', tostring(o3), '.200')),
        |     im = ipv4_is_match(ip1, ip2),
        |     ns = ipv4_netmask_suffix(ip2),
        |     fm = format_ipv4_mask(ip1, 20)
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CAST(0 AS BIGINT) AS c24,
        |  CAST(-1 AS BIGINT) AS c32,
        |  true AS im,
        |  CAST(16 AS BIGINT) AS ns,
        |  '10.' || (event_id % 64) || '.' ||
        |    ((event_id % 256) // 16) * 16 || '.0/20' AS fm
        |FROM events WHERE event_id < 2000
        |ORDER BY event_id""".stripMargin),

    // round-6 dynamic batch 3: set-similarity on token sets, canonical
    // recursive JSON, and top-level bag key set
    kq("kql_bagfns3",
      """documents
        | | where doc_id < 500
        | | extend t1 = split(substring(text, 0, 30), ' '),
        |          t2 = split(substring(text, 10, 30), ' ')
        | | project doc_id,
        |     j = jaccard_index(t1, t2),
        |     dj = dynamic_to_json(todynamic('{"z":1,"a":{"y":2,"b":[3,1]}}')),
        |     bs = tostring(bag_set_key(todynamic('{"a":1}'), 'k', lang))
        | | sort by doc_id asc""".stripMargin,
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    string_split(substr(text, 1, 30), ' ') AS t1,
        |    string_split(substr(text, 11, 30), ' ') AS t2
        |  FROM documents WHERE doc_id < 500),
        |r AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(list_filter(t1, x -> list_contains(t2, x))))
        |      AS ninter,
        |    len(list_distinct(list_concat(t1, t2))) AS nuni
        |  FROM d)
        |SELECT doc_id,
        |  CASE WHEN nuni > 0
        |       THEN CAST(ninter AS DOUBLE) / CAST(nuni AS DOUBLE) END AS j,
        |  '{"a":{"b":[3,1],"y":2},"z":1}' AS dj,
        |  '{"a":1,"k":"' || lang || '"}' AS bs
        |FROM r ORDER BY doc_id""".stripMargin),

    // round-6 series batch 2: elementwise math/comparisons (scalar
    // broadcast), vector reductions, and the least-squares line. Inputs
    // are integer-valued doubles so every sum/product is exact and the
    // only roundings (IEEE sqrt, final divisions) are deterministic in
    // both engines; exp/log are spec-pinned instead (libm ULP variance)
    kq("kql_seriesfns2",
      """documents
        | | where doc_id < 300
        | | extend a = pack_array(doc_id % 7, doc_id % 5 + 1, 4),
        |          b = pack_array(2, doc_id % 3 + 1, 6)
        | | extend fl = series_fit_line_dynamic(a)
        | | project doc_id,
        |     sf = strcat_array(series_floor(pack_array(1.5, -1.5)), ','),
        |     sc = strcat_array(series_ceiling(pack_array(1.5, -1.5)), ','),
        |     sp = strcat_array(series_pow(a, 2), ','),
        |     sg = strcat_array(series_greater(a, 3), ','),
        |     se = strcat_array(series_equals(a, b), ','),
        |     dp = series_dot_product(a, b),
        |     mg = series_magnitude(a),
        |     cs = series_cosine_similarity(a, b),
        |     pc = series_pearson_correlation(a, b),
        |     sl = todouble(fl.slope),
        |     ic = todouble(fl.interception)
        | | sort by doc_id asc""".stripMargin,
      """WITH d AS (
        |  SELECT doc_id,
        |    [CAST(doc_id % 7 AS DOUBLE), CAST(doc_id % 5 + 1 AS DOUBLE),
        |     4.0] AS af,
        |    [2.0, CAST(doc_id % 3 + 1 AS DOUBLE), 6.0] AS bf,
        |    [doc_id % 7, doc_id % 5 + 1, 4] AS a,
        |    [2, doc_id % 3 + 1, 6] AS b
        |  FROM documents WHERE doc_id < 300),
        |r AS (
        |  SELECT *,
        |    list_sum(list_transform([1,2,3], i -> af[i] * bf[i])) AS dab,
        |    list_sum(list_transform([1,2,3], i -> af[i] * af[i])) AS daa,
        |    list_sum(list_transform([1,2,3], i -> bf[i] * bf[i])) AS dbb,
        |    list_sum(af) AS sx, list_sum(bf) AS sy
        |  FROM d)
        |SELECT doc_id,
        |  '1.0,-2.0' AS sf,
        |  '2.0,-1.0' AS sc,
        |  array_to_string(list_transform(af, x -> pow(x, 2)), ',') AS sp,
        |  array_to_string(list_transform(a, x -> x > 3), ',') AS sg,
        |  array_to_string(list_transform([1,2,3], i -> a[i] = b[i]), ',')
        |    AS se,
        |  dab AS dp,
        |  sqrt(daa) AS mg,
        |  CASE WHEN sqrt(daa) * sqrt(dbb) <> 0
        |       THEN dab / (sqrt(daa) * sqrt(dbb)) END AS cs,
        |  CASE WHEN sqrt(3 * daa - sx * sx) * sqrt(3 * dbb - sy * sy) <> 0
        |       THEN (3 * dab - sx * sy) /
        |            (sqrt(3 * daa - sx * sx) * sqrt(3 * dbb - sy * sy))
        |  END AS pc,
        |  (3 * (af[2] + 2 * af[3]) - 3 * sx) / 6.0 AS sl,
        |  (sx - (3 * (af[2] + 2 * af[3]) - 3 * sx) / 6.0 * 3) / 3.0 AS ic
        |FROM r ORDER BY doc_id""".stripMargin),

    // round-6 digest/guid/codepoint batch over documents: sha256/md5
    // replay exactly in DuckDB; toguid normalizes both a braced literal
    // and a 32-hex md5; codepoints decompose via regex '.' + unicode()
    kq("kql_hashfns",
      """documents
        | | where doc_id < 500
        | | project doc_id,
        |     h256 = hash_sha256(source),
        |     hmd5 = hash_md5(strcat(lang, source)),
        |     g1 = toguid('{AB7E3356-2ECF-47A0-94F4-4B51C9F712E5}'),
        |     g2 = toguid(hash_md5(source)),
        |     a7 = isascii(substring(text, 0, 40)),
        |     cps = strcat_array(
        |             unicode_codepoints_from_string(substring(source, 0, 6)),
        |             ','),
        |     rt = unicode_codepoints_to_string(
        |            unicode_codepoints_from_string(lang))
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  sha256(source) AS h256,
        |  md5(lang || source) AS hmd5,
        |  'ab7e3356-2ecf-47a0-94f4-4b51c9f712e5' AS g1,
        |  substr(md5(source), 1, 8) || '-' || substr(md5(source), 9, 4)
        |    || '-' || substr(md5(source), 13, 4) || '-'
        |    || substr(md5(source), 17, 4) || '-'
        |    || substr(md5(source), 21, 12) AS g2,
        |  strlen(substr(text, 1, 40)) = length(substr(text, 1, 40)) AS a7,
        |  array_to_string(
        |    list_transform(regexp_extract_all(substr(source, 1, 6), '.'),
        |                   x -> CAST(unicode(x) AS BIGINT)), ',') AS cps,
        |  lang AS rt
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin),

    // sha1 (no DuckDB twin) + the base64⇄byte-array pair, literal-pinned
    kq("kql_b64arr",
      """print s1 = hash_sha1('graft'),
        |      arr = strcat_array(base64_decode_toarray('AQID'), ','),
        |      rt = base64_encode_fromarray(base64_decode_toarray('Z3JhZnQ=')),
        |      bad = strcat_array(base64_decode_toarray('!!notbase64!!'), ',')""".stripMargin,
      """SELECT '9c298007ec968fa5b8de22a5356f4bd8a865daf2' AS s1,
        |  '1,2,3' AS arr, 'Z3JhZnQ=' AS rt,
        |  CAST(NULL AS VARCHAR) AS bad""".stripMargin),

    // round-6 bag scalars #2: leftmost-wins shallow merge and top-level
    // key removal, pinned by literal oracle (canonical key-sorted text)
    kq("kql_bagfns2",
      """print m = tostring(bag_merge(todynamic('{"a":1,"b":2}'),
        |                             todynamic('{"b":9,"c":3}'))),
        |      r = tostring(bag_remove_keys(todynamic('{"x":1,"y":2,"z":3}'),
        |                                   pack_array('y', 'nope')))""".stripMargin,
      """SELECT '{"a":1,"b":2,"c":3}' AS m, '{"x":1,"z":3}' AS r"""),

    // round-6 row_window_session (gap mode): with maxDuration ≫ data
    // span only the idle rule fires, which classic gap-cumsum SQL
    // replays; the greedy maxDuration restart (not SQL-expressible
    // without recursion) is WindowFnSpec-pinned
    kq("kql_rowsession",
      """events
        | | where user_id < 30
        | | partition by user_id (sort by ts asc, event_id asc
        |     | extend s = row_window_session(ts, 365d, 30m))
        | | summarize n = count() by user_id, s
        | | sort by user_id asc, s asc""".stripMargin,
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |        sum(brk) OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS sid
        |      FROM o),
        |m AS (SELECT user_id, sid, min(ts) AS s, count(*) AS n
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id, s, n FROM m ORDER BY user_id, s""".stripMargin),

    // round-6 codec + extract_json: codecs pin decompression of a fixed
    // CPython vector + a round-trip (compressed bytes are NOT canonical
    // across zlib builds — the decompress side is the contract);
    // extract_json pulls from the events props JSON with a DuckDB
    // json_extract replay
    kq("kql_codecs",
      """print z = zlib_decompress_from_base64_string('eJzLSM3JyQcABiwCFQ=='),
        |      g = gzip_decompress_from_base64_string(
        |            'H4sIAAAAAAACA8tIzcnJBwCGphA2BQAAAA=='),
        |      rt = zlib_decompress_from_base64_string(
        |             zlib_compress_to_base64_string('round trip ok')),
        |      rg = gzip_decompress_from_base64_string(
        |             gzip_compress_to_base64_string('gz too'))""".stripMargin,
      """SELECT 'hello' AS z, 'hello' AS g, 'round trip ok' AS rt,
        |       'gz too' AS rg""".stripMargin),

    kq("kql_extract_json",
      """events
        | | where event_id < 3000
        | | extend k = toint(extract_json('$.k', props))
        | | project event_id, k
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 3000
        |ORDER BY event_id""".stripMargin),

    // round-6 parse_path + has_any_index: path decomposition pinned by
    // literal oracle; has_any_index replays the has word-boundary regex
    // as a CASE chain over the fixed term list
    kq("kql_pathfns",
      """print p = parse_path('/data/sets/train/shard-0042.parquet')
        | | project dir = tostring(p.DirectoryPath),
        |           nm = tostring(p.Filename), ex = tostring(p.Extension),
        |           dn = tostring(p.DirectoryName), rp = tostring(p.RootPath)""".stripMargin,
      """SELECT '/data/sets/train' AS dir, 'shard-0042.parquet' AS nm,
        |       'parquet' AS ex, 'train' AS dn, '/' AS rp""".stripMargin),

    kq("kql_has_any_index",
      """documents
        | | extend i = has_any_index(text, pack_array('spark', 'table', 'query'))
        | | project doc_id, i
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, CAST(CASE
        |  WHEN regexp_matches(text, '(?i)(^|[^A-Za-z0-9])spark([^A-Za-z0-9]|$)') THEN 0
        |  WHEN regexp_matches(text, '(?i)(^|[^A-Za-z0-9])table([^A-Za-z0-9]|$)') THEN 1
        |  WHEN regexp_matches(text, '(?i)(^|[^A-Za-z0-9])query([^A-Za-z0-9]|$)') THEN 2
        |  ELSE -1 END AS BIGINT) AS i
        |FROM documents ORDER BY doc_id""".stripMargin),

    // round-6 geo scalars: spherical haversine (documented R=6371 km
    // rule, replayed formula-for-formula in DuckDB; distances floored
    // to meters for the trig-ulp guard) + the geohash codec pinned by
    // literal oracle
    kq("kql_geofns",
      """events
        | | where event_id < 2000
        | | extend lon = value % 360.0 - 180.0, lat = value % 180.0 - 90.0,
        |          lon2 = (value * 1.7) % 360.0 - 180.0,
        |          lat2 = (value * 0.3) % 180.0 - 90.0
        | | project event_id,
        |     d = toint(bin(geo_distance_2points(lon, lat, lon2, lat2), 1.0)),
        |     inc = geo_point_in_circle(lon, lat, lon2, lat2, 1000000.0)
        | | sort by event_id asc""".stripMargin,
      """WITH b AS (SELECT event_id,
        |    value % 360.0 - 180.0 AS lon, value % 180.0 - 90.0 AS lat,
        |    (value * 1.7) % 360.0 - 180.0 AS lon2,
        |    (value * 0.3) % 180.0 - 90.0 AS lat2
        |  FROM events WHERE event_id < 2000),
        |r AS (SELECT event_id, radians(lon) AS l1, radians(lat) AS p1,
        |        radians(lon2) AS l2, radians(lat2) AS p2 FROM b),
        |dd AS (SELECT event_id, 2.0 * 6371000.0 * asin(sqrt(
        |         pow(sin((p2 - p1) / 2), 2) +
        |         cos(p1) * cos(p2) * pow(sin((l2 - l1) / 2), 2))) AS dist
        |       FROM r)
        |SELECT event_id, CAST(floor(dist) AS BIGINT) AS d,
        |       dist <= 1000000.0 AS inc
        |FROM dd ORDER BY event_id""".stripMargin),

    // round-8 spherical line/ring metrics: haversine segment sums and
    // the spherical shoelace area, outputs binned (the trig-family
    // libm-ulp convention); the triangle ring is closed GeoJSON-style
    kq("kql_geometrics",
      """events
        | | where event_id < 1500
        | | extend lon = value % 360.0 - 180.0, lat = value % 180.0 - 90.0,
        |          lon2 = (value * 1.7) % 360.0 - 180.0,
        |          lat2 = (value * 0.3) % 180.0 - 90.0
        | | extend ln = pack_array(pack_array(lon, lat),
        |                          pack_array(lon2, lat2)),
        |          tri = pack_array(pack_array(
        |            pack_array(lon, lat), pack_array(lon2, lat),
        |            pack_array(lon, lat2), pack_array(lon, lat)))
        | | project event_id,
        |     l = toint(bin(geo_line_length(ln), 1.0)),
        |     per = toint(bin(geo_polygon_perimeter(tri), 1.0)),
        |     ar = toint(bin(geo_polygon_area(tri) / 1000000.0, 1.0))
        | | sort by event_id asc""".stripMargin,
      """WITH b AS (SELECT event_id,
        |    value % 360.0 - 180.0 AS lon, value % 180.0 - 90.0 AS lat,
        |    (value * 1.7) % 360.0 - 180.0 AS lon2,
        |    (value * 0.3) % 180.0 - 90.0 AS lat2
        |  FROM events WHERE event_id < 1500),
        |m AS (SELECT event_id,
        |    2.0 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(lat2) - radians(lat)) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(lat2)) *
        |      pow(sin((radians(lon2) - radians(lon)) / 2), 2))) AS seg,
        |    2.0 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(lat) - radians(lat)) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(lat)) *
        |      pow(sin((radians(lon2) - radians(lon)) / 2), 2))) AS e1,
        |    2.0 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(lat2) - radians(lat)) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(lat2)) *
        |      pow(sin((radians(lon) - radians(lon2)) / 2), 2))) AS e2,
        |    2.0 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(lat) - radians(lat2)) / 2), 2) +
        |      cos(radians(lat2)) * cos(radians(lat)) *
        |      pow(sin((radians(lon) - radians(lon)) / 2), 2))) AS e3,
        |    abs((radians(lon2) - radians(lon)) *
        |          (2 + sin(radians(lat)) + sin(radians(lat))) +
        |        (radians(lon) - radians(lon2)) *
        |          (2 + sin(radians(lat)) + sin(radians(lat2))) +
        |        (radians(lon) - radians(lon)) *
        |          (2 + sin(radians(lat2)) + sin(radians(lat))))
        |      * (6371000.0 * 6371000.0 / 2.0) AS area
        |  FROM b)
        |SELECT event_id,
        |  CAST(floor(seg) AS BIGINT) AS l,
        |  CAST(floor(e1 + e2 + e3) AS BIGINT) AS per,
        |  CAST(floor(area / 1000000.0) AS BIGINT) AS ar
        |FROM m ORDER BY event_id""".stripMargin),

    kq("kql_geohash",
      """print h = geo_geohash(10.40744, 57.64911, 11),
        |      h5 = geo_geohash(-5.6, 42.6),
        |      c = geo_geohash_to_central_point('ezs42')
        | | project h, h5,
        |     clat = toint(bin(toreal(c.lat) * 10000.0, 1.0)),
        |     clon = toint(bin(toreal(c.lon) * 10000.0, 1.0))""".stripMargin,
      """SELECT 'u4pruydqqvj' AS h, 'ezs42' AS h5,
        |       CAST(426049 AS BIGINT) AS clat,
        |       CAST(-56031 AS BIGINT) AS clon""".stripMargin),

    // round-6 IPv6 family: addresses synthesized from event ids, so the
    // oracle replays canonical text / compare / match / range directly
    // from the underlying integers
    kq("kql_ipv6",
      """events
        | | where event_id < 2000
        | | extend x = event_id % 97, y = (event_id * 7) % 97
        | | extend ax = strcat('2001:db8::', tohex(x)),
        |          ay = strcat('2001:db8::', tohex(y))
        | | project event_id,
        |     c = ipv6_compare(ax, ay),
        |     m = ipv6_is_match(ax, ay),
        |     r = ipv6_is_in_range(ax, '2001:db8::/64'),
        |     p = parse_ipv6(ax),
        |     pm64 = parse_ipv6_mask(ax, 64),
        |     pm126 = parse_ipv6_mask(ax, 126),
        |     pmbad = parse_ipv6_mask(ax, 129)
        | | sort by event_id asc""".stripMargin,
      """WITH b AS (SELECT event_id, event_id % 97 AS x,
        |    (event_id * 7) % 97 AS y
        |  FROM events WHERE event_id < 2000)
        |SELECT event_id,
        |  CAST(CASE WHEN x < y THEN -1 WHEN x > y THEN 1 ELSE 0 END
        |    AS BIGINT) AS c,
        |  x = y AS m,
        |  TRUE AS r,
        |  '2001:0db8:0000:0000:0000:0000:0000:' ||
        |    lower(lpad(hex(x), 4, '0')) AS p,
        |  '2001:0db8:0000:0000:0000:0000:0000:0000' AS pm64,
        |  '2001:0db8:0000:0000:0000:0000:0000:' ||
        |    lower(lpad(hex(x // 4 * 4), 4, '0')) AS pm126,
        |  CAST(NULL AS VARCHAR) AS pmbad
        |FROM b ORDER BY event_id""".stripMargin),

    // round-6 format_timespan: time-of-day spans rendered hh:mm:ss,
    // replayed by strftime on the source timestamp
    kq("kql_fmt_timespan",
      """events
        | | where event_id < 2000
        | | project event_id,
        |     f = format_timespan(ts - startofday(ts), 'hh:mm:ss')
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id, strftime(ts, '%H:%M:%S') AS f
        |FROM events WHERE event_id < 2000
        |ORDER BY event_id""".stripMargin),

    // round-6 moment aggregates: population stdev/variance and sample/
    // population covariance, floored at fixed scale (accumulation-order
    // float drift, same rule as kql_agg_ext)
    kq("kql_agg_moments",
      """lineitem
        | | summarize sp = stdevp(l_quantity), vp = variancep(l_quantity),
        |             cv = covariance(l_quantity, l_extendedprice),
        |             cp = covariancep(l_quantity, l_extendedprice),
        |             cr = correlation(l_quantity, l_extendedprice)
        |     by l_returnflag
        | | project l_returnflag,
        |     spi = toint(bin(sp * 1000.0, 1.0)),
        |     vpi = toint(bin(vp * 1000.0, 1.0)),
        |     cvi = toint(bin(cv, 1.0)), cpi = toint(bin(cp, 1.0)),
        |     cri = toint(bin(cr * 10000.0, 1.0))
        | | sort by l_returnflag asc""".stripMargin,
      """SELECT l_returnflag,
        |  CAST(floor(stddev_pop(l_quantity) * 1000) AS BIGINT) AS spi,
        |  CAST(floor(var_pop(l_quantity) * 1000) AS BIGINT) AS vpi,
        |  CAST(floor(covar_samp(l_quantity, l_extendedprice)) AS BIGINT) AS cvi,
        |  CAST(floor(covar_pop(l_quantity, l_extendedprice)) AS BIGINT) AS cpi,
        |  CAST(floor(corr(l_quantity, l_extendedprice) * 10000) AS BIGINT)
        |    AS cri
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-7 series_decompose family: per-row periodic series built from
    // doc_id so every component is analytically exact — phase medians,
    // avg trend, ACF period score (24/32 = 0.75), and the injected-spike
    // anomaly score ((55.5−a)/2.5: identical IEEE operands both engines).
    // Scalar extraction via toreal/tolong (the kql_series_stats pattern)
    kq("kql_series_decompose",
      """documents
        | | where doc_id < 300
        | | extend a = doc_id % 5
        | | extend s = pack_array(a, a + 4, a, a + 4, a, a + 4, a, a + 4)
        | | extend s2 = pack_array(a + 1, a + 2, a + 3, a + 2,
        |                          a + 2, a + 3, a + 4, a + 3,
        |                          a + 3, a + 4, 60, a + 4,
        |                          a + 4, a + 5, a + 6, a + 5)
        | | extend d = series_decompose(s, 2, 'avg'),
        |          pd = series_periods_detect(s, 2, 4, 1),
        |          an = series_decompose_anomalies(s2, 1.5, 4, 'none')
        | | project doc_id,
        |     b0 = toreal(d.baseline[0]), b1 = toreal(d.baseline[1]),
        |     t0 = toreal(d.trend[0]), se0 = toreal(d.seasonal[0]),
        |     r0 = toreal(d.residual[0]),
        |     p1 = toreal(pd.periods[0]), s1 = toreal(pd.scores[0]),
        |     f10 = tolong(an.ad_flag[10]), f0 = tolong(an.ad_flag[0]),
        |     s10 = toreal(an.ad_score[10])
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  CAST(doc_id % 5 AS DOUBLE) AS b0,
        |  CAST(doc_id % 5 + 4 AS DOUBLE) AS b1,
        |  CAST(doc_id % 5 + 2 AS DOUBLE) AS t0,
        |  CAST(-2.0 AS DOUBLE) AS se0, CAST(0.0 AS DOUBLE) AS r0,
        |  CAST(2.0 AS DOUBLE) AS p1, CAST(0.75 AS DOUBLE) AS s1,
        |  CAST(1 AS BIGINT) AS f10, CAST(0 AS BIGINT) AS f0,
        |  (55.5 - (doc_id % 5)) / 2.5 AS s10
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-7 ipv4_lookup: CIDR containment join with longest-prefix
    // selection; octets synthesized so the oracle replays the prefix
    // logic with modular arithmetic (same rule as kql_ipfns2)
    kq("kql_ipv4_lookup",
      """let nets = datatable(net: string, tag: string) [
        |  '10.0.0.0/8', 'wide', '10.4.0.0/16', 'mid',
        |  '10.4.2.0/24', 'narrow'];
        |events
        | | where event_id < 2000
        | | extend ip = strcat('10.', tostring(user_id % 8), '.',
        |     tostring(event_id % 4), '.9')
        | | evaluate ipv4_lookup(nets, ip, net)
        | | summarize n = count() by tag
        | | sort by tag asc""".stripMargin,
      """WITH e AS (
        |  SELECT user_id % 8 AS o2, event_id % 4 AS o3
        |  FROM events WHERE event_id < 2000)
        |SELECT CASE WHEN o2 = 4 AND o3 = 2 THEN 'narrow'
        |            WHEN o2 = 4 THEN 'mid' ELSE 'wide' END AS tag,
        |       count(*) AS n
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-7 two-segment changepoint fit: per-row series with an exact
    // two-line shape, so every OLS quantity is integer-exact (the
    // kql_seriesfns2 rule) and the oracle is closed-form
    kq("kql_fit2lines",
      """documents
        | | where doc_id < 300
        | | extend a = doc_id % 3
        | | extend f = series_fit_2lines_dynamic(pack_array(
        |     a, a + 1, a + 2, a + 3, a + 10, a + 8, a + 6, a + 4))
        | | project doc_id, k = tolong(f.split_idx),
        |     rs = toreal(f.rsquare), rv = toreal(f.rvariance),
        |     ls = toreal(f.left.slope), li = toreal(f.left.interception),
        |     rsl = toreal(f.right.slope), ri = toreal(f.right.interception)
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, CAST(4 AS BIGINT) AS k,
        |  CAST(1.0 AS DOUBLE) AS rs, CAST(0.0 AS DOUBLE) AS rv,
        |  CAST(1.0 AS DOUBLE) AS ls, CAST(doc_id % 3 AS DOUBLE) AS li,
        |  CAST(-2.0 AS DOUBLE) AS rsl,
        |  CAST(doc_id % 3 + 18 AS DOUBLE) AS ri
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-7 activity analytics: sliding DAU/WAU engagement and sliding
    // window counts — one bounded explode (outer/inner bins per row) +
    // one keyed dcount agg; the oracle replays the identical construction
    kq("kql_activity_eng",
      """events
        | | evaluate activity_engagement(user_id, ts, 1d, 7d)
        | | project ts, di = dcount_activities_inner,
        |     dd = dcount_activities_outer, r = activity_ratio
        | | sort by ts asc""".stripMargin,
      """WITH b AS (
        |  SELECT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS tb
        |  FROM events),
        |x AS (
        |  SELECT id, tb,
        |    unnest(range(tb, tb + 7 * 86400000000, 86400000000)) AS t
        |  FROM b),
        |mx AS (SELECT max(tb) AS m FROM b)
        |SELECT make_timestamp(t) AS ts,
        |  count(DISTINCT CASE WHEN tb = t THEN id END) AS di,
        |  count(DISTINCT id) AS dd,
        |  CAST(count(DISTINCT CASE WHEN tb = t THEN id END) AS DOUBLE) /
        |    count(DISTINCT id) AS r
        |FROM x, mx WHERE t <= m
        |GROUP BY t ORDER BY ts""".stripMargin),

    kq("kql_sliding_counts",
      """events
        | | evaluate sliding_window_counts(user_id, ts,
        |     datetime(2024-01-08), datetime(2024-01-28), 7d, 1d)
        | | project ts, c = Count, d = Dcount
        | | sort by ts asc""".stripMargin,
      """WITH b AS (
        |  SELECT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS tb
        |  FROM events),
        |x AS (
        |  SELECT id,
        |    unnest(range(tb, tb + 7 * 86400000000, 86400000000)) AS t
        |  FROM b)
        |SELECT make_timestamp(t) AS ts, count(*) AS c,
        |       count(DISTINCT id) AS d
        |FROM x
        |WHERE t >= epoch_us(TIMESTAMP '2024-01-08')
        |  AND t <= epoch_us(TIMESTAMP '2024-01-28')
        |GROUP BY t ORDER BY ts""".stripMargin),

    // round-7 series batch 3: per-phase median seasonal (exact integer
    // medians) and the IIR filter on a geometric case whose outputs are
    // exact binary fractions (1, 1.5, 1.75, 1.875)
    kq("kql_seriesfns3",
      """documents
        | | where doc_id < 300
        | | extend a = doc_id % 4
        | | extend s = pack_array(a, a + 2, a, a + 2, a, a + 2, a, a + 2)
        | | project doc_id,
        |     ss = strcat_array(series_seasonal(s, 2), ','),
        |     ir = strcat_array(series_iir(pack_array(1, 1, 1, 1),
        |            pack_array(1), pack_array(1, -0.5)), ',')
        | | sort by doc_id asc""".stripMargin,
      """WITH d AS (SELECT doc_id, doc_id % 4 AS a FROM documents
        |           WHERE doc_id < 300)
        |SELECT doc_id,
        |  array_to_string([CAST(a AS DOUBLE), CAST(a + 2 AS DOUBLE),
        |    CAST(a AS DOUBLE), CAST(a + 2 AS DOUBLE),
        |    CAST(a AS DOUBLE), CAST(a + 2 AS DOUBLE),
        |    CAST(a AS DOUBLE), CAST(a + 2 AS DOUBLE)], ',') AS ss,
        |  '1.0,1.5,1.75,1.875' AS ir
        |FROM d ORDER BY doc_id""".stripMargin),

    // round-7 series_fill_linear: exact-half interpolation, edge rule
    kq("kql_fill_linear",
      """print a = strcat_array(series_fill_linear(
        |      todynamic('[1, null, null, 4]')), ','),
        |  e = strcat_array(series_fill_linear(
        |      todynamic('[null, 2, null, 6, null]')), ',')""".stripMargin,
      """SELECT '1.0,2.0,3.0,4.0' AS a,
        |       '2.0,2.0,4.0,6.0,6.0' AS e""".stripMargin),

    // round-7 multi-array co-sort: paired arrays permute by the first,
    // literal-pinned (variant array-of-arrays output)
    kq("kql_multisort",
      """print s = array_sort_asc(pack_array(3, 1, 2),
        |                         pack_array('c', 'a', 'b')),
        |      sd = array_sort_desc(pack_array(1, 3, 2),
        |                           pack_array(9, 7, 8))
        | | project k0 = strcat_array(s[0], ','),
        |     k1 = strcat_array(s[1], ','),
        |     d0 = strcat_array(sd[0], ','),
        |     d1 = strcat_array(sd[1], ',')""".stripMargin,
      """SELECT '1,2,3' AS k0, 'a,b,c' AS k1,
        |       '3,2,1' AS d0, '7,8,9' AS d1""".stripMargin),

    // round-7 dcount_intersect: per-day click/view audiences as hll
    // sketches (user space capped at 100 so DataSketches stays in exact
    // list mode — the kql_agg_ext2 rule — and the estimates ARE the
    // exact distinct counts the oracle computes), intersected via
    // inclusion-exclusion over scalar hll_merge unions
    kq("kql_dcount_intersect",
      """let a = (events | where event_type == 'click'
        |  | extend u = user_id % 100
        |  | summarize h1 = hll(u) by day = bin(ts, 1d));
        |let b = (events | where event_type == 'view'
        |  | extend u = user_id % 100
        |  | summarize h2 = hll(u) by day = bin(ts, 1d));
        |a | join kind=inner (b) on day
        | | evaluate dcount_intersect(h1, h2)
        | | sort by day asc""".stripMargin,
      """WITH c AS (SELECT DISTINCT date_trunc('day', ts) AS day,
        |             user_id % 100 AS u
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT DISTINCT date_trunc('day', ts) AS day,
        |        user_id % 100 AS u
        |      FROM events WHERE event_type = 'view'),
        |s0 AS (SELECT day, count(*) AS s0 FROM c GROUP BY day),
        |s1 AS (SELECT c.day, count(*) AS s1
        |       FROM c JOIN v ON c.day = v.day AND c.u = v.u
        |       GROUP BY c.day)
        |SELECT CAST(s0.day AS TIMESTAMP) AS day, s0, coalesce(s1, 0) AS s1
        |FROM s0 LEFT JOIN s1 ON s0.day = s1.day
        |WHERE s0.day IN (SELECT day FROM v)
        |ORDER BY day""".stripMargin),

    // round-7 funnel_sequence (single-table restructure of ADX's three):
    // view→purchase funnels; the oracle replays the nearest-view ASOF,
    // the earliest-match-per-id pick, the per-(id,µs) max-state tie rule,
    // and the prev/next nearest-event lookups
    kq("kql_funnel_seq",
      """events
        | | evaluate funnel_sequence(user_id, ts,
        |     datetime(2024-01-01), datetime(2024-02-01), 1d, 1d,
        |     event_type, 'view', 'purchase')
        | | sort by kind asc, ts asc nulls first, state asc nulls first""".stripMargin,
      """WITH e AS (SELECT user_id AS k, ts, event_type AS st FROM events),
        |v AS (SELECT DISTINCT k, ts FROM e WHERE st = 'view'),
        |p AS (SELECT k, ts FROM e WHERE st = 'purchase'),
        |m0 AS (SELECT p.k, v.ts AS t0, p.ts AS t1
        |       FROM p ASOF LEFT JOIN v ON p.k = v.k AND p.ts >= v.ts
        |       WHERE v.ts IS NOT NULL
        |         AND epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000
        |         AND epoch_us(v.ts)
        |               BETWEEN epoch_us(TIMESTAMP '2024-01-01')
        |                   AND epoch_us(TIMESTAMP '2024-02-01')),
        |f AS (SELECT k, t0, t1 FROM (
        |        SELECT *, row_number() OVER (PARTITION BY k
        |          ORDER BY t0, t1) AS rn FROM m0) z WHERE rn = 1),
        |ed AS (SELECT k, epoch_us(ts) AS us, max(st) AS st
        |       FROM e GROUP BY k, epoch_us(ts)),
        |counts AS (SELECT 'count' AS kind,
        |    make_timestamp((epoch_us(t0) // 86400000000) * 86400000000)
        |      AS ts,
        |    CAST(NULL AS VARCHAR) AS state, count(*) AS dcount
        |  FROM f GROUP BY 2),
        |prevt AS (SELECT 'prev' AS kind, CAST(NULL AS TIMESTAMP) AS ts,
        |    st AS state, count(*) AS dcount
        |  FROM (SELECT f.k, ed.st, row_number() OVER (PARTITION BY f.k
        |          ORDER BY ed.us DESC) AS rn
        |        FROM f JOIN ed ON f.k = ed.k
        |          AND ed.us <= epoch_us(f.t0) - 1) x
        |  WHERE rn = 1 GROUP BY st),
        |nextt AS (SELECT 'next' AS kind, CAST(NULL AS TIMESTAMP) AS ts,
        |    st AS state, count(*) AS dcount
        |  FROM (SELECT f.k, ed.st, row_number() OVER (PARTITION BY f.k
        |          ORDER BY ed.us ASC) AS rn
        |        FROM f JOIN ed ON f.k = ed.k
        |          AND ed.us >= epoch_us(f.t1) + 1) x
        |  WHERE rn = 1 GROUP BY st)
        |SELECT * FROM counts
        |UNION ALL SELECT * FROM prevt
        |UNION ALL SELECT * FROM nextt
        |ORDER BY kind, ts NULLS FIRST, state NULLS FIRST""".stripMargin),

    // round-7 bag_zip: bag from parallel arrays — null keys drop,
    // duplicate keys keep the LAST occurrence, length mismatch → null;
    // canonical text via dynamic_to_json (key-sorted)
    kq("kql_bagzip",
      """print b = dynamic_to_json(bag_zip(
        |      pack_array('b', 'a', 'b'), todynamic('[1, "x", 3]'))),
        |  bad = bag_zip(pack_array('k'), pack_array(1, 2))
        | | project b, isbad = isnull(bad)""".stripMargin,
      """SELECT '{"a":"x","b":3}' AS b, true AS isbad"""),

    // round-7 rolling_percentile: exact rank-rule percentile over a
    // 3-bin rolling window; both engines pick an actual sample, so the
    // doubles hash bit-for-bit
    kq("kql_rolling_pct",
      """events
        | | evaluate rolling_percentile(value, 50, ts, 1d, 3, event_type)
        | | project ts, event_type, p = rolling_percentile_value
        | | sort by ts asc, event_type asc""".stripMargin,
      """WITH b AS (
        |  SELECT value AS v, event_type AS et,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS tb
        |  FROM events),
        |x AS (SELECT v, et,
        |        unnest(range(tb, tb + 3 * 86400000000, 86400000000)) AS t
        |      FROM b),
        |mx AS (SELECT max(tb) AS m FROM b),
        |g AS (SELECT t, et, list(v ORDER BY v) AS vs
        |      FROM x, mx WHERE t <= m GROUP BY t, et)
        |SELECT make_timestamp(t) AS ts, et AS event_type,
        |  vs[greatest(1, CAST(ceil(len(vs) * 0.5) AS BIGINT))] AS p
        |FROM g ORDER BY ts, et""".stripMargin),

    kq("kql_new_activity",
      """events
        | | evaluate new_activity_metrics(user_id, ts,
        |     datetime(2024-01-01), datetime(2024-01-15), 1d)
        | | project c = from_ts, ts, d = dcount_values,
        |     cs = cohort_size, rr = retention_rate
        | | sort by c asc, ts asc""".stripMargin,
      """WITH p AS (
        |  SELECT DISTINCT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS t
        |  FROM events
        |  WHERE (epoch_us(ts) // 86400000000) * 86400000000
        |          BETWEEN epoch_us(TIMESTAMP '2024-01-01')
        |              AND epoch_us(TIMESTAMP '2024-01-15')),
        |fs AS (SELECT id, min(t) AS c FROM p GROUP BY id),
        |cs AS (SELECT c, count(*) AS n FROM fs GROUP BY c),
        |m AS (SELECT fs.c, p.t, count(*) AS d
        |      FROM p JOIN fs ON p.id = fs.id GROUP BY fs.c, p.t)
        |SELECT make_timestamp(m.c) AS c, make_timestamp(m.t) AS ts,
        |  d, n AS cs, CAST(d AS DOUBLE) / n AS rr
        |FROM m JOIN cs ON m.c = cs.c
        |ORDER BY c, ts""".stripMargin),

    kq("kql_activity_metrics",
      """events
        | | evaluate activity_metrics(user_id, ts,
        |     datetime(2024-01-01), datetime(2024-01-31), 1d)
        | | project ts, d = dcount_values, nd = dcount_newvalues,
        |     rr = retention_rate, cr = churn_rate
        | | sort by ts asc""".stripMargin,
      """WITH p AS (
        |  SELECT DISTINCT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS t
        |  FROM events
        |  WHERE (epoch_us(ts) // 86400000000) * 86400000000
        |          BETWEEN epoch_us(TIMESTAMP '2024-01-01')
        |              AND epoch_us(TIMESTAMP '2024-01-31')),
        |pb AS (SELECT t, count(*) AS d FROM p GROUP BY t),
        |fs AS (SELECT id, min(t) AS t FROM p GROUP BY id),
        |nw AS (SELECT t, count(*) AS nd FROM fs GROUP BY t),
        |ret AS (SELECT cur.t, count(*) AS r
        |        FROM p cur JOIN p prv
        |          ON cur.id = prv.id AND cur.t = prv.t + 86400000000
        |        GROUP BY cur.t),
        |pc AS (SELECT t + 86400000000 AS t, d AS pd FROM pb)
        |SELECT make_timestamp(pb.t) AS ts, d, coalesce(nd, 0) AS nd,
        |  CASE WHEN pd IS NULL THEN 0.0
        |       ELSE CAST(coalesce(r, 0) AS DOUBLE) / pd END AS rr,
        |  CASE WHEN pd IS NULL THEN 0.0
        |       ELSE CAST(pd - coalesce(r, 0) AS DOUBLE) / pd END AS cr
        |FROM pb LEFT JOIN nw ON pb.t = nw.t
        |        LEFT JOIN ret ON pb.t = ret.t
        |        LEFT JOIN pc ON pb.t = pc.t
        |ORDER BY ts""".stripMargin),

    kq("kql_activity_counts",
      """events
        | | evaluate activity_counts_metrics(user_id, ts,
        |     datetime(2024-01-01), datetime(2024-01-31), 1d)
        | | project ts, c = count, d = dcount, nd = new_dcount,
        |     ad = aggregated_dcount
        | | sort by ts asc""".stripMargin,
      """WITH a AS (
        |  SELECT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS t
        |  FROM events
        |  WHERE (epoch_us(ts) // 86400000000) * 86400000000
        |          BETWEEN epoch_us(TIMESTAMP '2024-01-01')
        |              AND epoch_us(TIMESTAMP '2024-01-31')),
        |pb AS (SELECT t, count(*) AS c, count(DISTINCT id) AS d
        |       FROM a GROUP BY t),
        |fs AS (SELECT id, min(t) AS t FROM a GROUP BY id),
        |nw AS (SELECT t, count(*) AS nd FROM fs GROUP BY t)
        |SELECT make_timestamp(pb.t) AS ts, c, d,
        |  coalesce(nd, 0) AS nd,
        |  CAST(sum(coalesce(nd, 0)) OVER (ORDER BY pb.t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS ad
        |FROM pb LEFT JOIN nw ON pb.t = nw.t
        |ORDER BY ts""".stripMargin),

    kq("kql_session_count",
      """events
        | | evaluate session_count(user_id, ts,
        |     datetime(2024-01-08), datetime(2024-01-28), 1d, 7d)
        | | project ts, s = count_sessions
        | | sort by ts asc""".stripMargin,
      """WITH b AS (
        |  SELECT user_id AS id,
        |    (epoch_us(ts) // 86400000000) * 86400000000 AS tb
        |  FROM events),
        |x AS (
        |  SELECT id,
        |    unnest(range(tb, tb + 7 * 86400000000, 86400000000)) AS t
        |  FROM b)
        |SELECT make_timestamp(t) AS ts, count(DISTINCT id) AS s
        |FROM x
        |WHERE t >= epoch_us(TIMESTAMP '2024-01-08')
        |  AND t <= epoch_us(TIMESTAMP '2024-01-28')
        |GROUP BY t ORDER BY ts""".stripMargin),

    // serialized context rows (ripgrep -B2 -A1, in KQL form)
    kq("kql_rows_near",
      """events
        | | where event_id < 2000
        | | sort by event_id asc
        | | evaluate rows_near(event_type == 'error', 2, 1)
        | | project event_id, event_type
        | | sort by event_id asc""".stripMargin,
      """WITH o AS (
        |  SELECT event_id, event_type,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER (ORDER BY event_id
        |            ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS k
        |  FROM events WHERE event_id < 2000)
        |SELECT event_id, event_type FROM o WHERE k = 1
        |ORDER BY event_id""".stripMargin),

    // round-7 graph operators: make-graph + graph-match. Each hop is one
    // shuffle equi-join on node ids (GraphMatchSpec pins semantics); the
    // DuckDB oracle replays the joins with the unique-edges constraint as
    // a row-inequality (edge identity = the distinct projected row,
    // matching make-graph's parallel-edge collapse)
    kq("kql_graph_match",
      """events
        | | where event_id < 3000
        | | project s = user_id % 40, d = (user_id + event_id) % 40,
        |     w = tolong(bin(value * 10.0, 1.0))
        | | make-graph s --> d
        | | graph-match (a)-[e1]->(b)-[e2]->(c)
        |     where e1.w > 30 and e2.w > 30
        |     project aid = tolong(a.id), w1 = e1.w, w2 = e2.w
        | | extend tw = w1 + w2
        | | summarize n = count(), sw = sum(tw) by aid
        | | sort by aid asc""".stripMargin,
      """WITH e AS (
        |  SELECT DISTINCT user_id % 40 AS s, (user_id + event_id) % 40 AS d,
        |         CAST(floor(value * 10) AS BIGINT) AS w
        |  FROM events WHERE event_id < 3000),
        |m AS (
        |  SELECT e1.s AS aid, e1.w AS w1, e2.w AS w2
        |  FROM e e1 JOIN e e2 ON e1.d = e2.s
        |  WHERE e1.w > 30 AND e2.w > 30
        |    AND NOT (e1.s = e2.s AND e1.d = e2.d AND e1.w = e2.w))
        |SELECT aid, count(*) AS n, CAST(sum(w1 + w2) AS DOUBLE) AS sw
        |FROM m GROUP BY aid ORDER BY aid""".stripMargin),

    kq("kql_graph_varlen",
      """events
        | | where event_id < 1500
        | | project s = user_id % 25, d = (user_id * 7 + event_id) % 25
        | | make-graph s --> d
        | | graph-match (a)-[e*1..2]->(b)
        |     where a.id == 3
        |     project bid = tolong(b.id), hops = array_length(e)
        | | summarize n = count() by bid, hops
        | | sort by bid asc, hops asc""".stripMargin,
      """WITH e AS (
        |  SELECT DISTINCT user_id % 25 AS s,
        |         (user_id * 7 + event_id) % 25 AS d
        |  FROM events WHERE event_id < 1500),
        |h1 AS (SELECT d AS bid, CAST(1 AS BIGINT) AS hops
        |       FROM e WHERE s = 3),
        |h2 AS (SELECT e2.d AS bid, CAST(2 AS BIGINT) AS hops
        |       FROM e e1 JOIN e e2 ON e1.d = e2.s
        |       WHERE e1.s = 3 AND NOT (e1.s = e2.s AND e1.d = e2.d)),
        |u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
        |SELECT bid, hops, count(*) AS n FROM u
        |GROUP BY bid, hops ORDER BY bid, hops""".stripMargin),

    // round-8 graph-shortest-paths: min-hop paths per endpoint pair;
    // output=all keeps every minimal path, so the oracle counts the
    // paths achieving min(hops) per target over the same 1/2-hop unions
    kq("kql_graph_spath",
      """events
        | | where event_id < 1500
        | | project s = user_id % 25, d = (user_id * 7 + event_id) % 25
        | | make-graph s --> d
        | | graph-shortest-paths output=all (a)-[e*1..2]->(b)
        |     where a.id == 3
        |     project bid = tolong(b.id), hops = array_length(e)
        | | summarize n = count() by bid, hops
        | | sort by bid asc""".stripMargin,
      """WITH e AS (
        |  SELECT DISTINCT user_id % 25 AS s,
        |         (user_id * 7 + event_id) % 25 AS d
        |  FROM events WHERE event_id < 1500),
        |h1 AS (SELECT d AS bid, CAST(1 AS BIGINT) AS hops
        |       FROM e WHERE s = 3),
        |h2 AS (SELECT e2.d AS bid, CAST(2 AS BIGINT) AS hops
        |       FROM e e1 JOIN e e2 ON e1.d = e2.s
        |       WHERE e1.s = 3 AND NOT (e1.s = e2.s AND e1.d = e2.d)),
        |u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
        |m AS (SELECT bid, min(hops) AS mh FROM u GROUP BY bid)
        |SELECT u.bid, u.hops, count(*) AS n
        |FROM u JOIN m ON u.bid = m.bid AND u.hops = m.mh
        |GROUP BY u.bid, u.hops ORDER BY u.bid""".stripMargin),

    // round-8 graph-to-table: edge export with surfaced endpoint ids
    // (make-graph dedups identical edge rows — the oracle's DISTINCT)
    kq("kql_graph_totable",
      """events
        | | where event_id < 1000
        | | project s = user_id % 25, d = (user_id * 7 + event_id) % 25,
        |           w = value
        | | make-graph s --> d
        | | graph-to-table edges with_source_id=src_id with_target_id=dst_id
        | | summarize n = count(), mw = min(w) by src_id
        | | sort by src_id asc""".stripMargin,
      """WITH e AS (
        |  SELECT DISTINCT user_id % 25 AS s,
        |         (user_id * 7 + event_id) % 25 AS d, value AS w
        |  FROM events WHERE event_id < 1000)
        |SELECT s AS src_id, count(*) AS n, min(w) AS mw
        |FROM e GROUP BY s ORDER BY s""".stripMargin),

    // round-8 graph-mark-components: three disconnected 8-node blocks by
    // construction; component id = MIN node id (our deterministic
    // representative), which the oracle computes as min over the
    // recursive undirected reachability closure
    kq("kql_graph_comp",
      """events
        | | where event_id < 300
        | | project s = user_id % 8 + (event_id % 3) * 10,
        |           d = (user_id * 7 + event_id) % 8 + (event_id % 3) * 10
        | | make-graph s --> d
        | | graph-mark-components
        | | project id = tolong(id), ComponentId = tolong(ComponentId)
        | | sort by id asc""".stripMargin,
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT user_id % 8 + (event_id % 3) * 10 AS s,
        |         (user_id * 7 + event_id) % 8 + (event_id % 3) * 10 AS d
        |  FROM events WHERE event_id < 300),
        |und AS (SELECT s AS a, d AS b FROM e UNION SELECT d, s FROM e),
        |n AS (SELECT a AS id FROM und UNION SELECT b FROM und),
        |reach(a, b) AS (
        |  SELECT id AS a, id AS b FROM n
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        |SELECT a AS id, min(b) AS ComponentId
        |FROM reach GROUP BY a ORDER BY a""".stripMargin),

    // round-9 graph-mark-components kind=strong: SCC by forward/backward
    // class refinement (Graph.stronglyConnectedComponents); the oracle
    // computes mutual reachability from the recursive closure — u and v
    // share a component iff each reaches the other, representative = min
    // id. Self-reach rows (id, id) make singletons label themselves.
    kq("kql_graph_scomp",
      """events
        | | where event_id < 300
        | | project s = user_id % 8 + (event_id % 3) * 10,
        |           d = (user_id * 7 + event_id) % 8 + (event_id % 3) * 10
        | | make-graph s --> d
        | | graph-mark-components kind=strong
        | | project id = tolong(id), ComponentId = tolong(ComponentId)
        | | sort by id asc""".stripMargin,
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT user_id % 8 + (event_id % 3) * 10 AS s,
        |         (user_id * 7 + event_id) % 8 + (event_id % 3) * 10 AS d
        |  FROM events WHERE event_id < 300),
        |n AS (SELECT s AS id FROM e UNION SELECT d FROM e),
        |reach(a, b) AS (
        |  SELECT id AS a, id AS b FROM n
        |  UNION
        |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s)
        |SELECT f.a AS id, min(f.b) AS ComponentId
        |FROM reach f JOIN reach r2 ON f.a = r2.b AND f.b = r2.a
        |GROUP BY f.a ORDER BY f.a""".stripMargin),

    // round-8 ipv4 text-scan + multi-range + sequential multi-replace:
    // "properly delimited" = adjacent chars non-alphanumeric and not a
    // dot (so 0.20.30.x inside 10.20.30.x does NOT match, nor does
    // abc1.2.3.4); the identical lookaround-free regex replays in
    // DuckDB's RE2
    kq("kql_ipfns3",
      """documents
        | | where doc_id < 200
        | | extend t = strcat('a=1.2.3.4 b=10.20.30.',
        |                     tostring(doc_id % 50), ' end')
        | | project doc_id,
        |     h1 = has_ipv4(t, '1.2.3.4'),
        |     h3 = has_ipv4(t, strcat('10.20.30.', tostring(doc_id % 50))),
        |     h4 = has_ipv4(t, strcat('0.20.30.', tostring(doc_id % 50))),
        |     ha = has_any_ipv4(t, '8.8.8.8',
        |                       strcat(tostring(doc_id % 3), '.2.3.4')),
        |     hp = has_ipv4_prefix(t, '10.20.'),
        |     hp2 = has_ipv4_prefix(t, '0.20.'),
        |     anyr = ipv4_is_in_any_range(
        |       strcat('10.20.30.', tostring(doc_id % 50)),
        |       '10.20.30.0/27', '192.168.0.0/16'),
        |     rs = replace_strings(t, pack_array('a=', 'b='),
        |                          pack_array('x:', 'y:'))
        | | sort by doc_id asc""".stripMargin,
      """WITH d AS (
        |  SELECT doc_id,
        |    'a=1.2.3.4 b=10.20.30.' || CAST(doc_id % 50 AS VARCHAR)
        |      || ' end' AS t
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  regexp_matches(t, '(^|[^0-9A-Za-z.])1\.2\.3\.4($|[^0-9A-Za-z.])') AS h1,
        |  regexp_matches(t, '(^|[^0-9A-Za-z.])10\.20\.30\.'
        |    || CAST(doc_id % 50 AS VARCHAR) || '($|[^0-9A-Za-z.])') AS h3,
        |  regexp_matches(t, '(^|[^0-9A-Za-z.])0\.20\.30\.'
        |    || CAST(doc_id % 50 AS VARCHAR) || '($|[^0-9A-Za-z.])') AS h4,
        |  (doc_id % 3 = 1) AS ha,
        |  regexp_matches(t, '(^|[^0-9A-Za-z.])10\.20\.') AS hp,
        |  regexp_matches(t, '(^|[^0-9A-Za-z.])0\.20\.') AS hp2,
        |  (doc_id % 50 < 32) AS anyr,
        |  replace(replace(t, 'a=', 'x:'), 'b=', 'y:') AS rs
        |FROM d ORDER BY doc_id""".stripMargin),

    // round-8 series_decompose_forecast: the last `points` slots are
    // ignored for training and get the extrapolated baseline. Closed
    // forms: exact period-2 series under avg trend forecasts its
    // repeating phases; a pure line under linefit extends exactly
    kq("kql_forecast",
      """documents
        | | where doc_id < 300
        | | extend a = doc_id % 5
        | | extend s = pack_array(a, a + 4, a, a + 4, a, a + 4, a, a + 4,
        |                         0, 0, 0, 0)
        | | extend l = pack_array(a, a + 2, a + 4, a + 6, a + 8, a + 10,
        |                         a + 12, a + 14, 0, 0)
        | | extend f = series_decompose_forecast(s, 4, 2, 'avg'),
        |          g = series_decompose_forecast(l, 2, 0, 'linefit')
        | | project doc_id, f0 = toreal(f[0]), f8 = toreal(f[8]),
        |     f9 = toreal(f[9]), g8 = toreal(g[8]), g9 = toreal(g[9])
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  CAST(doc_id % 5 AS DOUBLE) AS f0,
        |  CAST(doc_id % 5 AS DOUBLE) AS f8,
        |  CAST(doc_id % 5 + 4 AS DOUBLE) AS f9,
        |  CAST(doc_id % 5 + 16 AS DOUBLE) AS g8,
        |  CAST(doc_id % 5 + 18 AS DOUBLE) AS g9
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-8 mv-expand limit: caps expanded rows PER INPUT ROW (the
    // Kusto RowLimit); with_itemindex interplay covered in ExpandZipSpec
    kq("kql_mvexpand_limit",
      """documents
        | | where doc_id < 100
        | | project doc_id, toks = split(text, ' ')
        | | mv-expand toks limit 3
        | | summarize n = count() by doc_id
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  least(3, len(string_split(text, ' '))) AS n
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),

    // round-8 punycode (java.net.IDN, RFC 3490): literal-pinned — DuckDB
    // has no IDN, so the oracle states the expected mappings
    kq("kql_punycode",
      """print u = punycode_domain_from_string('xn--fiqs8s.example'),
        |      a = punycode_domain_to_string('münchen.de'),
        |      rt = punycode_domain_from_string(
        |             punycode_domain_to_string('münchen.de')),
        |      plain = punycode_domain_to_string('plain.example.com')
        |""".stripMargin,
      """SELECT '中国.example' AS u,
        |       'xn--mnchen-3ya.de' AS a,
        |       'münchen.de' AS rt,
        |       'plain.example.com' AS plain""".stripMargin),

    // round-9 zlib/gzip codecs (java.util.zip, RFC 1950/1952):
    // compressed BYTES are implementation-specific, so the gate checks
    // (a) round-trips over real corpus text, (b) decompression of
    // python-zlib/python-gzip FOREIGN vectors (cross-implementation
    // stream compat), (c) invalid input → empty string (ADX behavior)
    kq("kql_zipfns",
      """documents
        | | where doc_id < 200
        | | extend zrt = zlib_decompress_from_base64_string(
        |                  zlib_compress_to_base64_string(text)),
        |          grt = gzip_decompress_from_base64_string(
        |                  gzip_compress_to_base64_string(text))
        | | project doc_id,
        |     z_ok = zrt == text, g_ok = grt == text,
        |     pyz = zlib_decompress_from_base64_string(
        |       'eJxLL0pMK1FILsovLtbNzC3ISc1NzStJLMnMz1MoS00uyS9SMDQyNjE1M7ewNAAAei0PUg=='),
        |     pyg = gzip_decompress_from_base64_string(
        |       'H4sIAAAAAAAC/0svSkwrUUguyi8u1s3MLchJzU3NK0ksyczPUyhLTS7JL1IwNDI2MTUzt7A0AADSTyRSLAAAAA=='),
        |     bad = gzip_decompress_from_base64_string('bm90IGd6aXA=')
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id, true AS z_ok, true AS g_ok,
        |  'graft cross-implementation vector 1234567890' AS pyz,
        |  'graft cross-implementation vector 1234567890' AS pyg,
        |  CAST(NULL AS VARCHAR) AS bad
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),

    // round-9 special functions: gamma/loggamma check against DuckDB's
    // libm (Lanczos vs tgamma agree far beyond the rounded precision on
    // this domain); erf/erfc have no DuckDB twin, so fixed inputs pin
    // against published libm constants. parse_urlquery roundtrips a
    // constructed query string (url-decoded values) as Kusto's bag.
    kq("kql_specialfns",
      """documents
        | | where doc_id < 400
        | | extend x = 0.5 + toreal(doc_id % 80) / 10.0
        | | extend ex = case(doc_id % 4 == 0, 0.3, doc_id % 4 == 1, 0.5,
        |                    doc_id % 4 == 2, 1.0, 2.5)
        | | extend qp = parse_urlquery(strcat('?a=', tostring(doc_id % 7),
        |                 '&name=x%20', tostring(doc_id % 3)))
        | | project doc_id,
        |     g = round(gamma(x), 6),
        |     lg = round(loggamma(x), 9),
        |     ef = round(erf(ex), 12),
        |     ec = round(erfc(2.5), 12),
        |     wt = round(welch_test(toreal(doc_id % 10) / 2.0, 1.0, 2,
        |                           0.0, 1.0, 2), 10),
        |     nm = tostring(qp)
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  round(gamma(0.5 + CAST(doc_id % 80 AS DOUBLE) / 10.0), 6) AS g,
        |  round(lgamma(0.5 + CAST(doc_id % 80 AS DOUBLE) / 10.0), 9) AS lg,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 0.328626759459
        |                  WHEN 1 THEN 0.520499877813
        |                  WHEN 2 THEN 0.84270079295
        |                  ELSE 0.999593047983 END AS DOUBLE) AS ef,
        |  CAST(0.000406952017 AS DOUBLE) AS ec,
        |  round(1.0 - (CAST(doc_id % 10 AS DOUBLE) / 2.0) /
        |    sqrt(2.0 + (CAST(doc_id % 10 AS DOUBLE) / 2.0) *
        |               (CAST(doc_id % 10 AS DOUBLE) / 2.0)), 10) AS wt,
        |  '{"Query Parameters":{"a":"' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '","name":"x ' || CAST(doc_id % 3 AS VARCHAR) || '"}}' AS nm
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin),

    // round-9 convenience scalars: around (±delta window), array_iif
    // (elementwise conditional — alias of array_iff), bag_pack_columns
    // (bag keyed by column names), assert (true-or-query-error)
    kq("kql_r9fns",
      """documents
        | | where doc_id < 300
        | | extend ar = around(toreal(doc_id % 10), 5.0, 2.0),
        |          ai = array_iif(pack_array(true, false, true),
        |                 pack_array(1, 2, 3), pack_array(9, 8, 7)),
        |          bp = bag_pack_columns(doc_id),
        |          ok = assert(doc_id >= 0, 'doc_id must be non-negative'),
        |          ds = estimate_data_size(doc_id, source),
        |          u8 = to_utf8(substring(text, 0, 10)),
        |          hp = has_any_ipv4_prefix(
        |                 strcat('x=10.', tostring(doc_id % 4), '.30.40'),
        |                 '10.0.', '10.1.')
        | | project doc_id, ar, ai = strcat_array(ai, ','), bp = tostring(bp),
        |           ok, ds, u8 = strcat_array(u8, ','), hp
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  abs(CAST(doc_id % 10 AS DOUBLE) - 5.0) <= 2.0 AS ar,
        |  '1,8,3' AS ai,
        |  '{"doc_id":' || CAST(doc_id AS VARCHAR) || '}' AS bp,
        |  TRUE AS ok,
        |  CAST(8 + len(source) AS BIGINT) AS ds,
        |  list_aggr(list_transform(string_split(substr(text, 1, 10), ''),
        |    c -> CAST(unicode(c) AS VARCHAR)), 'string_agg', ',') AS u8,
        |  doc_id % 4 < 2 AS hp
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-8 union kind=inner: the column INTERSECTION survives (the
    // previous accept-and-widen behavior is now real semantics)
    kq("kql_union_inner",
      """union kind=inner (events | project user_id, event_id),
        |                 (events | where event_id < 100
        |                  | project user_id, value)
        | | summarize n = count() by user_id
        | | sort by user_id asc""".stripMargin,
      """WITH u AS (
        |  SELECT user_id FROM events
        |  UNION ALL
        |  SELECT user_id FROM events WHERE event_id < 100)
        |SELECT user_id, count(*) AS n FROM u
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // round-8 multi-column mv-apply: arrays zip positionally (shorter
    // pads null — the mv-expand rule), subquery filters/aggregates per
    // source row
    kq("kql_mvapply2",
      """events
        | | where event_id < 500
        | | extend xs = pack_array(value, value * 2.0, value * 3.0),
        |          ys = pack_array(event_id, event_id + 1)
        | | mv-apply a = xs, b = ys on (
        |     where a >= value * 2.0
        |     | summarize n = count(), mb = max(b))
        | | project event_id, n, mb
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CAST(CASE WHEN value = 0 THEN 3 ELSE 2 END AS BIGINT) AS n,
        |  event_id + 1 AS mb
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin),

    // round-8 parse_user_agent (documented headline-family subset of
    // ADX's uap-core tables — first match wins, RE2-safe): six real UA
    // shapes cycle through the corpus, families/versions literal-pinned
    kq("kql_parse_ua",
      """events
        | | where event_id < 600
        | | extend ua = case(
        |     event_id % 6 == 0, 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36',
        |     event_id % 6 == 1, 'Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/119.0.0.0 Safari/537.36 Edg/119.0.2151.97',
        |     event_id % 6 == 2, 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15',
        |     event_id % 6 == 3, 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0',
        |     event_id % 6 == 4, 'Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 Version/17.0 Mobile/15E148 Safari/604.1',
        |     'Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.1; Trident/5.0)')
        | | extend b = parse_user_agent(ua, 'browser'),
        |          o = parse_user_agent(ua, 'os')
        | | project event_id, fam = tostring(b.Browser.Family),
        |     ver = tostring(b.Browser.MajorVersion),
        |     osf = tostring(o.OperatingSystem.Family)
        | | sort by event_id asc""".stripMargin,
      """SELECT event_id,
        |  CASE event_id % 6 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Edge'
        |    WHEN 2 THEN 'Safari' WHEN 3 THEN 'Firefox'
        |    WHEN 4 THEN 'Safari' ELSE 'IE' END AS fam,
        |  CASE event_id % 6 WHEN 0 THEN '120' WHEN 1 THEN '119'
        |    WHEN 2 THEN '17' WHEN 3 THEN '118'
        |    WHEN 4 THEN '17' ELSE '9' END AS ver,
        |  CASE event_id % 6 WHEN 0 THEN 'Windows' WHEN 1 THEN 'Windows'
        |    WHEN 2 THEN 'macOS' WHEN 3 THEN 'Linux'
        |    WHEN 4 THEN 'iOS' ELSE 'Windows' END AS osf
        |FROM events WHERE event_id < 600 ORDER BY event_id""".stripMargin),

    // round-8 multi-assign tuple functions: (a, b, …) = series_stats /
    // series_fit_line bind struct fields positionally. Closed forms: the
    // sample variance of a+{0,2,4,6} is exactly 20/3 (every intermediate
    // is an exact integer double), and the line fit of an exact line is
    // exact
    kq("kql_tuple_fns",
      """documents
        | | where doc_id < 300
        | | extend a = doc_id % 5
        | | extend s = pack_array(a, a + 2, a + 4, a + 6)
        | | extend (mn, mni, mx, mxi, av, sd, vr) = series_stats(s),
        |          (rsq, slope, v1, rv, icept, lf) = series_fit_line(s)
        | | project doc_id, mn, mni, mx, mxi, av, vr,
        |     rsq, slope, icept, l2 = toreal(lf[2])
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  CAST(doc_id % 5 AS DOUBLE) AS mn, CAST(0 AS BIGINT) AS mni,
        |  CAST(doc_id % 5 + 6 AS DOUBLE) AS mx, CAST(3 AS BIGINT) AS mxi,
        |  CAST(doc_id % 5 + 3 AS DOUBLE) AS av,
        |  20.0 / 3.0 AS vr,
        |  CAST(1.0 AS DOUBLE) AS rsq, CAST(2.0 AS DOUBLE) AS slope,
        |  CAST(doc_id % 5 AS DOUBLE) AS icept,
        |  CAST(doc_id % 5 + 4 AS DOUBLE) AS l2
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-8 scan declare: per-SEQUENCE variables with restricted
    // assignments. The oracle replays the 2-step machine (the kql_scan
    // lag/cumsum replay) and the counter as row_number within each
    // (user, sequence) over the matched rows — exactly cnt = cnt + 1
    // with per-sequence reset
    kq("kql_scan_declare",
      """events
        | | partition by user_id (sort by ts asc, event_id asc
        |     | scan declare (cnt: long = 0) with (
        |         step s1: event_type == 'view' => cnt = cnt + 1;
        |         step s2: event_type == 'purchase' => cnt = cnt + 1))
        | | summarize nrows = count(), cmax = max(cnt), csum = sum(cnt)
        |     by step
        | | sort by step asc""".stripMargin,
      """WITH rel AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_t
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |marked AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'view'
        |              AND (prev_t IS NULL OR prev_t <> 'view')
        |         THEN 1 ELSE 0 END AS starts,
        |    CASE WHEN event_type = 'purchase' AND prev_t = 'view'
        |         THEN 1 ELSE 0 END AS completes
        |  FROM rel),
        |numbered AS (
        |  SELECT *, sum(starts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid
        |  FROM marked),
        |matched AS (SELECT * FROM numbered
        |            WHERE event_type = 'view' OR completes = 1),
        |wc AS (SELECT *, row_number() OVER (
        |         PARTITION BY user_id, mid ORDER BY ts, event_id) AS cnt
        |       FROM matched)
        |SELECT CASE WHEN event_type = 'view' THEN 's1' ELSE 's2' END
        |    AS step,
        |  count(*) AS nrows, CAST(max(cnt) AS BIGINT) AS cmax,
        |  CAST(sum(cnt) AS DOUBLE) AS csum
        |FROM wc GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-8 scoping sugar: table('T') resolves like a bare ref;
    // cluster()/database() covered in EdgeCaseSpec
    kq("kql_scoping",
      """table('events')
        | | summarize n = count() by event_type
        | | sort by event_type asc""".stripMargin,
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // round-8 funnel_sequence_completion (the third ADX funnel plugin):
    // greedy chains (first view in window, first click after it, first
    // purchase after that); windows gate counting only. The oracle
    // replays the greedy min-joins stage by stage.
    kq("kql_funnel_completion",
      """events
        | | evaluate funnel_sequence_completion(user_id, ts,
        |     datetime(2024-01-01), datetime(2024-02-01), 1d,
        |     event_type, ('view', 'click', 'purchase'), (1h, 4h, 12h))
        | | sort by ts asc, event_type asc""".stripMargin,
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |             event_type AS st FROM events),
        |s0 AS (SELECT k, min(us) AS t0 FROM e
        |       WHERE st = 'view'
        |         AND us BETWEEN epoch_us(TIMESTAMP '2024-01-01')
        |                    AND epoch_us(TIMESTAMP '2024-02-01')
        |       GROUP BY k),
        |s1 AS (SELECT e.k, s0.t0 AS t0, min(e.us) AS t1
        |       FROM e JOIN s0 ON e.k = s0.k
        |       WHERE e.st = 'click' AND e.us > s0.t0
        |       GROUP BY e.k, s0.t0),
        |s2 AS (SELECT e.k, s1.t0 AS t0, s1.t1 AS t1, min(e.us) AS t2
        |       FROM e JOIN s1 ON e.k = s1.k
        |       WHERE e.st = 'purchase' AND e.us > s1.t1
        |       GROUP BY e.k, s1.t0, s1.t1),
        |r0 AS (SELECT (t0 // 86400000000) * 86400000000 AS b,
        |         count(*) AS dcount FROM s0 GROUP BY b),
        |r1 AS (SELECT (t0 // 86400000000) * 86400000000 AS b,
        |         count(*) AS dcount FROM s1
        |       WHERE t1 - t0 <= 14400000000 GROUP BY b),
        |r2 AS (SELECT (t0 // 86400000000) * 86400000000 AS b,
        |         count(*) AS dcount FROM s2
        |       WHERE t2 - t0 <= 43200000000 GROUP BY b)
        |SELECT make_timestamp(b) AS ts, 'view' AS event_type,
        |       CAST(3600000000 AS BIGINT) AS period, dcount FROM r0
        |UNION ALL
        |SELECT make_timestamp(b), 'click', 14400000000, dcount FROM r1
        |UNION ALL
        |SELECT make_timestamp(b), 'purchase', 43200000000, dcount FROM r2
        |ORDER BY ts, event_type""".stripMargin),

    // round-8 convert_* family: value·f(from)/f(to) with the SAME
    // literal factors and op order on both engines (bit-exact doubles)
    kq("kql_convert",
      """documents
        | | where doc_id < 300
        | | project doc_id,
        |    km = convert_length(toreal(n_chars), 'Meter', 'Kilometer'),
        |    ft = convert_length(toreal(n_chars), 'Foot', 'Meter'),
        |    lb = convert_mass(toreal(n_chars), 'Pound', 'Kilogram'),
        |    kmh = convert_speed(toreal(n_chars), 'MeterPerSecond',
        |                        'KilometerPerHour'),
        |    f2c = convert_temperature(toreal(n_chars),
        |                              'DegreeFahrenheit', 'DegreeCelsius'),
        |    c2k = convert_temperature(toreal(n_chars),
        |                              'DegreeCelsius', 'Kelvin'),
        |    deg = convert_angle(toreal(n_chars), 'Degree', 'Radian'),
        |    kwh = convert_energy(toreal(n_chars), 'KilowattHour', 'Joule')
        | | sort by doc_id asc""".stripMargin,
      """SELECT doc_id,
        |  (CAST(n_chars AS DOUBLE) * 1.0) / 1000.0 AS km,
        |  (CAST(n_chars AS DOUBLE) * 0.3048) / 1.0 AS ft,
        |  (CAST(n_chars AS DOUBLE) * 0.45359237) / 1.0 AS lb,
        |  (CAST(n_chars AS DOUBLE) * 1.0) / (1.0 / 3.6) AS kmh,
        |  ((CAST(n_chars AS DOUBLE) + 459.67) * (5.0 / 9.0)) - 273.15
        |    AS f2c,
        |  (CAST(n_chars AS DOUBLE) + 273.15) * 1.0 AS c2k,
        |  (CAST(n_chars AS DOUBLE) * (pi() / 180.0)) / 1.0 AS deg,
        |  (CAST(n_chars AS DOUBLE) * 3600000.0) / 1.0 AS kwh
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),

    // round-7 federation: derby.customer is the parquet customer table
    // seeded into EMBEDDED APACHE DERBY and scanned back through the
    // graft-sqlstore DataSource V2 connector — the where and the whole
    // summarize leave the Spark plan and execute inside the foreign store
    // (V2PushdownSpec pins PushedFilters/PushedAggregates and the no-
    // HashAggregate residual plan); the oracle replays on the parquet
    // original, so a pushdown translation bug breaks the hash
    kq("kql_v2_pushdown",
      """derby.customer
        | | where c_acctbal > 1000.0 and c_mktsegment != 'MACHINERY'
        | | summarize n = count(), mn = min(c_acctbal), mx = max(c_acctbal)
        |     by c_mktsegment
        | | sort by c_mktsegment asc""".stripMargin,
      """SELECT c_mktsegment, count(*) AS n, min(c_acctbal) AS mn,
        |       max(c_acctbal) AS mx
        |FROM customer
        |WHERE c_acctbal > 1000.0 AND c_mktsegment <> 'MACHINERY'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // round-7 federation #2: top-n pushes as ORDER BY … FETCH FIRST into
    // Derby (single-split scan), deterministic via the key tie-break
    kq("kql_v2_topn",
      """derby.customer
        | | where c_mktsegment == 'BUILDING'
        | | top 5 by c_acctbal desc, c_custkey asc
        | | project c_custkey, c_acctbal""".stripMargin,
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 5""".stripMargin),

    // round-8 series_fft / series_ifft (tuple forms): N=8 DFT over
    // integer-valued series. The oracle unrolls the same DFT with the
    // JVM-computed twiddle factors inlined as SQL double literals and the
    // identical left-associated sum order, so the raw doubles hash-compare
    // bit-exactly (no rounding needed — the pl_embed_quantize playbook,
    // one step stronger).
    kq("kql_series_fft", fftGateKql, fftGateOracle)
  )

  // ── series_fft gate fixture: shared between the KQL text and the
  //    oracle generator so both engines transform the same series ──
  private def fftN = 8
  private def fftReKql = Seq("a", "a + 3", "7 - a", "2 * a",
    "(a * a) % 5", "1", "0", "a % 3")
  private def fftImKql = Seq("a % 2", "1", "0", "a", "2", "a + 1", "3",
    "a % 4")
  private def fftReSql = Seq("a", "(a + 3)", "(7 - a)", "(2 * a)",
    "((a * a) % 5)", "1", "0", "(a % 3)")
  private def fftImSql = Seq("(a % 2)", "1", "0", "a", "2", "(a + 1)", "3",
    "(a % 4)")
  private def fftZeroSql = Seq.fill(fftN)("0")

  private def fftGateKql: String = {
    val proj = (0 until fftN).flatMap(k => Seq(
      s"r$k = toreal(fr[$k])", s"i$k = toreal(fi[$k])",
      s"vr$k = toreal(gr[$k])", s"vi$k = toreal(gi[$k])")).mkString(", ")
    s"""documents
       | | where doc_id < 300
       | | extend a = doc_id % 5
       | | extend s = pack_array(${fftReKql.mkString(", ")}),
       |          t = pack_array(${fftImKql.mkString(", ")})
       | | extend (fr, fi) = series_fft(s)
       | | extend (gr, gi) = series_ifft(s, t)
       | | project doc_id, $proj
       | | sort by doc_id asc""".stripMargin
  }

  private def fftGateOracle: String = {
    def dlit(v: Double): String = v.toString // shortest round-trip form
    // one output component: 0.0 + (t0) + (t1) + … [/ N for inverse] —
    // the exact accumulation order of SeriesFftExpr.eval
    def comp(re: Seq[String], im: Seq[String], k: Int, inv: Boolean,
        imagPart: Boolean): String = {
      val terms = (0 until fftN).map { j =>
        val (c, s) = graft.functions.SeriesFftExpr.twiddle(fftN, k, j, inv)
        val xr = s"CAST(${re(j)} AS DOUBLE)"
        val xi = s"CAST(${im(j)} AS DOUBLE)"
        if (imagPart) s"($xr * ${dlit(s)} + $xi * ${dlit(c)})"
        else s"($xr * ${dlit(c)} - $xi * ${dlit(s)})"
      }
      val acc = terms.mkString("0.0 + ", " + ", "")
      if (inv) s"($acc) / ${fftN.toDouble}" else acc
    }
    val cols = (0 until fftN).flatMap(k => Seq(
      s"${comp(fftReSql, fftZeroSql, k, inv = false, imagPart = false)} AS r$k",
      s"${comp(fftReSql, fftZeroSql, k, inv = false, imagPart = true)} AS i$k",
      s"${comp(fftReSql, fftImSql, k, inv = true, imagPart = false)} AS vr$k",
      s"${comp(fftReSql, fftImSql, k, inv = true, imagPart = true)} AS vi$k"))
      .mkString(",\n  ")
    s"""WITH b AS (SELECT doc_id, doc_id % 5 AS a FROM documents
       |           WHERE doc_id < 300)
       |SELECT doc_id,
       |  $cols
       |FROM b ORDER BY doc_id""".stripMargin
  }
}
