"""Seeded inputs for the two workloads, and the DuckDB twins that check
their outputs.

Everything here is a pure function of the seed: the same seed gives a
byte-identical request file. Requests come in cycles that hold every
request kind once in a fixed order, so every run has the same mix and
runs differ only in the seed-drawn literals.
"""
import json
import math
import random
from datetime import datetime, timedelta
from decimal import ROUND_HALF_EVEN, Context, Decimal

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY0 = datetime(2024, 1, 1)


def _ts(dt):
    return dt.strftime("%Y-%m-%d %H:%M:%S")


def _kql_ts(dt):
    return "datetime(%s)" % dt.strftime("%Y-%m-%dT%H:%M:%S")


# ---------------------------------------------------------------- interactive
# Each template returns (kql, twin_sql, ordered). Twins read the same parquet
# tables through DuckDB views named like the KQL tables.

def _t_bin(r):
    d1 = DAY0 + timedelta(minutes=r.randrange(0, 28 * 24 * 60))
    d2 = d1 + timedelta(hours=36)
    return (f"events | where ts >= {_kql_ts(d1)} and ts < {_kql_ts(d2)} "
            f"| summarize n=count(), avg_value=avg(value) by h=bin(ts, 1h), event_type "
            f"| sort by h asc, event_type asc",
            f"SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, "
            f"avg(value) AS avg_value FROM events "
            f"WHERE ts >= TIMESTAMP '{_ts(d1)}' AND ts < TIMESTAMP '{_ts(d2)}' "
            f"GROUP BY 1, 2 ORDER BY 1, 2", True)


def _t_top(r):
    d = datetime(1995, 1, 1) + timedelta(days=r.randrange(0, 2000))
    k = r.randrange(10, 200)
    return (f"orders | where o_orderdate >= {_kql_ts(d)} "
            f"| top {k} by o_totalprice desc, o_orderkey asc "
            f"| project o_orderkey, o_custkey, o_totalprice",
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{_ts(d)}' "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}", True)


def _t_lookup(r):
    b = "%.2f" % r.uniform(-999, 9000)
    return (f"customer | where c_acctbal > {b} "
            f"| lookup (nation | project n_nationkey, n_name) "
            f"on $left.c_nationkey == $right.n_nationkey "
            f"| summarize cnt=count(), bal=sum(c_acctbal) by n_name | sort by n_name asc",
            f"SELECT n_name, count(*) AS cnt, sum(c_acctbal) AS bal FROM customer "
            f"LEFT JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {b} "
            f"GROUP BY 1 ORDER BY n_name", True)


def _t_let(r):
    p = "%.2f" % r.uniform(300000, 450000)
    return (f"let big = (orders | where o_totalprice > {p}); "
            f"big | join kind=inner (customer) on $left.o_custkey == $right.c_custkey "
            f"| summarize n=count(), tot=sum(o_totalprice) by c_mktsegment "
            f"| sort by c_mktsegment asc",
            f"SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS tot FROM orders "
            f"JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {p} "
            f"GROUP BY 1 ORDER BY 1", True)


def _t_union(r):
    a, b = r.sample(EVENT_TYPES, 2)
    v, w = "%.2f" % r.uniform(0, 150), "%.2f" % r.uniform(20, 200)
    return (f"events | where event_type == '{a}' and value > {v} "
            f"| union (events | where event_type == '{b}' and value < {w}) "
            f"| summarize n=count() by event_type, d=bin(ts, 1d) "
            f"| sort by event_type asc, d asc",
            f"SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n FROM ("
            f"SELECT * FROM events WHERE event_type = '{a}' AND value > {v} UNION ALL "
            f"SELECT * FROM events WHERE event_type = '{b}' AND value < {w}) "
            f"GROUP BY 1, 2 ORDER BY 1, 2", True)


def _t_parse(r):
    n = r.randrange(5000, 100000)
    return ("events | where event_id < %d "
            "| parse props with \"{\\\"k\\\": \" kv:long \"}\" "
            "| summarize n=count(), mx=max(kv) by event_type | sort by event_type asc" % n,
            "SELECT event_type, count(*) AS n, "
            "max(CAST(regexp_extract(props, '\\{\"k\": (.*)\\}', 1) AS BIGINT)) AS mx "
            "FROM events WHERE event_id < %d GROUP BY 1 ORDER BY 1" % n, True)


def _t_mvexpand(r):
    n = r.randrange(1000, 20000)
    return (f"lineitem | where l_orderkey < {n} "
            f"| extend a = split(strcat(l_returnflag, ',', l_linestatus), ',') "
            f"| mv-expand with_itemindex=ix a "
            f"| summarize n=count() by e = tostring(a), ix | sort by e asc, ix asc",
            f"SELECT e, ix, count(*) AS n FROM ("
            f"SELECT unnest(string_split(l_returnflag || ',' || l_linestatus, ',')) AS e, "
            f"CAST(generate_subscripts(string_split(l_returnflag || ',' || l_linestatus, ','), 1)"
            f" - 1 AS BIGINT) AS ix FROM lineitem WHERE l_orderkey < {n}) "
            f"GROUP BY e, ix ORDER BY e, ix", True)


def _t_makeseries(r):
    v = "%.2f" % r.uniform(0, 300)
    return (f"events | where value > {v} "
            f"| make-series n = count() on ts from datetime(2024-01-01) "
            f"to datetime(2024-01-31) step 1d by event_type "
            f"| project event_type, ns = strcat_array(n, ',') | sort by event_type asc",
            f"WITH counts AS (SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, "
            f"count(*) AS n FROM events WHERE value > {v} AND ts >= TIMESTAMP '2024-01-01' "
            f"AND ts < TIMESTAMP '2024-01-31' GROUP BY 1, 2), "
            f"grid AS (SELECT event_type, d FROM (SELECT DISTINCT event_type FROM counts), "
            f"(SELECT unnest(range(19723, 19753)) AS d)), "
            f"filled AS (SELECT g.event_type, g.d, coalesce(c.n, 0) AS n FROM grid g "
            f"LEFT JOIN counts c ON g.event_type = c.event_type AND g.d = c.d) "
            f"SELECT event_type, string_agg(CAST(n AS VARCHAR), ',' ORDER BY d) AS ns "
            f"FROM filled GROUP BY 1 ORDER BY 1", True)


def _t_serialize(r):
    et, u, k = r.choice(EVENT_TYPES), r.randrange(100, 1500), r.randrange(100, 1000)
    return (f"events | where event_type == '{et}' and user_id < {u} "
            f"| sort by ts asc, event_id asc | serialize "
            f"| extend rn = row_number(), pv = prev(event_id) "
            f"| project event_id, rn, pv | limit {k}",
            f"SELECT event_id, CAST(row_number() OVER w AS BIGINT) AS rn, "
            f"lag(event_id) OVER w AS pv FROM events "
            f"WHERE event_type = '{et}' AND user_id < {u} "
            f"WINDOW w AS (ORDER BY ts, event_id) ORDER BY ts, event_id LIMIT {k}", True)


# the KQL spine: where, summarize by bin, top, lookup, let with a join,
# union, parse, mv-expand, make-series and serialize
INTERACTIVE = [_t_bin, _t_top, _t_lookup, _t_let, _t_union, _t_parse,
               _t_mvexpand, _t_makeseries, _t_serialize]

# --------------------------------------------------- exports and partials

EXPORT_ROWS = 20000


def _export(r, table, rows):
    if table == "events":
        lo = r.randrange(0, 100000 - rows)
        hi = lo + rows
        return (f"events | where event_id >= {lo} and event_id < {hi} "
                f"| project event_id, ts, user_id, event_type, value, props "
                f"| sort by event_id asc",
                f"SELECT event_id, ts, user_id, event_type, value, props FROM events "
                f"WHERE event_id >= {lo} AND event_id < {hi} ORDER BY event_id", True)
    # lineitem holds 4 lines per order key on average
    span = rows // 4
    lo = r.randrange(0, 150000 - span)
    hi = lo + span
    return (f"lineitem | where l_orderkey >= {lo} and l_orderkey < {hi} "
            f"| project l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            f"l_extendedprice, l_discount, l_shipdate",
            f"SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            f"l_extendedprice, l_discount, l_shipdate FROM lineitem "
            f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}", False)


def _p_total(r):
    v = "%.2f" % r.uniform(0, 150)
    return (f"events | where value > {v} "
            f"| summarize n=count(), total=sum(value) by event_type | sort by event_type asc",
            f"SELECT event_type, count(*) AS n, sum(value) AS total FROM events "
            f"WHERE value > {v} GROUP BY 1 ORDER BY 1")


def _p_bucket(r):
    m = r.randrange(2, 9)
    k = r.randrange(0, m)
    v = "%.2f" % r.uniform(0, 100)
    return (f"events | where user_id % {m} == {k} and value >= {v} "
            f"| summarize n=count(), mx=max(value) by event_type | sort by event_type asc",
            f"SELECT event_type, count(*) AS n, max(value) AS mx FROM events "
            f"WHERE user_id % {m} = {k} AND value >= {v} GROUP BY 1 ORDER BY 1")


def _p_daily(r):
    et, v = r.choice(EVENT_TYPES), "%.2f" % r.uniform(0, 100)
    return (f"events | where event_type != '{et}' and value > {v} "
            f"| summarize n=count(), mn=min(value), mx=max(value) by d = bin(ts, 1d) "
            f"| sort by d asc",
            f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n, min(value) AS mn, "
            f"max(value) AS mx FROM events WHERE event_type <> '{et}' AND value > {v} "
            f"GROUP BY 1 ORDER BY 1")


PARTIAL = [_p_total, _p_bucket, _p_daily]
PARTIAL_DEBOUNCE_MS = 100

# ------------------------------------------------------------------ pipeline

# One query per family the pipeline workload spans; every pass runs all of
# them, so runs differ only in order. Four of them (index_delete,
# communities) read session gate caches in the r17 bench, so their times
# here compare with its `__cold` entries.
PIPELINE_POOL = [
    "pl_simhash_dups",   # near-duplicate dedup
    "pl_index_delete",   # index lifecycle: build, save, delete, reload
    "pl_communities",    # graph community detection
    "pl_lang_id",        # text
    "pl_image_dedup",    # multimodal
    "q_star_join",       # core relational
]
PIPELINE_PASSES = 20


# ------------------------------------------------------------------ streams

def _unique(r, make, seen):
    for _ in range(1000):
        out = make(r)
        if out[0] not in seen:
            seen.add(out[0])
            return out
    raise RuntimeError("could not draw a fresh request")


def _req(i, cycle, kind, kql, check, ordered, partial=False):
    body = {"query": kql}
    if partial:
        body = {"query": kql, "partial_stream": True, "debounce_ms": PARTIAL_DEBOUNCE_MS}
    return {"i": i, "cycle": cycle, "kind": kind, "body": json.dumps(body, sort_keys=True),
            "check": check, "ordered": ordered}


def http_stream(seed, n, salt=""):
    """Returns (requests, twins): `n` requests and their DuckDB twin SQL.

    Requests come in cycles, and a run measures whole cycles. A cycle holds
    one export of each table, one partial-stream aggregation and every
    spine template once. The `salt` separates the warm-up stream from the
    timed one.
    """
    r = random.Random("interactive/%s/%d" % (salt, seed))
    seen, reqs, twins = set(), [], []
    cycle = 0
    while len(reqs) < n:
        # a fixed order, so every request meets the same concurrent load in
        # every run; the seed draws the literals
        kinds = ["export_events", "export_lineitem", "partial"] + \
            [t.__name__[3:] for t in INTERACTIVE]
        for kind in kinds:
            if kind.startswith("export_"):
                kql, sql, ordered = _unique(
                    r, lambda rr: _export(rr, kind[len("export_"):], EXPORT_ROWS), seen)
                reqs.append(_req(len(reqs), cycle, "export", kql, "hash", ordered))
            elif kind == "partial":
                kql, sql = _unique(r, r.choice(PARTIAL), seen)
                ordered = True
                reqs.append(_req(len(reqs), cycle, kind, kql, "rows", ordered, partial=True))
            else:
                kql, sql, ordered = _unique(r, globals()["_t_" + kind], seen)
                reqs.append(_req(len(reqs), cycle, kind, kql, "rows", ordered))
            twins.append(sql)
        cycle += 1
    return reqs[:n], twins[:n]


def warmup_stream(seed):
    """One cycle of the salted warm-up stream: every request kind once, so
    first-use costs (class loading, JIT, streaming start-up) land before
    timing."""
    reqs, _ = http_stream(seed, len(INTERACTIVE) + 3, salt="warmup")
    return reqs


def pipeline_ops(seed):
    """Lines `<pass> <query>`: every pool query once per pass, always in
    pool order, so each query meets the same memory state left by the ones
    before it in every run. The seed therefore changes nothing here."""
    return ["%d %s" % (p, q) for p in range(PIPELINE_PASSES) for q in PIPELINE_POOL]


# ------------------------------------------------------------------ checking

def canon_double(d, digits):
    if d == 0:
        return "0"
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    q = Context(prec=digits, rounding=ROUND_HALF_EVEN).plus(Decimal(d))
    return format(q.normalize(Context(prec=digits)), "f")


def spark_ts(dt):
    """A timestamp as Spark's JSON writer prints it (UTC, milliseconds)."""
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + ".%03dZ" % (dt.microsecond // 1000)


def canon_value(v):
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v, 12)
    if isinstance(v, datetime):
        return spark_ts(v)
    if isinstance(v, Decimal):
        return canon_double(float(v), 12)
    return str(v)


def canon_row(fields):
    """`fields`: (name, value) pairs; nulls dropped, sorted by name."""
    return "\x1f".join("%s=%s" % (k, canon_value(v))
                       for k, v in sorted(fields) if v is not None)


def digest(rows, ordered):
    """`rows:hex` digest matching the Scala ResultDigest."""
    import hashlib
    acc = 0
    n = 0
    for c in rows:
        d = int.from_bytes(hashlib.sha256(c.encode("utf-8")).digest()[:8], "big")
        acc = (acc * 1000003 + d) % (1 << 64) if ordered else (acc + d) % (1 << 64)
        n += 1
    return "%d:%x" % (n, acc)


def _close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _norm(v):
    if isinstance(v, datetime):
        return spark_ts(v)
    if isinstance(v, Decimal):
        return float(v)
    return v


def compare_rows(got, want, ordered):
    """`got`: Spark JSON rows (dicts); `want`: twin rows (dicts). Numbers
    compare with a relative tolerance of 1e-9; None if they match, else a
    short reason."""
    want = [{k: _norm(v) for k, v in w.items() if v is not None} for w in want]
    if len(got) != len(want):
        return "row count %d, twin %d" % (len(got), len(want))
    if not ordered:
        def key(row):
            return sorted((k, str(v)) for k, v in row.items() if not isinstance(v, float))
        got, want = sorted(got, key=key), sorted(want, key=key)
    for k, (g, w) in enumerate(zip(got, want)):
        if set(g) != set(w) or not all(_close(g[c], w[c]) for c in g):
            return "row %d: %s vs twin %s" % (k, json.dumps(g)[:200], json.dumps(w, default=str)[:200])
    return None
