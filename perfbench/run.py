#!/usr/bin/env python3
"""End-to-end benchmark of the graft KQL engine; see perfbench/README.md.

Run from the repository root:

  python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload pipeline --repeat 10       # steadiness
  python3 perfbench/run.py --selftest

The last stdout line of a run is one JSON object: {correct, attempted,
failed, metrics}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The lines before it
are a human-readable report. The first run in a checkout builds the engine
and the harness with sbt into target/ and .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads as W  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The sf0.1 tables of TESTDATA.md, read-only; SPARK_GRAFT_SF_DIR points
# elsewhere, as it does for graft.Bench.
DATA_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["interactive", "pipeline"]
JVM_HEAP = "4g"
JVM_TIMEOUT_S = 165
# request stream length; a run sends far fewer
HTTP_REQUESTS = 1000
STREAM_PARTS = 3
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------- build

def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")]:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def build():
    """Compiles the engine and the harness; returns the runtime classpath.
    Rebuilds only when a source or build file changed."""
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die("no engine sources (%s) under %s: run from the repository root" % (need, ROOT))
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # offline resolution, as the repository's own test command sets it
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=%s -Xmx4g"
                   % os.path.expanduser("~/.sbt/repositories"))
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "scala-library" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        die("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def java_cmd(cp, tmp, *args, extra=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx" + JVM_HEAP, "-Duser.timezone=UTC",
             "-Djava.io.tmpdir=" + tmp] + list(extra) + opens +
            ["-cp", cp, "perfbench.Harness"] + list(args))


# ---------------------------------------------------------------------- runs

def jvm_env():
    # a cluster-manager scratch setting would override the run's private
    # spark.local.dir and put Spark's scratch outside the checkout
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def cpus():
    return len(os.sched_getaffinity(0))


def relay_events(out_dir):
    """Copies events into STREAM_PARTS part files of consecutive event ids:
    the testdata file is one file, which the streaming source would read
    as a single micro-batch, leaving no partial result to refine."""
    import duckdb
    os.makedirs(out_dir)
    con = duckdb.connect()
    src = "'%s/events.parquet'" % DATA_DIR
    top = con.execute("SELECT max(event_id) + 1 FROM %s" % src).fetchone()[0]
    for k in range(STREAM_PARTS):
        lo, hi = top * k // STREAM_PARTS, top * (k + 1) // STREAM_PARTS
        con.execute("COPY (SELECT * FROM %s WHERE event_id >= %d AND event_id < %d "
                    "ORDER BY event_id) TO '%s/part-%d.parquet' (FORMAT PARQUET)"
                    % (src, lo, hi, out_dir, k))
    con.close()


def write_inputs(workload, seed, run_dir):
    """Writes the seeded inputs; returns the twin SQL per request index."""
    if workload == "pipeline":
        with open(os.path.join(run_dir, "ops.txt"), "w") as f:
            f.write("\n".join(W.pipeline_ops(seed)) + "\n")
        return {}
    relay_events(os.path.join(run_dir, "stream", "events.parquet"))
    reqs, twins = W.http_stream(seed, HTTP_REQUESTS)
    warm = W.warmup_stream(seed)
    for name, rs in [("requests.jsonl", reqs), ("warmup.jsonl", warm)]:
        with open(os.path.join(run_dir, name), "w") as f:
            f.write("".join(json.dumps(r, sort_keys=True) + "\n" for r in rs))
    return {r["i"]: (sql, r["ordered"]) for r, sql in zip(reqs, twins)}


def run_jvm(cp, workload, seed, seconds, trace):
    """Runs one benchmark process; returns its result, the kept rows by
    request index, and the twin SQL by request index."""
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "out"))
    try:
        t0 = time.time()
        twins = write_inputs(workload, seed, run_dir)
        inputs_s = time.time() - t0
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as out:
            p = subprocess.Popen(
                java_cmd(cp, tmp, workload, run_dir, DATA_DIR, str(cpus()), str(seconds),
                         str(trace)),
                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=jvm_env())
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        res_file = os.path.join(run_dir, "out", "result.json")
        if rc != 0 or not os.path.exists(res_file):
            tail = open(log, errors="replace").read().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            die("benchmark process failed (exit %s)" % rc)
        with open(res_file) as f:
            result = json.load(f)
        result["inputs_s"] = inputs_s
        spans = os.path.join(run_dir, "out", "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, "spans-%s-%d.jsonl" % (workload, seed)))
        rows = {}
        rows_file = os.path.join(run_dir, "out", "rows.jsonl")
        if os.path.exists(rows_file):
            with open(rows_file) as f:
                for line in f:
                    if line.strip():
                        rec = json.loads(line)
                        rows[rec["i"]] = [json.loads(x) for x in rec["rows"]]
        return result, rows, twins
    finally:
        # the run's own scratch: tmpdir, status tables, Spark local dirs
        shutil.rmtree(run_dir, ignore_errors=True)


# ------------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, DATA_DIR, t))
    return con


def check_http(ops, rows, twins, con):
    """Marks each op with `check`: None when its output matches its DuckDB
    twin, else the reason."""
    for op in ops:
        if not op["ok"]:
            op["check"] = op["error"]
            continue
        sql, ordered = twins[op["i"]]
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        if op["digest"] is not None:
            exp = W.digest((W.canon_row(list(w.items())) for w in want), ordered)
            op["check"] = None if op["digest"] == exp else \
                "digest %s, twin %s" % (op["digest"], exp)
        else:
            op["check"] = W.compare_rows(rows.get(op["i"], []), want, ordered)


def check_pipeline(result):
    with open(os.path.join(HERE, "expected_pipeline.json")) as f:
        expected = json.load(f)
    bad = {}
    for name, got in result["digests"].items():
        if expected.get(name) != got:
            bad[name] = "digest %s, recorded %s" % (got, expected.get(name))
    for op in result["ops"] + result.get("traced_ops", []):
        op["check"] = op["error"] if not op["ok"] else bad.get(op["name"])
    return bad


# ------------------------------------------------------------------ metrics

def pct(xs, q):
    """Linear-interpolated percentile; NaN when empty."""
    xs = sorted(x for x in xs if x == x)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    xs = [x for x in xs if x == x]
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(result, workload):
    ops = result["ops"]
    good = [o for o in ops if o["check"] is None]
    phase = result["phase"]
    lat = [o["latency_ms"] / 1000 for o in good]
    if workload == "pipeline":
        rows_per_s = sum(o["rows"] for o in good) / max(1e-9, sum(o["exec_ms"] for o in good) / 1000)
    else:
        rows_per_s = sum(o["rows"] for o in good) / phase["window_s"]
    return {
        "setup_s": result["inputs_s"] + result["session_ready_s"] + result["workload_setup_s"],
        "latency_p50_s": pct(lat, 0.5),
        "latency_p90_s": pct(lat, 0.9),
        "throughput_qps": len(good) / phase["window_s"],
        "rows_per_s": rows_per_s,
        "cpu_s_per_op": phase["cpu_s"] / max(1, len(good)),
    }


REPORT_ONLY_UNITS = {"fail_ratio": "ratio", "retained_block_mb": "MB",
                     "leaked_tmp_files": "count", "first_row_p50_s": "s",
                     "first_partial_p50_s": "s"}


def report_only(result, workload):
    """End-to-end figures printed but kept out of the JSON line (see
    README.md): they read 0 on some workloads or spread too widely to gate
    on."""
    ops = result["ops"]
    phase = result["phase"]
    out = {
        "fail_ratio": sum(1 for o in ops if o["check"] is not None) / max(1, len(ops)),
        "retained_block_mb": phase["retained_block_mb"],
        "leaked_tmp_files": phase["leaked_tmp_files"],
        "first_row_p50_s": pct([o["first_row_ms"] / 1000 for o in ops if o["check"] is None], 0.5),
    }
    if workload == "interactive":
        # send to the first `event: partial`; a partial request that
        # streamed none counts with its first row
        out["first_partial_p50_s"] = pct([
            (o["first_partial_ms"] if o["partials"] > 0 else o["first_row_ms"]) / 1000
            for o in ops if o["check"] is None and o["kind"] == "partial"], 0.5)
    return out


PER_OP_LAYERS = [
    "kql.parse_s", "kql.compile_s", "kql.compile_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "catalyst.exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.driver_gap_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.single_task_stages", "server.status_write_s", "server.emit_s",
    "pipeline.build_s", "pipeline.build_jobs", "pipeline.persisted_rdds",
    "pipeline.leaked_tmp_files", "trace.unattributed_s"]


def per_layer(result, workload):
    """Per-operation means over the traced operations, plus run gauges."""
    out = {k: 0.0 for k in PER_OP_LAYERS}
    traced = result["traced_ops"]
    tphase = result["traced_phase"]
    layered = traced if workload == "pipeline" else result["replay"]["ops"]
    for k in PER_OP_LAYERS:
        out[k] = mean([o[k] for o in layered if k in o])
    n = max(1, len(traced))
    out["jvm.gc_s"] = tphase["gc_s"] / n
    out["jvm.heap_after_gc_mb"] = tphase["heap_after_gc_mb"]
    out["exec.retained_block_mb"] = tphase["retained_block_mb"]
    out["server.headers_s"] = 0.0
    out["server.frames"] = out["server.bytes_out"] = out["server.overhead_s"] = 0.0
    out["server.status_bytes_per_query"] = 0.0
    for k in ["streaming.batches", "streaming.batch_s", "streaming.partials", "streaming.fallbacks"]:
        out[k] = 0.0
    if workload != "pipeline":
        ok = [o for o in traced if o["ok"]]
        out["server.headers_s"] = mean([o["headers_ms"] / 1000 for o in ok])
        out["server.frames"] = mean([o["frames"] for o in ok])
        out["server.bytes_out"] = mean([o["bytes"] for o in ok])
        out["server.overhead_s"] = pct([o["http_latency_s"] - o["latency_s"]
                                        for o in result["replay"]["ops"]], 0.5)
        out["server.status_bytes_per_query"] = result["status_bytes"] / n
        partial = [o for o in ok if o["kind"] == "partial"]
        if partial:
            batches = result["stream_batches"]
            out["streaming.batches"] = batches / len(partial)
            out["streaming.batch_s"] = result["stream_batch_ms"] / 1000 / max(1, batches)
            out["streaming.partials"] = mean([o["partials"] for o in partial])
            out["streaming.fallbacks"] = sum(1 for o in partial if o["partials"] == 0) / len(partial)
    u = pct([o["latency_ms"] for o in result["ops"] if o["ok"]], 0.5)
    t = pct([o["latency_ms"] for o in traced if o["ok"]], 0.5)
    out["trace.overhead_ratio"] = t / u - 1
    return out


def measure(cp, workload, seed, seconds, trace):
    result, rows, twins = run_jvm(cp, workload, seed, seconds, trace)
    if workload == "pipeline":
        check_pipeline(result)
    else:
        con = duck()
        check_http(result["ops"], rows, twins, con)
        if trace:
            for o in result["traced_ops"]:
                o["check"] = o["error"] if not o["ok"] else None
    return result


def report(workload, seed, result, metrics, units):
    ops = result["ops"]
    failed = [o for o in ops if o["check"] is not None]
    print("perfbench %s seed=%d cpus=%d ops=%d failed=%d" % (
        workload, seed, cpus(), len(ops), len(failed)))
    for o in failed[:10]:
        print("  FAILED op %s (%s): %s" % (o["i"], o.get("kind", o.get("name")), o["check"]))
    parts = dict(result.get("setup_parts", {}), session_ready_s=result["session_ready_s"],
                 inputs_s=result["inputs_s"])
    print("  setup: " + ", ".join("%s=%.2f" % kv for kv in sorted(parts.items())))
    kinds = {}
    for o in ops:
        kinds.setdefault(o.get("kind", o.get("name")), []).append(o["latency_ms"] / 1000)
    print("  latency by kind: " + ", ".join(
        "%s n=%d p50=%.3fs" % (k, len(v), pct(v, 0.5)) for k, v in sorted(kinds.items())))
    for k, v in metrics.items():
        print("  %-32s %14.6f %s" % (k, v, units.get(k, "")))


def one_run(args, cp):
    s = spec()
    result = measure(cp, args.workload, args.seed, args.seconds, args.trace)
    e2e = end_to_end(result, args.workload)
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    units.update(REPORT_ONLY_UNITS)
    shown = dict(e2e, **report_only(result, args.workload))
    if args.trace:
        shown.update(per_layer(result, args.workload))
    report(args.workload, args.seed, result, shown, units)
    names = [m["name"] for m in (s["per_layer"] if args.trace else s["end_to_end"])]
    metrics = {n: {"value": shown[n], "unit": units[n]} for n in names}
    unmeasured = [n for n in names if shown[n] != shown[n]]
    if unmeasured:
        die("no sample for %s: every operation that could measure it failed" % unmeasured)
    ops = result["ops"] + (result.get("traced_ops") or [])
    failed = sum(1 for o in ops if o["check"] is not None)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def repeat(args, cp):
    """Runs --repeat seeds and prints, per end-to-end metric, the median,
    the quartiles and the quartile spread as a share of the median, against
    the metric's bound."""
    s = spec()
    values = {m["name"]: [] for m in s["end_to_end"]}
    for seed in range(args.seed, args.seed + args.repeat):
        result = measure(cp, args.workload, seed, args.seconds, 0)
        e2e = end_to_end(result, args.workload)
        bad = sum(1 for o in result["ops"] if o["check"] is not None)
        print("seed %d: failed=%d %s" % (seed, bad, json.dumps(
            {k: round(v, 6) for k, v in e2e.items()})), flush=True)
        for k in values:
            values[k].append(e2e[k])
    print("%-22s %12s %12s %12s %8s %8s" % ("metric", "median", "q1", "q3", "spread", "bound"))
    steady = True
    for m in s["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        # setup_s is not gated on spread, only on its median
        gated = m["name"] != "setup_s"
        within = spread <= m["bound"] or not gated
        steady &= within
        label = ("" if not gated or spread <= m["bound"] / 3 else
                 "above a third of the bound" if within else "OVER THE BOUND")
        print("%-22s %12.6f %12.6f %12.6f %8.4f %8.3f %s" % (
            m["name"], med, q1, q3, spread, m["bound"], label))
    print("every gated spread within its bound" if steady else "a spread exceeds its bound")


def selftest(cp):
    """Determinism and locale-independence of everything machine-read."""
    import locale
    for wl in WORKLOADS:
        def gen(seed):
            if wl == "pipeline":
                return W.pipeline_ops(seed)
            return W.http_stream(seed, 300), W.warmup_stream(seed)
        a, b, c = gen(7), gen(7), gen(8)
        assert json.dumps(a) == json.dumps(b), wl + ": same seed, different inputs"
        if wl != "pipeline":
            assert json.dumps(a) != json.dumps(c), wl + ": different seeds, same inputs"
            texts = [r["body"] for r in a[0][0] + a[1]]
            assert len(set(texts)) == len(texts), wl + ": repeated request text"
    # the Python half of the canonical forms the Scala SelfTest pins
    assert W.canon_double(1234.5678, 12) == "1234.5678"
    assert W.canon_double(0.1 + 0.2, 12) == "0.3"
    assert W.canon_double(-1.0e-9, 9) == "-0.000000001"
    assert W.canon_row([("b", 2), ("a", 1)]) == "a=1\x1fb=2"
    assert W.canon_row([("x", 1.0e7), ("y", "s"), ("z", 3), ("w", 0.30000000000000004)]) == \
        "w=0.3\x1fx=10000000\x1fy=s\x1fz=3"
    comma = None
    for name in ["de_DE.UTF-8", "de_DE.utf8", "fr_FR.UTF-8"]:
        try:
            locale.setlocale(locale.LC_ALL, name)
            comma = name
            break
        except locale.Error:
            continue
    line = json.dumps({"metrics": {"x": {"value": 1.5, "unit": "s"}}})
    assert "1.5" in line and "1,5" not in line
    locale.setlocale(locale.LC_ALL, "C")
    print("python selftest ok (comma-decimal locale: %s)" % (comma or "none installed"))
    tmp = os.path.join(BUILD, "selftest-tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        rc = subprocess.call(java_cmd(cp, tmp, "selftest",
                                      extra=["-Duser.language=de", "-Duser.country=DE"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        die("JVM selftest failed")


def record(cp, seed, seconds):
    """Rewrites expected_pipeline.json from one pipeline run (every pool
    query runs at least once per run)."""
    result, _, _ = run_jvm(cp, "pipeline", seed, seconds, 0)
    failed = [o for o in result["ops"] if not o["ok"]]
    if failed:
        die("cannot record: %s" % failed[:3])
    missing = set(W.PIPELINE_POOL) - set(result["digests"])
    if missing:
        die("cannot record: not run: %s" % sorted(missing))
    with open(os.path.join(HERE, "expected_pipeline.json"), "w") as f:
        json.dump(dict(sorted(result["digests"].items())), f, indent=1)
        f.write("\n")
    print("recorded %d digests" % len(result["digests"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run this many consecutive seeds and report steadiness")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true",
                    help="re-record the pipeline result digests")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("no BENCHMARK.json in %s: run from the repository root" % ROOT)
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    cp = build()
    if args.selftest:
        selftest(cp)
        return
    if args.record:
        record(cp, args.seed, args.seconds)
        return
    if not args.workload:
        die("--workload is required")
    if args.repeat:
        repeat(args, cp)
        return
    out = one_run(args, cp)
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
