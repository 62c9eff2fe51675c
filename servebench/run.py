"""The repository benchmark: served Cypher reads, filing ingest under view
traffic, and persisted-index maintenance, measured end to end and per
layer. See servebench/README.md for the workloads and metrics.

Usage (from the repository root):
  python3 servebench/run.py --workload W --seed N --seconds S --trace 0|1
      W: serve_cypher | ingest_index (the two in BENCHMARK.json), or
         ingest_views | index_lifecycle (on demand; see README.md)
  python3 servebench/run.py --selftest
  python3 servebench/run.py --verify-index

Builds the program from source on first use (build.py), generates the
seeded inputs (gen.py), runs the workload in one JVM, checks every
answer, prints a report, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero on a wrong
answer or any failed operation.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("serve_cypher", "ingest_index", "ingest_views", "index_lifecycle")
# The JVM's time limit is the measured seconds plus this allowance for
# boot, set-up, answer checks and exit: 15 measured seconds end within
# 180 s (a first build in a checkout comes on top).
ALLOWANCE_S = 160
INDEX_HASHES = os.path.join(HERE, "index_hashes.json")
# Per-layer metrics printed in the report but left out of the result
# line: each is 0 in every passing run (a timeout, a reject or a trace
# coverage miss fails the run; nothing spills at these input sizes).
REPORT_ONLY_LAYERS = ("serve.timeouts", "serve.rejects", "spark.spill_bytes",
                      "trace.requests_over_tolerance")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def host_sample():
    """(1-min loadavg, steal jiffies) — raw, for the run's host stamp."""
    try:
        load = float(open("/proc/loadavg").read().split()[0])
        cpu = next(l for l in open("/proc/stat") if l.startswith("cpu "))
        steal = int(cpu.split()[8])
    except (OSError, ValueError, IndexError, StopIteration):
        return None, None
    return load, steal


def git_commit():
    try:
        r = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def inputs(seed):
    """Generated input tables for this seed (made once per checkout)."""
    d = os.path.join(WORK, "inputs", str(seed))
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.main_args(d, seed)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_jvm(cp, workload, seed, seconds, trace, data, budget_s, extra=()):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, out = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "out")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir; the
    # run writes only under servebench/.work
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "servebench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", data, "--work", os.path.join(run_dir, "store"),
              "--out", out, "--hashes", INDEX_HASHES] + list(extra))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, cwd=run_dir)
    try:
        stdout, stderr = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit(f"servebench: {workload} did not finish within {budget_s:.0f} s")
    if proc.returncode != 0:
        sys.stderr.write(stderr[-6000:])
        sys.exit(f"servebench: the JVM exited with {proc.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def check_gates(res, out, data):
    """Each index gate's output against its DuckDB oracle over the same
    parquet, compared as check.py does (columns by name, rows sorted,
    values as text). Returns [(gate, problem)]."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute("SET memory_limit = '4GB'")
    for t in ("region", "nation", "customer", "supplier", "orders",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")

    def canon(df):
        cols = sorted(df.columns)
        dt = {c for c in cols if pd.api.types.is_datetime64_any_dtype(df[c])}
        rows = []
        for r in df[cols].itertuples(index=False):
            vals = []
            for c, v in zip(cols, r):
                s = str(v)
                if c in dt and s.endswith(" 00:00:00"):
                    s = s[:-len(" 00:00:00")]
                vals.append(s)
            rows.append(tuple(vals))
        return sorted(rows)

    fails = []
    for gate, sql in res["notes"]["oracle_sql"].items():
        path = os.path.join(out, "gates", gate)
        if not os.path.isdir(path):
            fails.append((gate, "no output"))
            continue
        got = pq.read_table(path).to_pandas()
        # DuckDB 1.0 inlines t75's non-recursive CTEs into every step of
        # its recursive closures and runs out of memory; materializing
        # each CTE once changes no result
        want = con.execute(re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).df()
        if sorted(got.columns) != sorted(want.columns):
            fails.append((gate, f"columns {sorted(got.columns)} vs oracle "
                                f"{sorted(want.columns)}"))
        elif canon(got) != canon(want):
            fails.append((gate, f"{len(got)} rows differ from the DuckDB "
                                f"oracle's {len(want)}"))
    return fails


# The end-to-end metrics of BENCHMARK.json, defined for every workload.
# op_p50_ms is the median read: a served Cypher read on serve_cypher and
# ingest_views, a view read on ingest_index (a gate call on
# index_lifecycle, which has no reads). ops_per_s counts reads per second
# on the request workloads and every timed batch call (filing write,
# view read, gate) per second of pass time on the batch ones. No tail
# percentile: a 10 s serve run has about 30-40 reads, so its p95 rests
# on about 2 samples; read_p95_ms stays in the report.
def contract_e2e(res):
    e, n = res["e2e"], res["notes"]
    v = lambda k: e[k]["value"]  # noqa: E731
    if "op_p50_ms" in n:  # a batch workload
        p50, rate = float(n["op_p50_ms"]), float(n["ops_per_s"])
    else:
        p50, rate = v("read_p50_ms"), v("read_qps")
    return {
        "setup_s": (v("setup_s"), "s"),
        "op_p50_ms": (p50, "ms"),
        "ops_per_s": (rate, "1/s"),
        "heap_live_mb": (v("heap_live_mb"), "MB"),
    }


def last_untraced_path(workload):
    return os.path.join(WORK, f"last_untraced_{workload}.json")


def report(res, stamp, metrics, overhead):
    p = lambda s: print(s, flush=True)  # noqa: E731
    p(f"# servebench {res['workload']}  seed={res['seed']}  "
      f"trace={int(res['trace'])}")
    p("# host " + json.dumps(stamp, sort_keys=True))
    p(f"# operations attempted={res['attempted']} failed={res['failed']}")
    for f in res["failures"][:50]:
        p(f"# FAIL {f['kind']:<9} {f['op']}: {f['msg']}")
    for name, m in res["e2e"].items():
        val = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        extra = ""
        if name == "fail_ratio":
            extra = f"  (base: {res['attempted']} operations)"
        p(f"e2e   {name:<34} {val:>14} {m['unit']}{extra}")
    for name, (val, unit) in metrics.items():
        p(f"bench {name:<34} {val:>14.6g} {unit}")
    if res["trace"]:
        for name, m in res["layers"].items():
            p(f"layer {name:<34} {m['value']:>14.6g} {m['unit']}")
        for name, d in sorted(overhead.items()):
            p(f"trace overhead {name:<25} {d:>+14.6g}")
        for name, s in sorted(res["notes"].get("span_self", {}).items()):
            p(f"span  {name:<34} count={s['count']:<7} self_ms={s['self_ms']:.3f}")
    for k, v in res["notes"].items():
        if k not in ("oracle_sql", "span_self", "hashes"):
            p(f"note  {k:<34} {v}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--verify-index", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.verify_index:
        return verify_index()
    if not a.workload:
        ap.error("--workload is required")
    res = bench(a.workload, a.seed, a.seconds, a.trace)
    return 0 if res["correct"] and res["failed"] == 0 else 1


def bench(workload, seed, seconds, trace, inject=False):
    """One run: report, then the result line. Returns the JVM's result
    with `correct` set."""
    load0, steal0 = host_sample()
    cp = build.build()  # only the first run in a checkout compiles
    t_start = time.time()
    data = inputs(seed)
    budget = ALLOWANCE_S + seconds - (time.time() - t_start)
    res, _ = run_jvm(cp, workload, seed, seconds, trace, data, budget,
                     ["--inject", "1"] if inject else [])
    attempted = max(1, res["attempted"])
    res["e2e"]["fail_ratio"]["value"] = res["failed"] / attempted
    load1, steal1 = host_sample()
    stamp = {"nproc": os.cpu_count(), "spark_cores": res["spark_cores"],
             "seed": seed, "git_commit": git_commit(),
             "loadavg_start": load0, "loadavg_end": load1,
             "steal_jiffies_start": steal0, "steal_jiffies_end": steal1}
    e2e = contract_e2e(res)

    overhead = {}
    if trace:
        prev = last_untraced_path(workload)
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)
            if base.get("seed") == seed:
                overhead = {k: e2e[k][0] - base["metrics"][k]["value"]
                            for k in e2e if k in base["metrics"]}
    else:
        with open(last_untraced_path(workload), "w") as f:
            json.dump({"seed": seed, "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}, f)

    report(res, stamp, e2e, overhead)
    with open(os.path.join(WORK, f"report_{workload}_{int(trace)}.json"), "w") as f:
        json.dump({"host": stamp, "result": res}, f, indent=1)

    res["correct"] = not any(f["kind"] == "wrong" for f in res["failures"])
    if trace:
        metrics = {k: {"value": m["value"], "unit": m["unit"]}
                   for k, m in res["layers"].items() if k not in REPORT_ONLY_LAYERS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return res


def verify_index():
    """Run one index pass, check every gate's output against its DuckDB
    oracle, and record the output hashes as the verified answers. The
    index corpus is fixed (gen.CORPUS_SEED), so this is needed only when
    the gates or the corpus change."""
    cp = build.build()
    data = inputs(1)
    res, out = run_jvm(cp, "index_lifecycle", 1, 1, 0, data, 24 * 3600,
                       ["--verify", "1"])
    if res["failed"]:
        sys.exit(f"verify-index: gates failed: {res['failures']}")
    fails = check_gates(res, out, data)
    for gate, msg in fails:
        print(f"verify-index: FAIL {gate}: {msg}")
    if fails:
        return 1
    with open(INDEX_HASHES, "w") as f:
        json.dump(res["notes"]["hashes"], f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"verify-index: {len(res['notes']['hashes'])} gates match their "
          f"oracles; hashes written to {INDEX_HASHES}")
    return 0


def selftest():
    """Inject one throwing operation and one wrong answer into a short
    serve_cypher run; both must be counted and named, and the run must
    report itself incorrect."""
    res = bench("serve_cypher", 1, 3, 0, inject=True)
    kinds = {(f["op"], f["kind"]) for f in res["failures"]}
    ok = (("selftest_throw", "exception") in kinds
          and ("selftest_wrong", "wrong") in kinds and not res["correct"])
    print(f"selftest: {'PASS' if ok else 'FAIL'} (failures: {sorted(kinds)})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
