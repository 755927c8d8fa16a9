#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The first run builds the program and the
harness (perfbench/build.py); inputs are generated once per seed
(perfbench/gen.py).  The harness (perfbench/scala) times calls into the
program from outside and checks every output; this script reduces its
raw samples to metrics, prints them with their units, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run.  See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest", "query_mix")

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("rows_per_s", "rows/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("peak_rss_mb", "MB"),
]

# registry modules of the queries in the mix (perfbench/scala/QueryMixRun.scala)
QUERY_MODULES = ["CorpusOps", "EventOps", "ExtendedOps", "Relational", "SqlOps", "TextOps",
                 "WarehouseOps"]

PER_LAYER = [
    ("iot.build_ms", "ms"), ("iot.sorted_write_s", "s"), ("iot.validate_s", "s"),
    ("iot.serving_load_s", "s"), ("iot.lookup_ms", "ms"),
    ("iot.lookup_rows_scanned_per_row_returned", "ratio"), ("iot.store_files", "count"),
    ("iot.store_row_groups", "count"), ("iot.stored_bytes_ratio", "ratio"),
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
] + [(f"queries.{m}_s", "s") for m in QUERY_MODULES] + [
    ("plans.plan_ms", "ms"), ("operators.persisted_blocks_left", "count"),
    ("Tables.resolve_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.rows_per_batch", "rows"),
    ("streaming.trigger_ms", "ms"), ("streaming.addBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
    ("streaming.walCommit_ms", "ms"), ("streaming.commitOffsets_ms", "ms"),
    ("streaming.freshness_p50_ms", "ms"), ("streaming.freshness_tail_ms", "ms"),
    ("streaming.backlog_files_max", "count"), ("streaming.generator_late_ms", "ms"),
    ("streaming.checkpoint_mb", "MB"), ("streaming.stored_bytes_ratio", "ratio"),
    ("state.rows_total", "count"), ("state.memory_mb", "MB"), ("state.commit_ms", "ms"),
    ("state.rows_removed", "count"), ("state.rows_dropped_late", "count"),
    ("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
    ("engine.failed_tasks", "count"), ("engine.task_cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.scheduler_delay_s", "s"), ("engine.shuffle_fetch_wait_s", "s"),
    ("engine.shuffle_write_mb", "MB"), ("engine.spill_mb", "MB"), ("engine.input_mb", "MB"),
    ("engine.output_mb", "MB"), ("engine.task_skew", "ratio"),
    ("trace.overhead_s", "s"),
]

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def tail(values):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample.  With 20 samples or fewer that percentile is not
    above the median, so the largest sample stands in for the tail.
    Returns (value, percentile, n)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def java_cmd(classes, work, main, *args):
    """A fresh JVM for one harness main, with its scratch files under `work`.
    The heap and its young generation are fixed, and the parallel
    collector starts its collections when the young generation fills, not
    on timing heuristics, so peak RSS follows the work done: under G1 it
    spread by a fifth between runs of the same work.  The JIT stops at C1: in
    a one-minute run C2 never reaches its steady state, and its warm-up
    drift spread the runs' figures more than anything else.  Code cache
    flushing is off, because a sweep part-way through a run slowed
    whichever pass it fell in."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m", "-Xss4m",
             "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing",
             "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([classes, build.classpath()]), main] + list(args))


def run_jvm(classes, workload, inputs, work, seconds, trace):
    out = os.path.join(work, "raw.json")
    cmd = java_cmd(classes, work, "perfbench.Harness",
                   workload, inputs, work, str(seconds), str(trace), out)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---- query_mix verification against DuckDB ---------------------------

def canon(v):
    """A comparable, hashable rendering of one value."""
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL" if not isinstance(v, float) else "nan"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if v is pd.NA:
        return "NULL"
    return repr(v)


def digest(df):
    df = df[sorted(df.columns)]
    return sorted(tuple(canon(x) for x in row) for row in df.itertuples(index=False, name=None))


def compare(sp, du):
    """check.py's rules, order-insensitive: same columns, row count and
    dtypes, and the same multiset of exact row values."""
    if sorted(sp.columns) != sorted(du.columns):
        return f"columns {sorted(sp.columns)} vs oracle {sorted(du.columns)}"
    if len(sp) != len(du):
        return f"rows {len(sp)} vs oracle {len(du)}"
    dt = [f"{c}:{sp[c].dtype}/{du[c].dtype}" for c in sp.columns
          if str(sp[c].dtype) != str(du[c].dtype)]
    if dt:
        return "dtypes " + ", ".join(dt)
    if digest(sp) != digest(du):
        return "values differ from oracle"
    return None


def verify_query_mix(inputs, work, queries, thrown):
    """Returns {query: problem} for each query whose verification-pass
    result differs from its DuckDB oracle or, without one, is empty."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(inputs, "tables", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = dict(thrown)
    for q in sorted(set(queries) - set(bad)):
        d = os.path.join(work, "verify", q)
        try:
            if not os.path.exists(os.path.join(d, "_SUCCESS")):
                bad[q] = "no committed output"
                continue
            files = glob.glob(os.path.join(d, "*.parquet"))
            sp = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df() if files else None
            if q not in oracle:
                if sp is None or len(sp) == 0:
                    bad[q] = "query without an oracle returned no rows"
                continue
            du = con.sql(oracle[q]).df()
            if sp is None:
                if len(du):
                    bad[q] = f"spark empty, oracle {len(du)} rows"
                continue
            problem = compare(sp, du)
            if problem:
                bad[q] = problem
        except Exception as e:  # an oracle or read failure is a failed check
            bad[q] = f"{type(e).__name__}: {e}"[:300]
    return bad


# ---- reduction --------------------------------------------------------

def reduce_query_mix(raw, bad):
    """Each verification op, and each timed op of a query whose verified
    result is wrong, counts as failed; a failed op contributes no time.
    The traced half's ops count but are not timed."""
    queries = {o["q"] for o in raw["ops"]}
    attempted, failed = len(queries), len(queries & set(bad))
    lat, by_pass = [], {}
    for o in raw["ops"]:
        attempted += 1
        ok = o["ms"] >= 0 and o["q"] not in bad
        failed += not ok
        if ok and not o["traced"]:
            lat.append(o["ms"])
            by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["ms"] / 1000.0
    passes = [by_pass[p] for p in sorted(by_pass)]
    rates = [r / p for r, p in zip(raw.get("pass_rows", []), passes) if p > 0]
    return attempted, failed, lat, passes, rates


def store_layout(store_dir):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(store_dir, "*.parquet"))
    groups = sum(pq.ParquetFile(f).num_row_groups for f in files)
    return len(files), groups


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    inputs = gen.ensure(root, a.workload, a.seed)
    work = os.path.join(root, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace)

    attempted, failed = raw["attempted"], raw["failed"]
    lat, passes = raw["lat_ms"], raw["pass_s"]
    rates = [raw["rows_per_pass"] / p for p in passes if p > 0]
    if a.workload == "query_mix":
        bad = verify_query_mix(inputs, work, {o["q"] for o in raw["ops"]},
                               raw["verify_errors"])
        attempted, failed, lat, passes, rates = reduce_query_mix(raw, bad)
        raw["errors"] += [f"{q}: {why}" for q, why in sorted(bad.items())]
    for e in raw["errors"][:20]:
        print(f"# FAILED {e}")

    p50 = median(lat)
    tv, tp, tn = tail(lat)
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median(passes),
        "rows_per_s": median(rates),
        "latency_p50_ms": p50,
        "latency_tail_ms": tv,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"passes={len(passes)} samples={len(lat)}")
    print(f"# error_rate={failed / max(1, attempted):.6f} ({failed}/{attempted} ops)")
    print(f"# latency tail is p{tp:.1f} of {tn} samples")
    if a.trace:
        layers = dict(raw["layers"])
        if a.workload == "ingest":
            layers["iot.store_files"], layers["iot.store_row_groups"] = store_layout(raw["store_dir"])
            layers["iot.stored_bytes_ratio"] = raw["iot_stored_bytes"] / raw["iot_input_bytes"]
            layers["streaming.stored_bytes_ratio"] = (raw["events_stored_bytes"]
                                                      / raw["events_input_bytes"])
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
