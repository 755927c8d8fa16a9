"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The generator test compiles the program (perfbench/build.py) and runs
one small Spark job; the others are pure Python.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "selftest")


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        for name, fn in (("ingest", gen.gen_ingest),
                         ("query_mix", lambda out, seed: gen.gen_query_mix(out, seed, sf=0.001))):
            a, b, c = fresh(f"{name}-a"), fresh(f"{name}-b"), fresh(f"{name}-c")
            fn(a, 7)
            fn(b, 7)
            fn(c, 8)
            self.assertTrue(same_tree(a, b), f"{name}: seed 7 twice differs")
            self.assertFalse(same_tree(a, c), f"{name}: seeds 7 and 8 agree")

    def test_expected_counts_match_transforms(self):
        """The generator's own expectations equal what graft.iot.Transforms
        makes of the same CSV: per-row duration_sec, label and orig_bytes,
        hence also the row, NULL-duration and malicious counts."""
        d = fresh("transforms")
        exp = gen.gen_iot_refresh(d, 11, rows=3000, files=2, lookups=20)
        out = os.path.join(d, "spark.tsv")
        cmd = run.java_cmd(build.build(), d, "perfbench.SelfCheck",
                           os.path.join(d, "csv"), out, d)
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300)
        got = {}
        with open(out) as f:
            for line in f.read().splitlines():
                uid, label, dur, ob = line.split("\t")
                got[uid] = (label, None if dur == "\\N" else float(dur),
                            None if ob == "\\N" else int(ob))
        want = {u: (label, sec, ob) for u, label, sec, ob in exp}
        self.assertEqual(len(got), len(exp))
        self.assertEqual(got, want)
        counts = gen.expected_counts(exp)
        self.assertEqual(counts["null_durations"], sum(v[1] is None for v in got.values()))
        self.assertEqual(counts["malicious_rows"],
                         sum(v[0] == "Malicious" for v in got.values()))
        # every duration class of fixtures/iot_conn.csv is present
        with open(os.path.join(d, "csv", "part-000.csv")) as f:
            durations = {line.split(",")[7] for line in f.read().splitlines()[1:]}
        self.assertIn("-", durations)
        self.assertIn("", durations)
        self.assertTrue(any(x.endswith(" days abc") for x in durations))
        self.assertTrue(any(" days " in x and ":" in x for x in durations))

    def test_event_files_keep_their_promises(self):
        """Duplicates, bounded lateness and per-user heartbeats."""
        import numpy as np
        files = list(gen.event_files(3, 4, 20, gen.EVENT_ROWS_PER_FILE))
        ids = np.concatenate([f["event_id"] for f in files])
        self.assertGreater(len(ids), len(np.unique(ids)))
        span = gen.EVENT_FILE_SPAN_S * 10**9
        for k, f in enumerate(files):
            self.assertEqual(len(f["event_id"]), gen.EVENT_ROWS_PER_FILE)
            start = gen.T0_NS + k * span
            self.assertTrue((f["ts"] < start + span).all())
            # a resent event from the previous file is up to one span older
            self.assertTrue((f["ts"] >= start - span - gen.EVENT_MAX_LATENESS_S * 10**9).all())
        for k in range(len(files) - gen.EVENT_HEARTBEAT_FILES):
            window = np.concatenate([files[j]["user_id"]
                                     for j in range(k, k + gen.EVENT_HEARTBEAT_FILES)])
            self.assertEqual(len(np.unique(window)), gen.EVENT_USERS)


class ReductionTest(unittest.TestCase):

    def test_tail_is_eleventh_largest_above_twenty_samples(self):
        v, p, n = run.tail(list(range(1, 101)))
        self.assertEqual((v, p, n), (90, 90.0, 100))
        v, p, n = run.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, n), (5.0, 100.0, 3))
        v, p, n = run.tail(list(range(20)))       # p50 would not be a tail
        self.assertEqual((v, p, n), (19, 100.0, 20))
        v, p, n = run.tail(list(range(21)))
        self.assertEqual(v, 10)
        self.assertEqual(run.tail([]), (0.0, 0.0, 0))

    def test_failed_op_counts_and_is_never_timed(self):
        raw = {"ops": [
            {"pass": 1, "q": "a", "ms": 10.0, "traced": False},
            {"pass": 1, "q": "b", "ms": -1.0, "traced": False},   # threw
            {"pass": 1, "q": "c", "ms": 30.0, "traced": False},   # wrong result
            {"pass": 2, "q": "a", "ms": 12.0, "traced": True},
        ], "pass_rows": [100]}
        attempted, failed, lat, passes, rates = run.reduce_query_mix(raw, {"c": "differs"})
        self.assertEqual(attempted, 3 + 4)        # three verifications, four timed ops
        self.assertEqual(failed, 1 + 2)           # c's verification; b and c timed
        self.assertEqual(lat, [10.0])
        self.assertEqual(passes, [0.01])
        self.assertEqual(rates, [100 / 0.01])

    def test_benchmark_json_declares_the_reported_metrics(self):
        import json
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in b["workloads"]), run.WORKLOADS)

    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": [0.5, float("nan")]})
        b = pd.DataFrame({"y": [float("nan"), 0.5], "x": [2, 1]})
        self.assertIsNone(run.compare(a, b))
        self.assertIsNotNone(run.compare(a, b.assign(x=[2, 3])))


if __name__ == "__main__":
    unittest.main()
