"""Self-test of the benchmark: every workload at a tiny size.

Runs each workload of BENCHMARK.json and each extra workload once untraced
and once traced, at sf0.01 with one cycle of ops, and
checks that every metric the benchmark names is emitted. From the root of
a checkout:

    python3 -m unittest discover -s perfbench/tests -v

It builds the benchmark first if needed and takes several minutes.
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)
with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
    SPEC = json.load(f)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run as bench  # noqa: E402

WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]] + list(bench.EXTRA_WORKLOADS)
BASKET = ["q238_hits", "q310_neighborhood_clusters", "q202_mad_outliers",
          "q212_weighted_quantiles", "q225_spearman", "q205_association_rules",
          "q279_silhouette", "q29_minhash_lsh", "q67_tfidf_keywords",
          "q169_sql_topk_per_group", "q92_rolling_window", "q72_hll_distinct", "q136_tpch_q5"]


def run(workload, trace):
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
               "--sf", "0.01", "--max-ops", "1",
               # a basket pass alone takes over 30 s at sf0.01 on 4 cores
               "--timeout", "800"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.rstrip("\n").split("\n")
    record = re.search(r"full record: (\S+)", proc.stdout).group(1)
    with open(os.path.join(ROOT, record)) as f:
        return lines[-1], json.load(f)


def named_metrics(workload):
    return [m["name"] for m in SPEC["end_to_end_named"]
            if "all" in m["workloads"] or workload in m["workloads"]]


def layer_metrics():
    names = []
    for layer in SPEC["layers"]:
        for m in layer["metrics"]:
            names += [m.replace("<query>", q) for q in BASKET] if "<query>" in m else [m]
    return names


class SelfTest(unittest.TestCase):
    exercised = set()

    def check_summary(self, line, wanted):
        self.assertLess(len(line), 2000, "summary line must stay under 2000 characters")
        summary = json.loads(line)
        self.assertEqual(set(summary), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(summary["attempted"], 1)
        self.assertEqual(set(summary["metrics"]), set(wanted))
        for m in summary["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], (int, float))
        return summary

    def test_workloads(self):
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                line, rec = run(w, 0)
                self.check_summary(line, [m["name"] for m in BENCHMARK["end_to_end"]])
                for name in named_metrics(w):
                    self.assertIn(name, rec["end_to_end"], f"{w} does not emit {name}")
                    self.assertIn("n", rec["end_to_end"][name])
                print(f"{w}: error_rate {rec['end_to_end']['error_rate']['value']}"
                      f" errors {rec['errors'][:3]}", file=sys.stderr)
            with self.subTest(workload=w, trace=1):
                line, rec = run(w, 1)
                self.check_summary(line, [m["name"] for m in BENCHMARK["per_layer"]])
                self.assertTrue(rec["tracing_overhead_s"], "no tracing overhead")
                self.assertTrue(rec["notes"].get("self_time_s"), "no self times")
                self.assertTrue(os.path.exists(os.path.join(ROOT, rec["notes"]["spans_file"])))
                not_exercised = set(rec["per_layer_not_exercised"])
                SelfTest.exercised |= set(rec["per_layer"]) - not_exercised
        missing = [m for m in layer_metrics() if m not in SelfTest.exercised]
        self.assertEqual(missing, [], "per-layer metrics no workload emits")


if __name__ == "__main__":
    unittest.main()
