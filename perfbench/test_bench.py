"""Self-tests of the benchmark.

    python3 perfbench/test_bench.py                      # metric logic, seconds
    GRAFTBENCH_SLOW=1 python3 perfbench/test_bench.py    # + end-to-end runs, ~4 min

The fast tests check how run.py judges a harness result: a failed or
mismatching operation raises the failure count and its pass is left out of
pass_s, so a failure can never make a pass look faster; the first timed
pass is left out of every time. The slow tests run
the real harness: once with a deliberately failing entry, and twice traced
per batch workload to check that every entry's job, stage and
skipped-stage counts repeat exactly.
"""
import copy
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

EXPECTED = {"a": {"rows": 10, "digest": "11"}, "b": {"rows": 5, "digest": "22"}}
WARMUP = [{"name": "a", "ok": True, "rows": 10, "digest": "11"},
          {"name": "b", "ok": True, "rows": 5, "digest": "22"}]


def op(name, dur, rows, ok=True):
    return {"name": name, "dur_s": dur, "rows": rows, "ok": ok, "error": "" if ok else "boom"}


def result(passes, warmup=WARMUP, workload="cdc_replication", check=None, traced=()):
    # one warm pass (pass 0) keeps the fixtures short; the harness makes two
    return {"workload": workload, "trace": bool(traced), "warmup": warmup, "warm_passes": 1,
            "check": check or {},
            "setup": {"first_timed_epoch_ms": 12_000.0, "cpu_s": 3.0, "steal_s": 0.0},
            "peak_rss_mb": 100.0,
            "session": {"cpus": 4},
            "passes": [{"index": i, "traced": i in traced, "dur_s": sum(o["dur_s"] for o in ops),
                        "cpu_s": 2 * sum(o["dur_s"] for o in ops), "steal_s": 0.0,
                        "ops": ops} for i, ops in enumerate(passes)]}


def measure(res, n=2):
    return run.metrics(res, EXPECTED, 10.0, lambda p: n)


class MetricsTest(unittest.TestCase):
    # pass 0 is the slow warm pass; passes 1-3 take 2.0, 2.1 and 2.2 s
    clean = [[op("a", 3.0, 10), op("b", 1.0, 5)],
             [op("a", 1.0, 10), op("b", 1.0, 5)],
             [op("b", 1.0, 5), op("a", 1.1, 10)],
             [op("a", 1.2, 10), op("b", 1.0, 5)]]

    def test_clean_run(self):
        e2e, _, info = measure(result(self.clean))
        self.assertEqual((info["attempted"], info["failed"]), (8, 0))
        self.assertAlmostEqual(e2e["pass_s"], 2.1)
        self.assertAlmostEqual(e2e["setup_s"], 2.0)
        # a's median is 1.1 s, b's 1.0 s
        self.assertAlmostEqual(e2e["op_ms.gmean"], (1100 * 1000) ** 0.5)
        self.assertAlmostEqual(e2e["rows_per_s"], 15 / 2.1)
        self.assertEqual(info["checks"], [])

    def test_warm_pass_counts_for_checks_but_not_for_times(self):
        failing = [list(p) for p in self.clean]
        failing[0] = [op("a", 0.01, -1, ok=False), op("b", 9.0, 5)]
        e2e, _, info = measure(result(failing))
        self.assertEqual(info["failed"], 1)
        for k in ("pass_s", "op_ms.gmean", "rows_per_s"):
            self.assertAlmostEqual(e2e[k], measure(result(self.clean))[0][k])

    def test_failing_entry_raises_error_rate_and_does_not_lower_pass_s(self):
        failing = [list(p) for p in self.clean]
        failing[1] = [op("a", 0.01, -1, ok=False), op("b", 1.0, 5)]
        e2e, _, info = measure(result(failing))
        self.assertEqual(info["failed"], 1)
        self.assertAlmostEqual(info["error_rate"], 1 / 8)
        # the 1.01 s pass is incomplete: median of the complete 2.1 and 2.2
        self.assertAlmostEqual(e2e["pass_s"], 2.15)
        self.assertGreaterEqual(e2e["pass_s"], measure(result(self.clean))[0]["pass_s"])

    def test_row_count_mismatch_is_a_failure(self):
        bad = [list(p) for p in self.clean]
        bad[2] = [op("b", 1.0, 4), op("a", 1.1, 10)]
        e2e, _, info = measure(result(bad))
        self.assertEqual(info["failed"], 1)
        self.assertAlmostEqual(e2e["pass_s"], 2.1)  # median of 2.0 and 2.2

    def test_digest_mismatch_fails_every_execution_of_the_entry(self):
        warm = [dict(WARMUP[0], digest="99"), WARMUP[1]]
        _, _, info = measure(result(self.clean, warmup=warm))
        self.assertEqual(info["failed"], 4)
        self.assertTrue(any("digest" in c for c in info["checks"]))

    def test_one_slow_execution_moves_no_median(self):
        slow = copy.deepcopy(self.clean)
        slow[3][0]["dur_s"] = 5.0  # a's slowest execution (pass 3) in a burst
        e2e, _, _ = measure(result(slow))
        clean = measure(result(self.clean))[0]
        for k in ("pass_s", "op_ms.gmean", "rows_per_s"):
            self.assertAlmostEqual(e2e[k], clean[k])

    def test_times_are_net_of_steal(self):
        # a pass that got 3 of the 4 CPU seconds it was ready to use ran 4/3
        # longer than it would have on its own, and so did its operations
        res = result(copy.deepcopy(self.clean))
        for p, stretch in zip(res["passes"], (1.0, 1.0, 4 / 3, 1.0)):
            p["dur_s"] *= stretch
            p["steal_s"] = p["cpu_s"] * (stretch - 1)
            for o in p["ops"]:
                o["dur_s"] *= stretch
        res["setup"]["steal_s"] = 1.0  # 3 of 4 ready CPU seconds
        e2e, _, _ = measure(res)
        clean = measure(result(self.clean))[0]
        for k in ("pass_s", "op_ms.gmean", "rows_per_s"):
            self.assertAlmostEqual(e2e[k], clean[k])
        self.assertAlmostEqual(e2e["setup_s"], 1.5)

    def test_trace_overhead_compares_traced_and_later_untraced_passes(self):
        # passes 1 and 3 are traced; pass 2 (2.1 s) is the untraced reference
        _, layers, _ = measure(result(self.clean, traced=(1, 3)))
        self.assertAlmostEqual(layers["trace.overhead_frac"], 2.1 / 2.1 - 1)
        _, layers, _ = measure(result(self.clean, traced=(3,)))
        self.assertAlmostEqual(layers["trace.overhead_frac"], 2.2 / 2.05 - 1)

    def test_stream_replay_mismatch_fails_every_micro_batch(self):
        passes = [[op("micro_batch", 1.0, 2000)] * 5] * 2
        ok = result(passes, warmup=[], workload="replication_stream", check={"ok": True})
        bad = result(passes, warmup=[], workload="replication_stream", check={"ok": False})
        self.assertEqual(run.metrics(ok, {}, 10.0, lambda p: 5)[2]["failed"], 0)
        self.assertEqual(run.metrics(bad, {}, 10.0, lambda p: 5)[2]["failed"], 10)

    def test_metric_tables_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


@unittest.skipUnless(os.environ.get("GRAFTBENCH_SLOW"), "set GRAFTBENCH_SLOW=1")
class EndToEndTest(unittest.TestCase):

    def test_injected_failure_is_counted_and_its_pass_left_out(self):
        r = bench("--workload", "cdc_replication", "--seed", "7", "--seconds", "5",
                  "--trace", "0", "--inject-failure")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)
        with open(os.path.join(HERE, "results", "raw-cdc_replication.json")) as f:
            raw = json.load(f)
        # the warm passes are left out of every time, the next one holds
        # the failure
        warm = raw["warm_passes"]
        self.assertFalse(raw["passes"][warm]["ops"][0]["ok"])
        rest = [run.net(p) for p in raw["passes"][warm + 1:]]
        self.assertAlmostEqual(r["metrics"]["pass_s"]["value"], statistics.median(rest))

    def test_census_repeats_across_traced_runs(self):
        for workload in ("cdc_replication", "curation_dedup"):
            census = []
            for seed in (21, 22):
                r = bench("--workload", workload, "--seed", str(seed), "--seconds", "5",
                          "--trace", "1")
                self.assertTrue(r["correct"])
                with open(run.trace_path(workload, seed)) as f:
                    census.append(json.load(f)["census"])
            self.assertTrue(census[0])
            self.assertEqual(census[0], census[1], workload)


if __name__ == "__main__":
    unittest.main()
