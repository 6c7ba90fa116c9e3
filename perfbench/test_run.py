"""Tests of the benchmark's own logic: python3 -m unittest perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def fake_report(items, traced):
    """A report shaped like the harness's: a cold pass and two warm passes
    (four, half of them traced, when traced)."""
    layer = {"memo.persisted_rdds": 3, "memo.storage_mb": 1.0, "codegen.compiles": 2,
             "codegen.compile_s": 0.1, "jvm.gc_s": 0.2, "jvm.heap_peak_mb": 500.0,
             "host.steal_pct": 1.0, "host.load1_max": 2.0, "sources.disk_mb": 0.5,
             "sources.files_written": 4, "exec.jobs": 9}
    passes = []
    for n in range(1 + (4 if traced else 2)):
        its, checks = [], []
        for i, name in enumerate(items):
            it = {"name": name, "latency_s": 0.1 * (i + 1) + 0.01 * n, "cpu_s": 0.3,
                  "build_s": 0.01,
                  "action_s": 0.05, "start_ms": 0, "end_ms": 1, "ok": True}
            c = {"name": name, "ok": True, "fp": "fp-" + name}
            if name.startswith("stream:"):
                it.update({"rows": 1000, "batches_s": [0.2, 0.3]})
                c = {"name": f"{name}#{n}", "ok": True, "fp": f"fp-{name}#{n}",
                     "progress": [{k: 1 for k in (
                         "trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms",
                         "commit_offsets_ms", "state_rows", "state_mb", "state_commit_ms",
                         "state_update_ms", "rocksdb_sst_mb", "rocksdb_written_mb")}]}
            its.append(it)
            checks.append(c)
        passes.append({"pass": n, "traced": traced and (n == 0 or n % 4 in (2, 3)),
                       "wall_s": 1.0 + 0.1 * n, "cpu_s": 3.0,
                       "items": its, "checks": checks, "layer": dict(layer, **{"jvm.cpu_s": 1.5})})
    return {"jvm_setup_s": 20.0, "setup_s": [5.0, 4.0, 6.0], "jvm_tables_load_s": 12.0,
            "tables.load_s": [4.0, 3.0, 5.0],
            "tables.cached_mb": 45.0, "retained_heap_mb": 200.0, "cpus": 4,
            "passes": passes}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(12)))[0], None)
        self.assertEqual(run.tail(list(range(20)))[0], 50.0)
        self.assertEqual(run.tail(list(range(39)))[0], 50.0)
        self.assertEqual(run.tail(list(range(40)))[0], 75.0)
        self.assertEqual(run.tail(list(range(100)))[0], 90.0)
        self.assertEqual(run.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(run.tail(list(range(10000)))[0], 99.9)

    def test_value_is_the_nearest_rank_and_count_is_reported(self):
        p, v, n = run.tail(list(range(100, 0, -1)))
        self.assertEqual((p, v, n), (90.0, 90, 100))
        # exactly 10 samples lie beyond the reported value
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)


class OutputNames(unittest.TestCase):
    bench = run.load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
    spec = run.spec()

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(self.spec["workloads"]))

    def test_every_metric_is_produced_for_every_workload(self):
        e2e = [m["name"] for m in self.bench["end_to_end"]]
        layer = [m["name"] for m in self.bench["per_layer"]]
        for name, wl in self.spec["workloads"].items():
            with self.subTest(workload=name):
                m, _ = run.end_to_end(fake_report(wl["items"], traced=False))
                self.assertEqual(sorted(m), sorted(e2e))
                lm = run.per_layer(fake_report(wl["items"], traced=True), layer)
                self.assertEqual(sorted(lm), sorted(layer))
                self.assertTrue(all(isinstance(v, (int, float)) for v in lm.values()))

    def test_every_layer_metric_has_a_documented_effect(self):
        doc = self.spec["layer_effects"]
        for m in self.bench["per_layer"]:
            self.assertIn(m["name"], doc)

    def test_family_and_scenario_metrics_are_listed(self):
        layer = {m["name"] for m in self.bench["per_layer"]}
        for fam in self.spec["families"]:
            self.assertIn(f"queries.{fam}.warm_s", layer)
        for scen in self.spec["scenarios"]:
            self.assertIn(f"streaming.{scen}.rows_per_s", layer)

    def test_set_up_tables_are_input_tables(self):
        for wl in self.spec["workloads"].values():
            self.assertTrue(wl["tables"])
            self.assertLessEqual(set(wl["tables"]), set(self.spec["input_rows"]))

    def test_items_belong_to_a_family(self):
        for wl in self.spec["workloads"].values():
            for item in wl["items"]:
                if not item.startswith("stream:"):
                    self.assertIsNotNone(run.family(item, self.spec["families"]), item)


class Checks(unittest.TestCase):
    def test_a_wrong_fingerprint_counts_as_failed(self):
        rep = fake_report(["q_a", "stream:kalman"], traced=False)
        expected = {c["name"]: c["fp"] for p in rep["passes"] for c in p["checks"]}
        self.assertEqual(run.checks(rep, expected)[:2], (6, 0))
        expected["q_a"] = "other"
        self.assertEqual(run.checks(rep, expected)[:2], (6, 3))


class Expected(unittest.TestCase):
    def test_stream_fingerprints_cover_the_longest_run(self):
        expected = run.load_json(os.path.join(run.HERE, "expected.json"))
        passes = 1 + 2 * run.warm_count(10 ** 6)
        for name, wl in run.spec()["workloads"].items():
            for item in wl["items"]:
                want = [f"{item}#{n}" for n in range(passes)] \
                    if item.startswith("stream:") else [item]
                for k in want:
                    self.assertIn(k, expected[name], k)


if __name__ == "__main__":
    unittest.main()
