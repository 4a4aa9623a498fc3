"""Tests for the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class RequestStreamTest(unittest.TestCase):

    def test_same_seed_same_stream(self):
        a = gen.job_stream(7, 10, 1500)
        self.assertEqual(a, gen.job_stream(7, 10, 1500))
        self.assertNotEqual(a, gen.job_stream(8, 10, 1500))

    def test_same_seed_same_query_orders(self):
        a = gen.query_orders(3, run.BATCH_QUERIES, 5)
        self.assertEqual(a, gen.query_orders(3, run.BATCH_QUERIES, 5))
        self.assertNotEqual(a, gen.query_orders(4, run.BATCH_QUERIES, 5))
        for order in a:
            self.assertEqual(sorted(order), sorted(run.BATCH_QUERIES))

    def test_zipf_keys_repeat_a_minority(self):
        import numpy as np
        keys = gen.zipf_keys(np.random.default_rng(1), 1500, 1000)
        self.assertTrue(0 < len(set(keys)) < 1000)
        self.assertTrue(all(0 <= k < 1500 for k in keys))

    def test_every_block_has_the_same_mix(self):
        jobs = gen.job_stream(1, 6, 1500)
        per_block = gen.BLOCK_JOBS
        for b in range(6):
            block = [r for job in jobs[b * per_block:(b + 1) * per_block] for r in job]
            kinds = [r["kind"] for r in block]
            for kind, n in gen.BLOCK_READS:
                self.assertEqual(kinds.count(kind), n)
            self.assertEqual(sum(k in gen.WRITE_KINDS for k in kinds), 4)
            self.assertEqual(len(kinds), 16)  # 25% writes


class WriteScriptTest(unittest.TestCase):

    def test_each_cycle_is_net_zero(self):
        self.assertEqual(gen.net_change(gen.write_cycle("L")), (0, 0))

    def test_stream_is_net_zero_and_cycles_stay_whole(self):
        jobs = gen.job_stream(5, 20, 1500)
        self.assertEqual(gen.net_change([r for job in jobs for r in job]), (0, 0))
        cycles = [job for job in jobs if job[0]["kind"] in gen.WRITE_KINDS]
        self.assertEqual(len(cycles), 20)
        for job in cycles:
            # one job, so one client sends the four writes in script order
            self.assertEqual([r["kind"] for r in job], list(gen.WRITE_KINDS))
            self.assertEqual(len({r["arg"] for r in job}), 1)
        self.assertEqual(len({job[0]["arg"] for job in cycles}), 20)
        for job in jobs:
            if job[0]["kind"] in gen.READ_KINDS:
                self.assertEqual(len(job), 1)

    def test_a_cut_cycle_closed_by_its_delete_is_net_zero(self):
        cycle = gen.write_cycle("L")
        for cut in range(1, 4):
            self.assertEqual(gen.net_change(cycle[:cut] + [cycle[3]]), (0, 0))


class PercentileTest(unittest.TestCase):

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(90)), 90))  # 9 beyond
        xs = list(range(100))
        self.assertGreaterEqual(stats.beyond(xs, 90), stats.MIN_BEYOND_P90)
        self.assertIsNotNone(stats.tail_percentile(xs, 90))

    def test_no_end_to_end_tail_percentile(self):
        # a run has too few requests per class for a p90 (README.md)
        self.assertFalse(any("p90" in k for k in stats.END_TO_END))


class MetricNameTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_names_are_well_formed(self):
        names = list(stats.END_TO_END) + list(stats.per_layer_units())
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, stats.METRIC_NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_spec_matches_the_code(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         stats.per_layer_units())
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))


def batch_raw(checksums, wall_s=3.0, warmup=None):
    """A raw batch record with one query per checksum, each 1 s long, and
    the warm-up runs given as {query: checksum}."""
    def runs(sums):
        return [{"query": q, "start_ns": 0, "end_ns": 10**9, "rows": 1,
                 "checksum": c, "error": None} for q, c in sums.items()]
    qs = [dict(q, **{"pass": 0}) for q in runs(checksums)]
    return {"workload": "batch_cold", "setup_s": [1.0, 2.0, 3.0], "queries": qs,
            "warmup": runs(warmup or {}), "warmup_s": 4.0,
            "measure_wall_s": wall_s, "retained_heap_mb": 70.0, "session_s": 1.0,
            "main_s": 9.0}


class BatchCheckTest(unittest.TestCase):

    def test_recorded_checksums_pass(self):
        out, _ = stats.summarise(batch_raw({"q1": "a/1", "q2": "b/2"}), False,
                                 {"q1": "a/1", "q2": "b/2"})
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 2, 0))

    def test_unrecorded_query_fails(self):
        out, diag = stats.summarise(batch_raw({"q1": "a/1", "q2": "b/2"}), False,
                                    {"q1": "a/1"})
        self.assertEqual((out["correct"], out["failed"]), (False, 1))
        self.assertIn("record.py", diag["notes"][0])

    def test_wrong_checksum_fails(self):
        out, _ = stats.summarise(batch_raw({"q1": "x/1"}), False, {"q1": "a/1"})
        self.assertEqual(out["failed"], 1)

    def test_warmup_answers_are_checked(self):
        out, _ = stats.summarise(batch_raw({"q1": "a/1"}, warmup={"q1": "x/1"}), False,
                                 {"q1": "a/1"})
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))

    def test_setup_includes_the_warmup(self):
        out, _ = stats.summarise(batch_raw({"q1": "a/1"}), False, {"q1": "a/1"})
        self.assertAlmostEqual(out["metrics"]["setup_s"]["value"], 2.0 + 4.0)

    def test_missing_checksum_file_raises(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(OSError):
                stats.load_checksums(os.path.join(d, "checksums.json"))

    def test_recorded_checksums_cover_every_batch_query(self):
        checks = stats.load_checksums(os.path.join(BENCH, "checksums.json"))
        self.assertEqual(sorted(checks), sorted(run.BATCH_QUERIES))

    def test_read_latency_is_the_mean_of_per_query_medians(self):
        raw = batch_raw({"q1": "a/1", "q2": "b/2"}, wall_s=20.0)
        # q1 runs 1, 2 and 9 s over three passes, q2 1 s each time
        q1 = raw["queries"][0]
        raw["queries"] += [dict(q1, **{"pass": p, "end_ns": n * 10**9})
                           for p, n in ((1, 2), (2, 9))]
        raw["queries"] += [dict(raw["queries"][1], **{"pass": p}) for p in (1, 2)]
        out, _ = stats.summarise(raw, False, {"q1": "a/1", "q2": "b/2"})
        self.assertAlmostEqual(out["metrics"]["read_mean_ms"]["value"], (2000.0 + 1000.0) / 2)
        self.assertAlmostEqual(out["metrics"]["queries_per_s"]["value"], 6 / 20.0)

    def test_throughput_counts_the_cache_flushes(self):
        # two 1 s queries in a 3 s pass: throughput is not 1 / mean latency
        out, _ = stats.summarise(batch_raw({"q1": "a/1", "q2": "b/2"}), False,
                                 {"q1": "a/1", "q2": "b/2"})
        m = out["metrics"]
        self.assertAlmostEqual(m["queries_per_s"]["value"], 2 / 3)
        self.assertAlmostEqual(m["read_mean_ms"]["value"], 1000.0)


class TraceOverheadTest(unittest.TestCase):

    def test_overhead_needs_an_untraced_twin(self):
        self.assertIsInstance(stats.overhead_pct(None, {"queries_per_s": 1.0}), str)
        twin = {"metrics": {"queries_per_s": {"value": 2.0, "unit": "1/s"}}}
        self.assertEqual(stats.overhead_pct(twin, {"queries_per_s": 1.5}), 25.0)


class JobAttributionTest(unittest.TestCase):

    def test_autosave_jobs_by_call_site(self):
        autosave = {"group": "", "call_site": "parquet at GraphStore.scala:45\n"
                    "graft.io.GraphStore$.save(GraphStore.scala:45)\n"
                    "graft.Serve$Daemon.$anonfun$autosaveThread$1(Serve.scala:60)"}
        setup_save = {"group": "", "call_site": "parquet at GraphStore.scala:45\n"
                      "graft.io.GraphStore$.save(GraphStore.scala:45)"}
        self.assertTrue(stats._is_autosave(autosave))
        self.assertFalse(stats._is_autosave(setup_save))
        self.assertFalse(stats._is_autosave(dict(autosave, group="r7")))


class InputsTest(unittest.TestCase):

    def test_tables_are_deterministic_and_sized(self):
        a, b = gen.tables(0.001), gen.tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        n = gen.tables_counts(0.01)
        # the FK graph's node count at sf 0.01 (README.md, "Sizing")
        self.assertEqual(5 + 25 + n["customer"] + n["supplier"] + n["part"] + n["orders"],
                         18630)

    def test_expected_answers_are_canonical(self):
        with tempfile.TemporaryDirectory() as d:
            data = gen.write_tables(0.001, os.path.join(d, "sf"))
            reqs = [r for job in gen.job_stream(2, 4, 150) for r in job]
            answers = gen.expected_answers(data, reqs)
        self.assertEqual(len(answers), len(reqs))
        for r, a in zip(reqs, answers):
            self.assertEqual(gen.canonical(json.loads(a)), a)
            if r["kind"] == "legacy":
                got = json.loads(a)[0]
                self.assertEqual(got["name"], r["arg"])
                self.assertIsInstance(got["acctbal"], float)
            if r["kind"] == "merge":
                self.assertEqual(json.loads(a), 5)

    def test_request_line_round_trips(self):
        req = gen.read_request("scan", 3, "BUILDING", 4500)
        fields = gen.request_line(1, req, "[]").split("\t")
        self.assertEqual(fields[:2], ["1", "scan"])
        self.assertEqual(dict(kv.split("=", 1) for kv in fields[3].split("\x1f")),
                         req["params"])


if __name__ == "__main__":
    unittest.main()
