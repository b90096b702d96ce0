"""Tests of the lake benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from oracle import IngestModel, Oracle  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORKLOADS = ("lookup", "mor_scan", "ingest")


def load(name):
    with open(name) as fh:
        return json.load(fh)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_operations(self):
        for w in WORKLOADS:
            self.assertEqual(gen.plan(w, 7), gen.plan(w, 7), w)

    def test_other_seed_other_operations(self):
        for w in WORKLOADS:
            self.assertNotEqual(gen.plan(w, 7)["ops"], gen.plan(w, 8)["ops"], w)

    def test_same_seed_same_rows(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            paths = [os.path.join(d, f"{i}.parquet") for i in range(3)]
            for p, seed in zip(paths, (5, 5, 6)):
                gen.write_lineitem(p, seed, 3000)
            a, b, c = (pq.read_table(p) for p in paths)
            self.assertTrue(a.equals(b))
            self.assertFalse(a.equals(c))
            self.assertEqual(a.num_rows, 3000)

    def test_mor_scan_blocks_have_the_same_mix(self):
        ops = gen.plan("mor_scan", 3)["ops"]
        for i in range(0, 400, 4):
            block = ops[i:i + 4]
            self.assertEqual(sum(op["kind"] == "lib_select" for op in block), 1)
            sql_templates = {op["sql"][:30] for op in block if op["kind"] == "select"}
            self.assertEqual(len(sql_templates), 3)

    def test_ingest_slices_are_disjoint_and_ordered(self):
        ops = gen.plan("ingest", 3)["ops"]
        kinds = [op["kind"] for op in ops[:10]]
        self.assertEqual(sorted(kinds), sorted(gen.INGEST_BLOCK))
        deletes = [op["deletes"] for op in ops if op["kind"] == "delete"]
        self.assertEqual(len(deletes), len(set(deletes)))

    def test_ingest_runs_a_fixed_number_of_statements(self):
        for seed in range(1, 6):
            plan = run.timed_plan("ingest", seed, 15)
            self.assertEqual(len(plan["ops"]), 10)
            self.assertFalse(plan["until_deadline"])
            self.assertEqual(sorted(op["kind"] for op in plan["ops"]), sorted(gen.INGEST_BLOCK))
        self.assertTrue(run.timed_plan("mor_scan", 1, 15)["until_deadline"])

    def test_warmup_leaves_the_measured_table_alone(self):
        for w in WORKLOADS:
            for op in gen.plan(w, 4)["warmup"]:
                if op["kind"] not in run.READS:
                    self.assertEqual(op.get("table"), "warm", (w, op))


class TailRuleTest(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(1, 600):
            p = stats.tail_percentile(n)
            if p is None:
                self.assertLess(stats.beyond(n, 50), 10)
                continue
            self.assertGreaterEqual(stats.beyond(n, p), 10, (n, p))
            higher = [q for q in stats.TAIL_LADDER if q > p]
            self.assertTrue(all(stats.beyond(n, q) < 10 for q in higher), (n, p))

    def test_beyond_counts_samples_above_the_percentile(self):
        for n in (20, 37, 100, 251):
            values = list(range(n))
            for p in stats.TAIL_LADDER:
                cut = stats.percentile(values, p)
                self.assertEqual(sum(v > cut for v in values), stats.beyond(n, p), (n, p))

    def test_reported_tail_follows_the_rule(self):
        t = run.tail([float(i) for i in range(40)])
        self.assertEqual((t["percentile"], t["samples"], t["beyond"], t["value"]), (75, 40, 10, 29.0))
        self.assertIsNone(run.tail([1.0] * 19)["value"])


class SelfTimeTest(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
            {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 3.0},
            {"id": 3, "parent": 1, "start_ms": 2.0, "end_ms": 5.0},   # overlaps span 2
            {"id": 4, "parent": 1, "start_ms": 8.0, "end_ms": 12.0},  # runs past its parent
            {"id": 5, "parent": 3, "start_ms": 2.5, "end_ms": 3.5},
        ]
        self_ms = stats.self_times(spans)
        self.assertAlmostEqual(self_ms[1], 10.0 - (4.0 + 2.0))
        self.assertAlmostEqual(self_ms[2], 2.0)
        self.assertAlmostEqual(self_ms[3], 3.0 - 1.0)
        self.assertAlmostEqual(self_ms[4], 4.0)
        self.assertAlmostEqual(self_ms[5], 1.0)

    def test_covered_merges_intervals(self):
        self.assertEqual(stats.covered([]), 0.0)
        self.assertEqual(stats.covered([(0, 1), (1, 2), (5, 6), (0.5, 1.5)]), 3.0)


def fake_run():
    """Runner records of a small traced run, shaped like Runner.scala's."""
    traced = {"jobs": 3, "stages": 3, "tasks": 9, "task_cpu_s": 0.2, "input_bytes": 1000,
              "records_read": 500, "shuffle_bytes": 10, "spill_bytes": 0,
              "scheduler_wait_s": 0.01,
              "catalyst": {"analysis": 0.02, "optimization": 0.01, "planning": 0.03},
              "metadata": {"manifests_read": 2, "manifests_total": 83, "files_selected": 2,
                           "files_total": 83, "json_bytes": 900}}
    ops = [dict(traced, type="op", id="f0000", kind="append_grouped", phase="fixture",
                traced=True, latency_s=2.0, gc_s=0.1, error=None, rows=[],
                data_files_added=83, data_bytes_added=10 ** 6, metadata_bytes_added=10 ** 4)]
    for i in range(8):
        op = {"type": "op", "id": f"o{i}", "kind": ["select", "lib_select", "insert", "props"][i % 4],
              "phase": "timed", "traced": i % 2 == 1, "latency_s": 0.3 + i / 100, "gc_s": 0.0,
              "error": None, "rows": []}
        if op["traced"]:
            op.update(traced, construct_s=0.1, construct_jobs=2)
        ops.append(op)
    spans = [{"type": "span", "id": 1, "parent": 0, "op": "o1", "name": "collect",
              "start_ms": 0.0, "end_ms": 100.0},
             {"type": "span", "id": 2, "parent": 0, "op": "o1", "name": "metadata.read",
              "start_ms": 100.0, "end_ms": 101.0}]
    return {"op": ops, "span": spans,
            "setup": {"session_s": 5.0, "fixture_s": 3.0, "warmup_s": 1.0, "total_s": 9.5},
            "timed": {"wall_s": 3.0, "cpu_s": 4.0, "heap_peak_mb": 800.0, "heap_live_mb": 300.0},
            "end": {"peak_rss_mb": 1500.0, "table_bytes": 2 * 10 ** 6, "data_records": 1000,
                    "dv_blobs": 4, "dv_positions": 40, "eq_keys": 3, "snapshots": 3,
                    "manifests": 85, "table_files": 200}}


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        self.bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        self.spec = load(os.path.join(BENCH, "layers.json"))

    def names(self, group):
        return {m["name"]: m["unit"] for m in self.bench[group]}

    def test_spec_and_benchmark_agree(self):
        for group in ("end_to_end", "per_layer"):
            self.assertEqual(self.names(group),
                             {m["name"]: m["unit"] for m in self.spec[group]}, group)

    def test_printed_metrics_match_benchmark(self):
        recs = fake_run()
        e2e = run.end_to_end(recs, live=900)
        self.assertEqual(set(e2e), set(self.names("end_to_end")))
        layer = run.per_layer(recs, {"o1": 100}, live=900, ref_s=[0.01], calibration=0.05)
        self.assertEqual(set(layer), set(self.names("per_layer")))
        self.assertAlmostEqual(layer["exec.s"], 0.1)
        self.assertAlmostEqual(layer["scan.read_amplification"], 5.0)
        self.assertAlmostEqual(e2e["setup_s"], 9.5)
        verdict = {"o0": "ok", "o1": "wrong"}
        extra = run.unbounded(recs, verdict, ref_s=[], inserted=30)
        self.assertEqual(set(extra), {m["name"] for m in self.spec["report_only"]})
        self.assertAlmostEqual(extra["commit_p50_s"]["value"], 0.345)  # timed insert/props only
        self.assertEqual(extra["failed_frac"]["value"], 0.5)
        self.assertEqual(extra["rows_per_s"]["value"], 10.0)
        self.assertAlmostEqual(extra["cpu_per_op_s"]["value"], 0.5)

    def test_benchmark_workloads_are_runnable(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], WORKLOADS)
        self.assertEqual(self.bench["command"], ["python3", "perfbench/run.py"])


class IngestModelTest(unittest.TestCase):
    def test_deletes_and_updates_touch_only_rows_inserted_before(self):
        with tempfile.TemporaryDirectory() as d:
            raw = os.path.join(d, "raw.parquet")
            gen.write_lineitem(raw, 1, 2000)
            oracle = Oracle(raw)
            model = IngestModel("l_orderkey <= 100")
            model.apply(0, {"deletes": "l_orderkey % 2 = 0"})
            model.apply(1, {"inserts": "l_orderkey > 100 AND l_orderkey <= 200"})
            model.apply(2, {"updates": "l_orderkey % 3 = 0"})
            count = "SELECT count(*), sum(l_quantity) FROM {t}"
            base = "SELECT count(*), sum(l_quantity) FROM raw WHERE "
            con = oracle.con
            seed_odd = con.execute(base + "l_orderkey <= 100 AND l_orderkey % 2 = 1").fetchone()
            second = con.execute(base + "l_orderkey > 100 AND l_orderkey <= 200").fetchone()
            bumped = con.execute("SELECT count(*) FROM raw WHERE l_orderkey % 3 = 0 AND "
                                 "((l_orderkey <= 100 AND l_orderkey % 2 = 1) OR "
                                 "(l_orderkey > 100 AND l_orderkey <= 200))").fetchone()[0]
            self.assertEqual(oracle.query(count, model.at(1))[0][0][0], seed_odd[0])
            n, q = oracle.query(count, model.at(3))[0][0]
            self.assertEqual(n, seed_odd[0] + second[0])
            self.assertEqual(q, seed_odd[1] + second[1] + bumped)


if __name__ == "__main__":
    unittest.main()
