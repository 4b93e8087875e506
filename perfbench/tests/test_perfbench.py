"""Tests of the benchmark's own logic (no JVM needed).

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
from run import same_tree  # noqa: E402

BENCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(range(1, 201)), (95.0, 190, 10))
        self.assertEqual(metrics.tail(range(1, 1001)), (99.0, 990, 10))
        self.assertEqual(metrics.tail(range(1, 41)), (75.0, 30, 10))

    def test_no_percentile_without_ten_beyond(self):
        self.assertIsNone(metrics.tail(range(1, 16)))
        self.assertIsNone(metrics.tail([]))
        self.assertIsNone(metrics.tail([5.0] * 100))  # ties: nothing beyond

    def test_latency_reports_sample_count(self):
        lat = metrics.latency([float(x) for x in range(1, 201)])
        self.assertEqual(lat["n"], 200)
        self.assertEqual(lat["p50_ms"], 100.5)
        self.assertEqual(lat["tail"], {"p": 95.0, "ms": 190.0, "beyond": 10})


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            a, b = os.path.join(self.tmp, w + "_a"), os.path.join(self.tmp, w + "_b")
            self.assertEqual(gen.generate(w, 5, a), gen.generate(w, 5, b))
            self.assertTrue(same_tree(a, b), w)

    def test_seed_changes_inputs(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.generate("curation_batch", 1, a)
        gen.generate("curation_batch", 2, b)
        self.assertFalse(same_tree(a, b))

    def test_feed_shares_as_stated(self):
        import pyarrow.parquet as pq
        d = os.path.join(self.tmp, "ingest")
        p = gen.generate("ingest_upsert", 3, d)
        with open(os.path.join(d, "staging", "batch_0000.csv")) as f:
            self.assertEqual(len(f.read().splitlines()) - 1, gen.FEED_ROWS)
        truth = pq.read_table(os.path.join(d, "feed_truth.parquet")).to_pydict()
        ids = [i for i, b in zip(truth["event_id"], truth["batch"]) if b == 0]
        self.assertEqual(len(set(ids)), len(ids))  # unique within a batch
        self.assertEqual(sum(1 for i in ids if i >= p["events"]), p["feed_new_per_batch"])
        self.assertEqual(sum(1 for i in ids if i < p["events"]), p["feed_supersede_per_batch"])
        self.assertEqual(gen.FEED_ROWS - len(ids), p["feed_malformed_per_batch"])

    def test_base_tables_are_sf01(self):
        """The store is seeded with the sf0.1 events as they are; the
        curation corpus holds sf0.1 documents plus near-duplicates only."""
        import filecmp
        import pyarrow.parquet as pq
        d = os.path.join(self.tmp, "ingest")
        gen.generate("ingest_upsert", 4, d)
        for t in ("events", "documents"):
            self.assertTrue(filecmp.cmp(os.path.join(d, t + ".parquet"),
                                        os.path.join(gen.BASE, t + ".parquet"), shallow=False))
        c = os.path.join(self.tmp, "curation")
        p = gen.generate("curation_batch", 4, c)
        base = pq.read_table(os.path.join(gen.BASE, "documents.parquet")).to_pylist()
        by_id = {r["doc_id"]: r for r in base}
        docs = pq.read_table(os.path.join(c, "documents.parquet")).to_pylist()
        kept = [r for r in docs if r["doc_id"] in by_id]
        self.assertEqual(len(kept), gen.N_DOCS_CURATION)
        self.assertTrue(all(r == by_id[r["doc_id"]] for r in kept))
        self.assertEqual(len(docs) - len(kept), p["near_dup_documents"])


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(BENCH) as f:
            self.b = json.load(f)

    def test_keys_and_limits(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], gen.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_metric_name_grammar(self):
        names = [w["name"] for w in self.b["workloads"]]
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["name"], metrics.NAME_RE)
            self.assertRegex(m["unit"], metrics.UNIT_RE)
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertEqual(len(names), len(set(names)))


def _ops(workload, traced):
    """Synthetic harness records: two passes / cycles of the workload."""
    layers = {f: 1.0 for f in ("qes", "analysis_ms", "optimization_ms", "planning_ms", "jobs",
                               "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
                               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                               "output_bytes", "scan_rows", "scan_bytes", "files_read",
                               "compiles", "compile_ms", "trigger_ms", "add_batch_ms", "stream_planning_ms",
                               "wal_commit_ms", "stream_input_rows")}
    layers["job_spans"] = [[1000, 1005]]
    kinds = {"curation_batch": [("key", "t37_span_removal"), ("key", "d03_minhash_lsh")],
             "ingest_upsert": [("commit", "batch_0002"), ("read", "event")]}[workload]
    ops = []
    for p in (1, 2):
        for kind, key in kinds:
            ops.append({"i": len(ops), "kind": kind, "key": key, "pass": p, "traced": traced,
                        "ok": True, "start_ms": 1000, "wall_ms": 10.0, "build_ms": 4.0,
                        "exec_ms": 6.0, "rows": 3, "layers": layers if traced else None})
    return ops


class PrintedMetricsTest(unittest.TestCase):
    """The metric set printed for each workload equals the declared set."""

    def test_sets_match_declaration(self):
        e2e_decl, layer_decl = metrics.declared(BENCH)
        props = {"documents": 600, "feed_new_per_batch": 1200, "feed_supersede_per_batch": 720}
        summary = {"rss_peak_mb": 1000.0, "heap_peak_mb": 500.0, "jvm_gc_ms": 20}
        spans = [{"op": 0, "name": "op", "id": "op-0", "parent": None, "start_ms": 1000, "end_ms": 1010},
                 {"op": 0, "name": "job", "id": "job-1", "parent": "op-0", "start_ms": 1000, "end_ms": 1005}]
        for w in gen.WORKLOADS:
            un, tr = _ops(w, False), _ops(w, True)
            e2e = metrics.end_to_end(w, un, summary, 12.5, props)
            self.assertEqual(set(e2e), {m["name"] for m in e2e_decl}, w)
            self.assertTrue(all(v["value"] for v in e2e.values()), w)
            lay = metrics.per_layer(w, tr, summary, spans, 0.01)
            self.assertEqual(set(lay), {m["name"] for m in layer_decl}, w)
            units = {m["name"]: m["unit"] for m in e2e_decl + layer_decl}
            for name, v in list(e2e.items()) + list(lay.items()):
                self.assertEqual(v["unit"], units[name])
                self.assertIsNotNone(v["value"])

    def test_ingest_unit_is_commit_plus_read(self):
        ops = _ops("ingest_upsert", False)
        ops[1]["wall_ms"] = 30.0
        props = {"feed_new_per_batch": 1200, "feed_supersede_per_batch": 720}
        e2e = metrics.end_to_end("ingest_upsert", ops, {}, 1.0, props)
        self.assertEqual(e2e["op_p50_ms"]["value"], 30.0)  # cycles of 40 and 20 ms
        self.assertAlmostEqual(e2e["throughput_per_s"]["value"], 1920 * 2 / 0.06)

    def test_self_share_is_wall_minus_child_union(self):
        spans = [{"op": 3, "name": "op", "id": "op-3", "parent": None, "start_ms": 0, "end_ms": 100},
                 {"op": 3, "name": "job", "id": "job-1", "parent": "op-3", "start_ms": 10, "end_ms": 40},
                 {"op": 3, "name": "job", "id": "job-2", "parent": "op-3", "start_ms": 30, "end_ms": 50},
                 {"op": 3, "name": "stage", "id": "stage-1.0", "parent": "job-1", "start_ms": 10, "end_ms": 90}]
        self.assertAlmostEqual(metrics.self_shares(spans)[3], 0.6)


if __name__ == "__main__":
    unittest.main()
