"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen
import metrics
import run

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


class TailRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct, n = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual((value, pct, n), (89, 90.0, 100))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(metrics.tail(xs)[0], 1.0)
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        # children cover [1, 6] and [8, 10] of the parent [0, 10]
        self.assertEqual(metrics.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]), 3)

    def test_nested_and_identical_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(2, 8), (3, 4), (2, 8)]), 4)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(5, 9, []), 4)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(metrics.union_length([(1, 1), (2, 5), (4, 7)]), 5)


class Attribution(unittest.TestCase):
    def test_innermost_operator_frame_wins(self):
        frames = ["graft.operators.Dedup$.$anonfun$connectedComponents$1(Dedup.scala:51)",
                  "graft.operators.Ops$.pin(Ops.scala:10)",
                  "graft.QueriesDedup$.$anonfun$queries$3(QueriesDedup.scala:40)"]
        self.assertEqual(metrics.attribute(frames), "operators.Dedup")

    def test_tables_then_closure_then_write(self):
        self.assertEqual(metrics.attribute(
            ["graft.Tables$.$anonfun$table$1(Tables.scala:27)",
             "graft.QueriesRelational$.$anonfun$queries$1(QueriesRelational.scala:20)"]),
            "Tables")
        self.assertEqual(metrics.attribute(
            ["graft.QueriesRelational$.$anonfun$queries$9(QueriesRelational.scala:70)"]),
            "SparkEntry")
        self.assertEqual(metrics.attribute(["perfbench.Batch.execute(Main.scala:96)"]), "write")
        self.assertEqual(metrics.attribute([]), "write")

    def test_modules_outside_the_list_count_as_other(self):
        jobs = [{"frames": ["graft.operators.Pack$.pack(Pack.scala:3)"], "start": 0, "end": 7},
                {"frames": ["graft.operators.Joins$.join(Joins.scala:9)"], "start": 2, "end": 5}]
        m = metrics._job_layers(jobs)
        self.assertEqual((m["operators.other.jobs"], m["operators.other.job_ms"]), (1, 7))
        self.assertEqual((m["operators.Joins.jobs"], m["operators.Joins.job_ms"]), (1, 3))
        self.assertEqual(m["spark.scheduler.jobs"], 2)

    def test_ingest_actions_count_only_operator_jobs(self):
        raw = ingest_raw()
        job = {"stages": [], "ok": True, "span": None, "start": 101100, "end": 101200}
        raw["trace"]["jobs"] = [
            dict(job, id=1, exec="3", frames=["perfbench.Ingest.run(Main.scala:9)"]),
            dict(job, id=2, exec="4", frames=["graft.operators.Dedup$.probe(Dedup.scala:5)"])]
        self.assertEqual(metrics.ingest_layers(raw)[0]["operators.actions"], 1)


class Ratios(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        self.assertEqual(metrics.ratio(1, 4), {"value": 0.25, "num": 1, "den": 4})
        self.assertEqual(metrics.ratio(0, 0)["value"], 0.0)

    def test_busy_ratio_is_reported_with_its_slot_time(self):
        stage = {"run_ms": 400, "cpu_ms": 300, "gc_ms": 5, "tasks": 4, "dur_max": 150,
                 "dur_med": 100, "peak_mem": 0, "write_bytes": 0, "read_bytes": 0,
                 "fetch_ms": 0, "spill_bytes": 0, "in_rows": 10, "in_bytes": 1000,
                 "delay_ms": 8}
        m = metrics._stage_layers([stage], wall_ms=200)
        self.assertEqual(m["spark.exec.slot_ms"], 200 * metrics.CORES)
        self.assertEqual(m["spark.exec.busy_ratio"], 400 / (200 * metrics.CORES))
        self.assertEqual(m["spark.exec.stage_skew"], 1.5)

    def test_batch_metrics_report_failures_with_their_base(self):
        def ex(p, q, start, end, error=None):
            return {"pass": p, "query": q, "start": start, "built": start, "end": end,
                    "cpu_s": 2 * (end - start), "error": error, "traced": False,
                    "pinned_left": 1, "tempdirs_left": 0,
                    "stored_mb": 0.0, "heap_mb": 100.0 + p}
        raw = {"setup_s": 9.0, "execs": [ex(0, "a", 0, 3), ex(0, "b", 3, 4),
                                         ex(1, "a", 10, 11), ex(1, "b", 11, 13, "boom"),
                                         ex(2, "a", 20, 21), ex(2, "b", 21, 22)]}
        e2e, extra = metrics.batch_end_to_end(raw, traced=False)
        self.assertEqual(e2e["cold_wall_s"], 4)
        self.assertEqual(e2e["cold_cpu_s"], 8)
        self.assertEqual(e2e["wall_s"], 2.5)
        self.assertEqual(e2e["cpu_s"], 5)
        self.assertEqual(e2e["latency_s"], 1.25)
        self.assertEqual(e2e["heap_live_mb"], 102.0)
        self.assertEqual(extra["failed_ratio"], {"value": 1 / 6, "num": 1, "den": 6})
        self.assertEqual(extra["pinned_left"], 2)


class Ingest(unittest.TestCase):
    def test_rows_commit_with_the_first_batch_reaching_their_offset(self):
        feed = {"n": 6, "adds": [{"offset": 1, "first": 0, "until": 2},
                                 {"offset": 2, "first": 2, "until": 5},
                                 {"offset": 3, "first": 5, "until": 6}]}
        batches = [{"end_offset": 1, "start": 10.0, "trigger_ms": 500, "input_rows": 2},
                   {"end_offset": 3, "start": 11.0, "trigger_ms": 1000, "input_rows": 4}]
        self.assertEqual(metrics.row_commits(feed, batches),
                         [10.5, 10.5, 12.0, 12.0, 12.0, 12.0])


def batch_raw():
    def ex(p, q, t, traced):
        return {"pass": p, "query": q, "start": t, "built": t + 0.1, "end": t + 1.0,
                "cpu_s": 2.5, "error": None, "traced": traced, "pinned_left": 0, "tempdirs_left": 0,
                "stored_mb": 0.0, "heap_mb": 90.0}
    execs = [ex(p, "q00", 10.0 * p, p % 2 == 0) for p in range(4)]
    stage = {"id": 1, "name": "s", "tasks": 2, "submit": 20200, "done": 20900, "run_ms": 900,
             "cpu_ms": 800.0, "gc_ms": 3, "delay_ms": 4, "in_rows": 5, "in_bytes": 50,
             "read_bytes": 0, "fetch_ms": 0, "write_bytes": 0, "spill_bytes": 0, "peak_mem": 0,
             "dur_max": 500, "dur_med": 400}
    jobs = [{"id": 1, "span": "2/q00/write", "exec": "7", "start": 20150, "end": 20950,
             "stages": [1], "frames": ["perfbench.Batch.execute(Main.scala:1)"], "ok": True}]
    sqls = [{"func": "save", "ok": True, "start": 20120, "analysis_ms": 1,
             "optimization_ms": 2, "planning_ms": 3}]
    return {"setup_s": 9.0, "start_ms": 5000.0, "execs": execs,
            "trace": {"jobs": jobs, "stages": [stage], "sqls": sqls, "batches": []}}


def ingest_raw():
    feed = {"name": "events", "first": 1, "n": 4, "rate": 2.0, "start": 100.0,
            "adds": [{"offset": 1, "first": 1, "until": 3, "at": 100.6},
                     {"offset": 2, "first": 3, "until": 4, "at": 101.1}]}
    def prog(batch, start, off):
        return {"query": "events", "batch": batch, "start": start, "trigger_ms": 400,
                "addBatch_ms": 300, "planning_ms": 20, "walCommit_ms": 30, "input_rows": 2,
                "end_offset": str(off), "state_rows": 3, "state_mb": 0.1}
    progress = [prog(0, 100.7, 1), prog(1, 101.2, 2)]
    return {"setup_s": 9.0, "start_ms": 5000.0, "cold_start": 90.0, "index_built": 95.0,
            "cold_end": 99.0, "cold_cpu_s": 20.0, "ingest_cpu_s": 7.0, "measure_start": 100.0, "feed_end": 102.0, "traced_from": 101.0,
            "drained": 102.0, "heap_mb": 80.0, "progress": progress,
            "checks": [{"name": "events", "ok": True, "got": 3, "want": 3}], "feeds": [feed],
            "trace": {"jobs": [], "stages": [], "sqls": [], "batches": progress[1:]}}


class ReportedNames(unittest.TestCase):
    """Every run reports exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        with open(BENCH) as f:
            bench = json.load(f)
        self.e2e = [m["name"] for m in bench["end_to_end"]]
        self.layers = sorted(m["name"] for m in bench["per_layer"])
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))

    def test_end_to_end(self):
        self.assertEqual(run.END_TO_END, self.e2e)
        for e2e, _ in (metrics.batch_end_to_end(batch_raw(), False),
                       metrics.ingest_end_to_end(ingest_raw(), False)):
            self.assertLessEqual(set(self.e2e), set(e2e))
            self.assertTrue(all(e2e[k] > 0 for k in self.e2e))

    def test_per_layer(self):
        for layers, _ in (metrics.batch_layers(batch_raw()), metrics.ingest_layers(ingest_raw())):
            printed = sorted(k for k in layers if metrics.printed(k))
            self.assertEqual(printed, self.layers)

    def test_tracing_overhead_is_traced_minus_untraced_wall(self):
        m = metrics.batch_layers(batch_raw())[0]
        self.assertEqual(m["trace.overhead_s"], m["trace.wall_s"] - m["trace.untraced_wall_s"])
        self.assertEqual(m["spark.planning.physical_ms"], 3)

    def test_ingest_latency_counts_from_the_due_time(self):
        e2e, extra = metrics.ingest_end_to_end(ingest_raw(), False)
        # rows 1..3 are due at 100.0, 100.5, 101.0; batches end at 101.1 and 101.6
        self.assertAlmostEqual(e2e["latency_s"], 0.6)
        self.assertAlmostEqual(extra["ingest_lag_s"], 0.6)
        self.assertAlmostEqual(e2e["cold_wall_s"], 9.0)


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Generator(unittest.TestCase):
    SF = 0.001

    def test_same_seed_same_files_other_seed_other_order(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.batch_inputs(a, self.SF, 7)
            gen.batch_inputs(b, self.SF, 7)
            gen.batch_inputs(c, self.SF, 8)
            self.assertEqual(sorted(os.listdir(a)), sorted(f"{n}.parquet" for n in gen.TABLES))
            self.assertEqual(digest(a), digest(b))
            la = pq.read_table(os.path.join(a, "lineitem.parquet"))
            lc = pq.read_table(os.path.join(c, "lineitem.parquet"))
            self.assertNotEqual(la.column("l_orderkey").to_pylist(),
                                lc.column("l_orderkey").to_pylist())
            # the same rows, in another order
            self.assertEqual(sorted(la.to_pylist(), key=str), sorted(lc.to_pylist(), key=str))

    def test_foreign_keys_resolve(self):
        t = gen.base_tables(self.SF)
        keys = lambda tb, c: set(t[tb].column(c).to_pylist())  # noqa: E731
        self.assertLessEqual(keys("lineitem", "l_orderkey"), keys("orders", "o_orderkey"))
        self.assertLessEqual(keys("lineitem", "l_partkey"), keys("part", "p_partkey"))
        self.assertLessEqual(keys("lineitem", "l_suppkey"), keys("supplier", "s_suppkey"))
        self.assertLessEqual(keys("orders", "o_custkey"), keys("customer", "c_custkey"))
        self.assertLessEqual(keys("customer", "c_nationkey"), keys("nation", "n_nationkey"))
        self.assertLessEqual(keys("nation", "n_regionkey"), keys("region", "r_regionkey"))
        for name, n in gen.sizes(self.SF).items():
            if name in t:
                self.assertEqual(t[name].num_rows, n, name)

    def test_ingest_stream_is_seeded_and_keeps_event_time_in_order(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.ingest_inputs(a, self.SF, 1, 200, 400)
            gen.ingest_inputs(b, self.SF, 2, 200, 400)
            da = pq.read_table(os.path.join(a, "stream_docs.parquet")).column("doc_id")
            db = pq.read_table(os.path.join(b, "stream_docs.parquet")).column("doc_id")
            self.assertNotEqual(da.to_pylist(), db.to_pylist())
            self.assertEqual(sorted(da.to_pylist()), sorted(db.to_pylist()))
            ev = pq.read_table(os.path.join(a, "stream_events.parquet"))
            ts = np.array(ev.column("ts").to_pylist(), dtype="datetime64[us]")
            # out-of-order by at most a few rows, far inside the watermark
            self.assertLess((np.maximum.accumulate(ts) - ts).max(), np.timedelta64(60, "s"))
            ids = ev.column("event_id").to_pylist()
            self.assertGreater(len(ids), len(set(ids)))

    def test_inputs_stay_under_the_build_directory(self):
        root = os.path.dirname(run.HERE)
        self.assertEqual(run.work_dir(root), os.path.join(root, ".bench_build"))
        with open(os.path.join(os.path.dirname(run.HERE), ".gitignore")) as f:
            self.assertIn(".bench_build/", f.read().split())


if __name__ == "__main__":
    unittest.main()
