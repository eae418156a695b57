"""Fast checks of the benchmark's pure helpers (no JVM, no Spark):

    python3 perfbench/test_analyze.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analyze  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(analyze.median([3, 1, 2]), 2)
        self.assertEqual(analyze.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(analyze.median([]))

    def test_tail_percentile_needs_ten_beyond(self):
        self.assertIsNone(analyze.tail_percentile(list(range(19))))
        self.assertEqual(analyze.tail_percentile(list(range(1, 21))), (50, 10))
        self.assertEqual(analyze.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(analyze.tail_percentile(list(range(1, 1001))), (99, 990))

    def test_summary(self):
        s = analyze.summary([2.0, 1.0, 3.0])
        self.assertEqual((s["median"], s["n"], s["tail"]), (2.0, 3, None))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(analyze.union_length([]), 0.0)
        self.assertEqual(analyze.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(analyze.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(analyze.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(analyze.union_length([(3, 3), (4, 2)]), 0)

    def test_clip(self):
        self.assertEqual(analyze.clip((0, 10), (2, 5)), (2, 5))
        self.assertEqual(analyze.clip((3, 4), (2, 5)), (3, 4))


class CallSites(unittest.TestCase):
    def test_frame_class(self):
        self.assertEqual(analyze.frame_class(
            "graft.Pipeline$.$anonfun$materialize$4(Pipeline.scala:310)"), "graft.Pipeline$")
        self.assertEqual(analyze.frame_class(
            "at graft.store.TableIO$.writeBucketed(TableIO.scala:200)"), "graft.store.TableIO$")
        self.assertEqual(analyze.frame_class(
            "org.apache.spark.sql.Dataset.count(Dataset.scala:3600)"), "org.apache.spark.sql.Dataset")

    def test_module_of(self):
        m = analyze.module_of
        self.assertEqual(m("graft.store.TableIO$"), "store")
        self.assertEqual(m("graft.canon.ConnectedComponents$"), "canon")
        self.assertEqual(m("graft.Pipeline$"), "pipeline")
        self.assertEqual(m("graft.Incremental$"), "incremental")
        self.assertEqual(m("graft.Queries$"), "query")
        self.assertEqual(m("graft.tools.KgCli$"), "cli")
        self.assertEqual(m("graft.tools.ScaleUpData$"), "tools")
        self.assertIsNone(m("graft.util.Materialize$"))
        self.assertIsNone(m("perfbench.Main$"))
        self.assertIsNone(m("org.apache.spark.sql.Dataset"))

    def test_first_program_frame_skips_spark_util_and_harness(self):
        details = "\n".join([
            "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:800)",
            "graft.util.Materialize$.pin(Materialize.scala:40)",
            "graft.canon.ConnectedComponents$.auto(ConnectedComponents.scala:54)",
            "graft.Pipeline$.run(Pipeline.scala:125)",
            "perfbench.IngestWorkload.op(Ingest.scala:120)",
        ])
        self.assertEqual(analyze.call_site_module(details), "canon")
        self.assertIsNone(analyze.call_site_module(
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\nperfbench.Main$.main(Main.scala:1)"))
        self.assertIsNone(analyze.call_site_module(None))

    def test_attribute_prefers_root_execution_then_stage_then_span(self):
        execs = {1: {"details": "graft.store.TableIO$.writeBucketed(TableIO.scala:1)"},
                 2: {"details": "perfbench.Main$.main(Main.scala:1)"}}
        self.assertEqual(analyze.attribute({"root": 1, "exec": 5}, execs, "cli"), ("store", "frame"))
        self.assertEqual(analyze.attribute(
            {"root": 2, "exec": 2, "site": "graft.Incremental$.x(Incremental.scala:1)"}, execs, "cli"),
            ("incremental", "frame"))
        self.assertEqual(analyze.attribute({"root": 2, "exec": 2, "site": ""}, execs, "ops"),
                         ("ops", "span"))


def agg(task_ms, durations):
    return {"tasks": len(durations), "task_ms": task_ms, "cpu_ns": task_ms * 500000,
            "gc_ms": 1, "shuffle_bytes": 1048576, "spill_bytes": 0, "io_bytes": 2097152,
            "durations": durations}


class Layers(unittest.TestCase):
    def records(self):
        none = agg(0, [])
        return [
            {"type": "op", "i": 0, "wall_s": 1.0, "traced": True},
            {"type": "span", "op": 0, "name": "ingest.append", "layer": "incremental",
             "start": 1000.0, "end": 2000.0, "wall_s": 1.0, "traced": True},
            {"type": "exec", "id": 7, "root": 7, "functions": ["dict_decode"],
             "details": "graft.store.TableIO$.writeBucketed(TableIO.scala:1)"},
            # two overlapping store jobs, one running the extractor
            {"type": "job", "id": 1, "start": 1100, "end": 1400, "exec": 7, "root": 7,
             "site": "", "all": agg(400, [100, 100, 200]), "extract": agg(100, [100]),
             "extract_spans": [[1100, 1200]]},
            {"type": "job", "id": 2, "start": 1300, "end": 1500, "exec": 7, "root": 7,
             "site": "", "all": agg(100, [100]), "extract": none, "extract_spans": []},
            # no program frame: charged to the span's layer
            {"type": "job", "id": 3, "start": 1800, "end": 2100, "exec": -1, "root": -1,
             "site": "perfbench.Main$.main(Main.scala:1)", "all": agg(50, [50]),
             "extract": none, "extract_spans": []},
            # outside every traced call: ignored
            {"type": "job", "id": 4, "start": 5000, "end": 5100, "exec": -1, "root": -1,
             "site": "", "all": agg(50, [50]), "extract": none, "extract_spans": []},
        ]

    def test_layer_table(self):
        out, extra = analyze.layer_table(self.records())
        self.assertEqual(out["store.jobs"], 2)
        self.assertAlmostEqual(out["store.busy_s"], 0.4)
        self.assertAlmostEqual(out["store.task_s"], 0.5)
        self.assertAlmostEqual(out["store.task_skew"], 2.0)
        self.assertEqual(out["incremental.jobs"], 1)
        self.assertAlmostEqual(out["incremental.busy_s"], 0.2)  # clipped at the call's end
        self.assertEqual(out["functions.jobs"], 2)
        self.assertEqual(out["extract.jobs"], 1)
        self.assertAlmostEqual(out["extract.busy_s"], 0.1)
        self.assertAlmostEqual(out["extract.task_s"], 0.1)
        # wall 1.0 s = union of job intervals (0.4 + 0.2) + driver-only time
        self.assertAlmostEqual(out["driver.only_s"], 0.4)
        self.assertEqual(out["driver.jobs"], 3)
        self.assertEqual(out["attrib.span_charged_jobs"], 1)
        self.assertAlmostEqual(out["attrib.unattributed_share"], 1 / 3)
        self.assertEqual(extra["jobs_outside_calls"], 1)
        self.assertAlmostEqual(extra["job_ms_outside_call"], 100)

    def test_phase_walls_sum_calls_per_op(self):
        span = lambda op, name, wall: {"type": "span", "op": op, "name": name, "wall_s": wall}
        records = [span(0, "ingest.append", 2.0), span(0, "ingest.read.code", 0.5),
                   span(0, "ingest.read.path", 1.0), span(0, "ingest.compact", 0.25),
                   span(0, "ingest.expire", 0.25), span(1, "ingest.read.code", 0.75),
                   {"type": "op", "i": 0, "wall_s": 4.0}]
        phases = {"ingest.append": "append_s", "ingest.read.": "read_s",
                  "ingest.compact": "maintenance_s", "ingest.expire": "maintenance_s"}
        self.assertEqual(analyze.phase_walls(records, phases),
                         {"append_s": [2.0], "read_s": [1.5, 0.75], "maintenance_s": [0.5]})

    def test_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        self.assertEqual(declared, analyze.per_layer_names())
        self.assertLessEqual(len(declared), 128)
        out, _ = analyze.layer_table(self.records())
        self.assertTrue(set(out) <= {n for n, _ in declared})


class Overhead(unittest.TestCase):
    def row(self, op_s, seed=1, digest="d", trace=0, correct=True, workload="ingest"):
        return {"workload": workload, "seed": seed, "trace": trace, "correct": correct,
                "op_s": op_s, "build_digest": digest}

    def test_only_same_build_and_workload_compare(self):
        rows = [self.row(10.0), self.row(99.0, digest="other"), self.row(50.0, trace=1),
                self.row(70.0, correct=False), self.row(80.0, workload="headline"),
                {"workload": "ingest", "seed": 1, "trace": 0, "correct": True, "op_s": 60.0}]
        o = analyze.overhead(rows, "ingest", "d", 1, 11.0)
        self.assertAlmostEqual(o["pct"], 10.0)
        self.assertEqual((o["untraced_runs"], o["seeds"]), (1, [1]))

    def test_same_seed_preferred_else_any_seed(self):
        rows = [self.row(10.0, seed=1), self.row(20.0, seed=2), self.row(40.0, seed=3)]
        self.assertAlmostEqual(analyze.overhead(rows, "ingest", "d", 2, 21.0)["pct"], 5.0)
        o = analyze.overhead(rows, "ingest", "d", 9, 22.0)
        self.assertAlmostEqual(o["pct"], 10.0)
        self.assertEqual(o["seeds"], [1, 2, 3])

    def test_none_without_comparable_runs(self):
        o = analyze.overhead([self.row(10.0, digest="other")], "ingest", "d", 1, 11.0)
        self.assertEqual(o, {"pct": None, "untraced_runs": 0, "seeds": []})


if __name__ == "__main__":
    unittest.main()
