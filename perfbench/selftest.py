#!/usr/bin/env python3
"""The benchmark's own tests; they need DuckDB but no JVM.

    python3 perfbench/selftest.py

Run from the root of a checkout.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
import trace_report  # noqa: E402


def fake_result(traced_passes=False):
    execs = [{"q": q, "s": s, "ok": True}
             for q, s in (("qa", 1.0), ("qb", 2.0), ("qc", 3.0))]
    passes = [{"traced": traced_passes and i in (1, 2), "wall_s": 6.0 + i * i,
               "execs": execs} for i in range(4)]
    return {"workload": "w", "setup_s": 9.0,
            "session_s": 5.0, "load_s": 4.0,
            "warmup_s": 12.5, "warmup": execs, "passes": passes,
            "storage_peak_bytes": 4500000, "errors": {}}


def fake_trace(path, overlap_ms=0):
    """Two traced passes of one query; every event is 10 ms into its span.
    `overlap_ms` moves the planning phases that far into the action's
    stage, as if one of them were counted twice."""
    ms = 1_000_000
    spans, jobs, stages, phases = [], [], [], []

    def span(name, qid, parent, start, end, **attrs):
        spans.append(dict({"id": len(spans), "name": name, "qid": qid,
                           "parent": parent, "start_ns": start * ms,
                           "end_ns": end * ms}, **attrs))
        return len(spans) - 1

    for k in range(2):
        t = 10_000 + 5_000 * k
        p = span("pass_traced", str(k), -1, t, t + 1_000)
        q = span("query", "qa", p, t, t + 1_000, frame_hits="3",
                 frame_misses="1", fs_read_bytes="2000000")
        span("build", "qa", q, t, t + 400)
        span("action", "qa", q, t + 400, t + 1_000)
        jobs.append({"id": 2 * k, "start_ms": t + 10, "stages": [2 * k]})
        jobs.append({"id": 2 * k + 1, "start_ms": t + 410, "stages": [2 * k + 1]})
        for sid, (s, e) in ((2 * k, (t + 10, t + 300)),
                            (2 * k + 1, (t + 500, t + 900))):
            stages.append({"id": sid, "attempt": 0, "submit_ms": s,
                           "complete_ms": e, "tasks": 4, "cpu_ns": 10 ** 8,
                           "gc_ms": 5,
                           "shuffle_read_bytes": 0,
                           "shuffle_write_bytes": 1_000_000,
                           "spill_bytes": 0})
        o = overlap_ms
        phases.append({"func": "command", "ok": True,
                       "analysis": [t + 405, t + 410],
                       "optimization": [t + 410 + o, t + 450 + o],
                       "planning": [t + 450 + o, t + 470 + o]})
    with open(path, "w") as f:
        json.dump({"spans": spans, "jobs": jobs, "stages": stages,
                   "phases": phases}, f)


class PercentileTest(unittest.TestCase):
    def test_known_values(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(run.percentile(xs, 0), 1.0)
        self.assertEqual(run.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(run.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(run.percentile(xs, 90), 3.7)
        self.assertAlmostEqual(run.percentile(range(1, 101), 90), 90.1)
        self.assertEqual(run.percentile([7.0], 90), 7.0)

    def test_empty(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)


class PrinterTest(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_spec(ROOT)

    def check(self, kind, metrics):
        self.assertEqual(list(metrics), [m["name"] for m in self.spec[kind]])
        for m in self.spec[kind]:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float))

    def test_end_to_end_names_and_units(self):
        values = run.end_to_end(fake_result())
        self.check("end_to_end", run.emit(self.spec, "end_to_end", values))
        self.assertEqual(values["setup_s"], 9.0)
        self.assertEqual(values["query_p50_s"], 2.0)
        self.assertEqual(values["pass_s"], 8.5)
        self.assertAlmostEqual(values["storage_mb"], 4.5)

    def test_per_layer_names_and_units(self):
        d = tempfile.mkdtemp()
        try:
            path = os.path.join(d, "trace.json")
            fake_trace(path)
            values, ledger = trace_report.report(path, fake_result(True))
        finally:
            shutil.rmtree(d)
        self.check("per_layer", run.emit(self.spec, "per_layer", values))
        self.assertAlmostEqual(values["registry.build_s"], 0.4)
        self.assertEqual(values["registry.build_jobs"], 1)
        self.assertEqual(values["scheduler.jobs"], 2)
        self.assertEqual(values["scheduler.tasks"], 8)
        self.assertAlmostEqual(values["catalyst.optimize_s"], 0.04)
        self.assertAlmostEqual(values["catalyst.plan_s"], 0.02)
        # action 0.6 s: stage busy 0.4 s, planning phases 0.06 s
        self.assertAlmostEqual(values["scheduler.stage_gap_s"], 0.14)
        self.assertAlmostEqual(values["executor.cpu_s"], 0.2)
        self.assertAlmostEqual(values["executor.shuffle_mb"], 2.0)
        self.assertAlmostEqual(values["Tables.scan_mb"], 2.0)
        self.assertAlmostEqual(values["frames.hit_ratio"], 0.75)
        # traced passes 7 s and 10 s, untraced 6 s and 15 s
        self.assertAlmostEqual(values["trace.overhead_s"], 8.5 - 10.5)
        self.assertTrue(ledger["qa"]["accounted"])
        self.assertAlmostEqual(ledger["qa"]["residual_s"], 0.0)
        self.assertEqual(values["trace.unaccounted_queries"], 0)

    def test_ledger_catches_double_counting(self):
        """Planning phases that overlap a stage by 40 ms make the parts
        exceed the wall time; the query is then not accounted."""
        d = tempfile.mkdtemp()
        try:
            path = os.path.join(d, "trace.json")
            fake_trace(path, overlap_ms=70)
            values, ledger = trace_report.report(path, fake_result(True))
        finally:
            shutil.rmtree(d)
        self.assertAlmostEqual(ledger["qa"]["residual_s"], -0.04)
        self.assertFalse(ledger["qa"]["accounted"])
        self.assertEqual(values["trace.unaccounted_queries"], 1)

    def test_extra_or_missing_name_is_refused(self):
        values = run.end_to_end(fake_result())
        values["bogus"] = 1.0
        with self.assertRaises(run.BenchError):
            run.emit(self.spec, "end_to_end", values)


class OracleTest(unittest.TestCase):
    """A wrong value planted in one dumped output is a failed operation."""

    def test_planted_wrong_value(self):
        d = tempfile.mkdtemp()
        try:
            data, dump = os.path.join(d, "data"), os.path.join(d, "dump")
            os.makedirs(data)
            con = duckdb.connect()
            con.execute(f"COPY (SELECT range AS k, CAST(range AS DOUBLE) * 1.5 AS v FROM range(50))"
                        f" TO '{data}/t.parquet' (FORMAT PARQUET)")
            sql = "SELECT k, v FROM t ORDER BY k"
            for q, wrong in (("q1_good", False), ("q2_planted", True)):
                os.makedirs(os.path.join(dump, q))
                val = "CASE WHEN k = 17 THEN v + 1 ELSE v END" if wrong else "v"
                con.execute(f"COPY (SELECT k, {val} AS v FROM '{data}/t.parquet')"
                            f" TO '{dump}/{q}/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"q1_good": sql, "q2_planted": sql}, f)
            verdicts = oracle.check(ROOT, data, dump)
        finally:
            shutil.rmtree(d)
        self.assertTrue(verdicts["q1_good"][0])
        self.assertFalse(verdicts["q2_planted"][0])
        self.assertIn("VALUE MISMATCH", verdicts["q2_planted"][1])
        result = fake_result()
        for p in result["passes"]:
            p["execs"] = [{"q": "q1_good", "s": 1.0, "ok": True},
                          {"q": "q2_planted", "s": 1.0, "ok": True}]
        result["warmup"] = result["passes"][0]["execs"]
        self.assertEqual(run.failed_queries(result, verdicts), {"q2_planted"})
        correct, attempted, failed, _ = run.outcome(result, verdicts)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (8, 4))


class OutcomeTest(unittest.TestCase):
    """`correct` is false as soon as one output is wrong or one query threw."""

    def setUp(self):
        self.result = fake_result()
        self.ok = {q: (True, "OK") for q in ("qa", "qb", "qc")}

    def test_all_pass(self):
        self.assertEqual(run.outcome(self.result, self.ok)[:3], (True, 12, 0))

    def test_mismatch(self):
        verdicts = dict(self.ok, qb=(False, "VALUE MISMATCH"))
        self.assertEqual(run.outcome(self.result, verdicts)[:3], (False, 12, 4))

    def test_errored_query(self):
        self.result["errors"] = {"qc": "java.lang.RuntimeException: boom"}
        verdicts = {q: v for q, v in self.ok.items() if q != "qc"}
        self.assertEqual(run.outcome(self.result, verdicts)[:3], (False, 12, 4))

    def test_every_query_errored(self):
        self.result["errors"] = {q: "boom" for q in self.ok}
        self.assertEqual(run.outcome(self.result, {})[:3], (False, 12, 12))

    def test_missing_final_dump(self):
        d = tempfile.mkdtemp()
        try:
            data = os.path.join(d, "data")
            os.makedirs(data)
            duckdb.connect().execute(
                f"COPY (SELECT range AS k FROM range(5)) TO '{data}/t.parquet'"
                " (FORMAT PARQUET)")
            for stage in run.DUMPS:
                dump = os.path.join(d, "dump", stage)
                os.makedirs(dump)
                with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                    json.dump({"qa": "SELECT k FROM t ORDER BY k"}, f)
            os.makedirs(os.path.join(d, "dump", "warmup", "qa"))
            duckdb.connect().execute(
                f"COPY (SELECT k FROM '{data}/t.parquet') TO "
                f"'{d}/dump/warmup/qa/part-0.parquet' (FORMAT PARQUET)")
            verdicts = run.check_dumps(ROOT, data, d)
        finally:
            shutil.rmtree(d)
        self.assertIn("warmup: OK", verdicts["qa"][1])
        self.assertIn("final: no dump", verdicts["qa"][1])
        self.assertFalse(verdicts["qa"][0])


def main():
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
