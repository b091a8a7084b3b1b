"""The benchmark's own tests: pinned names, deterministic inputs, oracles
that reject a wrong row, metric arithmetic, and the failure contract.

Run from the root of the checkout:
  python3 -m unittest perfbench/test_perfbench.py
They need Python with numpy, pyarrow, pandas and duckdb, but no JVM.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

ROOT = HERE.parent
SCRATCH = ROOT / ".bench_work" / "tests"

# The pinned names: later changes compare like with like only if these stay.
WORKLOADS = ["etl_daily", "query_mix"]
END_TO_END = ["run_s", "run_s_tail", "rows_per_s", "query_geomean_s",
              "peak_rss_mb", "setup_s"]
PER_LAYER = (
    ["etl.ingest_s", "etl.ingest.executor_cpu_s", "etl.ingest.shuffle_mb",
     "etl.dedup_dropped_rows", "etl.files_listed", "etl.files_read",
     "etl.validate_s", "etl.upsert_s", "etl.upsert.spark_s",
     "etl.upsert.driver_s", "etl.upsert.jobs", "etl.wh_rows_deleted",
     "etl.wh_rows_inserted", "etl.copy_s", "etl.copy.driver_s",
     "etl.archive_s", "etl.archive.files_moved", "etl.runlog_s",
     "mix.build_s", "mix.plan_s", "mix.exec_s", "mix.jobs", "mix.stages",
     "mix.tasks", "mix.core_busy_share", "mix.executor_cpu_s",
     "mix.shuffle_write_mb", "mix.spill_mb"]
    + [f"q.{q}.{m}" for q in
       ["genre_kpis", "hourly_kpis_hod", "incremental_kpis",
        "tpch_q9_product_profit", "skew_join_plain", "bm25_top_docs",
        "doc_perplexity_bigram", "dsir_mixture_shift", "knn_pq",
        "knn_graph_refined", "supplier_pagerank", "dedup_components"]
       for m in ("s", "jobs", "executor_cpu_s", "shuffle_mb")]
    + ["jvm.gc_s", "jvm.jit_s", "trace_overhead", "trace.unspanned_share"])


def scratch(name):
    d = SCRATCH / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


class NamesTest(unittest.TestCase):
    def test_names_are_pinned(self):
        self.assertEqual(list(report.WORKLOADS), WORKLOADS)
        self.assertEqual(list(report.END_TO_END), END_TO_END)
        self.assertEqual(list(report.PER_LAYER), PER_LAYER)

    def test_benchmark_json_matches_the_code(self):
        b = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertEqual([w["name"] for w in b["workloads"]], WORKLOADS)
        for key, names in (("end_to_end", report.END_TO_END),
                           ("per_layer", report.PER_LAYER)):
            self.assertEqual(
                {m["name"]: (m["unit"], m["better"]) for m in b[key]}, names)
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class InputsTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        sizes = {**gen.QUERY_SIZES, "lineitem": 500, "orders": 100}
        a, b = gen.query_tables(3, sizes), gen.query_tables(3, sizes)
        c = gen.query_tables(4, sizes)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_daily_landing_overlap(self):
        d = scratch("landing")
        names = gen.daily_landing(d, 5, rows=4000)
        self.assertEqual(len(names), 9)
        rows = duckdb.sql(f"""SELECT count(*), count(DISTINCT
            (user_id, event_type, ts)) FROM read_csv('{d}/*.csv',
            header = true, quote = '', escape = '')""").fetchone()
        self.assertEqual(rows, (4200, 4000))


class EtlOracleTest(unittest.TestCase):
    """The warehouse check must reject a single wrong value."""

    SQL = {"pipeline_kpis":
           """SELECT event_type, count(*) AS listen_count,
              round(avg(value), 6) AS avg_duration FROM events
              GROUP BY event_type ORDER BY event_type""",
           "hourly_kpis_hod":
           """SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
              count(DISTINCT user_id) AS u FROM events GROUP BY 1
              ORDER BY 1"""}

    def setUp(self):
        d = scratch("etl_oracle")
        names = gen.daily_landing(d, 9, rows=3000)
        self.exp = oracle.etl_expected([str(d / n) for n in names], self.SQL,
                                       "2024-01-30")
        self.unit = {"genre_rows": self.exp["genre_rows"],
                     "hourly_rows": self.exp["hourly_rows"],
                     "report": dict(self.exp["report"]),
                     "stage_rows": self.exp["stage_rows"],
                     "warehouse": {"genre_kpis": {"rows": 5,
                                                  "checksum": "a"}}}

    def test_dedup_and_report(self):
        self.assertEqual(self.exp["raw_rows"] - self.exp["report"]["n_rows"],
                         150)
        self.assertEqual(oracle.etl_unit_problems(self.unit, self.exp, None),
                         [])

    def test_corrupted_expected_row_fails(self):
        bad = json.loads(json.dumps(self.exp))
        bad["genre_rows"][2][1] += 1
        self.assertEqual(oracle.etl_unit_problems(self.unit, bad, None),
                         ["genre_rows differ from the oracle"])

    def test_rounding_tie_passes_but_a_wrong_average_fails(self):
        for delta, problems in ((1e-6, []),
                                (2e-6, ["genre_rows differ from the oracle"])):
            bad = json.loads(json.dumps(self.exp))
            bad["genre_rows"][0][2] = round(bad["genre_rows"][0][2] + delta,
                                            6)
            self.assertEqual(oracle.etl_unit_problems(self.unit, bad, None),
                             problems)

    def test_reload_must_not_change_the_warehouse(self):
        prev = json.loads(json.dumps(self.unit))
        prev["warehouse"]["genre_kpis"]["rows"] = 10
        self.assertIn("re-loading the same date changed the warehouse",
                      oracle.etl_unit_problems(self.unit, self.exp, prev))

    def test_copy_row_count_is_checked(self):
        self.unit["stage_rows"] -= 1
        self.assertEqual(len(oracle.etl_unit_problems(self.unit, self.exp,
                                                      None)), 1)

    def test_run_error_is_a_failure(self):
        self.assertEqual(oracle.etl_unit_problems({"error": "boom"},
                                                  self.exp, None), ["boom"])


class QueryOracleTest(unittest.TestCase):
    """The query check (tools/check_oracle.py rules) must reject a single
    wrong value and accept the right rows."""

    def test_corrupted_row_fails(self):
        data, check = scratch("q_data"), scratch("q_check")
        sizes = {**gen.QUERY_SIZES, "lineitem": 800, "orders": 200,
                 "customer": 50, "part": 60, "events": 300,
                 "documents": 40, "embeddings": 40}
        for name, table in gen.query_tables(2, sizes).items():
            pq.write_table(table, data / f"{name}.parquet")
        sql = {"genre_kpis": """SELECT p_type, count(l_partkey) AS
               listen_count, round(avg(l_extendedprice), 6) AS avg_duration
               FROM lineitem JOIN part ON l_partkey = p_partkey
               GROUP BY p_type ORDER BY p_type"""}
        (check / "oracle_sql.json").write_text(json.dumps(sql))
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{data}/lineitem.parquet'")
        con.sql(f"CREATE VIEW part AS SELECT * FROM '{data}/part.parquet'")
        right = con.sql(sql["genre_kpis"]).arrow()
        (check / "genre_kpis").mkdir()
        pq.write_table(right, check / "genre_kpis" / "part-0.parquet")
        self.assertEqual(oracle.query_problems(data, check), {})
        rows = right.to_pylist()
        rows[0]["listen_count"] += 1
        pq.write_table(type(right).from_pylist(rows, right.schema),
                       check / "genre_kpis" / "part-0.parquet")
        self.assertIn("genre_kpis", oracle.query_problems(data, check))


class MetricsTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        xs = list(range(1, 101))
        self.assertEqual(report.tail(xs), (90, 90.0, 100))
        value, percentile, n = report.tail(list(range(1, 22)))
        self.assertEqual((value, n), (11, 21))
        self.assertAlmostEqual(percentile, 100 * 11 / 21)

    def test_tail_of_few_samples_is_the_highest(self):
        for xs in ([2.0, 3.0], [3.0, 1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0]):
            value, percentile, n = report.tail(xs)
            self.assertEqual((value, percentile, n), (max(xs), 100.0, len(xs)))
            self.assertGreaterEqual(value, report.median(xs))

    def test_job_active_time_is_a_union(self):
        spans = [{"job_intervals_ms": [[0, 100], [50, 150]]},
                 {"job_intervals_ms": [[300, 400]]}]
        self.assertAlmostEqual(report._job_active_s(spans), 0.25)

    def _result(self):
        def span(i, parent, run, name, a, b, jobs=0, cpu=0):
            return {"id": i, "parent": parent, "run": run, "name": name,
                    "start_ns": a, "end_ns": b, "jobs": jobs, "stages": jobs,
                    "tasks": jobs, "executor_cpu_ns": cpu,
                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "job_intervals_ms": []}
        return {
            "peak_rss_mb": 900.0,
            "units": [
                {"run": 0, "traced": True, "wall_s": 2.2, "gc_s": 0.1,
                 "jit_s": 0.2, "ops": {"genre_kpis": 2.0}},
                {"run": 1, "traced": False, "wall_s": 2.0, "gc_s": 0.1,
                 "jit_s": 0.2, "ops": {"genre_kpis": 1.8}}],
            "spans": [span(0, -1, 0, "q.genre_kpis", 0, 2_000_000_000),
                      span(1, 0, 0, "q.genre_kpis.build", 0, 500_000_000, 2,
                           4e8),
                      span(2, 0, 0, "q.genre_kpis.exec", 600_000_000,
                           2_000_000_000, 5, 1.2e9)]}

    def test_per_layer_from_spans(self):
        m = report.per_layer(self._result(), "query_mix", 4, {}, 0)
        self.assertEqual(set(m), set(report.PER_LAYER))
        self.assertEqual(m["q.genre_kpis.jobs"], 7)
        self.assertAlmostEqual(m["q.genre_kpis.executor_cpu_s"], 1.6)
        self.assertAlmostEqual(m["mix.build_s"], 0.5)
        self.assertAlmostEqual(m["trace_overhead"], 1.1)
        self.assertAlmostEqual(m["trace.unspanned_share"], 1 - 2.0 / 2.2)
        self.assertEqual(m["etl.ingest_s"], 0.0)

    def test_end_to_end_uses_untraced_units(self):
        m = report.end_to_end(self._result(), 1000, 30.0)
        self.assertEqual(set(m), set(report.END_TO_END))
        self.assertEqual(m["run_s"], 2.0)
        self.assertEqual(m["rows_per_s"], 500.0)
        self.assertAlmostEqual(m["query_geomean_s"], 1.8)


class ContractTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench, a run
        exits non-zero and prints no result."""
        d = scratch("bare")
        shutil.copytree(HERE, d / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", d)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "etl_daily",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
