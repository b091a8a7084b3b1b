"""Metric names and how each is computed from the harness's raw result.

End-to-end metrics come from untraced units; per-layer metrics from the
traced units of a `--trace 1` run. A workload reports 0 for a layer it does
not call (the ETL run calls no registered query, the query mix loads no
warehouse).
"""
import math
import statistics

WORKLOADS = ("etl_daily", "query_mix")

# name -> (unit, better)
END_TO_END = {
    "run_s": ("s", "lower"),
    "run_s_tail": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "query_geomean_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

# Rows of a few small jobs (fixed cost) beside iterative, compute-heavy ext
# operators; skew_join_plain is the control row. The *_indexed queries are
# left out: their on-disk index catalog carries state across runs.
MIX_QUERIES = ["genre_kpis", "hourly_kpis_hod", "incremental_kpis",
               "tpch_q9_product_profit", "skew_join_plain", "bm25_top_docs",
               "doc_perplexity_bigram", "dsir_mixture_shift", "knn_pq",
               "knn_graph_refined", "supplier_pagerank", "dedup_components"]

PER_LAYER = {
    "etl.ingest_s": ("s", "lower"),
    "etl.ingest.executor_cpu_s": ("s", "lower"),
    "etl.ingest.shuffle_mb": ("MB", "lower"),
    "etl.dedup_dropped_rows": ("count", "higher"),
    "etl.files_listed": ("count", "lower"),
    "etl.files_read": ("count", "lower"),
    "etl.validate_s": ("s", "lower"),
    "etl.upsert_s": ("s", "lower"),
    "etl.upsert.spark_s": ("s", "lower"),
    "etl.upsert.driver_s": ("s", "lower"),
    "etl.upsert.jobs": ("count", "lower"),
    "etl.wh_rows_deleted": ("count", "higher"),
    "etl.wh_rows_inserted": ("count", "higher"),
    "etl.copy_s": ("s", "lower"),
    "etl.copy.driver_s": ("s", "lower"),
    "etl.archive_s": ("s", "lower"),
    "etl.archive.files_moved": ("count", "higher"),
    "etl.runlog_s": ("s", "lower"),
    "mix.build_s": ("s", "lower"),
    "mix.plan_s": ("s", "lower"),
    "mix.exec_s": ("s", "lower"),
    "mix.jobs": ("count", "lower"),
    "mix.stages": ("count", "lower"),
    "mix.tasks": ("count", "lower"),
    "mix.core_busy_share": ("ratio", "higher"),
    "mix.executor_cpu_s": ("s", "lower"),
    "mix.shuffle_write_mb": ("MB", "lower"),
    "mix.spill_mb": ("MB", "lower"),
}
for _q in MIX_QUERIES:
    PER_LAYER[f"q.{_q}.s"] = ("s", "lower")
    PER_LAYER[f"q.{_q}.jobs"] = ("count", "lower")
    PER_LAYER[f"q.{_q}.executor_cpu_s"] = ("s", "lower")
    PER_LAYER[f"q.{_q}.shuffle_mb"] = ("MB", "lower")
PER_LAYER.update({
    "jvm.gc_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "trace_overhead": ("ratio", "lower"),
    "trace.unspanned_share": ("ratio", "lower"),
})

MB = 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it. Below 21 samples no percentile at or above the
    median has ten beyond it, and the highest sample is taken instead."""
    s = sorted(xs)
    i = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(result, input_rows, setup_s):
    units = [u for u in result["units"] if not u["traced"]]
    walls = [u["wall_s"] for u in units]
    per_op = {}
    for u in units:
        for op, s in u.get("ops", {}).items():
            per_op.setdefault(op, []).append(s)
    run_s = median(walls)
    return {
        "run_s": run_s,
        "run_s_tail": tail(walls)[0],
        "rows_per_s": input_rows / run_s,
        "query_geomean_s": geomean([median(v) for v in per_op.values()]),
        "peak_rss_mb": result["peak_rss_mb"],
        "setup_s": setup_s,
    }


def _spans_by_run(result):
    by_run = {}
    for s in result["spans"]:
        by_run.setdefault(s["run"], []).append(s)
    return by_run


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _job_active_s(spans):
    """Seconds in which at least one job of `spans` was running."""
    iv = sorted(tuple(i) for s in spans for i in s["job_intervals_ms"])
    total, end = 0, None
    for a, b in iv:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def per_layer(result, workload, cores, wh_deltas, dedup_dropped):
    """Per-layer metrics: medians over the traced units of the run."""
    traced = [u for u in result["units"] if u["traced"]]
    plain = [u for u in result["units"] if not u["traced"]]
    by_run = _spans_by_run(result)
    rows = []
    for u in traced:
        spans = by_run.get(u["run"], [])
        named = {}
        for s in spans:
            named.setdefault(s["name"], []).append(s)
        top = sum(_dur(s) for s in spans if s["parent"] < 0)

        def dur(*names):
            return sum(_dur(s) for n in names for s in named.get(n, []))

        def tot(key, *names):
            return sum(s[key] for n in names for s in named.get(n, []))
        m = dict.fromkeys(PER_LAYER, 0.0)
        m["jvm.gc_s"] = u["gc_s"]
        m["jvm.jit_s"] = u["jit_s"]
        m["trace.unspanned_share"] = max(0.0, 1 - top / u["wall_s"])
        if workload.startswith("etl"):
            up = ["etl.upsert.genre", "etl.upsert.hourly"]
            up_spans = [s for n in up for s in named.get(n, [])]
            copy = named.get("etl.copy", [])
            m.update({
                "etl.ingest_s": dur("etl.ingest"),
                "etl.ingest.executor_cpu_s":
                    tot("executor_cpu_ns", "etl.ingest") / 1e9,
                "etl.ingest.shuffle_mb":
                    tot("shuffle_write_bytes", "etl.ingest") / MB,
                "etl.dedup_dropped_rows": dedup_dropped,
                "etl.files_listed": u.get("files_listed", 0),
                "etl.files_read": u.get("files_read", 0),
                "etl.validate_s": dur("etl.validate"),
                "etl.upsert_s": dur(*up),
                "etl.upsert.spark_s": _job_active_s(up_spans),
                "etl.upsert.driver_s":
                    dur(*up) - _job_active_s(up_spans),
                "etl.upsert.jobs": tot("jobs", *up),
                "etl.wh_rows_deleted": wh_deltas.get(u["run"], (0, 0))[0],
                "etl.wh_rows_inserted": wh_deltas.get(u["run"], (0, 0))[1],
                "etl.copy_s": dur("etl.copy"),
                "etl.copy.driver_s": dur("etl.copy") - _job_active_s(copy),
                "etl.archive_s": dur("etl.archive"),
                "etl.archive.files_moved": u.get("files_moved", 0),
                "etl.runlog_s": dur("etl.runlog"),
            })
        else:
            every = list(named)
            cpu = tot("executor_cpu_ns", *every) / 1e9
            m.update({
                "mix.build_s": dur(*(f"q.{q}.build" for q in MIX_QUERIES)),
                "mix.plan_s": dur(*(f"q.{q}.plan" for q in MIX_QUERIES)),
                "mix.exec_s": dur(*(f"q.{q}.exec" for q in MIX_QUERIES)),
                "mix.jobs": tot("jobs", *every),
                "mix.stages": tot("stages", *every),
                "mix.tasks": tot("tasks", *every),
                "mix.executor_cpu_s": cpu,
                "mix.core_busy_share": cpu / (u["wall_s"] * cores),
                "mix.shuffle_write_mb": tot("shuffle_write_bytes", *every) / MB,
                "mix.spill_mb": tot("spill_bytes", *every) / MB,
            })
            for q in MIX_QUERIES:
                names = [f"q.{q}"] + [f"q.{q}.{p}" for p in
                                      ("build", "plan", "exec")]
                m[f"q.{q}.s"] = dur(f"q.{q}")
                m[f"q.{q}.jobs"] = tot("jobs", *names)
                m[f"q.{q}.executor_cpu_s"] = \
                    tot("executor_cpu_ns", *names) / 1e9
                m[f"q.{q}.shuffle_mb"] = \
                    tot("shuffle_write_bytes", *names) / MB
        rows.append(m)
    out = {k: median([r[k] for r in rows]) for k in PER_LAYER}
    out["trace_overhead"] = (median([u["wall_s"] for u in traced]) /
                             median([u["wall_s"] for u in plain]))
    return out
