"""Correctness checks of the benchmark, computed in DuckDB.

* ETL: the expected warehouse rows for the run's load date, computed from
  the landing CSV files the recency filter admits, with the same event
  identity dedup and the engine's own DuckDB twin SQL of the two KPI
  families (`SparkEntry.oracleSql`, written out by the harness).
* Query mix: each query's collected rows against its DuckDB twin, with the
  comparison rules of `tools/check_oracle.py`.
"""
import contextlib
import importlib.util
import io
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
EVENT_CSV_COLUMNS = {"event_id": "BIGINT", "ts": "TIMESTAMP",
                     "user_id": "BIGINT", "event_type": "VARCHAR",
                     "value": "DOUBLE", "props": "VARCHAR"}
KPI_QUERIES = {"genre_rows": "pipeline_kpis", "hourly_rows": "hourly_kpis_hod"}


def etl_expected(files, oracle_sql, load_date):
    """Expected rows and counts for one pipeline run over `files`."""
    con = duckdb.connect()
    paths = ", ".join(f"'{f}'" for f in files)
    con.sql(f"""CREATE VIEW raw AS SELECT * FROM read_csv([{paths}],
        header = true, quote = '', escape = '',
        columns = {EVENT_CSV_COLUMNS})""")
    con.sql("""CREATE VIEW events AS SELECT * FROM raw QUALIFY row_number()
        OVER (PARTITION BY user_id, event_type, ts ORDER BY event_id) = 1""")
    exp = {k: [list(r) for r in con.sql(oracle_sql[q]).fetchall()]
           for k, q in KPI_QUERIES.items()}
    raw, rows, dup, null_user, null_ts, day = con.sql(
        f"""SELECT (SELECT count(*) FROM raw), count(*),
           count(*) - count(DISTINCT (user_id, ts)),
           count(*) FILTER (WHERE user_id IS NULL),
           count(*) FILTER (WHERE ts IS NULL),
           count(*) FILTER (WHERE CAST(ts AS DATE) = DATE '{load_date}')
           FROM events""").fetchone()
    exp["raw_rows"], exp["stage_rows"] = raw, day
    exp["report"] = {"n_rows": rows, "null_user_id": null_user,
                     "dup_user_id_ts": dup, "null_ts": null_ts}
    return exp


# The KPI twins round averages and ratios to 6 decimal places. When the
# exact value lies on a half-way point, the last bit of a floating-point sum
# decides the rounding: DuckDB's parallel sum flips it from one evaluation
# to the next on the same input, and Spark's sum order is not DuckDB's. Two
# rounded values one unit apart in the 6th decimal are therefore both right.
ROUNDING_UNIT = 1e-6


def same_rows(actual, expected):
    """Equality of two row lists; numbers compare by value, so an INT read
    back from the warehouse equals DuckDB's BIGINT, and 6-dp rounded
    numbers may differ by one unit in their last place (ROUNDING_UNIT)."""
    def same(a, b):
        if isinstance(a, str) or isinstance(b, str):
            return a == b
        return float(a) == float(b) or \
            abs(float(a) - float(b)) <= ROUNDING_UNIT * (1 + 1e-9)
    return len(actual) == len(expected) and all(
        len(r) == len(e) and all(same(a, b) for a, b in zip(r, e))
        for r, e in zip(actual, expected))


def etl_unit_problems(unit, expected, previous):
    """Why one pipeline run's warehouse state is wrong (empty if right).
    `previous` is the unit before it: re-loading the same date must leave
    both KPI tables' row count and checksum unchanged."""
    if "error" in unit:
        return [unit["error"]]
    out = [f"{k} differ from the oracle" for k in KPI_QUERIES
           if not same_rows(unit[k], expected[k])]
    if unit["report"] != expected["report"]:
        out.append(f"validation report {unit['report']} != "
                   f"{expected['report']}")
    if unit["stage_rows"] != expected["stage_rows"]:
        out.append(f"COPY loaded {unit['stage_rows']} rows, expected "
                   f"{expected['stage_rows']}")
    if previous is not None and "error" not in previous and \
            unit["warehouse"] != previous["warehouse"]:
        out.append("re-loading the same date changed the warehouse")
    return out


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_problems(data_dir, check_dir):
    """{query: problem} for every query whose collected rows differ from
    its DuckDB twin; an empty dict when all match."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _check_oracle_module().main(str(data_dir), str(check_dir))
    problems = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            problems[name] = why
    return problems
