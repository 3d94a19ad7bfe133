"""Output checks behind ``failed``: registry queries against their DuckDB
oracles, and corpus-run output tables against the generator's truth."""

from __future__ import annotations

import os
import sys

# the driver replay's value normalization, so both compare rows alike
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from driver_replay import norm  # noqa: E402

#: Output tables of ``pipeline.run_corpus`` and the truth columns each
#: is compared on (doc_id is always part of the key).
CORPUS_TABLES = {
    "projects": ("project_name", "company", "country", "region", "report_date"),
    "mineral_resources": (
        "category", "tonnes", "metal", "grade_value", "grade_unit",
        "contained_metal", "contained_unit", "tonnes_unit",
    ),
    "mineral_reserves": (
        "category", "tonnes", "metal", "grade_value", "grade_unit",
        "contained_metal", "contained_unit", "tonnes_unit",
    ),
    "economics": ("capex", "opex", "npv", "irr", "currency"),
    "quarantine": (
        "category", "tonnes", "metal", "grade_value", "grade_unit",
        "contained_metal", "contained_unit", "tonnes_unit", "reject_reason",
    ),
}


def oracle_connection(sf_dir: str):
    import duckdb

    from test_dataengineer2026_spark import tables

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(tables.duck_view_sql(t, sf_dir))
    return con


def check_query(spark, con, fn, oracle: str, sf_dir: str) -> str | None:
    """None when the query's rows equal its oracle's (column names, row
    count and an order-insensitive value compare); else the reason."""
    df = fn(spark, sf_dir)
    cols = sorted(df.columns)
    got = sorted((tuple(norm(r[c]) for c in cols) for r in df.collect()), key=str)
    res = con.execute(oracle)
    names = [d[0] for d in res.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    want = sorted(
        (tuple(norm(row[i]) for i in order) for row in res.fetchall()), key=str
    )
    if cols != [names[i] for i in order]:
        return f"columns {cols} != {[names[i] for i in order]}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if got != want:
        return "values differ"
    return None


def _truth_rows(truth: dict, table: str) -> list[tuple]:
    cols = CORPUS_TABLES[table]
    rows = []
    for doc_id, t in truth.items():
        if t is None:
            continue
        if table == "projects":
            items = [t["project"]]
        elif table == "economics":
            items = [t["economics"]]
        else:
            items = t[table]
        rows.extend((doc_id, *(r[c] for c in cols)) for r in items)
    return sorted(rows, key=str)


def check_corpus(out_dir: str, truth: dict) -> tuple[list[str], dict[str, int]]:
    """Compare every output table of one corpus run with the truth.
    Returns (problems, rows per table)."""
    import pyarrow.parquet as pq

    problems, counts = [], {}
    for table, cols in CORPUS_TABLES.items():
        path = os.path.join(out_dir, table)
        try:
            data = pq.read_table(path).to_pydict()
        except Exception as e:  # noqa: BLE001 - a missing table is a failure
            problems.append(f"{table}: unreadable ({type(e).__name__})")
            continue
        n = len(data["doc_id"])
        counts[table] = n
        got = sorted(
            (tuple(norm(data[c][i]) for c in ("doc_id", *cols)) for i in range(n)),
            key=str,
        )
        want = _truth_rows(truth, table)
        if got != want:
            problems.append(f"{table}: {n} rows, {len(want)} expected or values differ")
    return problems, counts
