"""Output checks against the DuckDB oracle.

The expected output is the set of pseudonymized N-Triples lines that
``oracle.q_ntriples_lines`` defines, computed once per input set by
``gen.py``. A program output passes when it has exactly as many rows as
the oracle and the same set of lines.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow as pa

from tripsu_spark.plans.oracle import NTRIPLES_LINE_SQL

TRIPLE_COLS = "s_kind, s_value, predicate, o_kind, o_value, o_datatype, o_lang"


def latest_snapshot(graph: str) -> dict | None:
    names = sorted(glob.glob(os.path.join(graph, "_snapshots", "*.json")))
    if not names:
        return None
    with open(names[-1]) as fh:
        return json.load(fh)


def _compare(con: duckdb.DuckDBPyConnection, expected: str) -> dict:
    """Compare the ``actual(line)`` relation registered on ``con`` with the
    oracle's lines."""
    con.execute(f"CREATE VIEW expected AS SELECT line FROM read_parquet('{expected}')")
    n_actual, n_expected, missing, extra = con.execute(
        "SELECT (SELECT count(*) FROM actual), (SELECT count(*) FROM expected), "
        "(SELECT count(*) FROM (SELECT line FROM expected EXCEPT SELECT line FROM actual)), "
        "(SELECT count(*) FROM (SELECT line FROM actual EXCEPT SELECT line FROM expected))"
    ).fetchone()
    return {
        "ok": n_actual == n_expected and missing == 0 and extra == 0,
        "rows": n_actual, "expected_rows": n_expected,
        "missing": missing, "extra": extra,
    }


def check_graph_table(graph: str, expected: str) -> dict:
    """Check the latest committed snapshot of a runner output table."""
    snap = latest_snapshot(graph)
    if snap is None:
        return {"ok": False, "error": "no committed snapshot"}
    files = []
    for bucket in snap["buckets"].values():
        files += glob.glob(os.path.join(graph, bucket["path"], "*", "*.parquet"))
    if not files:
        return {"ok": False, "error": "snapshot lists no data files"}
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(
            f"CREATE VIEW actual AS SELECT {NTRIPLES_LINE_SQL} AS line FROM "
            f"(SELECT {TRIPLE_COLS} FROM read_parquet({files!r}, union_by_name = true))"
        )
        return _compare(con, expected)
    finally:
        con.close()


def check_ntriples_dir(out_dir: str, expected: str) -> dict:
    """Check the N-Triples part files the CLI's ``pseudo`` wrote."""
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    actual = pa.table({"line": pa.array(lines, type=pa.string())})
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.register("actual", actual)
        return _compare(con, expected)
    finally:
        con.close()


def table_files(graph: str) -> set[str]:
    """Data part files and snapshot files of a runner output table."""
    data = glob.glob(os.path.join(graph, "data", "**", "part-*"), recursive=True)
    snaps = glob.glob(os.path.join(graph, "_snapshots", "*.json"))
    return set(data) | set(snaps)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total
