"""tools/check_oracle.py's dtype check: a NaN-free float oracle column
under an integral Spark column is a divergence; one holding a NaN is
only a suspect (pandas' float64 for a nullable int)."""

import importlib.util
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _check_dtypes():
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._check_dtypes


def test_nan_float_column_is_suspect_not_divergent():
    sdf = SimpleNamespace(schema=StructType([
        StructField("total", LongType()),
        StructField("maybe", LongType()),
        StructField("exact", LongType()),
        StructField("name", StringType()),
    ]))
    ddf = pd.DataFrame({
        "total": [1.0, 2.0],
        "maybe": [1.0, float("nan")],
        "exact": pd.Series([1, 2], dtype="int64"),
        "name": ["a", "b"],
    })
    bad, suspect = _check_dtypes()(sdf, ddf)
    assert bad == ["total: spark bigint vs oracle float64"]
    assert suspect == ["maybe: spark bigint vs oracle float64"]
