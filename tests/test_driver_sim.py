"""tools/driver_sim.py replays the `__spark_entry__.py` oracle compare
over every query, so its comparator is load-bearing evidence machinery:
a dtype-class bug or a banded-compare bug records false greens. The
banded full-value comparator for >20M-row outputs and the dtype
normaliser are tested, not assumed."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import driver_sim  # noqa: E402


# ---------------------------------------------------------------- dtypes

def test_norm_kind_classes():
    import numpy as np

    assert driver_sim._norm_kind(np.dtype("int64")) == "num"
    assert driver_sim._norm_kind(np.dtype("int32")) == "num"
    assert driver_sim._norm_kind(np.dtype("float64")) == "num"
    assert driver_sim._norm_kind(np.dtype("bool")) == "bool"
    assert driver_sim._norm_kind(np.dtype("datetime64[us]")) == "ts"
    assert driver_sim._norm_kind(np.dtype("object")) == "obj"


# ---------------------------------------------------------------- banded

@pytest.fixture()
def band_table(tmp_path):
    # 5k rows, keyed by an int column both engines cast identically.
    pdf = pd.DataFrame(
        {
            "l_orderkey": range(5000),
            "val": [i * 0.5 for i in range(5000)],
            "tag": [f"t{i % 7}" for i in range(5000)],
        }
    )
    path = str(tmp_path / "band.parquet")
    pdf.to_parquet(path)
    return path


def test_banded_compare_matches(spark, band_table):
    con = duckdb.connect()
    sdf = spark.read.parquet(band_table)
    row = driver_sim._banded_compare(
        spark, con,
        sdf, f"SELECT * FROM read_parquet('{band_table}')",
        "l_orderkey", 5000,
    )
    assert row["hash_match"] is True
    assert row["rows_match"] is True
    assert row["schema_match"] is True
    assert row["oracle_rows"] == 5000
    assert row["err"] is None


def test_banded_compare_catches_value_drift(spark, band_table, tmp_path):
    # Same cardinality and schema, ONE value differs — the banded path
    # must still catch it (this is exactly what rows+schema could not).
    pdf = pd.read_parquet(band_table)
    pdf.loc[1234, "val"] = -1.0
    drifted = str(tmp_path / "drift.parquet")
    pdf.to_parquet(drifted)
    con = duckdb.connect()
    sdf = spark.read.parquet(band_table)
    row = driver_sim._banded_compare(
        spark, con,
        sdf, f"SELECT * FROM read_parquet('{drifted}')",
        "l_orderkey", 5000,
    )
    assert row["rows_match"] is True  # cardinality agrees...
    assert row["hash_match"] is False  # ...values do not


def test_banded_compare_catches_missing_rows(spark, band_table, tmp_path):
    pdf = pd.read_parquet(band_table).iloc[:-10]
    short = str(tmp_path / "short.parquet")
    pdf.to_parquet(short)
    con = duckdb.connect()
    sdf = spark.read.parquet(band_table)
    row = driver_sim._banded_compare(
        spark, con,
        sdf, f"SELECT * FROM read_parquet('{short}')",
        "l_orderkey", 5000,
    )
    assert row["rows_match"] is False
    assert row["hash_match"] is False
