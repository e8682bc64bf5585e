"""Spark-vs-DuckDB result comparison, mirroring the driver's protocol
(sort columns by name, order-insensitive row compare) and the reference
runner's tolerance semantics
(``tests/BlazingSQLTest/Runner/runTest.py:115-148`` — sorted compare,
ACCEPTABLE_DIFFERENCE)."""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import numpy as np
import pandas as pd

from pyblazing_spark.sources.tables import TABLES


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table of ``data_dir`` as a
    view. A table is one parquet file or, as Spark writes it, a
    directory of part files."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _sort_key_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return (0, "")
    if isinstance(v, (bool, np.bool_)):
        return (1, "", float(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return (1, "", float(v))
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        return (2, "", v.isoformat())
    if isinstance(v, datetime.date):
        return (2, "", v.isoformat())
    if isinstance(v, (list, np.ndarray, tuple)):
        return (3, "", tuple(_sort_key_cell(x) for x in v))
    return (4, str(v))


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False, name=None):
        rows.append(
            tuple(None if (x is pd.NaT or (isinstance(x, float) and math.isnan(x))) else x for x in row)
        )
    rows.sort(key=lambda r: tuple(_sort_key_cell(x) for x in r))
    return rows


def _cells_match(a, b, atol: float, rtol: float) -> bool:
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, (bool, np.bool_)) or isinstance(b, (bool, np.bool_)):
        return bool(a) == bool(b)
    if isinstance(a, (int, float, np.integer, np.floating)) and isinstance(
        b, (int, float, np.integer, np.floating)
    ):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, abs_tol=atol, rel_tol=rtol)
    if isinstance(a, (datetime.datetime, pd.Timestamp)) or isinstance(
        b, (datetime.datetime, pd.Timestamp)
    ):
        return pd.Timestamp(a).tz_localize(None) == pd.Timestamp(b).tz_localize(None)
    if isinstance(a, (list, np.ndarray, tuple)) and isinstance(b, (list, np.ndarray, tuple)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(
            _cells_match(x, y, atol, rtol) for x, y in zip(la, lb)
        )
    return a == b


def _dtype_family(dtype) -> str:
    """Coarse dtype family for the strict check. The driver's value hash
    is dtype-sensitive, so an int64-vs-float64 column that is value-equal
    locally still hash-fails at the driver (round-2 ``expr_math``:
    Spark floor/ceil -> BIGINT, DuckDB -> DOUBLE)."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def assert_dtypes_match(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = ""
) -> None:
    """Fail on int-family vs float-family (or bool/datetime) skew per
    column. ``object`` columns are exempt — a column of Python ints from
    DuckDB may arrive as object dtype while carrying identical values;
    the cell compare covers those."""
    for col in spark_pdf.columns:
        sfam = _dtype_family(spark_pdf[col].dtype)
        ofam = _dtype_family(oracle_pdf[col].dtype)
        if "object" in (sfam, ofam):
            continue
        assert sfam == ofam, (
            f"{name}: col {col}: dtype family mismatch "
            f"spark={spark_pdf[col].dtype} ({sfam}) "
            f"oracle={oracle_pdf[col].dtype} ({ofam}) — the driver's "
            f"dtype-sensitive hash will fail even if values match"
        )


def assert_frames_match(
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    atol: float = 5e-4,
    rtol: float = 1e-9,
    name: str = "",
) -> None:
    """Tolerance follows the reference runner's ACCEPTABLE_DIFFERENCE
    (0.001) — both-side rounding makes most values exactly equal, but an
    average can land exactly on a rounding boundary (e.g. avg=42.55825 ->
    4 dp) where last-ulp partial-sum order flips the rounded digit."""
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert_dtypes_match(spark_pdf, oracle_pdf, name=name)
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    srows, orows = _normalize(spark_pdf), _normalize(oracle_pdf)
    cols = sorted(spark_pdf.columns)
    for i, (sr, orow) in enumerate(zip(srows, orows)):
        for col, sv, ov in zip(cols, sr, orow):
            assert _cells_match(sv, ov, atol, rtol), (
                f"{name}: row {i} col {col}: spark={sv!r} oracle={ov!r}\n"
                f"spark row:  {sr}\noracle row: {orow}"
            )
