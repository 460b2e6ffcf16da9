"""Driver-contract parity: every ``queries()`` entry with an
``oracle_sql()`` twin must match DuckDB exactly (row count, schema, values)
on the driver testdata — the same comparison the round harness performs at
sf=0.01 (here at sf0.001 for speed; set OCR_SPARK_PARITY_SF to override).
"""

from __future__ import annotations

import datetime
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("OCR_SPARK_PARITY_SF", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive exact compare: sort columns by
    name, stringify temporal values, sort rows, reset index."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.isoformat()
                if isinstance(v, (datetime.date, datetime.datetime))
                else v
            )
        if pd.api.types.is_float_dtype(df[c]):
            # exact float compare via repr (driver hashes values likewise)
            df[c] = df[c].map(lambda v: None if pd.isna(v) else repr(float(v)))
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: repr([int(x) for x in v])
                if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, str)
                else v
            )
    df = df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)
    return df


ORACLED = sorted(set(entry_mod.queries()) & set(entry_mod.oracle_sql()))
NO_ORACLE = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


def test_oracle_keys_subset_of_queries():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    got = _canon(q(spark, SF_DIR).toPandas())
    exp = _canon(ddb.sql(entry_mod.oracle_sql()[name]).df())
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: {len(got)} rows != {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    except AssertionError as e:
        diff = got.compare(exp) if got.shape == exp.shape else None
        raise AssertionError(f"{name} mismatch:\n{diff}\n{e}") from None


@pytest.mark.parametrize(
    "name, flag", [("gif_roundtrip", "interlaced"), ("bmp_roundtrip", "top_down")]
)
def test_roundtrip_gate_flag_takes_both_values(ddb, name, flag):
    """The gate's codec flag (GIF interlace, BMP row order) must vary over
    the sampled docs, or one codec branch never runs under the gate."""
    got = ddb.sql(
        f"select distinct {flag} from ({entry_mod.oracle_sql()[name]})"
    ).fetchall()
    assert {v for (v,) in got} == {True, False}


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs_without_oracle(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
