from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# The test session's heap is the factory's 8g default. Pin it before
# collection imports bench.py, whose module-level default (24g, for the
# bench's own process) would otherwise size the test JVM: on a host
# with less RAM than that, G1 grows toward the cap under allocation
# churn until the kernel OOM-kills the JVM mid-suite.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from big_data_graph_analysis_with_spark_spark import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
REF_INPUT = "/root/reference/input"


@pytest.fixture(scope="session")
def spark():
    # master width is overridable for A/B profiling of the suite
    # itself; the shuffle width stays pinned so plan shapes (and the
    # explicit repartition(N) assertions) are width-independent
    master = os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]")
    s = get_spark(
        app_name="tests",
        master=master,
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


def duckdb_oracle(sql: str, sf_dir: str):
    """Run oracle SQL the way the driver does: testdata parquet tables
    pre-registered as DuckDB views. Returns a pandas DataFrame."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _dtype_drift(got_col, want_col, declared_float: bool) -> bool:
    """True iff the oracle column surfaces as float while the Spark
    column is integral or decimal — the serialization drift the driver
    hashes on (r9: 8 hash-fail rows, values bit-identical). A column
    the caller DECLARES float (float_cols) is exempt: both sides are
    genuinely float-valued there and compare numerically by design."""
    if declared_float or want_col.dtype.kind != "f":
        return False
    if got_col.dtype.kind in "iu":
        return True
    if got_col.dtype.kind == "O":
        from decimal import Decimal

        # integral-VALUED decimals only: "17764676" vs "17764676.0" is
        # the observed driver-hash failure; fractional decimals vs
        # float serialize with the same point and are the callers'
        # float_cols/tolerance territory, not this guard's
        nonnull = got_col.dropna()
        return len(nonnull) > 0 and all(
            isinstance(v, (Decimal, int)) and v == int(v) for v in nonnull
        )
    return False


def assert_matches_oracle(spark_df, sql: str, sf_dir: str, float_cols=(), tol=0.0):
    """Mirror the driver's check: row count, sorted column names, and
    order-insensitive value equality."""
    got = spark_df.toPandas()
    want = duckdb_oracle(sql, sf_dir)
    assert_frames_match(got, want, float_cols=float_cols, tol=tol)


def assert_frames_match(got, want, float_cols=(), tol=0.0):
    """The pandas-side half of `assert_matches_oracle`, split out so a
    caller that PRECOMPUTES both frames (test_oracle_parity's
    thread-pool fixture) runs the identical comparison."""
    import pandas as pd

    assert sorted(got.columns) == sorted(want.columns), (
        f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        # the DRIVER hashes serialized values, so an oracle column that
        # surfaces as float64 while Spark returns integral/decimal
        # ("17764676.0" vs "17764676") hash-mismatches even when the
        # values are identical — the exact failure mode of the 8 red
        # r9 rows. Fail loudly here instead of silently taking the
        # numeric path (r9 verdict task 3).
        assert not _dtype_drift(g[c], w[c], c in float_cols), (
            f"column {c}: oracle surfaces float64 but the Spark side is "
            "integral/decimal — the driver's value hash WILL diverge; "
            "cast the oracle output to BIGINT (the 2f0a72b recipe)"
        )
        # float path when EITHER side surfaces as float (mirrors
        # driver_sim: DuckDB returns HUGEINT columns as float64, so a
        # decimal-vs-hugeint pair must compare numerically, not as
        # strings) — though oracles should CAST outputs to BIGINT where
        # driver-SF values fit, keeping the exact string path
        if c in float_cols or g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            import numpy as np

            assert np.allclose(
                g[c].astype(float), w[c].astype(float), atol=tol, rtol=0, equal_nan=True
            ), f"column {c} values differ"
        else:
            pd.testing.assert_series_equal(
                g[c].astype(str), w[c].astype(str), check_names=False
            )
