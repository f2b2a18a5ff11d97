"""exact_sum/exact_avg must be order-insensitive and match their SQL twins.

Both engines must start from identical float64 values (as they do when
reading the same parquet), so the DuckDB side queries a registered
pandas frame — SQL literals would parse as DECIMAL and diverge.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from big_data_pipeline_spark.oracle import (
    exact_avg,
    exact_avg_sql,
    exact_decimal_sum,
    exact_sum,
    exact_sum_sql,
)


def _duck(pdf: pd.DataFrame, select: str) -> float:
    con = duckdb.connect()
    con.register("t", pdf)
    return con.execute(f"SELECT {select} FROM t").fetchone()[0]


def test_exact_sum_matches_duckdb(spark):
    pdf = pd.DataFrame({"x": [0.1 * i for i in range(1, 1000)]})
    df = spark.createDataFrame(pdf).repartition(8)
    got = df.agg(exact_sum("x * 2.0", "s")).first()["s"]
    want = _duck(pdf, exact_sum_sql("x * 2.0", "s"))
    assert got == want  # exact equality — that's the whole point


def test_exact_avg_matches_duckdb(spark):
    pdf = pd.DataFrame({"x": [1.0 / i for i in range(1, 500)]})
    df = spark.createDataFrame(pdf).repartition(7)
    got = df.agg(exact_avg("x", "a")).first()["a"]
    want = _duck(pdf, exact_avg_sql("x", "a"))
    assert got == want


def _input_sets(n: int = 20_000) -> pd.DataFrame:
    """The per-row rounding stress sets, one group each."""
    rng = np.random.default_rng(7)
    cents = lambda lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    sets = {
        # x·10⁶ lands exactly on a half for almost every row; the small
        # set sits where DuckDB's 1e-9 nudge breaks the tie away from zero
        "ties": (rng.integers(-10**9, 10**9, n) + 0.5) / 1e6,
        "ties_small": (rng.integers(-10**7, 10**7, n) + 0.5) / 1e6,
        "uniform": rng.uniform(-1e4, 1e4, n),
        "money": cents(1, 1e5) * (1 - cents(0, 0.1)) * (1 + cents(0, 0.08)),
        "offset": rng.uniform(0, 1, n) + 1e9,
        # sign handling of div/%: all-negative, and mixed signs whose
        # limbs cancel across rows
        "negative": -rng.uniform(0, 1e7, n),
        "mixed": rng.uniform(-1, 1, n) * 10.0 ** rng.integers(-6, 12, n),
    }
    return pd.concat(
        pd.DataFrame({"g": name, "x": x}) for name, x in sets.items()
    ).reset_index(drop=True)


def test_kernel_matches_duckdb_bit_for_bit_per_input_set(spark):
    pdf = _input_sets()
    df = spark.createDataFrame(pdf).repartition(6)
    got = {
        r["g"]: (r["s"], r["a"])
        for r in df.groupBy("g")
        .agg(exact_sum("x", "s"), exact_avg("x", "a"))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        g: (s, a)
        for g, s, a in con.execute(
            f"SELECT g, {exact_sum_sql('x', 's')}, {exact_avg_sql('x', 'a')} "
            "FROM t GROUP BY g"
        ).fetchall()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][0].hex() == want[g][0].hex(), g
        assert got[g][1].hex() == want[g][1].hex(), g


def test_kernel_decimal_form_keeps_decimal_38_6(spark):
    pdf = pd.DataFrame({"x": [1.25, -0.0000005, 2.5e-6, 3.0]})
    out = spark.createDataFrame(pdf).agg(exact_decimal_sum("x").alias("d"))
    assert out.schema["d"].dataType.simpleString() == "decimal(38,6)"
    want = _duck(pdf, "SUM(CAST(x AS DECIMAL(38,6)))")
    assert out.first()["d"] == want


def test_kernel_null_group_and_empty_input(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "x": [None, None, 1.5]})
    df = spark.createDataFrame(pdf, "g string, x double")
    got = {
        r["g"]: (r["s"], r["a"])
        for r in df.groupBy("g").agg(exact_sum("x", "s"), exact_avg("x", "a")).collect()
    }
    assert got == {"a": (None, None), "b": (1.5, 1.5)}
    assert _duck(pdf, exact_sum_sql("x", "s")) == 1.5
    con = duckdb.connect()
    con.register("t", pdf)
    assert con.execute(
        f"SELECT {exact_sum_sql('x', 's')} FROM t WHERE g = 'a'"
    ).fetchone()[0] is None

    empty = df.filter("false")
    row = empty.agg(exact_sum("x", "s"), exact_avg("x", "a")).first()
    assert (row["s"], row["a"]) == (None, None)
    assert con.execute(
        f"SELECT {exact_sum_sql('x', 's')}, {exact_avg_sql('x', 'a')} "
        "FROM t WHERE false"
    ).fetchone() == (None, None)


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("bad", [1e13, -9.3e12, float("nan"), float("inf")])
def test_kernel_raises_on_out_of_range_row(spark, ansi, bad):
    """|x·10⁶| beyond a BIGINT must never wrap, saturate or turn null."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame([(1.0,), (bad,), (None,)], "x double")
        with pytest.raises(Exception, match="exact sum"):
            df.agg(exact_sum("x", "s")).collect()
        # just inside the range still sums exactly
        ok = spark.createDataFrame([(9.2e12,), (-9.2e12,), (0.5,)], "x double")
        assert ok.agg(exact_sum("x", "s")).first()["s"] == 0.5
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_exact_sum_partition_invariant(spark):
    """The §7 determinism claim: the decimal-routed sum returns the
    SAME double at any parallelism (a raw double sum would not)."""
    pdf = pd.DataFrame({"x": [0.1 * i + 1e9 for i in range(1, 5000)]})
    results = set()
    for parts in (1, 3, 16, 64):
        df = spark.createDataFrame(pdf).repartition(parts)
        results.add(df.agg(exact_sum("x", "s")).first()["s"].hex())
    assert len(results) == 1, results


def test_dec_to_double_cast_correctly_rounded_beyond_2_53():
    """The sf0.1 regression pinned: DuckDB's direct DECIMAL→DOUBLE cast
    mis-rounds huge decimals; the VARCHAR route must agree with Python's
    correctly-rounded float() at every magnitude."""
    import duckdb

    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    con = duckdb.connect()
    for digits in ("25133409346739793615322624",  # the observed ss value
                   "12345678901234567890123456789",
                   "99999999999999999999.999999"):
        got = con.execute(
            f"SELECT {_dec_to_double_sql(f'CAST({digits} AS DECIMAL(38,6))')}"
        ).fetchone()[0]
        assert got.hex() == float(digits).hex(), digits
