"""Feature ops: the expression-form z-score must match its DuckDB
oracle (same integer-moment construction) on the corpus and on dirty,
degenerate and decimal-typed groups."""

from __future__ import annotations

from tests.conftest import SMOKE_SF
from tests.oracle import assert_parity
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.features import zscore, zscore_oracle_sql


def _zscore_oracle_parity(df, key_col: str, value_col: str):
    """``zscore`` over ``df`` next to its DuckDB oracle over the same
    rows (Arrow keeps NULL, NaN and decimal types distinct); returns
    the Spark z-scores by event id."""
    import duckdb

    con = duckdb.connect()
    con.register("t", df.toArrow())
    got = zscore(df, key_col, value_col)
    assert_parity(got, con.sql(zscore_oracle_sql("t", key_col, value_col)), "zscore")
    return {r["event_id"]: r["zscore"] for r in got.collect()}


def test_pandas_zscore_equals_expression_zscore(spark, duck):
    """The corpus events, degenerate groups included: both engines emit
    SQL NULL (not float NaN) for n=1/zero-var groups."""
    events = load_table(spark, SMOKE_SF, "events")
    assert_parity(
        zscore(events, "user_id", "value"),
        duck.sql(zscore_oracle_sql("events", "user_id", "value")),
        "zscore",
    )


def test_zscore_basic_properties(spark):
    df = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0), (4, 20, 5.0)],
        "event_id bigint, user_id bigint, value double",
    )
    z = {r["event_id"]: r["zscore"] for r in zscore(df, "user_id", "value").collect()}
    assert z[2] == 0.0  # mean element
    assert z[1] == -z[3]  # symmetric
    assert z[4] is None  # singleton group


def test_approx_distinct_error_bound(spark):
    """q_approx_distinct (the HLL++ scale path of q_count_distinct)
    emits its own error-bound contract since round 7 — `within_bound`
    = |est − exact|·100 ≤ 15·exact, hash-checked against a TRUE-stating
    oracle. This test pins the LOCAL tier: every group is within bound
    at sf0.001, and the exact legs (n_exact, n_events) agree with
    q_count_distinct's independent exact aggregation."""
    from tia_data_pipeline_spark.plans.llm import q_approx_distinct, q_count_distinct

    approx = {
        r["event_type"]: (r["n_exact"], r["n_events"], r["within_bound"])
        for r in q_approx_distinct(spark, SMOKE_SF).collect()
    }
    exact = {
        r["event_type"]: (r["n_users"], r["n_events"])
        for r in q_count_distinct(spark, SMOKE_SF).collect()
    }
    assert set(approx) == set(exact)
    for etype, (n_exact, n_events, within) in approx.items():
        n_users_exact, n_events_exact = exact[etype]
        assert n_exact == n_users_exact
        assert n_events == n_events_exact
        assert within is True, f"{etype}: sketch outside the 15% bound"


def test_pandas_zscore_dirty_group_and_half_cents(spark):
    """Groups containing NULL/NaN values, and exact half-cents (Spark
    F.round and DuckDB round are both HALF-UP: 12.5 cents -> 13)."""
    df = spark.createDataFrame(
        [
            (1, 1, 0.125),   # 12.5 cents: HALF-UP -> 13
            (2, 1, 2.0),
            (3, 1, None),    # dirty measurement
            (4, 1, float("nan")),
            (5, 2, 1.0),
            (6, 2, 1.0),
        ],
        "event_id bigint, user_id bigint, value double",
    )
    expr = _zscore_oracle_parity(df, "user_id", "value")
    assert expr[3] is None and expr[4] is None  # dirty rows -> NULL z
    assert expr[1] is not None  # valid stats from the 2 clean rows


def test_pandas_zscore_dirty_degenerate_group(spark):
    """A group that is BOTH degenerate (n <= 1 valid, or zero variance)
    AND dirty (NULL/NaN rows): both engines emit NULL for every row of
    such groups, including the dirty rows."""
    df = spark.createDataFrame(
        [
            (1, 1, 0.5),            # single valid row + a NULL: n=1, len=2
            (2, 1, None),
            (3, 2, 1.0),            # zero-variance pair + a NaN: n=2, len=3
            (4, 2, 1.0),
            (5, 2, float("nan")),
        ],
        "event_id bigint, user_id bigint, value double",
    )
    expr = _zscore_oracle_parity(df, "user_id", "value")
    assert all(v is None for v in expr.values())


def test_pandas_zscore_decimal_value_column(spark):
    """A decimal-typed money column and a string key: the value column
    passes through with its input type and the z-scores match the
    oracle's."""
    from decimal import Decimal

    rows = [
        (1, "a", Decimal("10.00")),
        (2, "a", Decimal("12.50")),
        (3, "a", Decimal("14.00")),
        (4, "b", Decimal("5.25")),
        (5, "b", Decimal("5.75")),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, k string, v decimal(18,2)"
    )
    expr_out = _zscore_oracle_parity(df, "k", "v")
    assert expr_out[4] is not None and expr_out[4] == -expr_out[5]


def test_approx_quantiles_rank_bound(spark):
    """q_approx_quantiles' contract is the rank-error window — this
    pins the claim independently: every within_bound is True on the
    real corpus AND the checked interval is genuinely tight (the sketch
    value's exact rank sits within ±n/accuracy of p·n, verified here
    against a driver-side exact sort of the sf0.001 column)."""
    from tia_data_pipeline_spark.plans.analytics import _AQ_ACC, _AQ_PS, q_approx_quantiles

    rows = q_approx_quantiles(spark, SMOKE_SF).collect()
    assert [r["pct"] for r in rows] == _AQ_PS
    assert all(r["within_bound"] for r in rows)

    # independent exact check: small corpus, sort locally
    from tia_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    xs = sorted(
        r["x"]
        for r in load_table(spark, SMOKE_SF, "lineitem")
        .select(F.col("l_extendedprice").alias("x"))
        .filter(F.col("x").isNotNull())
        .collect()
    )
    n = len(xs)
    sk = (
        load_table(spark, SMOKE_SF, "lineitem")
        .agg(
            F.percentile_approx(
                "l_extendedprice", F.array(*[F.lit(p) for p in _AQ_PS]), F.lit(_AQ_ACC)
            ).alias("qs")
        )
        .collect()[0]["qs"]
    )
    import bisect

    for p, v in zip(_AQ_PS, sk):
        lo_rank = bisect.bisect_left(xs, v) + 1
        hi_rank = bisect.bisect_right(xs, v)
        import math

        lo_ok = math.floor((p - 1.0 / _AQ_ACC) * n)
        hi_ok = math.ceil((p + 1.0 / _AQ_ACC) * n)
        assert hi_rank >= lo_ok and lo_rank <= hi_ok, (p, v, lo_rank, hi_rank, lo_ok, hi_ok)


def test_approx_quantiles_nonfinite_nullified_at_entry(spark):
    """NaN/Inf measurements must nullify BEFORE the sketch (NaN sorts
    ABOVE +Inf in Spark and would occupy the top ranks on one engine
    only); zero finite values then yields zero rows — the plan-level
    empty contract is covered by the hostile empty-tables sweep, the
    oracle by its WHERE n > 0."""
    import pyspark.sql.functions as F

    from tia_data_pipeline_spark.functions.text import finite_value

    df = spark.createDataFrame([(float("nan"),), (float("inf"),)], "x double")
    assert df.select(finite_value(F.col("x")).alias("v")).filter(
        F.col("v").isNotNull()
    ).count() == 0
