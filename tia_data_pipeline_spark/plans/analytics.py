"""Analytics tier — extension operators beyond the reference's own
surface (SURVEY §2.3 'not present in the reference' list, promoted to
first-class: window frames, rollup, pivot, set ops, as-of / range
joins, latest-per-key dedup) plus embedding column statistics.

Everything is oracle-checked; money/score aggregates go through the
exact integer-unit path (``money_sum``) and window frames use
microsecond arithmetic so both engines hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.functions.text import (
    DAY_US,
    dec19,
    epoch_day,
    epoch_day_sql,
    finite_value,
    finite_value_sql,
    nano_int,
    nano_int_sql,
    portable_round,
    portable_round_sql,
)
from tia_data_pipeline_spark.functions.vectors import (
    EMB_VALID_TABLE_SQL as _E,
    valid_embeddings,
)
from tia_data_pipeline_spark.operators.features import zscore, zscore_oracle_sql
from tia_data_pipeline_spark.operators.scale import fan_out
from tia_data_pipeline_spark.plans.contract import contract_query

# finite guard inside: a NaN/Inf measurement nullifies instead of
# aborting the ANSI cast (see functions.text.finite_value)
_CENTS = "round(CASE WHEN isfinite(value) THEN value END * 100)::BIGINT"
_QS = (0.25, 0.5, 0.9)


@contract_query(
    "q_quantiles",
    oracle=(
        "SELECT event_type, "
        + ", ".join(
            portable_round_sql(
                "quantile_cont(" + finite_value_sql("value") + f", {q})", 6
            )
            + f" AS p{int(q * 100)}"
            for q in _QS
        )
        + " FROM events GROUP BY event_type"
    ),
    covers="exact interpolated quantiles per group (extension)",
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (same interpolation
    definition), computed scale-shaped: first collapse to
    (event_type, value, count) with a map-side-combined hash aggregate,
    then fold ``percentile(value, q, freq)`` over the *value domain*.
    ``value`` is cent-quantized, so the domain is bounded: the naive
    per-group fold buffers every raw row in ~|groups| reduce tasks (a
    straggler by construction at 100 TB — measured 6x slower and
    GC-spiky under bench heap pressure at sf0.1), while this form's
    final fold sees at most |distinct cents| rows per group regardless
    of row count. Frequency-weighted interpolation is bit-identical to
    the raw fold, so the quantile_cont oracle is unchanged. The further
    scale escape for unbounded value domains is ``approx_percentile``
    (t-digest sketch, mergeable map-side)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "value", finite_value(F.col("value"))
    )
    vc = events.groupBy("event_type", "value").agg(F.count("*").alias("freq"))
    return vc.groupBy("event_type").agg(
        *[
            portable_round(F.expr(f"percentile(value, {q}, freq)"), 6).alias(f"p{int(q * 100)}")
            for q in _QS
        ]
    )


@contract_query(
    "q_zscore",
    oracle=zscore_oracle_sql("events", "user_id", "value"),
    covers="feature scaling: per-key z-score normalization (extension)",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of event values — the feature-scaling step of
    a training pipeline, deterministic via exact integer moments (see
    operators/features.py)."""
    return zscore(load_table(spark, sf_dir, "events"), "user_id", "value")


@contract_query(
    "q_window_frames",
    oracle=(
        "WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, "
        f"{_CENTS} AS cents FROM events WHERE ts IS NOT NULL) "
        "SELECT event_id, user_id, "
        "(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS UNBOUNDED PRECEDING))::BIGINT::DOUBLE / 100.0 AS running_value, "
        "(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT::DOUBLE "
        "  / (count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 100.0 AS moving_avg "
        "FROM e"
    ),
    covers="window functions with frames (extension; generalizes agg-count)",
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total and 3-row moving average over the event
    stream — frame aggregates in exact integer cents. One shuffle on
    user_id serves both frames (same window partitioning)."""
    # frames are event-time ordered: rows without a timestamp are
    # excluded explicitly (NULL ordering diverges across engines)
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cents = F.round(finite_value(F.col("value")) * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame3 = w.rowsBetween(-2, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        (F.sum(cents).over(running).cast("double") / 100.0).alias("running_value"),
        (F.sum(cents).over(frame3).cast("double") / F.count("*").over(frame3) / 100.0).alias(
            "moving_avg"
        ),
    )


@contract_query(
    "q_topk_per_group",
    oracle=(
        "SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice "
        "FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice, "
        # tiebreak NULL placement stated explicitly: the key columns
        # are nullable, and Spark ASC defaults NULLS FIRST where DuckDB
        # defaults NULLS LAST — a tie straddling the rank-3 cutoff
        # would otherwise emit different rows
        "  row_number() OVER (PARTITION BY l_returnflag, l_linestatus "
        "  ORDER BY l_extendedprice DESC NULLS LAST, "
        "    l_orderkey NULLS LAST, l_linenumber NULLS LAST) AS rn FROM lineitem) "
        "WHERE rn <= 3"
    ),
    covers="top-k per group (windowed topk-latest generalization)",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priced items per (returnflag, linestatus) — row_number
    with full tiebreak; Spark runs this as a partial top-k per
    partition before the shuffle (WindowGroupLimit). The narrowed scan
    fans out first: the partial phase SORTS each input partition, so a
    few-split scan serializes the sort onto a few cores (measured
    1.23s -> 0.86s at sf0.1's 3-split lineitem; at cluster scale the
    scan arrives pre-split and the widening no-ops). RE-MEASURED r12
    under the post-bypass-writer regime (VERDICT r11 #6 — the r4
    number was stale): interleaved min-of-5, fan_out 0.925 vs plain
    0.884 s (medians 1.009 vs 1.013) — a tie at sf0.1; fan_out stays
    because it is free at cluster scale and the pinned decision
    (tests/test_plans.py::test_fan_out_decision_pinned) keeps the
    CPU-bound-projection rule uniform across the registry."""
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_extendedprice"
        )
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("l_extendedprice").desc_nulls_last(),
        F.col("l_orderkey").asc_nulls_last(),
        F.col("l_linenumber").asc_nulls_last(),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


@contract_query(
    "q_rollup",
    oracle=(
        "SELECT l_returnflag, l_linestatus, count(*) AS n_items, "
        "(sum(round(l_quantity * 100)::BIGINT))::DOUBLE / 100.0 AS sum_qty "
        # HAVING count(*) > 0: on EMPTY input DuckDB synthesizes the
        # grand-total grouping-set row (n=0) while Spark's rollup emits
        # zero rows; no real group can have count 0, so the clause only
        # drops that synthetic row — empty-table parity.
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) "
        "HAVING count(*) > 0"
    ),
    covers="grouping sets / rollup (extension)",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (flag, status), (flag), and grand total.

    TWO-LEVEL accumulation (round 7 — root cause of the r6 2.6× bench
    regression was the decimal(38,0) accumulator running on every
    corpus row; measured 0.73→0.24 s at sf0.1, interleaved min-of-4):
    the corpus-scan leg sums cents as BIGINT per leaf (flag, status)
    group — exact, codegen-friendly, overflow-bounded by one leaf
    holding ~1.8e15 rows at max quantity (≈100× the 100 TB design
    point) — and only the |leaf|-sized rollup over the partials uses
    the unbounded decimal accumulator, so the grand total stays exact
    and abort-free at ANY scale. Algebraically identical to the
    single-pass rollup (rollup grouping sets are sum-decomposable over
    the leaf partition, NULL key values included); the oracle keeps
    DuckDB's native one-pass ROLLUP with its HUGEINT accumulator."""
    li = load_table(spark, sf_dir, "lineitem")
    qcents = F.round(F.col("l_quantity") * 100).cast("bigint")
    leaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"), F.sum(qcents).alias("_cents")
    )
    return leaf.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n_items"),
        (F.sum(F.col("_cents").cast("decimal(38,0)")).cast("double") / 100.0).alias(
            "sum_qty"
        ),
    )


@contract_query(
    "q_cube",
    oracle=(
        "SELECT l_returnflag, l_linestatus, count(*) AS n_items "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) "
        "HAVING count(*) > 0"  # empty-input parity, see q_rollup
    ),
    covers="grouping sets / cube (extension)",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations in one scan (cube ⊃ rollup:
    adds the (status-only) marginals)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"))
    )


@contract_query(
    "q_pivot_status",
    oracle=(
        "SELECT o_orderpriority, "
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, "
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p "
        "FROM orders GROUP BY o_orderpriority"
    ),
    covers="pivot / conditional aggregation (extension)",
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts by priority pivoted across status values (explicit
    value list keeps the plan one-pass; pivot-count null → 0 to match
    the FILTER form)."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = orders.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return pivoted.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in ("F", "O", "P")],
    )


@contract_query(
    "q_set_ops",
    oracle=(
        "SELECT o_custkey FROM ("
        "  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
        "    AND o_orderdate < TIMESTAMP '1996-01-01' "
        "  INTERSECT "
        "  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "    AND o_orderdate < TIMESTAMP '1997-01-01') "
        "EXCEPT "
        "SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "  AND o_orderdate < TIMESTAMP '1997-07-01'"
    ),
    covers="set operations: intersect / except (extension)",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both 1995 and 1996 but not in 1997H1 —
    INTERSECT/EXCEPT compile to aggregate + semi/anti joins."""
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(lo: str, hi: str) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
        ).select("o_custkey")

    return (
        year_keys("1995-01-01", "1996-01-01")
        .intersect(year_keys("1996-01-01", "1997-01-01"))
        .exceptAll(year_keys("1997-01-01", "1997-07-01"))
        .distinct()
    )


@contract_query(
    "q_asof_join",
    oracle=(
        # signup, not a 'login' type that exists in NO corpus: with a
        # dead anchor the last_value/ordering logic is never exercised
        # and every parity check passes vacuously. NULL ts/user are
        # filtered on BOTH sides (event-time rule): the window ORDER BY
        # ts places a NULL-ts row FIRST on Spark and LAST on DuckDB,
        # flipping the as-of frame contents.
        "WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type, "
        "  CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END AS signup_ts "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
        "tagged AS (SELECT event_id, user_id, ts, event_type, "
        "  last_value(signup_ts IGNORE NULLS) OVER (PARTITION BY user_id "
        "  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS last_signup_ts FROM e) "
        "SELECT event_id, user_id, ts, last_signup_ts FROM tagged "
        "WHERE event_type = 'purchase'"
    ),
    covers="as-of join (extension; union-tag + last_value form)",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join without a range join: for every purchase, the user's
    most recent signup at-or-before it. Union-tag form — one window
    pass over the merged stream instead of a per-row backward scan, so
    cost is O(events log events) per key, not O(purchases × signups).
    NULL ts/user filtered on both sides (NULL ORDER BY placement
    diverges cross-engine)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_signup_ts"),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_signup_ts"
    )


@contract_query(
    "q_range_join",
    oracle=(
        "WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type FROM events) "
        "SELECT a.event_id, count(b.event_id) AS n_nearby "
        "FROM e a JOIN e b ON a.user_id = b.user_id "
        "  AND b.ts >= a.ts - INTERVAL 15 MINUTE AND b.ts <= a.ts + INTERVAL 15 MINUTE "
        "  AND b.event_id <> a.event_id "
        "WHERE a.event_type = 'error' GROUP BY a.event_id"
    ),
    covers="range / interval join (extension)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: how many same-user events within ±15 minutes.
    The equi key (user_id) carries the shuffle; the range predicate is
    a post-join filter — the standard shape Spark/AQE handles without
    a cross product."""
    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"), F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    b = events.select(
        F.col("event_id").alias("b_id"), F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    )
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 15 MINUTES"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 15 MINUTES"))
            & (F.col("b_id") != F.col("a_id")),
        )
        .groupBy(F.col("a_id").alias("event_id"))
        .agg(F.count("*").alias("n_nearby"))
    )


@contract_query(
    "q_profile",
    oracle=(
        # finite_value on the price measurement (the non-finite rule):
        # a NaN reaching round(v*100)::BIGINT aborts BOTH engines; the
        # row survives (n_rows), the value contributes nothing. The
        # cents sum accumulates as decimal/HUGEINT (group sums are
        # unbounded — a bigint accumulator aborts only on Spark).
        "SELECT count(*) AS n_rows, "
        "count(*) FILTER (WHERE o_totalprice IS NULL) AS n_null_price, "
        f"min({finite_value_sql('o_totalprice')}) AS min_price, "
        f"max({finite_value_sql('o_totalprice')}) AS max_price, "
        f"(sum(round({finite_value_sql('o_totalprice')} * 100)::BIGINT)::DOUBLE "
        f"  / count({finite_value_sql('o_totalprice')}) / 100.0) "
        "  AS mean_price, "
        "count(DISTINCT o_orderstatus) AS n_statuses, "
        "min(o_orderdate) AS first_order, max(o_orderdate) AS last_order "
        "FROM orders"
    ),
    covers="data-quality profiling (counts/nulls/min/max/mean per column)",
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile — the data-quality gate of an ingest
    pipeline (all aggregates share a single scan; mean in exact
    cents, non-finite prices nullified per the measurement rule).
    At 100 TB this runs as one map-reduce over the table."""
    orders = load_table(spark, sf_dir, "orders")
    fv = finite_value(F.col("o_totalprice"))
    # finite_value is PROJECTED once per row (round 7): inlining it in
    # each of the four aggregates re-evaluated the NaN/Inf guards 4×
    # per row (measured 0.21→0.175 s at sf0.1). The cents sum keeps the
    # decimal accumulator — unlike q_rollup there is no natural leaf
    # grouping to bound a bigint partial, and total-price cents at
    # 100 TB order counts approach 2^63.
    pre = orders.select(
        "o_totalprice",
        "o_orderstatus",
        "o_orderdate",
        fv.alias("_fv"),
        F.round(fv * 100).cast("bigint").cast("decimal(38,0)").alias("_cents"),
    )
    return pre.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("n_null_price"),
        F.min("_fv").alias("min_price"),
        F.max("_fv").alias("max_price"),
        (F.sum("_cents").cast("double") / F.count("_fv") / 100.0).alias("mean_price"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@contract_query(
    "q_ntile",
    oracle=(
        # NULL prices are excluded on BOTH sides (order-stats rule): a
        # NULL measurement in the quartile ORDER BY sorts FIRST on
        # Spark and LAST on DuckDB, shifting every bucket boundary.
        "SELECT o_orderkey, o_totalprice, "
        "ntile(4) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice, o_orderkey) AS price_quartile "
        "FROM orders WHERE o_totalprice IS NOT NULL"
    ),
    covers="ntile quantile bucketing (feature binning)",
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price quartile per priority class — the feature-binning window;
    full tiebreak (price, key) pins bucket boundaries; NULL prices
    filtered on both sides (order stats filter NULL measurements)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_totalprice", F.ntile(4).over(w).alias("price_quartile")
    )


@contract_query(
    "q_dedup_latest",
    oracle=(
        "SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM ("
        "  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "  row_number() OVER (PARTITION BY o_custkey "
        "  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) WHERE rn = 1"
    ),
    covers="latest-version-per-key dedup (merge-upsert read side)",
)
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer — the read-side of merge semantics
    ('newest record wins'), deterministic via full tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@contract_query(
    "q_embed_stats",
    oracle=(
        "WITH n AS (SELECT label, round(sqrt(list_reduce(list_prepend(0.0, "
        "  list_transform(embedding::DOUBLE[], x -> x * x)), (acc, x) -> acc + x)) "
        f"  * 1000000)::BIGINT AS norm_u FROM {_E} embeddings) "
        "SELECT label, count(*) AS n_vecs, "
        "sum(norm_u)::DOUBLE / count(*) / 1000000.0 AS avg_norm "
        "FROM n GROUP BY label"
    ),
    covers="ext-multimodal / embedding column statistics",
)
def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector count and mean L2 norm. The norm is folded
    left-to-right in double on both engines, scaled to integer
    micro-units before the mean so the aggregate is order-independent.
    Reads through the shared valid-vector precondition (a NaN/Inf
    component reaching `round(...)::BIGINT` aborts under ANSI)."""
    emb = valid_embeddings(spark, sf_dir)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    # decimal accumulator (group sums are unbounded; DuckDB's BIGINT
    # sum is already a HUGEINT accumulator)
    norm_u = F.round(norm * 1_000_000).cast("bigint").cast("decimal(38,0)")
    return (
        emb.select("label", norm_u.alias("norm_u"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("norm_u").cast("double") / F.count("*") / 1_000_000.0).alias("avg_norm"),
        )
    )


@contract_query(
    "q_cohort_retention",
    oracle=(
        "WITH d AS (SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day FROM events "
        "  WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
        "c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id) "
        "SELECT c.cohort_day, date_diff('day', c.cohort_day, d.day)::BIGINT AS day_offset, "
        "count(DISTINCT d.user_id)::BIGINT AS n_users "
        "FROM d JOIN c ON d.user_id = c.user_id GROUP BY c.cohort_day, day_offset"
    ),
    covers="cohort analysis: first-activity grouping + retention offsets (extension)",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention curve over events: users bucketed by first-seen
    day, distinct actives per (cohort_day, day_offset). Cohort day is a
    window min over the single user_id shuffle (no self-join); the
    rollup is a two-phase distinct count. The oracle derives the same
    cohort via groupBy+join — different shape, identical relation."""
    from tia_data_pipeline_spark.operators.windows import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


@contract_query(
    "q_funnel",
    oracle=(
        "WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events), "
        "s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) "
        "  OVER (PARTITION BY user_id) AS t1 FROM e), "
        "s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END) "
        "  OVER (PARTITION BY user_id) AS t2 FROM s1), "
        "s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END) "
        "  OVER (PARTITION BY user_id) AS t3 FROM s2), "
        "u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM s3) "
        "SELECT 'view' AS stage, count(t1)::BIGINT AS n_users FROM u "
        "UNION ALL SELECT 'view>click', count(t2)::BIGINT FROM u "
        "UNION ALL SELECT 'view>click>purchase', count(t3)::BIGINT FROM u"
    ),
    covers="ordered-funnel analysis: strictly-sequenced conversion stages (extension)",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel (view → click → purchase, strictly
    increasing event times): stage k's timestamp is the earliest
    qualifying event AFTER stage k-1, computed as three conditional
    window-mins over the SAME user_id partitioning — one shuffle, no
    self-joins (the naive form is k-1 joins back onto events). The
    distinct (user, t1, t2, t3) frame then folds to one row per stage
    via stack()."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = events.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("t3", t3)
    # t1/t2/t3 are constant within a user's partition, so collapsing to
    # one row per user is a groupBy on user_id — which REUSES the
    # windows' hash partitioning (zero extra exchange), where a
    # 4-column distinct would repartition on all four columns.
    u = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    counts = u.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"), F.count("t3").alias("c3")
    )
    return counts.selectExpr(
        "stack(3, 'view', c1, 'view>click', c2, 'view>click>purchase', c3) AS (stage, n_users)"
    )


# ---------------------------------------------------------------------------
# q_pagerank — fixed-iteration integer PageRank over the purchase graph
# ---------------------------------------------------------------------------

_PR_ITER = 5
_PR_DAMP = 85
_PR_SCALE = 1_000_000_000


def _pagerank_oracle() -> str:
    """The exact integer-PageRank recurrence as chained CTEs (DuckDB
    disallows grouped aggregation over a recursive reference, so the
    fixed iteration count unrolls instead — semantically identical to
    the operator's driver loop)."""
    base = (100 - _PR_DAMP) * _PR_SCALE // 100
    sql = (
        "WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
        "edges AS (SELECT c AS src, s AS dst FROM pairs UNION SELECT s, c FROM pairs), "
        "deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src), "
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges), "
        f"pr0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank_n FROM nodes), "
    )
    for i in range(_PR_ITER):
        sql += (
            f"pr{i + 1} AS (SELECT n.node, "
            f"CAST({base} + {_PR_DAMP} * COALESCE(s.c, 0) // 100 AS BIGINT) AS rank_n "
            "FROM nodes n LEFT JOIN ("
            "  SELECT e.dst, SUM(p.rank_n // d.deg) AS c "
            f"  FROM edges e JOIN deg d ON e.src = d.src JOIN pr{i} p ON p.node = e.src "
            "  GROUP BY e.dst) s ON s.dst = n.node), "
        )
    sql = sql.rstrip(", ")
    return (
        sql
        + " SELECT node, CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind, "
        f"rank_n, {portable_round_sql(f'rank_n / {_PR_SCALE}.0', 6)} AS rank "
        f"FROM pr{_PR_ITER}"
    )


@contract_query(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    covers="iterative link analysis (extension: fixed-iteration integer PageRank)",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier purchase graph
    (edges: 'customer c bought from supplier s', both directions, from
    orders ⋈ lineitem), five damped iterations.

    Every quantity is BIGINT (see ``operators.graph.pagerank_integer``):
    contributions are integer divisions and the per-node sum is a
    bigint aggregate, so the result is bit-identical across engines
    and partitionings — the oracle states the same recurrence as
    chained SQL CTEs. Node ids disambiguate the two key spaces by
    parity (cust*2 / supp*2+1).

    Scale shape: rank state is (node, int64), orders of magnitude
    smaller than the edge list, so each iteration BROADCASTS it onto
    the persisted degree-annotated edges — the edges never shuffle and
    the only per-iteration exchange is the partial→final contribution
    sum (plan-pinned). No driver-side graph. Node sets beyond broadcast
    reach flip ``small_rank_state=False`` (shuffle joins, where
    bucketing the edge list by src pays)."""
    from tia_data_pipeline_spark.operators.graph import pagerank_integer

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").union(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    ranks = pagerank_integer(
        edges, "src", "dst",
        iterations=_PR_ITER, damping_pct=_PR_DAMP, scale=_PR_SCALE,
    )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        "rank_n",
        portable_round(F.col("rank_n") / F.lit(float(_PR_SCALE)), 6).alias("rank"),
    )


# ---------------------------------------------------------------------------
# q_winsorize — robust (winsorized) group statistics via exact order stats
# ---------------------------------------------------------------------------


@contract_query(
    "q_winsorize",
    oracle=(
        f"WITH v AS (SELECT event_type, {_CENTS} AS cents FROM events "
        "  WHERE isfinite(value)), "
        "r AS (SELECT event_type, cents, "
        "  row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, "
        "  count(*) OVER (PARTITION BY event_type) AS n FROM v), "
        "b AS (SELECT event_type, max(n)::BIGINT AS n, "
        "  max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo_c, "
        "  max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi_c "
        "  FROM r GROUP BY event_type), "
        "w AS (SELECT v.event_type, b.n, b.lo_c, b.hi_c, "
        "  SUM(v.cents)::BIGINT AS sum_c, "
        "  SUM(least(greatest(v.cents, b.lo_c), b.hi_c))::BIGINT AS wsum_c "
        "  FROM v JOIN b ON v.event_type = b.event_type "
        "  GROUP BY v.event_type, b.n, b.lo_c, b.hi_c) "
        "SELECT event_type, n, "
        f"  {portable_round_sql('lo_c / 100.0', 2)} AS p05, "
        f"  {portable_round_sql('hi_c / 100.0', 2)} AS p95, "
        f"  {portable_round_sql('sum_c / (n * 100.0)', 6)} AS mean, "
        f"  {portable_round_sql('wsum_c / (n * 100.0)', 6)} AS win_mean "
        "FROM w"
    ),
    covers="robust group statistics (extension: exact-order-stat winsorized mean)",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group statistics: clamp ``value`` at the exact
    5th/95th order statistics (percentile_disc semantics — the element
    at rank ``ceil(p·n)``, never an interpolated double) and report the
    robust mean beside the raw mean — the outlier-resistant metric
    sheet a data-quality monitor publishes per event type.

    Exactness: values quantize to integer cents up front (the
    ``money_sum`` discipline), ranks and clamp bounds are integer order
    statistics, and both sums are BIGINT — order-independent under any
    partitioning; doubles appear only in the final rounded divisions.

    Scale shape: one rank window and the clamp re-aggregation share
    the same (event_type) hash partitioning — the join of the 6-row
    bounds table back onto the value stream broadcasts. Per-group state
    is bounded by the group's row count only in the rank window's sort
    (the standard per-partition sort, spillable); no global sort
    anywhere."""
    # order statistics are over OBSERVED measurements: NULL values are
    # excluded explicitly (they also rank NULLS FIRST on Spark vs
    # NULLS LAST on DuckDB, so leaving them in diverges the ranks)
    ev = (
        load_table(spark, sf_dir, "events")
        # one finiteness definition: rows whose measurement nullifies
        # under finite_value are dropped (order stats need real values)
        .filter(finite_value(F.col("value")).isNotNull())
        .select("event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"))
    )
    wr = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("cents"))).alias("lo_c"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("cents"))).alias("hi_c"),
    )
    w = (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n", "lo_c", "hi_c")
        .agg(
            F.sum("cents").cast("bigint").alias("sum_c"),
            F.sum(F.least(F.greatest(F.col("cents"), F.col("lo_c")), F.col("hi_c")))
            .cast("bigint")
            .alias("wsum_c"),
        )
    )
    return w.select(
        "event_type",
        "n",
        portable_round(F.col("lo_c") / 100.0, 2).alias("p05"),
        portable_round(F.col("hi_c") / 100.0, 2).alias("p95"),
        portable_round(F.col("sum_c") / (F.col("n") * 100.0), 6).alias("mean"),
        portable_round(F.col("wsum_c") / (F.col("n") * 100.0), 6).alias("win_mean"),
    )


# ---------------------------------------------------------------------------
# q_ols_trend — per-group least-squares trend over event time
# ---------------------------------------------------------------------------


@contract_query(
    "q_ols_trend",
    oracle=(
        # both coordinates present, stated BEFORE the re-basing window:
        # a NULL-ts or NULL/non-finite-value row would otherwise enter
        # n (and the min-x base) while its moments are excluded, making
        # the slope the OLS of no consistent population
        "WITH e AS (SELECT event_type, "
        "  epoch_us(ts::TIMESTAMP) // 1000000 AS xs, "
        f"  {_CENTS} AS cents FROM events "
        f"  WHERE ts IS NOT NULL AND {_CENTS} IS NOT NULL), "
        "r AS (SELECT event_type, cents, "
        "  xs - min(xs) OVER (PARTITION BY event_type) AS x FROM e), "
        # x::HUGEINT before multiplying: the per-term PRODUCT itself
        # overflows INT64 for century-scale spans (x ~ 1.1e10 s ->
        # x*x ~ 1.3e20) even though the HUGEINT sum would be fine —
        # matching the Spark side's decimal(19)xdecimal(19) promotion
        "g AS (SELECT event_type, count(*)::BIGINT AS n, "
        "  sum(x)::BIGINT AS sx, sum(cents)::BIGINT AS sy, "
        "  sum(x::HUGEINT * cents) AS sxy, sum(x::HUGEINT * x) AS sxx "
        "  FROM r GROUP BY event_type) "
        "SELECT event_type, n, "
        f"  {portable_round_sql('sy::DOUBLE / n / 100.0', 6)} AS mean_value, "
        "  CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0 THEN "
        + portable_round_sql(
            "(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) "
            "/ (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * 86400.0 / 100.0",
            6,
        )
        + " END AS slope_per_day FROM g"
    ),
    covers="trend detection (extension: per-group exact-moment OLS slope)",
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time: the OLS slope
    (value units per DAY) from exact integer moments — the metric-drift
    detector a monitoring pipeline fits per series.

    Exactness: x is whole seconds RE-BASED per group (x − min(x), so
    x ≤ the window span and x² stays far from 2^62), y is integer
    cents; Σx/Σy are bigint and Σxy/Σx² accumulate as decimal(38,0)
    (the q_zscore discipline — group sums of products are unbounded
    even when each product fits; DuckDB's HUGEINT matches decimal
    exactly). The slope combines the sums in ONE fixed double op
    sequence identical to the oracle text, so both engines round the
    same doubles. Groups with a degenerate time axis (all events at
    one instant) yield NULL.

    Scale shape: the per-group min-window and the moment aggregate
    share one (event_type) hash partitioning; output is |groups| rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 1000000").alias("xs"),
            F.round(finite_value(F.col("value")) * 100).cast("bigint").alias("cents"),
        )
        .filter(F.col("cents").isNotNull())
    )
    w = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "cents",
        (F.col("xs") - F.min("xs").over(w)).alias("x"),
    )
    g = r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum((dec19("x") * dec19("cents")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dec19("x") * dec19("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    nd, sxd, syd = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxyd, sxxd = (F.col(c).cast("double") for c in ("sxy", "sxx"))
    den = nd * sxxd - sxd * sxd
    slope = (nd * sxyd - sxd * syd) / den * 86400.0 / 100.0
    return g.select(
        "event_type",
        "n",
        portable_round(syd / nd / 100.0, 6).alias("mean_value"),
        F.when(den > 0, portable_round(slope, 6)).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# q_autocorr — lag-1 autocorrelation of the daily event series
# ---------------------------------------------------------------------------


@contract_query(
    "q_autocorr",
    oracle=(
        "WITH d AS (SELECT date_trunc('day', ts::TIMESTAMP) AS day, "
        "  count(*)::BIGINT AS x FROM events WHERE ts IS NOT NULL GROUP BY day), "
        "p AS (SELECT x, lead(x) OVER (ORDER BY day) AS y FROM d), "
        "q AS (SELECT * FROM p WHERE y IS NOT NULL), "
        "g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, "
        "  sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy, "
        "  sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy FROM q) "
        "SELECT n AS n_pairs, "
        f"  {portable_round_sql('sx::DOUBLE / n', 6)} AS mean_daily, "
        "  CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) "
        "         * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 THEN "
        + portable_round_sql(
            "(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) "
            "/ sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) "
            "     * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))",
            6,
        )
        + " END AS autocorr FROM g"
    ),
    covers="time-series diagnostics (extension: lag-1 autocorrelation of daily volume)",
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of the daily event count — the
    serial-dependence diagnostic behind seasonality/anomaly monitors
    (near 0: volume is memoryless day to day; near ±1: strong
    trend/alternation, so day-grain resampling is unsafe).

    Exactness: daily counts are exact bigints; the (x, next-day) pairs
    come from one lead() over the ~|days| collapsed series (the
    single-partition window runs over the aggregated grid, q_quantiles
    caveat); Σx/Σy are bigint and the product sums accumulate as
    decimal(38,0) (daily counts square past 2^62 at warehouse volume —
    the zscore rule), then one fixed double sequence shared with the
    oracle text. A constant series (zero variance) yields NULL.

    Scale shape: the only corpus-sized work is the (day) aggregate —
    partial counts collapse map-side; everything after runs on |days|
    rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        F.date_trunc("day", F.col("ts")).alias("day")
    )
    daily = ev.groupBy("day").agg(F.count("*").cast("bigint").alias("x"))
    wd = Window.orderBy("day")
    q = daily.select("day", "x", F.lead("x").over(wd).alias("y")).filter(
        F.col("y").isNotNull()
    )
    g = q.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((dec19("x") * dec19("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dec19("x") * dec19("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dec19("y") * dec19("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd, sxd, syd = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxyd, sxxd, syyd = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    vx = nd * sxxd - sxd * sxd
    vy = nd * syyd - syd * syd
    r = (nd * sxyd - sxd * syd) / F.sqrt(vx * vy)
    return g.select(
        F.col("n").alias("n_pairs"),
        portable_round(sxd / nd, 6).alias("mean_daily"),
        F.when(vx * vy > 0, portable_round(r, 6)).alias("autocorr"),
    )


# ---------------------------------------------------------------------------
# q_changepoint — CUSUM mean-shift detection over the daily series
# ---------------------------------------------------------------------------


@contract_query(
    "q_changepoint",
    oracle=(
        "WITH d AS (SELECT date_trunc('day', ts::TIMESTAMP) AS day, "
        "  count(*)::BIGINT AS x FROM events WHERE ts IS NOT NULL GROUP BY day), "
        "o AS (SELECT day, x, "
        "  row_number() OVER (ORDER BY day) AS t, "
        "  CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx "
        "  FROM d), "
        "g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS total FROM d), "
        "dev AS (SELECT o.day, abs(g.n * o.pfx - o.t * g.total)::BIGINT AS dev_num, "
        "  g.n, g.total FROM o CROSS JOIN g), "
        "top AS (SELECT *, row_number() OVER (ORDER BY dev_num DESC, day ASC) AS rn FROM dev) "
        "SELECT n AS n_days, total AS total_events, day AS change_day, dev_num, "
        "  CASE WHEN n * total > 0 THEN "
        f"{portable_round_sql('dev_num::DOUBLE / (n * total)', 6)}"
        "  END AS cusum FROM top WHERE rn = 1"
    ),
    covers="time-series diagnostics (extension: CUSUM mean-shift changepoint)",
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over daily event volume: the day t maximizing
    |n·prefix_t − t·total| — the classic mean-shift statistic with the
    rational mean cleared to PURE-BIGINT arithmetic (n·Σ_{i≤t}x − t·Σx
    is exact, so the argmax is hash-stable under any partitioning; only
    the final normalized ratio touches doubles). The monitor that flags
    WHERE a pipeline's volume regime changed, beside q_autocorr's
    serial-dependence and q_ols_trend's drift rate.

    Scale shape: the corpus collapses to the |days| grid in one
    map-side-combined aggregate; the prefix/rank windows run over that
    tiny grid (single-partition caveat, as q_quantiles); totals join as
    a broadcast scalar; output is exactly one row with an
    earliest-day tiebreak on equal deviations. Bound: n·total < 2^63.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    wd = Window.orderBy("day")
    o = d.select(
        "day",
        "x",
        F.row_number().over(wd).alias("t"),
        F.sum("x")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("pfx"),
    )
    g = d.agg(F.count("*").cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("total"))
    dev = o.crossJoin(F.broadcast(g)).select(
        "day",
        F.abs(F.col("n") * F.col("pfx") - F.col("t") * F.col("total"))
        .cast("bigint")
        .alias("dev_num"),
        "n",
        "total",
    )
    wr = Window.orderBy(F.col("dev_num").desc(), F.col("day").asc())
    top = dev.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") == 1)
    return top.select(
        F.col("n").alias("n_days"),
        F.col("total").alias("total_events"),
        F.col("day").alias("change_day"),
        "dev_num",
        F.when(
            F.col("n") * F.col("total") > 0,
            portable_round(F.col("dev_num").cast("double") / (F.col("n") * F.col("total")), 6),
        ).alias("cusum"),
    )


# ---------------------------------------------------------------------------
# q_mad_outliers — robust per-source outlier detection (median/MAD)
# ---------------------------------------------------------------------------


@contract_query(
    "q_mad_outliers",
    oracle=(
        "WITH base AS (SELECT source, doc_id, n_chars AS x FROM documents "
        "  WHERE n_chars IS NOT NULL), "
        "r AS (SELECT source, doc_id, x, "
        "  row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS rn, "
        "  count(*) OVER (PARTITION BY source) AS n FROM base), "
        "m AS (SELECT source, doc_id, x, n, "
        "  max(CASE WHEN rn = (n + 1) // 2 THEN x END) "
        "    OVER (PARTITION BY source) AS med FROM r), "
        "d AS (SELECT source, doc_id, x, n, med, abs(x - med) AS dev FROM m), "
        "r2 AS (SELECT source, doc_id, x, n, med, dev, "
        "  row_number() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn2 "
        "  FROM d), "
        "m2 AS (SELECT source, x, n, med, dev, "
        "  max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) "
        "    OVER (PARTITION BY source) AS mad FROM r2) "
        "SELECT source, max(n)::BIGINT AS n_docs, max(med)::BIGINT AS median, "
        "  max(mad)::BIGINT AS mad, "
        "  sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers "
        "FROM m2 GROUP BY source"
    ),
    covers="robust per-group outlier stats (median / MAD, exact integer order statistics)",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source scale statistics over document lengths:
    lower median, median absolute deviation, and the count of docs
    beyond 3 MADs — the outlier report that survives the heavy-tailed
    length distributions where mean/stddev clipping fails.

    Exactness: both medians are exact integer ORDER-STATISTIC PICKS
    (row_number with doc_id tiebreak, element at rank ``(n+1) div 2``
    — integer division, identical truncation on both engines for
    positive n), never an interpolated aggregate, so every output
    column is a bigint and hash-stable. NULL n_chars rows are filtered
    identically on both sides BEFORE ranking (order stats filter NULL
    measurements — the q_gini rule).

    Scale shape: every step — both rank windows, both median
    broadcasts (max-over-partition), and the final aggregate — shares
    ONE hash partitioning on source: a single exchange for the whole
    query regardless of corpus size (the sessionize discipline);
    per-source row counts bound window memory, and sources are the
    natural unit of curation skew (a giant source is the caller's cue
    to sub-shard)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", F.col("n_chars").alias("x"))
        .filter(F.col("x").isNotNull())
    )
    ws = Window.partitionBy("source")
    w1 = ws.orderBy("x", "doc_id")
    r = base.select(
        "source",
        "doc_id",
        "x",
        F.row_number().over(w1).alias("rn"),
        F.count("*").over(ws).alias("n"),
    )
    m = r.select(
        "source",
        "doc_id",
        "x",
        "n",
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("x")))
        .over(ws)
        .alias("med"),
    )
    d = m.select(
        "source", "doc_id", "x", "n", "med", F.abs(F.col("x") - F.col("med")).alias("dev")
    )
    w2 = ws.orderBy("dev", "doc_id")
    r2 = d.select(
        "source", "doc_id", "n", "med", "dev", F.row_number().over(w2).alias("rn2")
    )
    m2 = r2.select(
        "source",
        "n",
        "med",
        "dev",
        F.max(F.when(F.col("rn2") == F.expr("(n + 1) div 2"), F.col("dev")))
        .over(ws)
        .alias("mad"),
    )
    return m2.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("med").cast("bigint").alias("median"),
        F.max("mad").cast("bigint").alias("mad"),
        F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# q_benford — first-digit distribution of order amounts vs Benford's law
# ---------------------------------------------------------------------------

# log10(1 + 1/d) to 6 dp as LITERALS on both sides: ln/log10 of even
# fixed args is 1-ulp divergent cross-engine (the fuzz-pinned JVM vs
# libm wobble), so the expected frequencies are pinned constants, not
# computed logs.
_BENFORD = [
    (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
    (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
    (9, 0.045757),
]


@contract_query(
    "q_benford",
    oracle=(
        "WITH c AS (SELECT "
        f"round({finite_value_sql('o_totalprice')} * 100)::BIGINT AS cents FROM orders), "
        "d AS (SELECT substr(cents::VARCHAR, 1, 1)::BIGINT AS digit "
        "  FROM c WHERE cents > 0), "
        "g AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY digit), "
        "t AS (SELECT sum(n_obs)::BIGINT AS n_total FROM g), "
        "b (digit, benford_freq) AS (VALUES "
        + ", ".join(f"({d}::BIGINT, {p}::DOUBLE)" for d, p in _BENFORD)
        + ") "
        "SELECT g.digit, g.n_obs, t.n_total, "
        f"  {portable_round_sql('g.n_obs::DOUBLE / t.n_total', 6)} AS obs_freq, "
        "  b.benford_freq, "
        f"  {portable_round_sql('g.n_obs::DOUBLE / t.n_total - b.benford_freq', 6)} AS dev "
        "FROM g JOIN b ON b.digit = g.digit CROSS JOIN t"
    ),
    covers="data-quality diagnostics (extension: Benford first-digit conformance)",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order amounts: the observed
    first-significant-digit distribution against log10(1 + 1/d) — the
    classic fabricated-data / unit-mix-up detector for financial
    columns (synthetic or truncated amounts bend the curve).

    Exactness: amounts become integer CENTS (finite-guarded before the
    ANSI round), the first digit is a SUBSTRING of the bigint's decimal
    render (identical on both engines; no log10/power on doubles whose
    boundary wobble could flip a digit), counts are bigint, and the
    expected frequencies are pinned 6-dp literals. One double division
    per output row.

    Scale shape: one map-side-combined (digit) aggregate collapses the
    table to ≤9 rows; the total and the 9-row expectation table ride
    in as broadcasts."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(finite_value(F.col("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    d = o.filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    t = g.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    b = spark.createDataFrame(_BENFORD, "digit bigint, benford_freq double")
    obs = F.col("n_obs").cast("double") / F.col("n_total")
    return (
        g.join(F.broadcast(b), "digit")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            "n_total",
            portable_round(obs, 6).alias("obs_freq"),
            "benford_freq",
            portable_round(obs - F.col("benford_freq"), 6).alias("dev"),
        )
    )


# ---------------------------------------------------------------------------
# q_cooccur_lift — event-type co-occurrence lift across users
# ---------------------------------------------------------------------------


@contract_query(
    "q_cooccur_lift",
    oracle=(
        "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events "
        "  WHERE user_id IS NOT NULL AND event_type IS NOT NULL), "
        "n AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM ut), "
        "c AS (SELECT event_type, count(*)::BIGINT AS n_type FROM ut GROUP BY event_type), "
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
        "  count(*)::BIGINT AS n_both FROM ut a JOIN ut b "
        "  ON a.user_id = b.user_id AND a.event_type < b.event_type "
        "  GROUP BY a.event_type, b.event_type) "
        "SELECT p.type_a, p.type_b, p.n_both, ca.n_type AS n_a, cb.n_type AS n_b, "
        f"  {portable_round_sql('(n.n_users::HUGEINT * p.n_both)::DOUBLE / (ca.n_type::HUGEINT * cb.n_type)::DOUBLE', 6)} AS lift, "
        f"  {portable_round_sql('p.n_both::DOUBLE / n.n_users', 6)} AS support "
        "FROM p JOIN c ca ON ca.event_type = p.type_a "
        "JOIN c cb ON cb.event_type = p.type_b CROSS JOIN n"
    ),
    covers="behavioral analytics (extension: market-basket co-occurrence lift)",
)
def q_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type co-occurrence across users with LIFT
    n·|A∩B| / (|A|·|B|) and support — the market-basket association
    measure (lift > 1: users doing A are disproportionately likely to
    also do B).

    Exactness: everything up to the output is distinct-set COUNTS
    (NULL user/type rows filtered on both sides); the lift's cross
    products promote to decimal/HUGEINT BEFORE multiplying (user counts
    square past 2^62 at warehouse scale), then one double division.
    Denominators are structurally ≥ 1: every pair endpoint exists in
    the per-type counts by construction.

    Scale shape: the corpus collapses to distinct (user, type) rows in
    one aggregate; the pair join self-joins THAT set on user_id (one
    hash partitioning shared by both sides, per-user fan-out bounded by
    the type alphabet, not the event volume); per-type counts and the
    user total join as broadcasts."""
    ut = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    n = ut.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    c = ut.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_type"))
    a, bb = ut.alias("a"), ut.alias("b")
    p = (
        a.join(
            bb,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b"))
    lift = (dec19("n_users") * dec19("n_both")).cast("decimal(38,0)").cast("double") / (
        dec19("n_a") * dec19("n_b")
    ).cast("decimal(38,0)").cast("double")
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            portable_round(lift, 6).alias("lift"),
            portable_round(F.col("n_both").cast("double") / F.col("n_users"), 6).alias(
                "support"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_ewma — exact dyadic EWMA of the daily event volume
# ---------------------------------------------------------------------------

_EWMA_SPAN = 16  # trailing window length; weights 2^0 .. 2^15


@contract_query(
    "q_ewma",
    oracle=(
        "WITH d AS (SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day, "
        "  count(*)::BIGINT AS x FROM events WHERE ts IS NOT NULL GROUP BY day), "
        "o AS (SELECT day, x, row_number() OVER (ORDER BY day) AS r FROM d), "
        "w AS (SELECT a.day, a.x, count(*)::BIGINT AS n_window, "
        f"  sum(b.x::HUGEINT * (1::BIGINT << ({_EWMA_SPAN - 1} - (a.r - b.r)))) AS num, "
        f"  sum(1::BIGINT << ({_EWMA_SPAN - 1} - (a.r - b.r)))::BIGINT AS den "
        f"  FROM o a JOIN o b ON b.r BETWEEN a.r - {_EWMA_SPAN - 1} AND a.r "
        "  GROUP BY a.day, a.x) "
        "SELECT day, x AS daily_count, n_window, "
        f"  {portable_round_sql('num::DOUBLE / den', 6)} AS ewma FROM w"
    ),
    covers="time-series diagnostics (extension: exact dyadic EWMA smoothing)",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event count
    with decay 1/2 over a trailing 16-row window — the smoothed volume
    curve monitoring dashboards plot next to q_ols_trend's drift and
    q_changepoint's shift day.

    Exactness: the weights are POWERS OF TWO (2^0 oldest … 2^15 the
    current day), so numerator and denominator are exact integers —
    dyadic decay makes EWMA hash-portable where an α^k double power
    never is. Per-term products promote to decimal/HUGEINT before the
    sum (daily counts × 2^15 approach 2^62 at warehouse volume); the
    partial-window head normalizes by the truncated weight sum
    (den = 2^16 − 2^(16−m) for m available rows). One double division
    per output row.

    Scale shape: the corpus collapses to the |days| grid in one
    map-side-combined aggregate; the trailing window is an EQUI-join —
    each grid row explodes its 16 offsets and joins back on the row
    index (no range-join expansion, no single-partition running
    window); output is |days| rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    o = d.select("day", "x", F.row_number().over(Window.orderBy("day")).alias("r"))
    pow2 = F.array(*[F.lit(1 << k).cast("long") for k in range(_EWMA_SPAN)])
    probe = o.select(
        "day",
        "x",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(_EWMA_SPAN - 1))).alias("j"),
    ).select(
        "day",
        "x",
        (F.col("r") - F.col("j")).alias("rb"),
        # weight 2^(SPAN-1-j): element_at is 1-based → index SPAN - j
        F.element_at(pow2, (F.lit(_EWMA_SPAN) - F.col("j")).cast("int")).alias("wt"),
    )
    base = o.select(F.col("r").alias("rb"), F.col("x").alias("xb"))
    w = (
        probe.join(base, "rb")
        .groupBy("day", "x")
        .agg(
            F.count("*").cast("bigint").alias("n_window"),
            F.sum((dec19("xb") * dec19("wt")).cast("decimal(38,0)")).alias("num"),
            F.sum("wt").cast("bigint").alias("den"),
        )
    )
    return w.select(
        "day",
        F.col("x").alias("daily_count"),
        "n_window",
        portable_round(F.col("num").cast("double") / F.col("den"), 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# q_interarrival — per-user inter-event gap distribution
# ---------------------------------------------------------------------------


@contract_query(
    "q_interarrival",
    oracle=(
        "WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id "
        "  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
        "g AS (SELECT us - lag(us) OVER (PARTITION BY user_id "
        "  ORDER BY us, event_id) AS gap_us FROM e), "
        "s AS (SELECT gap_us // 1000000 AS gap_s FROM g WHERE gap_us IS NOT NULL), "
        "grid AS (SELECT gap_s, count(*)::BIGINT AS cnt FROM s GROUP BY gap_s), "
        "t AS (SELECT sum(cnt)::BIGINT AS n, sum(gap_s::HUGEINT * cnt) AS total_s, "
        "  max(gap_s)::BIGINT AS max_gap FROM grid), "
        "c AS (SELECT gap_s, sum(cnt) OVER (ORDER BY gap_s)::BIGINT AS cum FROM grid), "
        "p AS (SELECT min(CASE WHEN 2 * c.cum >= t.n THEN c.gap_s END)::BIGINT AS p50, "
        "  min(CASE WHEN 10 * c.cum >= 9 * t.n THEN c.gap_s END)::BIGINT AS p90 "
        "  FROM c CROSS JOIN t) "
        "SELECT t.n AS n_gaps, "
        f"  CASE WHEN t.n > 0 THEN {portable_round_sql('t.total_s::DOUBLE / t.n', 6)} END "
        "    AS mean_gap_s, "
        "  p.p50 AS p50_gap_s, p.p90 AS p90_gap_s, t.max_gap AS max_gap_s "
        "FROM t CROSS JOIN p"
    ),
    covers="behavioral analytics (extension: inter-arrival gap order statistics)",
)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps: count, mean, exact
    nearest-rank p50/p90 and max gap in whole seconds — the
    session-timeout calibration report (where should q_session_window's
    gap threshold sit?) and a bot-vs-human cadence signal.

    Exactness: gaps are µs-integer differences of consecutive events
    per user (NULL user/ts filtered on both sides; ties broken by
    event_id), floored to seconds by // on a NON-NEGATIVE value (so
    truncation ≡ floor); the percentile picks are integer
    cross-multiplied ranks over the collapsed gap grid (2·cum ≥ n ⇔
    cum ≥ ⌈n/2⌉ — no double ever touches a rank); the mean's product
    sum promotes to decimal/HUGEINT before multiplying. Empty input
    yields one all-NULL row on both engines (SUM over nothing).

    Scale shape: the lag runs under one (user_id) hash partitioning;
    gaps then collapse to the distinct-seconds grid in a
    map-side-combined aggregate, and only that grid (bounded by the
    gap value range, not the corpus) crosses the single-partition
    cumulative window — the q_ks_drift caveat; scalars broadcast."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
        )
    )
    wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = ev.select((F.col("us") - F.lag("us").over(wu)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    s = g.select(F.expr("gap_us div 1000000").alias("gap_s"))
    grid = s.groupBy("gap_s").agg(F.count("*").cast("bigint").alias("cnt"))
    t = grid.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum((dec19("gap_s") * dec19("cnt")).cast("decimal(38,0)")).alias("total_s"),
        F.max("gap_s").cast("bigint").alias("max_gap"),
    )
    c = grid.select(
        "gap_s",
        F.sum("cnt")
        .over(
            Window.orderBy("gap_s").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("cum"),
    )
    p = c.crossJoin(F.broadcast(t)).agg(
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("gap_s")))
        .cast("bigint")
        .alias("p50"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("gap_s")))
        .cast("bigint")
        .alias("p90"),
    )
    return t.crossJoin(F.broadcast(p)).select(
        F.col("n").alias("n_gaps"),
        F.when(
            F.col("n") > 0,
            portable_round(F.col("total_s").cast("double") / F.col("n"), 6),
        ).alias("mean_gap_s"),
        F.col("p50").alias("p50_gap_s"),
        F.col("p90").alias("p90_gap_s"),
        F.col("max_gap").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# q_rfm — recency/frequency/monetary quartile segmentation of customers
# ---------------------------------------------------------------------------

_DAY_US = DAY_US  # single source: functions.text.DAY_US


def _rfm_quartile_sql(dim: str, pfx: str) -> str:
    """Grid-based exact quartile thresholds for one RFM dimension:
    nearest-rank q1/q2/q3 via integer cross-multiplied ranks over the
    collapsed distinct-value grid (4·cum ≥ k·n ⇔ cum ≥ ⌈k·n/4⌉)."""
    return (
        f"{pfx}g AS (SELECT {dim} AS v, count(*)::BIGINT AS cnt FROM c2 GROUP BY {dim}), "
        f"{pfx}c AS (SELECT v, sum(cnt) OVER (ORDER BY v)::BIGINT AS cum FROM {pfx}g), "
        f"{pfx}q AS (SELECT min(CASE WHEN 4 * cum >= n THEN v END)::BIGINT AS q1, "
        "  min(CASE WHEN 2 * cum >= n THEN v END)::BIGINT AS q2, "
        "  min(CASE WHEN 4 * cum >= 3 * n THEN v END)::BIGINT AS q3 "
        f"  FROM {pfx}c CROSS JOIN gstats)"
    )


def _rfm_band_sql(dim: str, pfx: str) -> str:
    return (
        f"1 + CASE WHEN {dim} > {pfx}q.q1 THEN 1 ELSE 0 END "
        f"+ CASE WHEN {dim} > {pfx}q.q2 THEN 1 ELSE 0 END "
        f"+ CASE WHEN {dim} > {pfx}q.q3 THEN 1 ELSE 0 END"
    )


@contract_query(
    "q_rfm",
    oracle=(
        "WITH o AS (SELECT o_custkey, epoch_us(o_orderdate::TIMESTAMP) AS us, "
        f"  round({finite_value_sql('o_totalprice')} * 100)::BIGINT "
        "    AS cents FROM orders "
        "  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL), "
        "cust AS (SELECT o_custkey, max(us) AS mx, count(*)::BIGINT AS f, "
        "  coalesce(sum(cents), 0)::BIGINT AS m FROM o GROUP BY o_custkey), "
        "gstats AS (SELECT max(mx) AS gmx, count(*)::BIGINT AS n FROM cust), "
        f"c2 AS (SELECT ((gstats.gmx - cust.mx) // {_DAY_US})::BIGINT AS r_days, f, m "
        "  FROM cust CROSS JOIN gstats), "
        + _rfm_quartile_sql("r_days", "r") + ", "
        + _rfm_quartile_sql("f", "f") + ", "
        + _rfm_quartile_sql("m", "m") + ", "
        "scored AS (SELECT m, "
        f"  5 - ({_rfm_band_sql('r_days', 'r')}) AS r_score, "
        f"  {_rfm_band_sql('f', 'f')} AS f_score, "
        f"  {_rfm_band_sql('m', 'm')} AS m_score "
        "  FROM c2 CROSS JOIN rq CROSS JOIN fq CROSS JOIN mq) "
        "SELECT (r_score * 100 + f_score * 10 + m_score)::BIGINT AS segment, "
        "  count(*)::BIGINT AS n_customers, "
        f"  {portable_round_sql('sum(m::HUGEINT)::DOUBLE / count(*) / 100.0', 6)} "
        "    AS avg_monetary "
        "FROM scored GROUP BY segment"
    ),
    covers="behavioral analytics (extension: RFM quartile segmentation)",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer scored 1–4 on Recency (days
    since last order, 4 = most recent), Frequency (order count) and
    Monetary (total cents) by exact quartile thresholds, rolled up to
    segment code r·100 + f·10 + m with size and average spend — the
    classic CRM cohort cut (444 = champions, 111 = churned).

    Exactness: recency is a NON-NEGATIVE µs difference from the global
    latest order (so // ≡ floor), monetary is finite-guarded integer
    cents (all-NaN customers coalesce to 0); quartile thresholds are
    nearest-rank picks via integer cross-multiplied ranks over each
    dimension's collapsed grid, and scores are threshold-exceedance
    counts — ties land in ONE band by value, deterministic under any
    partitioning, where ntile() would split ties by arbitrary row
    order. Only the final per-segment average touches a double.

    Scale shape: one (custkey) aggregate collapses orders to customers;
    each quartile pipeline aggregates THAT to its distinct-value grid
    (recency bounded by the day range, frequency by the max order
    count; the monetary grid is customer-scale — the q_ks_drift
    single-partition caveat applies to its cumulative window only);
    thresholds and the global scalars rejoin as one-row broadcasts, and
    the segment rollup is a ≤64-group map-side-combined aggregate."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.expr("unix_micros(o_orderdate)").alias("us"),
            F.round(finite_value(F.col("o_totalprice")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    cust = o.groupBy("o_custkey").agg(
        F.max("us").alias("mx"),
        F.count("*").cast("bigint").alias("f"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("m"),
    )
    gstats = cust.agg(
        F.max("mx").alias("gmx"), F.count("*").cast("bigint").alias("n")
    )
    c2 = cust.crossJoin(F.broadcast(gstats)).select(
        F.expr(f"(gmx - mx) div {_DAY_US}").cast("bigint").alias("r_days"),
        "f",
        "m",
    )

    def quartiles(col: str, pfx: str) -> DataFrame:
        g = c2.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        cum = g.select(
            "v",
            F.sum("cnt")
            .over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .cast("bigint")
            .alias("cum"),
        )
        return cum.crossJoin(F.broadcast(gstats.select("n"))).agg(
            F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v")))
            .cast("bigint")
            .alias(f"{pfx}1"),
            F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v")))
            .cast("bigint")
            .alias(f"{pfx}2"),
            F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v")))
            .cast("bigint")
            .alias(f"{pfx}3"),
        )

    def band(col: str, pfx: str):
        return (
            F.lit(1)
            + F.when(F.col(col) > F.col(f"{pfx}1"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{pfx}2"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{pfx}3"), 1).otherwise(0)
        )

    scored = (
        c2.crossJoin(F.broadcast(quartiles("r_days", "rq")))
        .crossJoin(F.broadcast(quartiles("f", "fq")))
        .crossJoin(F.broadcast(quartiles("m", "mq")))
        .select(
            "m",
            (F.lit(5) - band("r_days", "rq")).alias("r_score"),
            band("f", "fq").alias("f_score"),
            band("m", "mq").alias("m_score"),
        )
    )
    return scored.groupBy(
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("bigint")
        .alias("segment")
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        portable_round(
            F.sum(dec19("m").cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / 100.0,
            6,
        ).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# q_markov — first-order event-type transition matrix
# ---------------------------------------------------------------------------


@contract_query(
    "q_markov",
    oracle=(
        "WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id, "
        "  event_type FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL "
        "  AND event_type IS NOT NULL AND event_id IS NOT NULL), "
        "tr AS (SELECT lag(event_type) OVER (PARTITION BY user_id "
        "  ORDER BY us, event_id, event_type) AS from_type, "
        "  event_type AS to_type FROM e), "
        "g AS (SELECT from_type, to_type, count(*)::BIGINT AS n_trans FROM tr "
        "  WHERE from_type IS NOT NULL GROUP BY from_type, to_type), "
        "f AS (SELECT from_type, sum(n_trans)::BIGINT AS n_from FROM g "
        "  GROUP BY from_type) "
        "SELECT g.from_type, g.to_type, g.n_trans, f.n_from, "
        f"  {portable_round_sql('g.n_trans::DOUBLE / f.n_from', 6)} AS prob "
        "FROM g JOIN f ON f.from_type = g.from_type"
    ),
    covers="behavioral analytics (extension: first-order Markov transition matrix)",
)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences: for each
    (from_type, to_type) pair of CONSECUTIVE events of one user, the
    transition count and row-normalized probability — the next-action
    model behind funnel drop-off prediction and bot-cadence detection
    (a bot's transition matrix is near-deterministic, a human's is
    diffuse).

    Exactness: sequences order by (event-time µs, event_id, event_type)
    — the full tiebreak makes the lag deterministic under any
    partitioning, and rows tying on the complete key are identical in
    the only column the transition reads, so even their arbitrary
    relative order cannot change the output. NULL user/ts/type/id rows
    are filtered on BOTH sides (event-time op, per the NULL invariant);
    transition counts are bigint and the probability is one double
    division n_trans/n_from with n_from ≥ n_trans ≥ 1 by construction.

    Scale shape: ONE (user_id) hash partitioning carries the lag; the
    transition stream then collapses map-side to the |types|² grid;
    n_from is a second tiny aggregate OF that grid (AQE reuses the
    exchange) and joins back as a broadcast."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            "event_type",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id", "event_type")
    tr = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    g = (
        tr.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n_trans"))
    )
    f = g.groupBy("from_type").agg(F.sum("n_trans").cast("bigint").alias("n_from"))
    return g.join(F.broadcast(f), "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        "n_from",
        portable_round(F.col("n_trans").cast("double") / F.col("n_from"), 6).alias(
            "prob"
        ),
    )


# ---------------------------------------------------------------------------
# q_pareto_abc — cumulative revenue-share ABC classification of customers
# ---------------------------------------------------------------------------

# coarse prefix-sum bucket: integer cents DIV 10^6 = one bucket per
# $10k of customer revenue (bounded by the revenue range, not the
# customer count)
_ABC_BUCKET_CENTS = 1_000_000


@contract_query(
    "q_pareto_abc",
    oracle=(
        "WITH o AS (SELECT o_custkey, "
        f"  round({finite_value_sql('o_totalprice')} * 100)::BIGINT AS cents "
        "  FROM orders WHERE o_custkey IS NOT NULL), "
        "cust AS (SELECT o_custkey, coalesce(sum(cents), 0)::BIGINT AS m "
        "  FROM o GROUP BY o_custkey), "
        "t AS (SELECT sum(m::HUGEINT) AS total FROM cust), "
        "c AS (SELECT m, sum(m::HUGEINT) OVER "
        "  (ORDER BY m DESC, o_custkey) AS cum FROM cust), "
        "k AS (SELECT m, CASE WHEN cum * 5 <= total * 4 THEN 'A' "
        "  WHEN cum * 20 <= total * 19 THEN 'B' ELSE 'C' END AS abc_class "
        "  FROM c CROSS JOIN t) "
        "SELECT abc_class, count(*)::BIGINT AS n_customers, "
        "  sum(m::HUGEINT)::BIGINT AS class_cents, "
        "  CASE WHEN t.total <> 0 THEN "
        f"  {portable_round_sql('sum(m::HUGEINT)::DOUBLE / t.total', 6)} END "
        "    AS revenue_share "
        "FROM k CROSS JOIN t GROUP BY abc_class, t.total"
    ),
    covers="data-quality diagnostics (extension: Pareto/ABC cumulative-share classification)",
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) analysis of customer revenue: customers sorted by
    total spend descending, classified A while the running cumulative
    share is ≤ 80 %, B while ≤ 95 %, C beyond — the classic
    concentration cut ("which 20 % of customers carry 80 % of
    revenue?") reported as per-class count, cents and share.

    Exactness: revenue is finite-guarded integer cents summed exactly
    (decimal accumulator); the class boundaries are integer
    CROSS-MULTIPLIED comparisons (cum·5 ≤ total·4 ⇔ share ≤ 0.8 — no
    double ever decides a class, so negative or zero totals stay
    deterministic); the only doubles are the final per-class share,
    guarded on total ≠ 0. Ordering ties break on custkey.

    Scale shape: the running sum is a DISTRIBUTED two-level prefix sum,
    not a single-partition window: customers bucket by cents DIV 10^6
    (truncating division — monotone in m on both engines, so bucket
    order ≡ revenue order), per-bucket totals form a grid bounded by
    the revenue RANGE whose exclusive prefix runs in one tiny window,
    and each customer's global cumulative = bucket offset + within-
    bucket running sum under a (bucket)-partitioned window. The oracle
    states the plain global window — semantically identical, and the
    equivalence is exactly what the hash check verifies. Class rollup
    is a 3-group map-side-combined aggregate; scalars broadcast."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(
            "o_custkey",
            F.round(finite_value(F.col("o_totalprice")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    cust = o.groupBy("o_custkey").agg(
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("m")
    )
    cust = cust.withColumn("bucket", F.expr(f"m div {_ABC_BUCKET_CENTS}"))
    bt = cust.groupBy("bucket").agg(
        F.sum(dec19("m").cast("decimal(38,0)")).alias("bsum")
    )
    offw = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bt.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(offw), F.lit(0).cast("decimal(38,0)")).alias(
            "off"
        ),
    )
    t = bt.agg(F.sum("bsum").alias("total"))
    cw = Window.partitionBy("bucket").orderBy(
        F.col("m").desc(), F.col("o_custkey").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    k = (
        cust.join(F.broadcast(offs), "bucket")
        .select(
            "m",
            (F.col("off") + F.sum(dec19("m").cast("decimal(38,0)")).over(cw)).alias(
                "cum"
            ),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "m",
            "total",
            F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
            .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )
    return (
        k.groupBy("abc_class", "total")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            # ONE decimal accumulator feeds both outputs: the bigint
            # render (overflow confined to this final cast, matching
            # the oracle's ::BIGINT) and the share numerator
            F.sum(dec19("m").cast("decimal(38,0)")).alias("csum"),
        )
        .select(
            "abc_class",
            "n_customers",
            F.col("csum").cast("bigint").alias("class_cents"),
            F.when(
                F.col("total") != 0,
                portable_round(
                    F.col("csum").cast("double") / F.col("total").cast("double"), 6
                ),
            ).alias("revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
# q_mutual_info — mutual information between two categorical attributes
# ---------------------------------------------------------------------------


@contract_query(
    "q_mutual_info",
    oracle=(
        "WITH c AS (SELECT o_orderstatus AS status, o_orderpriority AS priority, "
        "  count(*)::BIGINT AS n_obs FROM orders "
        "  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL "
        "  GROUP BY status, priority), "
        "r AS (SELECT status, sum(n_obs)::BIGINT AS n_row FROM c GROUP BY status), "
        "cl AS (SELECT priority, sum(n_obs)::BIGINT AS n_col FROM c GROUP BY priority), "
        "t AS (SELECT sum(n_obs)::BIGINT AS n_total FROM c), "
        "p AS (SELECT c.status, c.priority, n_obs, n_row, n_col, n_total, "
        f"  {nano_int_sql('ln(n_obs) + ln(n_total) - ln(n_row) - ln(n_col)')} AS pmi_n "
        "  FROM c JOIN r ON r.status = c.status "
        "  JOIN cl ON cl.priority = c.priority CROSS JOIN t), "
        "mi AS (SELECT sum(n_obs::HUGEINT * pmi_n::HUGEINT) AS mi_num FROM p) "
        "SELECT status, priority, n_obs, n_row, n_col, n_total, "
        f"  {portable_round_sql('pmi_n / 1000000000.0', 6)} AS pmi, "
        f"  {portable_round_sql('mi.mi_num::DOUBLE / (1000000000.0 * n_total)', 6)} "
        "    AS mi_nats "
        "FROM p CROSS JOIN mi"
    ),
    covers="data-quality diagnostics (extension: categorical mutual information)",
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority: per-cell
    pointwise MI (is this status/priority combination over- or
    under-represented?) and the total MI in nats — the dependence
    screen run before trusting two attributes as independent features
    (MI ≈ 0) or flagging a leaking correlation.

    Exactness: the engine-wide ln-family discipline: every log takes an
    INTEGER argument ≥ 1 (cell, row, column, grand counts), each cell's
    PMI integerizes to nano-nats in ONE floor(x·1e9 + 0.5), and the MI
    numerator Σ n_obs·pmi_n promotes per-term to decimal/HUGEINT before
    the sum. Outputs divide by 1e9 (·N for the total) before 6-dp
    portable rounding, so the fuzz-pinned 1-ulp ln() wobble (±a few
    nano-nats per term) vanishes; no raw nano-nat column is exposed.
    Bound: n_obs·pmi_n ≲ N·ln(N)·1e9 — keep N ≲ 2e5·1e9/ln — the
    double render of mi_num stays under 2^53 for N ≲ 10^5.5; beyond
    that the decimal→double cast is correctly rounded identically on
    both engines.

    Scale shape: the corpus collapses to the |status|×|priority| cell
    grid in one map-side-combined aggregate; marginals and the grand
    total are tiny aggregates OF the grid (AQE exchange reuse) joined
    back as broadcasts; the MI total is a one-row broadcast."""
    c = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderstatus").isNotNull() & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    r = c.groupBy("status").agg(F.sum("n_obs").cast("bigint").alias("n_row"))
    cl = c.groupBy("priority").agg(F.sum("n_obs").cast("bigint").alias("n_col"))
    t = c.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    p = (
        c.join(F.broadcast(r), "status")
        .join(F.broadcast(cl), "priority")
        .crossJoin(F.broadcast(t))
        .select(
            "status",
            "priority",
            "n_obs",
            "n_row",
            "n_col",
            "n_total",
            nano_int(
                F.log(F.col("n_obs"))
                + F.log(F.col("n_total"))
                - F.log(F.col("n_row"))
                - F.log(F.col("n_col"))
            ).alias("pmi_n"),
        )
    )
    mi = p.agg(
        F.sum((dec19("n_obs") * dec19("pmi_n")).cast("decimal(38,0)")).alias("mi_num"),
    )
    return p.crossJoin(F.broadcast(mi)).select(
        "status",
        "priority",
        "n_obs",
        "n_row",
        "n_col",
        "n_total",
        portable_round(F.col("pmi_n") / F.lit(1_000_000_000.0), 6).alias("pmi"),
        # n_total rides on every row of p already — no separate scalar
        portable_round(
            F.col("mi_num").cast("double")
            / (F.lit(1_000_000_000.0) * F.col("n_total")),
            6,
        ).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# q_stickiness — DAU/MAU engagement ratio per event type and month
# ---------------------------------------------------------------------------


@contract_query(
    "q_stickiness",
    oracle=(
        "WITH e AS (SELECT DISTINCT event_type, "
        "  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day, user_id "
        "  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL "
        "  AND event_type IS NOT NULL), "
        "d AS (SELECT event_type, day, count(*)::BIGINT AS dau FROM e "
        "  GROUP BY event_type, day), "
        "m AS (SELECT event_type, date_trunc('month', day)::TIMESTAMP AS month, "
        "  sum(dau)::BIGINT AS sum_dau, count(*)::BIGINT AS n_days FROM d "
        "  GROUP BY event_type, month), "
        "u AS (SELECT event_type, date_trunc('month', day)::TIMESTAMP AS month, "
        "  count(DISTINCT user_id)::BIGINT AS mau FROM e GROUP BY event_type, month) "
        "SELECT m.event_type, m.month, m.sum_dau, m.n_days, u.mau, "
        f"  {portable_round_sql('m.sum_dau::DOUBLE / (m.n_days::HUGEINT * u.mau)', 6)} "
        "    AS stickiness "
        "FROM m JOIN u ON u.event_type = m.event_type AND u.month = m.month"
    ),
    covers="behavioral analytics (extension: DAU/MAU stickiness ratio)",
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (avg daily active users ÷ monthly active users) per
    event type and month — the product-engagement headline (a
    stickiness of 1 means every monthly user shows up every day; near
    1/n_days, users touch the feature once a month).

    Exactness: everything is exact distinct-set COUNTS off ONE
    deduplicated (type, day, user) set: DAU per day, summed per month,
    and MAU as the distinct-user count per month over the same set —
    then a single double division sum_dau / (n_days·mau) whose
    denominator is ≥ 1 by construction (a month group exists only with
    ≥ 1 active day and user) and whose product promotes to
    decimal/HUGEINT per the moment rule. NULL user/ts/type rows are
    filtered identically on both sides; day/month truncation is
    engine-identical including pre-1970 timestamps.

    Scale shape: one distinct aggregate collapses the corpus to
    (type, day, user); both monthly views derive from THAT set (DAU
    path collapses again map-side to (type, day) then (type, month);
    MAU is a two-phase distinct per (type, month)); the final join is
    between two already-aggregated month grids (AQE broadcasts)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "user_id",
        )
        .distinct()
    )
    d = e.groupBy("event_type", "day").agg(F.count("*").cast("bigint").alias("dau"))
    m = d.groupBy(
        "event_type", F.date_trunc("month", F.col("day")).alias("month")
    ).agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    u = e.groupBy(
        "event_type", F.date_trunc("month", F.col("day")).alias("month")
    ).agg(F.count_distinct("user_id").cast("bigint").alias("mau"))
    return m.join(u, ["event_type", "month"]).select(
        "event_type",
        "month",
        "sum_dau",
        "n_days",
        "mau",
        portable_round(
            F.col("sum_dau").cast("double")
            / (dec19("n_days") * dec19("mau")).cast("double"),
            6,
        ).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# q_seasonality — day-of-week event-volume profile vs uniform
# ---------------------------------------------------------------------------

# 1/7 to 6 dp as a LITERAL on both sides (the Benford discipline: no
# computed constant whose engine rounding could differ)
_UNIFORM_DOW = 0.142857


@contract_query(
    "q_seasonality",
    oracle=(
        "WITH d AS (SELECT {ED} AS ed FROM events WHERE ts IS NOT NULL), "
        "g AS (SELECT ((ed + 3) % 7 + 7) % 7 AS dow, count(*)::BIGINT AS n_events "
        "  FROM d GROUP BY dow), "
        "t AS (SELECT sum(n_events)::BIGINT AS n_total FROM g) "
        "SELECT g.dow, g.n_events, t.n_total, "
        "  {share} AS share, "
        "  {dev} AS dev "
        "FROM g CROSS JOIN t".format(
            ED=epoch_day_sql(),
            share=portable_round_sql("g.n_events::DOUBLE / t.n_total", 6),
            dev=portable_round_sql(
                f"g.n_events::DOUBLE / t.n_total - {_UNIFORM_DOW}", 6
            ),
        )
    ),
    covers="time-series diagnostics (extension: day-of-week seasonality profile)",
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week volume profile: event counts per weekday (0 =
    Monday … 6 = Sunday) with the share and its deviation from the
    uniform 1/7 — the load-seasonality fingerprint a capacity planner
    and a bot-detector both read (organic traffic dips on weekends; a
    uniform profile on human-facing events is itself a signal).

    Exactness: the weekday comes from pure integer epoch-day
    arithmetic — FLOOR division via the subtract-positive-modulus
    idiom (q_sliding_window's negative-epoch rule: // and div truncate
    identically but floors differ pre-1970, so the numerator is made
    exactly divisible first), then ((ed + 3) mod 7 + 7) mod 7 anchors
    1970-01-01 (a Thursday, ed = 0) to dow 3 on BOTH engines with a
    non-negative result for negative epoch days. No calendar function
    whose week-start convention could differ (Spark dayofweek is
    1 = Sunday, DuckDB dow is 0 = Sunday — neither touches the plan).
    The uniform expectation is a pinned 6-dp literal; counts are
    bigint; two double divisions per output row.

    Scale shape: one map-side-combined aggregate collapses the corpus
    to ≤7 rows; the total re-enters as a one-row broadcast."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(epoch_day().alias("ed"))
    )
    g = d.groupBy(F.expr("pmod(ed + 3, 7)").alias("dow")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    t = g.agg(F.sum("n_events").cast("bigint").alias("n_total"))
    share = F.col("n_events").cast("double") / F.col("n_total")
    return g.crossJoin(F.broadcast(t)).select(
        "dow",
        "n_events",
        "n_total",
        portable_round(share, 6).alias("share"),
        portable_round(share - F.lit(_UNIFORM_DOW), 6).alias("dev"),
    )


# ---------------------------------------------------------------------------
# q_rolling_actives — 7-day rolling distinct active users per day
# ---------------------------------------------------------------------------


@contract_query(
    "q_rolling_actives",
    oracle=(
        "WITH e AS (SELECT DISTINCT {ED} AS ed, user_id "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
        "a AS (SELECT DISTINCT ed FROM e), "
        "p AS (SELECT e.ed + k.k AS anchor, e.user_id FROM e "
        "  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k) k), "
        "w AS (SELECT p.anchor, count(DISTINCT p.user_id)::BIGINT AS wau "
        "  FROM p JOIN a ON a.ed = p.anchor GROUP BY p.anchor), "
        "d AS (SELECT ed, count(*)::BIGINT AS dau FROM e GROUP BY ed) "
        "SELECT make_timestamp(d.ed * {D}) AS day, d.dau, w.wau, "
        "  {ratio} AS dau_over_wau "
        "FROM d JOIN w ON w.anchor = d.ed".format(
            D=DAY_US,
            ED=epoch_day_sql(),
            ratio=portable_round_sql("d.dau::DOUBLE / w.wau", 6),
        )
    ),
    covers="behavioral analytics (extension: exact 7-day rolling distinct actives)",
)
def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling weekly-active users (WAU) next to that
    day's DAU for every OBSERVED day — the rolling engagement series
    q_stickiness summarizes monthly, computed exactly (no HLL sketch)
    and without any sliding range-window over raw events.

    Exactness: days are integer epoch days (floor via the
    subtract-positive-modulus idiom, pre-1970-safe); the corpus first
    collapses to the DISTINCT (day, user) set, each of whose rows
    fans out to the 7 anchors it is visible from — an EQUI-join on
    integer day (the q_ewma trailing-window trick; a user active on
    several days of one window still counts once via the distinct
    aggregate). Anchors keep only observed days (semi-join against
    the day set — no windows extrapolated past the data). wau ≥ dau
    ≥ 1 by construction, so the ratio divides safely; day renders as
    the µs-exact midnight timestamp on both engines.

    Scale shape: everything downstream of the first distinct runs on
    the collapsed (day, user) set — the 7× fan-out multiplies that
    set, not the event volume; WAU is a two-phase distinct per
    anchor under one (anchor) partitioning; DAU is a plain count of
    the same set; the observed-day grid (pruned from the DAU
    aggregate) broadcasts into the semi-join."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(epoch_day().alias("ed"), "user_id")
        .distinct()
    )
    d = e.groupBy("ed").agg(F.count("*").cast("bigint").alias("dau"))
    # the observed-day grid derives from the DAU aggregate; Catalyst
    # prunes the unused dau column, so this plans as a distinct-on-ed
    # over the same collapsed set (equivalent cost, single source of
    # truth for "observed day")
    a = d.select("ed")
    p = e.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "ed", "user_id"
    ).select((F.col("ed") + F.col("k")).alias("anchor"), "user_id")
    w = (
        p.join(F.broadcast(a), p["anchor"] == a["ed"], "left_semi")
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    return d.join(F.broadcast(w), d["ed"] == w["anchor"]).select(
        F.expr(f"timestamp_micros(ed * {_DAY_US})").alias("day"),
        "dau",
        "wau",
        portable_round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "dau_over_wau"
        ),
    )


# ---------------------------------------------------------------------------
# q_skew_keys — join-key skew census (the salting-decision diagnostic)
# ---------------------------------------------------------------------------

_SKEW_TOP = 10  # heavy hitters reported


@contract_query(
    "q_skew_keys",
    oracle=(
        "WITH k AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events "
        "  WHERE user_id IS NOT NULL GROUP BY user_id), "
        "t AS (SELECT sum(cnt)::BIGINT AS total_rows, "
        "  count(*)::BIGINT AS n_keys FROM k), "
        "r AS (SELECT user_id, cnt, row_number() OVER "
        "  (ORDER BY cnt DESC, user_id) AS rnk FROM k) "
        "SELECT r.rnk::BIGINT AS rnk, r.user_id, r.cnt, "
        f"  {portable_round_sql('r.cnt::DOUBLE / t.total_rows', 6)} AS share, "
        f"  {portable_round_sql('r.cnt::DOUBLE * t.n_keys / t.total_rows', 6)} "
        "    AS x_mean, "
        "  t.n_keys, t.total_rows "
        f"FROM r CROSS JOIN t WHERE r.rnk <= {_SKEW_TOP}"
    ),
    covers="scale diagnostics (extension: join-key heavy-hitter census for salting decisions)",
)
def q_skew_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter census of the fact-side join key: the top-10
    user_ids by event count with their corpus share and
    ratio-to-mean-key — the report that decides whether a key needs
    salting (``operators.scale.salted_repartition``) or AQE skew
    splitting before a big join, read BEFORE the join is written.

    Exactness: counts are exact bigints off one partial→final
    aggregate; share and x_mean are single IEEE double divisions of
    exact integers (bit-identical cross-engine) under 6-dp portable
    rounding; the top-10 is fully tiebroken (cnt DESC, user_id ASC
    — user_id is unique in the key census).

    Scale shape: the scan reads ONE column; the census is the only
    corpus-sized exchange (map-side combine collapses to |keys|);
    the global top-10 is TakeOrderedAndProject (per-partition heaps,
    never a global sort or single-partition window) and the scalar
    totals re-enter as a broadcast onto 10 rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    k = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    t = k.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    top = k.orderBy(F.col("cnt").desc(), "user_id").limit(_SKEW_TOP)
    r = top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "user_id"))
        .cast("bigint"),
    )
    return r.crossJoin(F.broadcast(t)).select(
        "rnk",
        "user_id",
        "cnt",
        portable_round(F.col("cnt").cast("double") / F.col("total_rows"), 6).alias(
            "share"
        ),
        portable_round(
            F.col("cnt").cast("double") * F.col("n_keys") / F.col("total_rows"), 6
        ).alias("x_mean"),
        "n_keys",
        "total_rows",
    )


# ---------------------------------------------------------------------------
# q_anomaly — rolling-median/MAD point-anomaly flags on the daily series
# ---------------------------------------------------------------------------

_ANOM_WIN = 7  # trailing window length (rows of the daily grid)
_ANOM_K = 3  # MAD multiplier for the anomaly threshold


@contract_query(
    "q_anomaly",
    oracle=(
        "WITH d AS (SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day, "
        "  count(*)::BIGINT AS x FROM events WHERE ts IS NOT NULL GROUP BY day), "
        "o AS (SELECT day, x, row_number() OVER (ORDER BY day) AS r FROM d), "
        "w AS (SELECT a.day, a.x, list_sort(list(b.x)) AS arr "
        f"  FROM o a JOIN o b ON b.r BETWEEN a.r - {_ANOM_WIN - 1} AND a.r "
        f"  GROUP BY a.day, a.x HAVING count(*) = {_ANOM_WIN}), "
        f"m AS (SELECT day, x, arr[{(_ANOM_WIN + 1) // 2}] AS med, arr FROM w), "
        "s AS (SELECT day, x, med, "
        "  list_sort(list_transform(arr, v -> abs(v - med)))"
        f"    [{(_ANOM_WIN + 1) // 2}] AS mad FROM m) "
        "SELECT day, x AS daily_count, med, mad, abs(x - med)::BIGINT AS dev, "
        f"  (CASE WHEN abs(x - med) > {_ANOM_K} * mad THEN 1 ELSE 0 END)::BIGINT "
        "    AS is_anomaly "
        "FROM s"
    ),
    covers="time-series diagnostics (extension: rolling-median/MAD point-anomaly detection)",
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median/MAD point-anomaly flags over the daily event
    volume: each day with a full 7-row trailing window is scored
    against the window's median; |x − med| > 3·MAD flags the day.
    The robust complement to q_changepoint (CUSUM finds sustained
    mean SHIFTS; this finds single-day spikes/outages the shift
    statistic absorbs).

    Exactness: the window is 7 exact bigint daily counts sorted
    in-expression — median and MAD are element picks (index 4) from
    7-element arrays, so every output is an exact integer; no
    quantile interpolation, no doubles anywhere. EVERY full-window
    day is emitted with a 0/1 flag (not only anomalies), so the
    driver row can never be vacuously empty. The deviation array is
    built from a plain column median (never an element_at captured
    inside the lambda — the HOF re-evaluation rule).

    Scale shape: identical to q_ewma — one map-side-combined
    aggregate collapses the corpus to the |days| grid; the trailing
    window is the exploded-offset EQUI-join on the row index (no
    range join, no single-partition running window); everything
    after the first aggregate is |days|-sized."""
    mid = (_ANOM_WIN + 1) // 2
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    o = d.select("day", "x", F.row_number().over(Window.orderBy("day")).alias("r"))
    probe = o.select(
        "day",
        "x",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(_ANOM_WIN - 1))).alias("j"),
    ).select("day", "x", (F.col("r") - F.col("j")).alias("rb"))
    base = o.select(F.col("r").alias("rb"), F.col("x").alias("xb"))
    w = (
        probe.join(base, "rb")
        .groupBy("day", "x")
        .agg(
            F.sort_array(F.collect_list("xb")).alias("arr"),
            F.count("*").alias("n_win"),
        )
        .filter(F.col("n_win") == _ANOM_WIN)
    )
    m = w.select("day", "x", "arr", F.element_at("arr", mid).alias("med"))
    s = m.select(
        "day",
        "x",
        "med",
        F.element_at(
            F.array_sort(F.transform("arr", lambda v: F.abs(v - F.col("med")))),
            mid,
        ).alias("mad"),
    )
    return s.select(
        "day",
        F.col("x").alias("daily_count"),
        "med",
        "mad",
        F.abs(F.col("x") - F.col("med")).cast("bigint").alias("dev"),
        F.when(
            F.abs(F.col("x") - F.col("med")) > _ANOM_K * F.col("mad"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q_streaks — longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

_STREAK_TOP = 20  # users reported


@contract_query(
    "q_streaks",
    oracle=(
        "WITH e AS (SELECT DISTINCT {ED} AS ed, user_id "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
        "i AS (SELECT user_id, ed, ed - row_number() OVER "
        "  (PARTITION BY user_id ORDER BY ed) AS isl FROM e), "
        "s AS (SELECT user_id, isl, count(*)::BIGINT AS len "
        "  FROM i GROUP BY user_id, isl), "
        "per AS (SELECT user_id, max(len)::BIGINT AS max_streak, "
        "  sum(len)::BIGINT AS n_active_days, count(*)::BIGINT AS n_islands "
        "  FROM s GROUP BY user_id), "
        "r AS (SELECT user_id, max_streak, n_active_days, n_islands, "
        "  row_number() OVER (ORDER BY max_streak DESC, user_id) AS rnk FROM per) "
        "SELECT rnk::BIGINT AS rnk, user_id, max_streak, n_active_days, "
        "  n_islands FROM r WHERE rnk <= {K}"
    ).format(ED=epoch_day_sql(), K=_STREAK_TOP),
    covers="behavioral analytics (extension: gaps-and-islands longest activity streak)",
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by longest consecutive-day activity streak — the
    gaps-and-islands classic (engagement loops, habit metrics), with
    each user's total active days and island count alongside.

    Exactness: days are integer epoch days (floor via the
    subtract-positive-modulus idiom, pre-1970-safe); the island key
    ``ed − row_number()`` is constant exactly along a run of
    consecutive days (distinctness first, so duplicate same-day events
    can never split an island); every output is an exact bigint and
    the top-20 is fully tiebroken (max_streak DESC, user_id ASC).

    Scale shape: the corpus collapses to the DISTINCT (user, day) set
    first; the island window partitions BY USER (parallel across the
    cluster — never a global sort); two keyed exchanges total, both
    over the collapsed set; the global top-20 is orderBy+limit
    (TakeOrderedAndProject per-partition heaps) and the final rank
    window runs on ≤20 rows."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            epoch_day().alias("ed"),
            "user_id",
        )
        .distinct()
    )
    i = e.select(
        "user_id",
        "ed",
        (
            F.col("ed")
            - F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ed"))
            .cast("bigint")
        ).alias("isl"),
    )
    s = i.groupBy("user_id", "isl").agg(F.count("*").cast("bigint").alias("len"))
    per = s.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("max_streak"),
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count("*").cast("bigint").alias("n_islands"),
    )
    top = per.orderBy(F.col("max_streak").desc(), "user_id").limit(_STREAK_TOP)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("max_streak").desc(), "user_id"))
        .cast("bigint")
        .alias("rnk"),
        "user_id",
        "max_streak",
        "n_active_days",
        "n_islands",
    )


# ---------------------------------------------------------------------------
# q_spearman — rank correlation of daily volume vs daily distinct users
# ---------------------------------------------------------------------------


@contract_query(
    "q_spearman",
    oracle=(
        "WITH d AS (SELECT {ED} AS ed, "
        "  count(*)::BIGINT AS x, count(DISTINCT user_id)::BIGINT AS y "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY ed), "
        "r AS (SELECT row_number() OVER (ORDER BY x, ed) AS rx, "
        "  row_number() OVER (ORDER BY y, ed) AS ry FROM d), "
        "a AS (SELECT count(*)::BIGINT AS n_days, "
        "  sum((rx - ry) * (rx - ry))::BIGINT AS sum_d2 FROM r) "
        "SELECT n_days, sum_d2, "
        "  CASE WHEN n_days > 1 THEN {rho} END AS rho "
        "FROM a"
    ).format(
        ED=epoch_day_sql(),
        rho=portable_round_sql(
            "1.0 - (6 * sum_d2)::DOUBLE / (n_days * (n_days * n_days - 1))", 6
        ),
    ),
    covers="corpus-health statistics (extension: Spearman rank correlation, deterministic tiebreak)",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event volume and daily
    distinct actives — does load track audience, or do few users drive
    the spikes? Computed with a deterministic day tiebreak (rank by
    (value, day)), so both rank sequences are permutations and the
    classic 1 − 6Σd²/(n(n²−1)) identity is exact.

    Exactness: both series are exact bigint counts off one grouped
    aggregate; ranks are row_numbers with the day index as tiebreak
    (no average-rank ties to approximate); Σd² is an exact bigint sum
    (≤ (n³−n)/3, far under 2^53 for any day grid) and rho is ONE
    double division of exact integers under 6-dp portable rounding,
    NULL when fewer than two days exist.

    Scale shape: the corpus collapses map-side to the |days| grid in
    the first aggregate; the two ranking windows run over that
    collapsed grid (bounded by the calendar span — the q_ks_drift
    single-partition-over-collapsed-grid posture), and the final
    reduction is a one-row aggregate."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(
            epoch_day().alias("ed")
        )
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.count_distinct("user_id").cast("bigint").alias("y"),
        )
    )
    r = d.select(
        F.row_number().over(Window.orderBy("x", "ed")).cast("bigint").alias("rx"),
        F.row_number().over(Window.orderBy("y", "ed")).cast("bigint").alias("ry"),
    )
    a = r.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
        .cast("bigint")
        .alias("sum_d2"),
    )
    return a.select(
        "n_days",
        "sum_d2",
        F.when(
            F.col("n_days") > 1,
            portable_round(
                F.lit(1.0)
                - (F.lit(6) * F.col("sum_d2")).cast("double")
                / (F.col("n_days") * (F.col("n_days") * F.col("n_days") - 1)),
                6,
            ),
        ).alias("rho"),
    )


# ---------------------------------------------------------------------------
# q_new_users — daily new-vs-returning split with cumulative reach
# ---------------------------------------------------------------------------


@contract_query(
    "q_new_users",
    oracle=(
        "WITH e AS (SELECT DISTINCT {ED} AS ed, user_id "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
        "a AS (SELECT ed, count(*)::BIGINT AS dau FROM e GROUP BY ed), "
        "f AS (SELECT user_id, min(ed) AS first_ed FROM e GROUP BY user_id), "
        "nw AS (SELECT first_ed AS ed, count(*)::BIGINT AS n_new "
        "  FROM f GROUP BY first_ed), "
        "j AS (SELECT a.ed, a.dau, coalesce(nw.n_new, 0)::BIGINT AS n_new "
        "  FROM a LEFT JOIN nw ON nw.ed = a.ed) "
        "SELECT make_timestamp(ed * {D}) AS day, dau, n_new, "
        "  (dau - n_new)::BIGINT AS n_returning, "
        "  sum(n_new) OVER (ORDER BY ed ROWS BETWEEN UNBOUNDED PRECEDING "
        "    AND CURRENT ROW)::BIGINT AS cum_users "
        "FROM j"
    ).format(D=_DAY_US, ED=epoch_day_sql()),
    covers="behavioral analytics (extension: daily new-vs-returning actives, cumulative reach)",
)
def q_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into first-ever-seen (new) vs returning
    users, with the cumulative distinct-user reach — the growth
    accounting view (acquisition vs retention) every DAU chart hides.

    Exactness: first-seen day is an exact min over the DISTINCT
    (day, user) set; new/returning/cumulative are exact bigint counts
    (cum_users is the running sum of n_new, which equals the distinct
    users seen so far because each user contributes to exactly one
    first day); day renders as the µs-exact midnight timestamp via
    pre-1970-safe floor division.

    Scale shape: everything derives from ONE collapsed distinct
    (day, user) set: DAU is a count per day, first-seen a min per user
    (two aggregates over the same exchange-reusable set); the
    new-vs-active join is between two |days| grids (explicit broadcast)
    and the running sum is a single-partition window over the bounded
    day grid (the q_ks_drift collapsed-grid posture)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            epoch_day().alias("ed"),
            "user_id",
        )
        .distinct()
    )
    a = e.groupBy("ed").agg(F.count("*").cast("bigint").alias("dau"))
    f = e.groupBy("user_id").agg(F.min("ed").alias("first_ed"))
    nw = f.groupBy(F.col("first_ed").alias("ned")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    j = a.join(F.broadcast(nw), a["ed"] == nw["ned"], "left").select(
        "ed",
        "dau",
        F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
    )
    return j.select(
        F.expr(f"timestamp_micros(ed * {_DAY_US})").alias("day"),
        "dau",
        "n_new",
        (F.col("dau") - F.col("n_new")).cast("bigint").alias("n_returning"),
        F.sum("n_new")
        .over(
            Window.orderBy("ed").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("cum_users"),
    )


# -- q_approx_quantiles parameters: shared by the plan and the oracle
_AQ_PS = [0.25, 0.5, 0.75, 0.9, 0.99]
_AQ_ACC = 1000  # approx_percentile accuracy: rank error <= 1/_AQ_ACC


@contract_query(
    "q_approx_quantiles",
    oracle=(
        # The KLL-style sketch has no cross-engine twin, so the
        # CONTRACT is the estimate's RANK-ERROR bound (the
        # q_approx_distinct error-bound pattern): Spark verifies that
        # each returned quantile's exact rank interval intersects
        # [floor((p−ε)·n), ceil((p+ε)·n)] — approx_percentile's
        # published guarantee — and emits within_bound; the oracle
        # states TRUE. Zero rows when the (finite-valued) column is
        # empty, so ANSI never divides and NULL sketches never probe.
        "WITH nn AS (SELECT count(*)::BIGINT AS n FROM lineitem "
        f"  WHERE {finite_value_sql('l_extendedprice')} IS NOT NULL) "
        "SELECT pct, TRUE AS within_bound FROM "
        f"(VALUES {', '.join(f'({p}::DOUBLE)' for p in _AQ_PS)}) t(pct), nn "
        "WHERE nn.n > 0"
    ),
    covers="order statistics, sketch scale path (approx_percentile rank-error contract)",
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_quantiles: a quantile SKETCH merges
    associatively, so the shuffle carries one bounded summary per
    partition instead of sorting the column — exact percentile_cont
    needs a global sort (or one full window) that a sketch avoids at a
    stated rank error.

    Contract (the q_approx_distinct discipline): the plan computes the
    sketch AND the exact rank interval of each returned value — value
    v's exact ranks span [count(x<v)+1, count(x<=v)] — and checks the
    interval intersects the guaranteed window around p·n. A drifting
    sketch (or a broken guarantee after a version bump) breaks the
    value hash. Non-finite measurements are nullified at entry
    (``finite_value``), the engine-wide rule: NaN sorts ABOVE +Inf in
    Spark and would silently occupy the top ranks on one engine only.

    Plan shape: two scans of ONE pruned column — the sketch aggregate
    (1 row), broadcast back onto the scan for the conditional rank
    counts (1 row), then a 5-row explode. No sort, no window, no
    per-row Python."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(finite_value(F.col("l_extendedprice")).alias("_x")).filter(
        F.col("_x").isNotNull()
    )
    sk = vals.agg(
        F.percentile_approx(
            "_x", F.array(*[F.lit(p) for p in _AQ_PS]), F.lit(_AQ_ACC)
        ).alias("_qs"),
        F.count("_x").cast("bigint").alias("_n"),
    )
    joined = vals.crossJoin(F.broadcast(sk))  # 1-row broadcast, never cartesian
    aggs = [F.max("_n").alias("_n")]
    for i in range(len(_AQ_PS)):
        v = F.col("_qs")[i]
        aggs.append(
            F.sum(F.when(F.col("_x") < v, 1).otherwise(0)).cast("bigint").alias(f"_lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_x") <= v, 1).otherwise(0)).cast("bigint").alias(f"_le{i}")
        )
    ranks = joined.agg(*aggs)
    eps = 1.0 / _AQ_ACC
    entries = []
    for i, p in enumerate(_AQ_PS):
        lo = F.floor((F.lit(p) - F.lit(eps)) * F.col("_n"))
        hi = F.ceil((F.lit(p) + F.lit(eps)) * F.col("_n"))
        within = (F.col(f"_le{i}") >= lo) & ((F.col(f"_lt{i}") + 1) <= hi)
        entries.append(
            F.struct(F.lit(p).alias("pct"), within.alias("within_bound"))
        )
    return (
        ranks.filter(F.col("_n") > 0)
        .select(F.explode(F.array(*entries)).alias("r"))
        .select("r.pct", "r.within_bound")
    )
