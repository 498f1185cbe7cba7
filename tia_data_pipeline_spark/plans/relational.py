"""Relational tier (SURVEY §2.6, step 2).

Joins / aggregates / dedup — the semantics the reference delegates to
Postgres (PK conflict-skip, range queries) or denormalizes into its
schema (enrichment joins, grouped counts). All built-in Spark operators;
AQE picks broadcast vs sort-merge at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.functions.text import money_sum, money_sum_sql
from tia_data_pipeline_spark.operators.incremental import incremental_append
from tia_data_pipeline_spark.plans.contract import contract_query, temp_derivation_dir


@contract_query(
    "q_revenue_by_segment",
    oracle=(
        "SELECT c.c_mktsegment, count(*) AS n_items, "
        "{rev} AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
        "GROUP BY c.c_mktsegment"
    ).format(rev=money_sum_sql("l.l_extendedprice * (1 - l.l_discount)", decimals=4)),
    covers="flagship: scan→filter-range→join-enrich→agg-count (SURVEY §2.6)",
)
def q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's whole relational surface in one plan —
    pruned scan, pushed-down date filter, two joins, grouped aggregate.
    Filter is applied to orders *before* the join so the pushed
    predicate shrinks the build side; AQE broadcasts customer."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), decimals=4).alias(
                "revenue"
            ),
        )
    )


@contract_query(
    "q_dedup_batch",
    oracle=(
        "SELECT DISTINCT * FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)"
    ),
    covers="dedup-batch (posts_pipeline.py:57, ON CONFLICT DO NOTHING)",
)
def q_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-batch dedup: the hourly 'latest 30' refetch overlap —
    re-inserts of identical records are no-ops, i.e. set semantics on
    whole rows. (The corpus's lineitem is NOT key-unique on
    (l_orderkey, l_linenumber), so key-scoped dedup would have a
    nondeterministic survivor; whole-row semantics is both the honest
    reference behavior — refetches are bit-identical — and oracle-
    stable. Key-scoped dedup lives in operators/incremental.py.)"""
    # Plan choice, measured r8 (sf0.1, noop sink, min of 4 after
    # warmup): whole-row dropDuplicates() 1.28 s vs 128-bit-digest
    # groupBy + per-column first() survivors 1.93 s (and 0.15 vs 0.20 s
    # on the fat-row documents table). RE-MEASURED r12 under the
    # post-bypass-writer regime (VERDICT r11 #5 — the r8 number was
    # stale): interleaved min-of-5, dropDuplicates 0.878 s vs digest
    # 2.862 s — the digest form loses even harder once the sort writer
    # removes the per-reduce-file overhead it was amortizing. The
    # digest form loses because the row
    # must cross the exchange either way — as the grouping key here, or
    # as first()-aggregation buffers there — so digest-grouping saves
    # no shuffle bytes when the output is full rows, while paying two
    # extra whole-row hash passes plus SortAggregate's per-partition
    # sort (first(string) buffers are not HashAggregate-compatible).
    # dropDuplicates() is the optimal one-pass plan: partial
    # HashAggregate collapses co-located duplicates before the network
    # and the exchange carries each locally-distinct row exactly once.
    # "Shuffle digests, never documents" (operators/dedup.py:9) applies
    # when ids suffice as output — that path is `exact_dedup`, which
    # groups documents by sha-256 digest and never shuffles text.
    li = load_table(spark, sf_dir, "lineitem")
    return li.unionAll(li).dropDuplicates()


@contract_query(
    "q_merge_upsert",
    oracle=(
        # o_orderkey IS NOT NULL: the merge target's PRIMARY KEY can
        # never hold a NULL key (Derby/Postgres both reject it), so the
        # PK-target precondition is stated identically on both sides
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1996-02-15' "
        "AND o_orderkey IS NOT NULL"
    ),
    covers="snk-jdbc-upsert transactional MERGE (posts_pipeline.py:57, ON CONFLICT DO NOTHING)",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional exactly-once sink, driven end-to-end: two
    overlapping order batches merged into an embedded Derby table via
    `MERGE … WHEN NOT MATCHED THEN INSERT`, then read back over JDBC.
    The overlap (Jan 15 – Feb 1) is merged twice but inserted once, so
    the final table equals the plain union window — which is exactly
    the oracle. Covers jdbc_ensure_table (PK DDL), the distributed
    staging write, the atomic MERGE, and the JDBC read-back."""
    from tia_data_pipeline_spark.sources.jdbc import (
        jdbc_ensure_table,
        jdbc_merge_upsert,
        jdbc_read,
    )

    # Each build gets a fresh embedded DB (bench warm-up + timed runs =
    # several); the atexit hook keeps them from accumulating on disk.
    tmp = temp_derivation_dir("graft_merge_")
    url = f"jdbc:derby:{tmp}/db;create=true"
    orders = load_table(spark, sf_dir, "orders")

    def batch(lo: str, hi: str) -> DataFrame:
        # NULL merge keys are excluded explicitly (the PK-target
        # precondition in the oracle): a PRIMARY KEY column rejects
        # NULL at INSERT on every JDBC dialect.
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
            )
            .filter(F.col("o_orderkey").isNotNull())
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )

    first = batch("1996-01-01", "1996-02-01")
    jdbc_ensure_table(spark, url, "merge_target", first.schema, ["o_orderkey"])
    jdbc_merge_upsert(first, url, "merge_target", ["o_orderkey"])
    jdbc_merge_upsert(batch("1996-01-15", "1996-02-15"), url, "merge_target", ["o_orderkey"])
    return jdbc_read(
        spark,
        url,
        'SELECT o_orderkey AS "o_orderkey", o_custkey AS "o_custkey", '
        'o_totalprice AS "o_totalprice" FROM merge_target',
    )


@contract_query(
    "q_antijoin_incr",
    oracle=(
        # NOT EXISTS with IS NOT DISTINCT FROM, never NOT IN: one NULL
        # key in the existing set makes NOT IN return UNKNOWN for EVERY
        # row (zero results), while the engine's merge-family anti-join
        # is deliberately null-safe (a NULL key matches itself — the
        # engine-wide eqNullSafe merge-family invariant); the oracle must state the
        # same semantics.
        "SELECT i.o_orderkey, i.o_custkey, i.o_totalprice, i.o_orderdate "
        "FROM orders i WHERE i.o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND NOT EXISTS ("
        "  SELECT 1 FROM orders e WHERE e.o_orderdate < TIMESTAMP '1998-01-01' "
        "  AND e.o_orderkey IS NOT DISTINCT FROM i.o_orderkey)"
    ),
    covers="antijoin-incr (posts_pipeline.py:57 across batches)",
)
def q_antijoin_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental load: only rows whose PK is absent from the target
    survive — the engine form of `ON CONFLICT DO NOTHING`."""
    orders = load_table(spark, sf_dir, "orders")
    incoming = orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    existing = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    return incremental_append(incoming, existing, keys=["o_orderkey"])


@contract_query(
    "q_semi_join",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
        "FROM lineitem WHERE l_orderkey IN ("
        "  SELECT o_orderkey FROM orders "
        "  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01')"
    ),
    covers="semijoin-drive (comments_pipeline.py:33-38)",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Children fetched only for parents in the window (the comments
    fan-out driven by yesterday's post ids)."""
    li = load_table(spark, sf_dir, "lineitem")
    window_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .select("o_orderkey")
    )
    return li.join(
        window_orders, li.l_orderkey == window_orders.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")


@contract_query(
    "q_join_enrich",
    oracle=(
        "SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, "
        "o.o_orderdate, o.o_orderstatus, c.c_name, c.c_mktsegment "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey"
    ),
    covers="join-enrich + fk-model (init_db_tables.sh:44-47)",
)
def q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-attribute enrichment: each child row carries denormalized
    parent attrs (comments carrying post_title/post_link). Catalyst/AQE
    broadcast the customer side when it fits."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "o_orderdate",
            "o_orderstatus",
            "c_name",
            "c_mktsegment",
        )
    )


@contract_query(
    "q_star_join",
    oracle=(
        "SELECT r.r_name, n.n_name, p.p_type, count(*) AS n_items, "
        "{rev} AS revenue "
        "FROM lineitem l "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "JOIN part p ON l.l_partkey = p.p_partkey "
        "WHERE p.p_size <= 20 "
        "GROUP BY r.r_name, n.n_name, p.p_type "
        "HAVING count(*) >= 5"
    ).format(rev=money_sum_sql("l.l_extendedprice * (1 - l.l_discount)", decimals=4)),
    covers="full star-schema join chain (fk-model over all dimensions)",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation/part-type across the whole star
    (lineitem ⋈ supplier ⋈ nation ⋈ region ⋈ part): every dimension
    broadcasts, the fact table never shuffles until the final grouped
    aggregate; the part filter prunes before its join."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("r_name", "n_name", "p_type")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), decimals=4).alias(
                "revenue"
            ),
        )
        .filter(F.col("n_items") >= 5)
    )


@contract_query(
    "q_thread_closure",
    oracle=(
        "WITH RECURSIVE nodes AS ("
        "  SELECT DISTINCT l_orderkey * 100 + l_linenumber AS id, "
        "  CASE WHEN l_linenumber = 1 THEN NULL "
        "       ELSE l_orderkey * 100 + l_linenumber - 1 END AS parent FROM lineitem), "
        "thread AS ("
        "  SELECT id, id AS root_id, 0 AS depth FROM nodes WHERE parent IS NULL "
        "  UNION ALL "
        "  SELECT n.id, t.root_id, t.depth + 1 FROM nodes n JOIN thread t ON n.parent = t.id) "
        "SELECT id, root_id, depth FROM thread"
    ),
    covers="self-join-tree full closure (init_db_tables.sh:52 parent chains)",
)
def q_thread_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full thread traversal: lineitem linenumbers form a reply chain
    per order (line n's parent is line n-1); compute (node, root,
    depth) transitive closure via the iterative operator — the oracle
    states the same thing as a recursive CTE."""
    from tia_data_pipeline_spark.operators.graph import thread_closure

    li = load_table(spark, sf_dir, "lineitem")
    nodes = li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("id"),
        F.when(F.col("l_linenumber") == 1, F.lit(None).cast("bigint"))
        .otherwise(F.col("l_orderkey") * 100 + F.col("l_linenumber") - 1)
        .alias("parent"),
    )
    closure = thread_closure(nodes, "id", "parent")
    return closure.select("id", "root_id", F.col("depth").cast("int").alias("depth"))


@contract_query(
    "q_children_rollup",
    oracle=(
        "SELECT l_orderkey, to_json(list(l_linenumber ORDER BY l_linenumber)) AS children "
        "FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY l_orderkey"
    ),
    covers="self-join-tree children roll-up (init_db_tables.sh:57) + json-ser",
)
def q_children_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The comments.children JSON column as a computed roll-up: child
    ids collected per parent, sorted for determinism, serialized at the
    sink boundary (collect_list order is nondeterministic — sort_array
    pins it on both engines). NULL child ids are excluded explicitly on
    BOTH sides: collect_list silently drops NULL elements where
    DuckDB's list() keeps them as trailing nulls."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.to_json(F.sort_array(F.collect_list("l_linenumber"))).alias("children"))
    )


@contract_query(
    "q_agg_count",
    oracle="SELECT l_orderkey, count(*) AS item_count FROM lineitem GROUP BY l_orderkey",
    covers="agg-count (init_db_tables.sh:21, comments_count)",
)
def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped count — two-phase hash aggregate (map-side partials)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("item_count"))
    )


@contract_query(
    "q_topk_latest",
    oracle=(
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "ORDER BY o_orderdate DESC NULLS LAST, o_orderkey ASC NULLS LAST LIMIT 30"
    ),
    covers="topk-latest (posts_pipeline.py:26, latest-30 page)",
)
def q_topk_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'30 latest posts' — TakeOrderedAndProject, no global sort.
    o_orderkey tiebreak makes the k-boundary deterministic; NULL
    placement is stated explicitly on BOTH sides (Spark ASC defaults
    to NULLS FIRST where DuckDB defaults to NULLS LAST, so a NULL key
    inside a date-tie group at the limit boundary would otherwise
    select different rows)."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(
            F.col("o_orderdate").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_last(),
        )
        .limit(30)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@contract_query(
    "q_exists_guard",
    oracle=(
        "SELECT l_orderkey, count(*) AS item_count FROM lineitem "
        "GROUP BY l_orderkey HAVING count(*) >= 5"
    ),
    covers="exists-guard (comments_pipeline.py:41,97)",
)
def q_exists_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty (HAVING) guard: groups below the floor are dropped,
    the engine form of 'skip empty comment lists'."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("item_count"))
        .filter(F.col("item_count") >= 5)
    )


@contract_query(
    "q_self_join",
    oracle=(
        "WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP) AS day "
        "FROM events) "
        "SELECT a.user_id, a.day AS day1, b.day AS day2 "
        "FROM days a JOIN days b ON a.user_id = b.user_id "
        "AND b.day = a.day + INTERVAL 1 DAY"
    ),
    covers="self-join-tree (init_db_tables.sh:52,57 parent/children)",
)
def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referencing join (structural stand-in for the comment
    parent→child thread): per-user consecutive-active-day pairs."""
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    a = days.alias("a")
    b = days.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") == F.col("a.day") + F.expr("INTERVAL 1 DAY")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.day").alias("day1"),
        F.col("b.day").alias("day2"),
    )


@contract_query(
    "q_scd2",
    oracle=(
        # The join is null-safe (IS NOT DISTINCT FROM) and presence
        # derives from literal markers, matching scd2_merge's
        # eqNullSafe join + _present flags: a NULL-key version row is
        # genuinely present, so keying presence off the nullable
        # o_orderkey would silently drop it from every leg.
        "WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice, "
        "    o_orderdate::TIMESTAMP AS valid_from, 1 AS mc FROM orders "
        "  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'), "
        "upd AS (SELECT o_orderkey, o_custkey, "
        "    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END "
        "      AS o_totalprice, TIMESTAMP '1996-03-01' AS eff, 1 AS mu FROM orders "
        "  WHERE o_orderdate >= TIMESTAMP '1996-01-15' AND o_orderdate < TIMESTAMP '1996-02-15'), "
        "j AS (SELECT cur.o_orderkey AS ck, upd.o_orderkey AS uk, "
        "    cur.o_custkey AS cc, upd.o_custkey AS uc, "
        "    cur.o_totalprice AS ct, upd.o_totalprice AS ut, "
        "    cur.valid_from AS cf, upd.eff AS ue, "
        "    (cur.mc IS NOT NULL) AS pc, (upd.mu IS NOT NULL) AS pu, "
        "    (cur.o_custkey IS DISTINCT FROM upd.o_custkey "
        "     OR cur.o_totalprice IS DISTINCT FROM upd.o_totalprice) AS ch "
        "  FROM cur FULL OUTER JOIN upd "
        "  ON cur.o_orderkey IS NOT DISTINCT FROM upd.o_orderkey) "
        "SELECT ck AS o_orderkey, cc AS o_custkey, ct AS o_totalprice, cf AS valid_from, "
        "  NULL::TIMESTAMP AS valid_to FROM j WHERE pc AND (NOT pu OR NOT ch) "
        "UNION ALL SELECT ck, cc, ct, cf, ue FROM j WHERE pc AND pu AND ch "
        "UNION ALL SELECT uk, uc, ut, ue, NULL::TIMESTAMP FROM j WHERE pu AND (NOT pc OR ch)"
    ),
    covers="SCD2 keep-history merge (history-preserving form of snk-jdbc-upsert, posts_pipeline.py:57)",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 over two overlapping order
    snapshots: even keys in the second batch arrive with a changed
    price (old version closes at the effective date, new version
    opens), odd overlap keys are byte-identical (no churn), late-window
    keys insert fresh. One full-outer join on the key = one shuffle;
    the three legs are projections of that joined frame."""
    from tia_data_pipeline_spark.operators.incremental import scd2_merge

    orders = load_table(spark, sf_dir, "orders")

    def window(lo: str, hi: str) -> DataFrame:
        return orders.filter((F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi)))

    cur = window("1996-01-01", "1996-02-01").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("valid_from"),
    )
    upd = window("1996-01-15", "1996-02-15").select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + 100.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.lit("1996-03-01").cast("timestamp").alias("eff"),
    )
    return scd2_merge(
        cur, upd, keys=["o_orderkey"], attrs=["o_custkey", "o_totalprice"], eff_col="eff"
    )


@contract_query(
    "q_data_quality",
    oracle=(
        "WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM orders) "
        "SELECT 'not_null_o_orderkey' AS rule, (SELECT count(*) FROM orders "
        "  WHERE o_orderkey IS NULL)::BIGINT AS n_violations, n_rows FROM n "
        "UNION ALL SELECT 'non_negative_o_totalprice', (SELECT count(*) FROM orders "
        "  WHERE o_totalprice IS NOT NULL AND o_totalprice < 0)::BIGINT, n_rows FROM n "
        "UNION ALL SELECT 'accepted_o_orderstatus', (SELECT count(*) FROM orders "
        "  WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F'))::BIGINT, "
        "  n_rows FROM n "
        "UNION ALL SELECT 'matches_o_orderpriority', (SELECT count(*) FROM orders "
        "  WHERE o_orderpriority IS NOT NULL "
        "  AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))::BIGINT, n_rows FROM n "
        # NOT EXISTS, never NOT IN: one NULL c_custkey in the subquery
        # would make NOT IN evaluate UNKNOWN for every row (0 reported
        # violations) where the engine's anti-join counts correctly.
        "UNION ALL SELECT 'fk_o_custkey', (SELECT count(*) FROM orders "
        "  WHERE o_custkey IS NOT NULL AND NOT EXISTS "
        "  (SELECT 1 FROM customer WHERE c_custkey = o_custkey))::BIGINT, n_rows FROM n "
        "UNION ALL SELECT 'unique_o_orderkey', (SELECT coalesce(sum(c - 1), 0) FROM "
        "  (SELECT count(*) AS c FROM orders GROUP BY o_orderkey "
        "   HAVING count(*) > 1))::BIGINT, n_rows FROM n"
    ),
    covers="data-quality expectations report (engine form of init_db_tables.sh constraints)",
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations report over orders: the constraints the reference
    delegates to Postgres DDL (PK, NOT NULL), plus range / accepted-
    values / format / referential-integrity rules, each a row with its
    violation count. Scalar rules compile to ONE conditional aggregate
    over one scan; uniqueness is a key-only groupBy; the FK check is a
    key-pruned anti-join (customer keys broadcast). The 'P' statuses
    and the deliberately-tight accepted set make the report non-vacuous
    — a quality gate that reports, not one that always says yes."""
    from tia_data_pipeline_spark.operators.validate import (
        accepted_values,
        fk_violations,
        matches,
        non_negative,
        not_null,
        unique_key_violations,
        validate,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    n_rows = F.broadcast(orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")))

    scalar = validate(
        orders,
        [
            not_null("o_orderkey"),
            non_negative("o_totalprice"),
            accepted_values("o_orderstatus", ["O", "F"]),
            matches("o_orderpriority", r"^[1-5]-"),
        ],
    )
    fk = (
        fk_violations(orders, "o_custkey", customer, "c_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("fk_o_custkey").alias("rule"), "n_violations")
        .crossJoin(n_rows)
    )
    uniq = (
        unique_key_violations(orders, ["o_orderkey"])
        .agg(F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0)).cast("bigint").alias("n_violations"))
        .select(F.lit("unique_o_orderkey").alias("rule"), "n_violations")
        .crossJoin(n_rows)
    )
    return scalar.unionByName(fk).unionByName(uniq)
