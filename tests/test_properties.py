"""Structural invariants on randomized inputs — properties that must
hold for ANY input, complementing the value-exact oracle tests."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tia_data_pipeline_spark.operators.incremental import scd2_merge
from tia_data_pipeline_spark.operators.windows import sessionize


def _random_events(spark, n=400, users=7, seed=7):
    rng = random.Random(seed)
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, rng.randrange(users), t0 + timedelta(minutes=rng.randrange(0, 60 * 24 * 3)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")


def test_sessionize_partitions_events_and_respects_gap(spark):
    ev = _random_events(spark)
    gap_min = 30
    sess = sessionize(ev, gap_minutes=gap_min).cache()
    # every event lands in exactly one session
    assert sess.agg(F.sum("n_events")).first()[0] == ev.count()
    # sessions never overlap and consecutive sessions of a user are
    # separated by MORE than the gap; within-session span only has
    # gaps <= gap (checked via span bound: end-start < n*gap is not
    # tight, so check the inter-session gap property exactly)
    rows = sess.orderBy("user_id", "session_start").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for srs in by_user.values():
        for a, b in zip(srs, srs[1:]):
            assert a["session_end"] <= b["session_start"]
            assert (b["session_start"] - a["session_end"]).total_seconds() > gap_min * 60
    sess.unpersist()


def test_scd2_reapplying_same_snapshot_is_noop(spark):
    ev = [(k, f"v{k % 3}") for k in range(20)]
    t0 = datetime(2020, 1, 1)
    cur = spark.createDataFrame(
        [(k, v, t0) for k, v in ev], "k bigint, v string, valid_from timestamp"
    )
    eff = datetime(2020, 6, 1)
    upd = spark.createDataFrame(
        [(k, ("CHANGED" if k % 4 == 0 else f"v{k % 3}"), eff) for k, v in ev],
        "k bigint, v string, eff timestamp",
    )
    merged = scd2_merge(cur, upd, keys=["k"], attrs=["v"], eff_col="eff")
    # re-apply the SAME snapshot to the open rows of the merged result:
    # nothing may change (all attrs now equal), so open rows pass through
    open_rows = merged.filter(F.col("valid_to").isNull())
    again = scd2_merge(open_rows, upd, keys=["k"], attrs=["v"], eff_col="eff")
    a = {(r["k"], r["v"], r["valid_from"], r["valid_to"]) for r in open_rows.collect()}
    b = {(r["k"], r["v"], r["valid_from"], r["valid_to"]) for r in again.collect()}
    assert a == b
    # and history row count: one closed row per changed key (k % 4 == 0)
    assert merged.filter(F.col("valid_to").isNotNull()).count() == len(
        [k for k, _ in ev if k % 4 == 0]
    )


def test_knn_join_matches_single_probe_brute_force(spark):
    from tia_data_pipeline_spark.operators.similarity import brute_force_top_k, knn_join

    rng = random.Random(3)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    probes = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    batch = {
        (r["probe_id"], r["rank"]): r["vec_id"]
        for r in knn_join(corpus, probes, k=5).collect()
    }
    for pid in range(3):
        probe = corpus.filter(F.col("vec_id") == pid)
        single = [r["vec_id"] for r in brute_force_top_k(corpus, probe, k=5).collect()]
        assert [batch[(pid, rk)] for rk in range(1, 6)] == single


def test_connected_components_random_graph_matches_networkless_unionfind(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
    from tia_data_pipeline_spark.operators.graph import connected_components

    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        ).collect()
    }

    # plain union-find reference
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in parent:
        want[n] = find(n)
    assert got == want


def test_chunk_featurize_search_composition(spark):
    """The RAG-ingest pipeline composed from engine operators: chunk
    documents into token windows, featurize each chunk (hashing trick),
    then k-NN join a probe chunk against the chunk corpus. Proves the
    tiers pipe together: plans stay JVM-side end-to-end and the probe's
    own chunk ranks first (cosine 1.0 with itself)."""
    from pyspark.sql import functions as F

    from tests.conftest import SMOKE_SF
    from tia_data_pipeline_spark import plans
    from tia_data_pipeline_spark.operators.dedup import md5_int
    from tia_data_pipeline_spark.operators.similarity import knn_join

    chunks = plans.REGISTRY["q_chunking"].build(spark, SMOKE_SF)
    feats = (
        chunks.select(
            F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")).alias("cid"),
            F.explode(F.split(F.col("chunk"), " ")).alias("tok"),
        )
        .select("cid", md5_int(F.col("tok"), 1).alias("b"))
        .groupBy("cid")
        .agg(
            F.array(
                *[F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("double") for i in range(16)]
            ).alias("embedding")
        )
    )
    probe = feats.limit(1).select(F.col("cid").alias("probe_id"), "embedding")
    top = knn_join(feats, probe, id_col="cid", k=3).collect()
    assert len(top) == 3
    best = next(r for r in top if r["rank"] == 1)
    assert best["cid"] == best["probe_id"] and best["score"] == 1.0


def test_bucket_pairs_exact_combinatorics(spark):
    """For ANY bucket membership list: exactly C(n,2) pairs, each
    unordered pair exactly once, ordered id_a <= id_b — both the
    scalar and struct-keyed forms."""
    from itertools import combinations

    from tia_data_pipeline_spark.operators.dedup import bucket_pairs

    rng = random.Random(11)
    buckets = {b: rng.sample(range(1000), rng.randrange(2, 9)) for b in range(25)}
    rows = [(b, m) for b, mem in buckets.items() for m in mem]
    df = spark.createDataFrame(rows, "bucket int, m bigint")
    mem = df.groupBy("bucket").agg(F.collect_list("m").alias("mem"))

    got = (
        mem.select("bucket", F.explode(bucket_pairs(F.col("mem"))).alias("p"))
        .select("bucket", "p.id_a", "p.id_b")
        .collect()
    )
    by_bucket: dict = {}
    for r in got:
        assert r["id_a"] < r["id_b"]  # sampled without replacement → strict
        by_bucket.setdefault(r["bucket"], set()).add((r["id_a"], r["id_b"]))
    for b, members in buckets.items():
        want = {tuple(sorted(p)) for p in combinations(members, 2)}
        assert by_bucket.get(b, set()) == want, f"bucket {b}"

    # struct-keyed form carries full member structs, same pair set
    smem = df.select("bucket", F.struct(F.col("m").alias("_id")).alias("s")).groupBy(
        "bucket"
    ).agg(F.collect_list("s").alias("mem"))
    got2 = (
        smem.select("bucket", F.explode(bucket_pairs(F.col("mem"), order_key="_id")).alias("p"))
        .select("bucket", F.col("p.a._id").alias("id_a"), F.col("p.b._id").alias("id_b"))
        .collect()
    )
    by_bucket2: dict = {}
    for r in got2:
        assert r["id_a"] < r["id_b"]
        by_bucket2.setdefault(r["bucket"], set()).add((r["id_a"], r["id_b"]))
    assert by_bucket2 == by_bucket


def test_bloom_never_false_negative_randomized(spark):
    """Fundamental Bloom property on randomized key sets across several
    sizes: every true member passes the pre-filter, always."""
    from tia_data_pipeline_spark.operators.membership import (
        bloom_build,
        bloom_params,
        bloom_prefilter,
    )

    rng = random.Random(23)
    for trial, n in enumerate([10, 137, 1000]):
        keys = rng.sample(range(10_000_000), n)
        members = spark.createDataFrame([(k,) for k in keys], "k bigint")
        m, kh = bloom_params(n, 0.01)
        bloom = bloom_build(members, "k", m_bits=m, k_hashes=kh)
        probe = spark.createDataFrame(
            [(k,) for k in keys + rng.sample(range(10_000_000, 20_000_000), n)],
            "k bigint",
        )
        passed = {
            r["k"]
            for r in bloom_prefilter(probe, "k", bloom, m_bits=m, k_hashes=kh).collect()
        }
        assert set(keys) <= passed, f"trial {trial}: false negative"


def test_pagerank_mass_conservation_random_graph(spark):
    """On a random graph with NO dangling nodes, total integer rank
    mass is conserved up to truncation: N·scale ≥ Σrank ≥ N·scale −
    loss bound (each node loses < 1 unit to integer division per edge
    per iteration). Dangling nodes only ever LOWER the total."""
    from tia_data_pipeline_spark.operators.graph import pagerank_integer

    rng = random.Random(11)
    n = 40
    # every node gets at least one out-edge → no dangling mass loss
    edges = [(i, rng.randrange(n)) for i in range(n)] + [
        (rng.randrange(n), rng.randrange(n)) for _ in range(80)
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r["node"]: r["rank_n"] for r in pagerank_integer(df, "src", "dst", iterations=4).collect()}
    total = sum(ranks.values())
    scale = 1_000_000_000
    assert total <= len(ranks) * scale
    # truncation loss: < (|E| + 2) units per iteration is generous
    assert total >= len(ranks) * scale - 4 * (len(set(edges)) + len(ranks)) * 100
    assert all(v >= 150_000_000 for v in ranks.values())  # >= base


def test_ks_and_gini_bounds_random_inputs(spark):
    """KS ∈ [0, 1] with 0 for identical samples; Gini ∈ [0, 1) with 0
    for a perfectly equal distribution — checked via the same SQL the
    contract queries state, on random and degenerate inputs."""
    import duckdb

    rng = random.Random(5)
    vals_a = [rng.randrange(1, 500) for _ in range(300)]
    con = duckdb.connect()
    con.execute("CREATE TABLE v (val INT, ga INT)")
    con.executemany("INSERT INTO v VALUES (?, ?)", [(v, 1) for v in vals_a] + [(v, 0) for v in vals_a])
    ks_same = con.sql(
        "WITH c AS (SELECT val, SUM(ga)::BIGINT ca, SUM(1-ga)::BIGINT cb FROM v GROUP BY val), "
        "t AS (SELECT SUM(ca)::BIGINT na, SUM(cb)::BIGINT nb FROM c), "
        "k AS (SELECT CAST(SUM(ca) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_a, "
        "           CAST(SUM(cb) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_b FROM c) "
        "SELECT MAX(ABS(cum_a*t.nb - cum_b*t.na))::DOUBLE / (t.na*t.nb) FROM k CROSS JOIN t GROUP BY t.na, t.nb"
    ).fetchone()[0]
    assert ks_same == 0.0

    # gini: equal distribution -> 0; concentrated -> high but < 1
    eq = spark.createDataFrame([(i, 10) for i in range(50)], "doc_id bigint, x bigint")
    conc = spark.createDataFrame(
        [(i, 1) for i in range(49)] + [(49, 10_000)], "doc_id bigint, x bigint"
    )
    from pyspark.sql.window import Window

    def gini_of(df):
        wr = Window.orderBy("x", "doc_id")
        r = df.select("x", F.row_number().over(wr).alias("rn"))
        row = r.agg(
            F.count("*").alias("n"), F.sum("x").alias("sx"),
            F.sum(F.col("rn") * F.col("x")).alias("swx"),
        ).collect()[0]
        n, sx, swx = float(row["n"]), float(row["sx"]), float(row["swx"])
        return (2.0 * swx - (n + 1.0) * sx) / (n * sx)

    assert abs(gini_of(eq)) < 1e-12
    g = gini_of(conc)
    assert 0.9 < g < 1.0
