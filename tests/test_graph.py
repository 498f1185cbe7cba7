"""thread_closure: frontier expansion semantics + the reliable
checkpoint path for deep hierarchies."""

from __future__ import annotations

import pytest

import os

from tia_data_pipeline_spark.operators.graph import thread_closure


def _chain_forest(spark, depth: int):
    # two roots; root 0 carries a chain of `depth` descendants
    rows = [(0, None), (1000, None)] + [(i, i - 1) for i in range(1, depth + 1)]
    return spark.createDataFrame(rows, "cid bigint, parent bigint")


def test_thread_closure_chain_depths(spark):
    out = {
        r["cid"]: (r["root_id"], r["depth"])
        for r in thread_closure(_chain_forest(spark, 8), "cid", "parent").collect()
    }
    assert out[0] == (0, 0) and out[1000] == (1000, 0)
    for i in range(1, 9):
        assert out[i] == (0, i)


def test_thread_closure_reliable_checkpoint(spark, tmp_path):
    """With checkpoint_dir set, every Nth level lands in reliable
    storage (bounding recompute after executor loss) and the result is
    identical to the default local-checkpoint run."""
    ckpt = str(tmp_path / "ckpt")
    deep = _chain_forest(spark, 12)
    got = thread_closure(
        deep, "cid", "parent", checkpoint_dir=ckpt, checkpoint_every=3
    )
    want = thread_closure(deep, "cid", "parent")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # reliable checkpoint files actually written (depth 12 → levels 3,6,9,12)
    written = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert written, "no reliable checkpoint data written"


def test_thread_closure_cycle_under_depth_cap(spark):
    """A cycle never resolves to a root — its nodes drop out instead of
    looping forever (recursive-CTE-under-cap semantics)."""
    rows = [(0, None), (1, 0), (10, 11), (11, 10)]
    df = spark.createDataFrame(rows, "cid bigint, parent bigint")
    out = {r["cid"] for r in thread_closure(df, "cid", "parent", max_depth=6).collect()}
    assert out == {0, 1}


def test_thread_closure_releases_level_checkpoints(spark):
    """The returned union is checkpointed once and each level's
    checkpoint released: a 13-node reply chain leaves at most one new
    persistent RDD, not one per level."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    out = {
        r["cid"]: (r["root_id"], r["depth"])
        for r in thread_closure(_chain_forest(spark, 12).filter("cid < 1000"), "cid", "parent").collect()
    }
    assert out == {i: (0, i) for i in range(13)}
    assert persistent().size() - before <= 1


def test_connected_components_chain_and_islands(spark):
    from tia_data_pipeline_spark.operators.graph import connected_components

    # chain 1-2-3-4-5 (forces multi-round min propagation), pair 10-11,
    # and a self-contained triangle 20-21-22
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_leaves_one_checkpoint_rdd(spark):
    """Each round's localCheckpoint is released once the next round has
    materialized: a 12-hop chain leaves at most one new persistent RDD
    (the last round's, behind the returned labels), not one per round."""
    from tia_data_pipeline_spark.operators.graph import connected_components

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    before = persistent().size()
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(13)}
    assert persistent().size() - before <= 1


def test_dedup_components_transitive_survivors(spark):
    from tia_data_pipeline_spark.operators.graph import dedup_components

    # A~B, B~C but never A~C: transitivity must still collapse to one
    # survivor; doc 99 is in no pair and survives untouched.
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    docs = spark.createDataFrame([(1,), (2,), (3,), (99,)], "doc_id bigint")
    rows = {r["doc_id"]: (r["component"], r["is_kept"]) for r in dedup_components(pairs, docs).collect()}
    assert rows == {1: (1, True), 2: (1, False), 3: (1, False), 99: (99, True)}


def test_connected_components_raises_when_budget_exhausted(spark):
    """A label still propagating when max_iter runs out must RAISE, not
    return silently under-merged components (ADVICE r03)."""
    import pytest

    from tia_data_pipeline_spark.operators.graph import connected_components

    # chain 1-2-3-4-5: the min label needs 4 rounds; budget of 1 cannot finish
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)
    # and a sufficient budget still converges to one component
    got = {r["node"]: r["component"] for r in connected_components(edges, max_iter=6).collect()}
    assert set(got.values()) == {1}


@pytest.mark.slow
def test_connected_components_deep_chain_needs_its_budget(spark):
    """A 120-hop chain: min-label propagation needs about one round per
    hop, so a 10-round budget raises and a 130-round budget gives one
    component of all 121 nodes."""
    from tia_data_pipeline_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10)
    got = {r["node"]: r["component"] for r in connected_components(chain, max_iter=130).collect()}
    assert set(got.values()) == {0} and len(got) == 121


@pytest.mark.parametrize(
    "edge_rows, want",
    [
        # one-round pair graph: every node's first label is final
        (
            [(1, 2), (1, 3), (10, 11), (20, 21)],
            {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20},
        ),
        # 12-hop chain: twelve propagation rounds over the same edges
        ([(i, i + 1) for i in range(12)], {i: 0 for i in range(13)}),
    ],
    ids=["pairs", "chain12"],
)
def test_connected_components_evaluates_edge_source_at_most_4x(spark, edge_rows, want):
    """The symmetric edge set is derived once and persisted: the edge
    source plan (a lazy pair plan in the declared query) is evaluated
    at most 4 times per edge row over the whole call, however many
    rounds run — once per symmetrization leg for the projection and
    once for its pushed-down NULL filter. Counted with an accumulator
    in a test-only UDF wrapped around the source."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from tia_data_pipeline_spark.operators.graph import connected_components

    calls = spark.sparkContext.accumulator(0)

    def _counted(x):
        calls.add(1)
        return x

    counted = F.udf(_counted, LongType())
    base = spark.createDataFrame(edge_rows, "id_a bigint, id_b bigint")
    edges = base.select(counted("id_a").alias("id_a"), "id_b")
    labels = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert labels == want
    assert calls.value <= 4 * len(edge_rows), (calls.value, len(edge_rows))


def test_dedup_components_survivor_from_docs_subset(spark):
    """docs filtered AFTER pair generation: the cluster's labeling
    minimum (doc 1) is absent from docs — survival must fall to the
    minimum id PRESENT (doc 2), never silently drop the cluster."""
    from tia_data_pipeline_spark.operators.graph import dedup_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    docs = spark.createDataFrame([(2,), (3,), (99,)], "doc_id bigint")
    rows = {r["doc_id"]: (r["component"], r["is_kept"]) for r in dedup_components(pairs, docs).collect()}
    assert rows == {2: (1, True), 3: (1, False), 99: (99, True)}


def test_pagerank_integer_cycle_fixed_point(spark):
    """On a 3-cycle with out-degree 1, rank mass is conserved exactly:
    every node stays at the initial integer scale through any number
    of iterations (base + damping*scale = scale)."""
    from tia_data_pipeline_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint")
    got = {r["node"]: r["rank_n"] for r in pagerank_integer(edges, "src", "dst").collect()}
    assert got == {1: 1_000_000_000, 2: 1_000_000_000, 3: 1_000_000_000}


def test_pagerank_integer_star_hand_computed(spark):
    """a->{b,c} with dangling leaves, two iterations, hand-computed
    bigint recurrence — pins the exact integer arithmetic the oracle
    restates (contributions integer-divide, update divides by 100)."""
    from tia_data_pipeline_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame([(1, 2), (1, 3)], "src bigint, dst bigint")
    got = {
        r["node"]: r["rank_n"]
        for r in pagerank_integer(edges, "src", "dst", iterations=2).collect()
    }
    # iter1: a=base=150M; b=c=150M + 85*(1e9 div 2) div 100 = 575M
    # iter2: b=c=150M + 85*(150M div 2) div 100 = 213_750_000
    assert got[1] == 150_000_000
    assert got[2] == got[3] == 213_750_000


def test_pagerank_shuffle_state_path_matches_broadcast(spark):
    """small_rank_state=False (the beyond-broadcast form) must produce
    identical bigint ranks — the physical strategy is invisible."""
    from tia_data_pipeline_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)],
        "src bigint, dst bigint",
    )
    a = {r["node"]: r["rank_n"] for r in pagerank_integer(edges, "src", "dst").collect()}
    b = {
        r["node"]: r["rank_n"]
        for r in pagerank_integer(edges, "src", "dst", small_rank_state=False).collect()
    }
    assert a == b and len(a) == 23


def test_thread_closure_raises_past_max_depth(spark):
    """A chain deeper than max_depth must RAISE, not silently truncate:
    the contract oracle is an unbounded recursive CTE, so a silent cap
    would drop rows the oracle returns."""
    import pytest

    rows = [(0, None)] + [(i, i - 1) for i in range(1, 9)]  # 8-deep chain
    df = spark.createDataFrame(rows, "cid bigint, parent bigint")
    with pytest.raises(RuntimeError, match="max_depth"):
        thread_closure(df, "cid", "parent", max_depth=5)
    # and the same forest resolves fully under an adequate budget
    out = thread_closure(df, "cid", "parent", max_depth=8)
    assert out.count() == 9


def test_connected_components_drops_null_endpoints(spark):
    """An edge with a NULL endpoint is not an edge: it contributes
    neither a (NULL, label) row nor its other endpoint as a node, while
    a self-loop still labels its node."""
    from tia_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (None, 5), (7, None), (None, None), (3, 3)],
        "id_a bigint, id_b bigint",
    )
    got = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}
