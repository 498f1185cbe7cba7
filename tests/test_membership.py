"""Bloom membership pre-test: zero false negatives, bounded false
positives, shuffle-free probe plan, exact-join composition."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.membership import (
    bloom_build,
    bloom_params,
    bloom_prefilter,
)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def docs(spark):
    return load_table(spark, SMOKE_SF, "documents").select("doc_id")


def test_params_sizing():
    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0
    assert 9000 < m < 10100  # ~9.59 bits/key for 1% fp
    assert k == 7
    with pytest.raises(ValueError):
        bloom_params(0)
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


def test_no_false_negatives_and_bounded_false_positives(spark, docs):
    members = docs.filter(F.col("doc_id") % 7 == 0)
    n = members.count()
    m, k = bloom_params(n, 0.01)
    bloom = bloom_build(members, "doc_id", m_bits=m, k_hashes=k)
    assert bloom.count() <= m // 64

    passed = bloom_prefilter(docs, "doc_id", bloom, m_bits=m, k_hashes=k)
    passed_ids = {r["doc_id"] for r in passed.collect()}
    member_ids = {r["doc_id"] for r in members.collect()}
    # every true member survives the pre-test
    assert member_ids <= passed_ids
    # false-positive rate within ~5x the designed 1% (small-sample slack)
    non_members = docs.count() - n
    fp = len(passed_ids - member_ids)
    assert fp / max(1, non_members) < 0.05


def test_probe_side_never_shuffles(spark, docs, tmp_path):
    """The production flow: build once, materialize (the filter is a
    <= m/64-row table), probe. The probe plan must be exactly k
    broadcasts of the tiny filter scan and ZERO keyed exchanges."""
    members = docs.filter(F.col("doc_id") % 7 == 0)
    m, k = bloom_params(1000, 0.01)
    bloom_path = str(tmp_path / "bloom")
    bloom_build(members, "doc_id", m_bits=m, k_hashes=k).write.parquet(bloom_path)
    bloom = spark.read.parquet(bloom_path)
    probed = bloom_prefilter(docs, "doc_id", bloom, m_bits=m, k_hashes=k)
    p = _explain(probed)
    assert len([l for l in p.splitlines() if ") BroadcastHashJoin" in l]) == k
    assert "hashpartitioning(" not in p, "probe side must never shuffle"
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_composes_to_exact_join_semantics(spark, docs):
    """bloom_prefilter -> exact semi-join ≡ plain exact semi-join:
    the pre-test may pass false positives but the exact join removes
    them, and it never drops a true member."""
    members = docs.filter(F.col("doc_id") % 7 == 0)
    m, k = bloom_params(members.count(), 0.02)
    bloom = bloom_build(members, "doc_id", m_bits=m, k_hashes=k)
    via_bloom = (
        bloom_prefilter(docs, "doc_id", bloom, m_bits=m, k_hashes=k)
        .join(members.withColumnRenamed("doc_id", "k"), F.col("doc_id") == F.col("k"), "left_semi")
    )
    exact = docs.join(
        members.withColumnRenamed("doc_id", "k"), F.col("doc_id") == F.col("k"), "left_semi"
    )
    assert sorted(r["doc_id"] for r in via_bloom.collect()) == sorted(
        r["doc_id"] for r in exact.collect()
    )


def test_membership_mark_parity_broadcast_vs_bloom(spark, docs):
    """VERDICT r4 #3: the size-conditional membership verb must produce
    IDENTICAL rows on both physical paths — broadcast join vs Bloom
    split (absent rows bypass, sliver pays the exact shuffle join)."""
    from tia_data_pipeline_spark.operators.membership import membership_mark

    members = docs.filter(F.col("doc_id") % 5 == 0).withColumnRenamed("doc_id", "k")
    via_bc = membership_mark(docs, "doc_id", members, "k", strategy="broadcast")
    via_bloom = membership_mark(docs, "doc_id", members, "k", strategy="bloom")
    rows_bc = sorted((r["doc_id"], r["hit"]) for r in via_bc.collect())
    rows_bloom = sorted((r["doc_id"], r["hit"]) for r in via_bloom.collect())
    assert rows_bc == rows_bloom
    assert via_bc.columns == via_bloom.columns
    # sanity: actual membership semantics, not all-NULL
    assert any(h == 1 for _, h in rows_bc) and any(h is None for _, h in rows_bc)


def test_membership_mark_duplicate_members_never_duplicate_stream(spark, docs):
    """A member key appearing twice must not double the stream row —
    both paths dedup the member side unless told it is pre-distinct."""
    from tia_data_pipeline_spark.operators.membership import membership_mark

    dup_members = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumnRenamed("doc_id", "k")
        .unionAll(docs.filter(F.col("doc_id") % 5 == 0).withColumnRenamed("doc_id", "k"))
    )
    n = docs.count()
    for strat in ("broadcast", "bloom"):
        assert (
            membership_mark(docs, "doc_id", dup_members, "k", strategy=strat).count()
            == n
        )


def test_membership_mark_bloom_path_never_broadcasts_members(spark, docs):
    """The whole point of the bloom path is a member set beyond
    broadcast reach: the exact sliver join must plan as a shuffle join
    (shuffle_hash hint), and the only broadcasts are the k word-table
    probes."""
    from tia_data_pipeline_spark.operators.membership import membership_mark

    members = docs.filter(F.col("doc_id") % 5 == 0).withColumnRenamed("doc_id", "k")
    marked = membership_mark(docs, "doc_id", members, "k", strategy="bloom")
    p = _explain(marked)
    assert "ShuffledHashJoin" in p, "exact sliver join must be a shuffle join:\n" + p
    # every broadcast join is a word-table probe on the idx equi-key;
    # the probe subplan appears in BOTH union legs (sliver + absent),
    # so 2k joins — the k tiny broadcast exchanges are shared between
    # the legs at runtime (ReusedExchange)
    bcast = [l for l in p.splitlines() if ") BroadcastHashJoin" in l]
    n = members.count()
    _, k = bloom_params(n, 0.01)
    assert len(bcast) == 2 * k, p


def test_membership_mark_auto_picks_by_estimated_bytes(spark, docs, monkeypatch):
    """auto = broadcast under the bound (or with no estimate), bloom
    above it — pinned via the resulting plan shape. The bound is read
    at call time."""
    from tia_data_pipeline_spark.operators import membership
    from tia_data_pipeline_spark.operators.membership import membership_mark

    members = docs.filter(F.col("doc_id") % 5 == 0).withColumnRenamed("doc_id", "k")
    small = membership_mark(
        docs, "doc_id", members, "k", strategy="auto", est_member_source_bytes=1024
    )
    assert "ShuffledHashJoin" not in _explain(small)
    none_est = membership_mark(docs, "doc_id", members, "k", strategy="auto")
    assert "ShuffledHashJoin" not in _explain(none_est)
    big = membership_mark(
        docs,
        "doc_id",
        members,
        "k",
        strategy="auto",
        est_member_source_bytes=1 << 40,
    )
    assert "ShuffledHashJoin" in _explain(big)
    monkeypatch.setattr(membership, "BROADCAST_MAX_SOURCE_BYTES", 0)
    lowered = membership_mark(
        docs, "doc_id", members, "k", strategy="auto", est_member_source_bytes=1024
    )
    assert "ShuffledHashJoin" in _explain(lowered)


def test_membership_queries_bloom_parity(spark, monkeypatch):
    """Query-level parity: q_decontaminate / q_boilerplate forced onto
    the bloom path produce exactly their broadcast-path output."""
    from tia_data_pipeline_spark.plans import curation

    for q in ("q_decontaminate", "q_boilerplate"):
        fn = curation.__dict__[q]
        monkeypatch.setattr(curation, "_MEMBERSHIP_STRATEGY", "broadcast")
        base = sorted(map(tuple, fn(spark, SMOKE_SF).collect()))
        monkeypatch.setattr(curation, "_MEMBERSHIP_STRATEGY", "bloom")
        via_bloom = sorted(map(tuple, fn(spark, SMOKE_SF).collect()))
        assert base == via_bloom, q
    # at least the decontamination query is non-empty at smoke scale
    # (q_boilerplate can legitimately be empty: no 5-gram repeats in
    # >=4 docs on a tiny corpus), so the parity above is not vacuous
    monkeypatch.setattr(curation, "_MEMBERSHIP_STRATEGY", "broadcast")
    assert curation.q_decontaminate(spark, SMOKE_SF).count() > 0


def test_bad_args(spark, docs):
    with pytest.raises(ValueError):
        bloom_build(docs, "doc_id", m_bits=100, k_hashes=3)
    with pytest.raises(ValueError):
        bloom_prefilter(docs, "doc_id", docs, m_bits=63, k_hashes=3)


def test_membership_mark_reserved_looking_stream_columns_survive(spark, docs):
    """Review r7: the bloom path's temp columns are uuid-suffixed — a
    stream that already carries `_possible` / `_b0_pos` columns passes
    through both strategies unchanged (fixed temp names used to
    clobber them, making the two strategies return different schemas
    for the same input)."""
    from pyspark.sql import functions as F

    from tia_data_pipeline_spark.operators.membership import membership_mark

    stream = docs.select(
        F.col("doc_id").alias("k"),
        F.lit("keepme").alias("_possible"),
        F.lit(7).alias("_b0_pos"),
    )
    members = docs.select(F.col("doc_id")).filter(F.col("doc_id") % 3 == 0)
    out = {}
    for strategy in ("broadcast", "bloom"):
        got = membership_mark(
            stream, "k", members, "doc_id", strategy=strategy
        ).collect()
        assert all(r["_possible"] == "keepme" and r["_b0_pos"] == 7 for r in got)
        out[strategy] = sorted(
            (r["k"], r["_possible"], r["_b0_pos"], r["hit"]) for r in got
        )
    assert out["broadcast"] == out["bloom"]


def test_membership_mark_bloom_path_persists_nothing(spark, docs):
    """The bloom path's word table is a local relation, not a
    persisted frame: calls over distinct member sets add no persistent
    RDD to the session, and the probes broadcast the local table."""
    from tia_data_pipeline_spark.operators.membership import membership_mark

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for r in (3, 5, 7):
        members = docs.filter(F.col("doc_id") % r == 0).withColumnRenamed("doc_id", "k")
        marked = membership_mark(docs, "doc_id", members, "k", strategy="bloom")
        hits = marked.filter(F.col("hit") == 1).count()
        assert hits == members.distinct().count() > 0
    assert jsc.getPersistentRDDs().size() == before
    p = _explain(marked)
    assert "LocalTableScan" in p and "InMemoryTableScan" not in p, p
