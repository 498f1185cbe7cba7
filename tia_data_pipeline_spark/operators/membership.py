"""Distributed Bloom-filter membership pre-test.

The broadcast membership joins in `q_decontaminate` / `q_boilerplate`
assume the key set fits a broadcast. When it outgrows that (a very
large benchmark suite, a blocklist of billions of fingerprints), the
standard move is a Bloom filter IN FRONT of the exact join: the probe
side drops almost everything cheaply, and the surviving sliver pays
the exact (shuffle) join. This module builds that filter as a
DATAFRAME — never a driver-side object:

- **Build**: each key hashes to ``k`` bit positions in an ``m``-bit
  space; positions fold into 64-bit words by ``bit_or`` aggregation.
  The filter IS a tiny DataFrame ``(idx, bits)`` with at most m/64
  rows — built distributed, broadcast to probes. (Contrast
  ``DataFrame.stat.bloomFilter``, which collects the filter into the
  driver; at engine scale the build side itself is a big frame.)
- **Probe**: ``k`` BROADCAST hash joins (one per hash function — k is
  small, the relation is the same tiny word table), each checking one
  bit. No shuffle ever touches the probe side, no row explodes: each
  join adds one column. Rows where all ``k`` bits are set are
  *possible* members (false-positive rate ≈ (1-e^{-kn/m})^k); rows
  failing any bit are DEFINITELY absent — zero false negatives, so
  exact-join semantics are preserved by construction when composed as
  ``bloom_prefilter(...) ⋈_exact keys``.

The exact membership verb is :func:`membership_mark`, which builds a
per-call filter on its large-set path. A long-lived service builds its
filter once with :func:`bloom_build`, materializes it, and probes it
with :func:`bloom_mark` (or :func:`bloom_prefilter`).

Reference scope: the reference has no membership tier at all (it
re-inserts every page, posts_pipeline.py:52-58); this is the SURVEY
§2.4 scale path for membership against sets beyond broadcast reach.
"""

from __future__ import annotations

import math
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_params",
    "bloom_build",
    "bloom_prefilter",
    "bloom_mark",
    "membership_mark",
]

_BLOOM_SEED = 0x51ED

# membership_mark's auto strategy: broadcast the member key set while
# its SOURCE bytes stay under this; beyond it, route through the Bloom
# split so only the possibly-member sliver ever reaches a shuffle. The
# bound is on raw source bytes (driver file stats), a deliberate
# overestimate of the distinct-key build: real executors broadcast a
# few hundred MB comfortably, and the failure mode of choosing bloom
# too early is a mild constant factor, while broadcasting too long is
# an executor OOM.
BROADCAST_MAX_SOURCE_BYTES = 256 << 20


def bloom_params(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Classic sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded up to a
    64-bit word), ``k = (m/n) ln 2`` hashes. Returns ``(m_bits,
    k_hashes)``."""
    if n_keys < 1:
        raise ValueError("n_keys must be >= 1")
    if not 0 < fp_rate < 1:
        raise ValueError("fp_rate must be in (0, 1)")
    m = math.ceil(-n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def _positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """The k bit positions of a key: independent xxhash64 seeds."""
    return [
        F.pmod(F.xxhash64(key, F.lit(_BLOOM_SEED + i)), F.lit(m_bits))
        for i in range(k_hashes)
    ]


def bloom_build(
    keys: DataFrame, key_col: str, *, m_bits: int, k_hashes: int
) -> DataFrame:
    """Aggregate the key set into a word table ``(idx int, bits
    bigint)`` of at most ``m_bits/64`` rows. One keyed shuffle of
    (idx, partial-or) pairs — partial aggregation collapses each map
    partition to <= m/64 rows before the wire regardless of key
    count."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    pos = F.explode(F.array(*_positions(F.col(key_col), m_bits, k_hashes))).alias("pos")
    return (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int,
    k_hashes: int,
    *,
    flag_col: str | None,
) -> DataFrame:
    """The k word-table probes shared by :func:`bloom_prefilter` and
    :func:`bloom_mark`: one broadcast left join on the word index plus
    one bit test per hash. ``flag_col=None`` filters on each bit right
    after its probe (later probes see only the survivors); otherwise
    every row rides through all k probes and the AND of the bit tests
    lands in ``flag_col``."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    # uuid-suffixed temp prefix (the write_zordered discipline): fixed
    # names like _b0_pos would silently clobber same-named stream
    # columns, making the bloom and broadcast strategies return
    # different rows for the same input
    tok = uuid.uuid4().hex[:8]
    out = df
    hits = []
    temps = []
    for i, pos in enumerate(_positions(F.col(key_col), m_bits, k_hashes)):
        p, idx, bits = (f"_b{tok}{i}_{c}" for c in ("pos", "idx", "bits"))
        temps += [idx, bits, p]
        b = bloom.select(F.col("idx").alias(idx), F.col("bits").alias(bits))
        out = out.withColumn(p, pos).join(
            F.broadcast(b), (F.col(p) / 64).cast("int") == F.col(idx), "left"
        )
        hit = (
            F.coalesce(F.col(bits), F.lit(0).cast("bigint")).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))")
            )
            != 0
        )
        if flag_col is None:
            out = out.filter(hit)
        else:
            hits.append(hit)
    if flag_col is not None:
        out = out.withColumn(flag_col, reduce(lambda a, b: a & b, hits))
    return out.drop(*temps)


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    *,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Rows of ``df`` whose key is POSSIBLY in the set the filter was
    built from (definitely-absent rows are dropped; no false
    negatives). The probe plan is ``k`` broadcast joins on the word
    index — the probe side never shuffles and never widens by more
    than one bitmap word per hash.

    MATERIALIZE the filter before probing (``persist()`` + an action,
    or write it to parquet and read it back — it is a <= m/64-row
    table, so storage is trivial): the probe references the filter
    once per hash function, and Spark's exchange reuse does not
    collapse the k alias-projected copies of an unmaterialized build
    plan, so the build aggregate would re-run k times. The parquet
    round-trip probe plan is exactly k broadcasts of a tiny scan and
    ZERO keyed exchanges (pinned in tests/test_membership.py)."""
    return _bloom_probe(df, key_col, bloom, m_bits, k_hashes, flag_col=None)


def bloom_mark(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    *,
    m_bits: int,
    k_hashes: int,
    flag_col: str,
) -> DataFrame:
    """Like :func:`bloom_prefilter` but MARKS instead of filters: adds
    boolean ``flag_col`` (true = possibly member, false = definitely
    absent) and keeps every row. Same probe plan — k broadcast joins of
    the tiny word table, the probe side never shuffles — but every row
    rides through all k probes (no between-probe reduction), which is
    the price of keeping the definitely-absent rows in the stream.
    Same materialization note as bloom_prefilter applies."""
    return _bloom_probe(df, key_col, bloom, m_bits, k_hashes, flag_col=flag_col)


def membership_mark(
    stream: DataFrame,
    key_col: str,
    members: DataFrame,
    members_col: str,
    *,
    hit_col: str = "hit",
    strategy: str = "auto",
    est_member_source_bytes: int | None = None,
    members_distinct: bool = False,
) -> DataFrame:
    """Mark each ``stream`` row with ``hit_col`` = 1 when its key is in
    ``members``, NULL otherwise — the membership-join verb behind
    decontamination / boilerplate-class queries, with a size-conditional
    physical plan:

    - ``broadcast`` (member set fits an executor): the distinct member
      keys broadcast; the stream left-joins them without shuffling.
      This is today's q_decontaminate/q_boilerplate plan, unchanged.
    - ``bloom`` (member set beyond broadcast reach): a Bloom word table
      (:func:`bloom_build`) marks every stream row possible/absent via
      k broadcast probes; definitely-absent rows (the overwhelming
      majority against a sparse member set) bypass the exact join
      entirely, and only the possible sliver pays a SHUFFLE_HASH join
      against the full member set. One driver scalar (``members``
      count) sizes the filter, which is built per call and collected
      into a local relation — control-plane, large path only. A
      long-lived service probing one member set many times builds its
      filter once with :func:`bloom_build` and probes it with
      :func:`bloom_mark`.
    - ``auto``: bloom when ``est_member_source_bytes`` exceeds
      ``BROADCAST_MAX_SOURCE_BYTES``, read at call time (the estimate:
      ``operators.scale.estimated_relation_bytes``; callers scale it by
      the member-side selectivity they know, e.g. 1/17 for the
      benchmark split). None → broadcast (the safe default at test
      scale; at warehouse scale the caller always has a scan behind
      the member set to estimate from).

    Both paths produce IDENTICAL rows (parity-tested): the Bloom layer
    has no false negatives, and false positives are removed by the
    exact sliver join. Pass ``members_distinct=True`` when the member
    side is already key-unique (an aggregate output, a pre-distincted
    set) to keep the redundant dedup exchange out of the plan."""
    if strategy not in ("auto", "broadcast", "bloom"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        big = (
            est_member_source_bytes is not None
            and est_member_source_bytes > BROADCAST_MAX_SOURCE_BYTES
        )
        strategy = "bloom" if big else "broadcast"

    member_keys = members.select(F.col(members_col).alias(key_col))
    if not members_distinct:
        member_keys = member_keys.distinct()
    member_keys = member_keys.withColumn(hit_col, F.lit(1))
    if strategy == "broadcast":
        return stream.join(F.broadcast(member_keys), key_col, "left")

    n_keys = max(1, members.count())
    m_bits, k_hashes = bloom_params(n_keys)  # its default 1% false-positive rate
    # materialize: the probe references the word table k times and
    # exchange reuse does not collapse alias-projected copies of an
    # unmaterialized aggregate (see bloom_prefilter docstring). The
    # table (<= m/64 rows) comes to the driver once and returns as a
    # local relation, which nothing has to release: a persisted copy
    # would stay in the CacheManager until the session ends. Collecting
    # costs no more reach than the probes already need, since each
    # broadcast ships the whole table from the driver.
    words = bloom_build(members, members_col, m_bits=m_bits, k_hashes=k_hashes)
    bloom = stream.sparkSession.createDataFrame(words.toArrow())
    flag = f"_possible_{uuid.uuid4().hex[:8]}"  # collision-proof temp name
    marked = bloom_mark(
        stream, key_col, bloom, m_bits=m_bits, k_hashes=k_hashes, flag_col=flag
    )
    # The sliver/absent split consumes `marked` twice, so the bloom
    # path SCANS AND PROBES THE STREAM TWICE (no exchange exists on the
    # probe side for AQE to reuse — the probes are all broadcasts).
    # Deliberate trade, stated: scanning twice costs two narrow passes,
    # while the one-pass alternative (left-join the WHOLE stream
    # against the member set) shuffles every stream row on the key —
    # at the member cardinalities that select this path, two scans are
    # far cheaper than one corpus-wide keyed exchange. Callers that
    # can afford materialization persist the stream before calling.
    sliver = marked.filter(F.col(flag)).drop(flag)
    absent = marked.filter(~F.col(flag)).drop(flag)
    # shuffle_hash, never broadcast: the whole point of this path is a
    # member set beyond broadcast reach (plan-pinned in
    # tests/test_membership.py::test_membership_mark_bloom_path_never_broadcasts_members)
    exact = sliver.join(member_keys.hint("shuffle_hash"), key_col, "left")
    return exact.unionByName(absent.withColumn(hit_col, F.lit(None).cast("int")))
