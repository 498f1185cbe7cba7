"""One core for the five persisted index families.

MinHash signatures (Jaccard), SimHash fingerprints (hamming) and
embedding sign-buckets (cosine) persist and serve the same way and
differ only in how a row is keyed and how a candidate pair is checked.
:class:`IndexFamily` holds those differences, one instance per family;
the write tail, meta side table, schema-pinned read, touched-partition
pruning, two-pass hot-bucket caps, probe legs, idempotent append,
delete, compact and stats are written once below (REPOSE, ICDE 2021:
one partition-local layout pruned by a key, parameterized by the
function that computes the key).

The IVF (``operators.similarity``) and text/BM25
(``operators.text_index``) indexes have their own builds and serves,
but the same lifecycle: :data:`IVF` and :data:`TEXT` are families
without a band frame that state their on-disk layout, partition code
and row key, so the meta and schema read, touched-partition append
delta and write, tombstone mask, delete, compact and stats below serve
all five families. This module is the one owner of that layout: every
fact about it comes from ``(family, meta)``.

Layout: rows partitioned by ``family.partition_cols``; a one-row meta
side table (``family.meta_dir``) holding the build parameters AND the
row schema as JSON (``family.schema_field``) — scans read with that
explicit schema (:func:`index_schema`), so an EMPTY index (day-zero
bootstrap) stays probeable; and, after a delete, a ``_tombstones/``
table of masked ids (see the Tombstones section).

A probe has two legs, both replay-deterministic:

* cross — shard vs index-minus-shard. The scan prunes to the shard's
  touched partitions via ONE flat ``isin`` over an encoded partition
  code (an OR-chain of hundreds of conjunctions overflows the JVM stack
  in Spark's column-node converter), masks tombstones BEFORE the caps,
  then anti-joins the shard's OWN ids, so re-probing an appended shard
  (a foreachBatch replay that crashed between append and checkpoint)
  emits byte-identical pairs.
* intra — pairs WITHIN the shard, canonical ``new_id < dup_id``, which
  the cross leg can never see.

Each side is capped against its own count, two-pass (count → semi-join
survivors), so a boilerplate bucket never reaches a join. Every cost is
sized by the shard, not by history: the scan reads touched partitions
only and the join shuffles signatures or vectors, never text.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tia_data_pipeline_spark.functions.text import portable_round
from tia_data_pipeline_spark.functions.vectors import cosine_from_norms, l2_norm
from tia_data_pipeline_spark.operators.scale import (
    estimated_relation_bytes,
    fan_out,
    hadoop_fs_path,
    heal_replaced_dir,
    replace_dir,
)


@dataclass(frozen=True, eq=False)
class IndexFamily:
    """What makes one index family differ from another.

    Every family states its on-disk layout: the one-row meta side table
    (``meta_dir``), the partition columns, the meta field holding the
    row schema as JSON (``schema_field``), the tombstone id column
    (``tombstone_col``; ``None`` = the meta's own ``id_col``), the
    further side dirs compaction carries over, and the ``dedup_keys``
    compaction heals duplicated rows on.

    Every family also states what its append reads: ``code(meta)``
    encodes the partition columns into one injective int, the pruning
    key, and ``row_key`` is the append's anti-join key (``None`` = the
    meta's own ``id_col``, read through :meth:`append_key`).

    The banded families add their probe: ``band(df, meta, opts)`` keys
    source rows into ``_id``, ``payload``, the ``key_cols`` collision
    key and ``partition_cols`` (the writer's frame IS the prober's, so
    their keys cannot drift). ``check(meta, opts)`` validates the
    options and returns ``(score, keep)`` over the ``<payload>_n``
    (shard) and ``<payload>_o`` (index) columns. ``defaults`` are the
    options (source columns, ``max_bucket``, threshold); ``fan_probe``
    widens the shard side before the join, where vector payloads make
    pairs the costly leg. ``meta_ddl`` is the meta table the shared
    write tail writes.

    A family is one fixed descriptor, so it hashes and compares by
    identity and can key a dict."""

    name: str
    meta_dir: str
    partition_cols: tuple[str, ...]
    code: Callable[[dict], Column]
    row_key: tuple[str, ...] | None
    schema_field: str = "schema_json"
    tombstone_col: str | None = "_id"
    side_dirs: tuple[str, ...] = ()
    dedup_keys: tuple[str, ...] | None = None
    meta_ddl: str = ""
    key_cols: tuple[str, ...] = ()
    payload: tuple[str, ...] = ()
    band: Callable[[DataFrame, dict, dict], DataFrame] | None = None
    check: Callable[[dict, dict], tuple[Column, Column]] | None = None
    defaults: Mapping[str, object] = field(default_factory=dict)
    fan_probe: bool = False

    def tombstone_id(self, meta: dict) -> str:
        """The tombstone id column of an index with this ``meta``."""
        return self.tombstone_col or meta["id_col"]

    def append_key(self, meta: dict) -> list[str]:
        """The append's anti-join key of an index with this ``meta``."""
        return list(self.row_key or (meta["id_col"],))


def _minhash_band(df: DataFrame, meta: dict, o: dict) -> DataFrame:
    from tia_data_pipeline_spark.operators.dedup import minhash_band_frame

    # md5-digit keys are the only hash; probing an index keyed by the
    # removed xxhash64 family with them would silently pair nothing
    if not meta["portable"]:
        raise ValueError(
            "this MinHash index was built with the removed xxhash64 shingle "
            "hash (its meta portable flag is false); rebuild it with "
            "minhash_write_index"
        )
    # bucket values (raw band slices) are unbounded; a stable shard of
    # the bucket makes (band, bshard) a bounded partition key that
    # still prunes
    return minhash_band_frame(
        df, o["text_col"], o["id_col"],
        k=meta["k"], bands=meta["bands"], seed=meta["seed"],
        shingle_n=meta["shingle_n"],
    ).withColumn("bshard", F.pmod(F.xxhash64("bucket"), F.lit(meta["n_shards"])))


def _simhash_band(df: DataFrame, meta: dict, o: dict) -> DataFrame:
    from tia_data_pipeline_spark.operators.dedup import simhash_band_frame

    return simhash_band_frame(
        df, o["text_col"], o["id_col"],
        bits=meta["bits"], bands=meta["bands"], n_shards=meta["n_shards"],
    )


def _embedding_band(df: DataFrame, meta: dict, o: dict) -> DataFrame:
    from tia_data_pipeline_spark.operators.similarity import _sign_bits

    vec, id_col = F.col(o["vec_col"]), F.col(o["id_col"])
    # the sign bucket is BOUNDED (2^bits values), so the cell itself is
    # the partition column and pruning is exact per cell
    return df.filter(vec.isNotNull() & id_col.isNotNull()).select(
        id_col.alias("_id"),
        vec.cast("array<double>").alias("_vec"),
        l2_norm(vec).alias("_norm"),
        _sign_bits(vec, json.loads(meta["proj_json"])).alias("bucket"),
    )


def _band_code(meta: dict) -> Column:
    # injective because 0 <= bshard < n_shards
    return F.col("band") * F.lit(meta["n_shards"]) + F.col("bshard")


def _jaccard(meta: dict, o: dict) -> tuple[Column, Column]:
    est = F.size(
        F.filter(F.zip_with("_sig_n", "_sig_o", lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(meta["k"]))
    return portable_round(est, 6).alias("est_jaccard"), F.col("est_jaccard") >= o["threshold"]


def _hamming(meta: dict, o: dict) -> tuple[Column, Column]:
    # B bands guarantee a collision only for hamming <= B-1 (pigeonhole:
    # B differing bits can occupy all B bands); more would silently
    # miss pairs — rebuild the index with more bands instead
    if o["max_hamming"] > meta["bands"] - 1:
        raise ValueError(
            f"max_hamming={o['max_hamming']} exceeds the {meta['bands']}-band "
            f"guarantee (hamming <= {meta['bands'] - 1})"
        )
    ham = F.bit_count(F.col("_fp_n").bitwiseXOR(F.col("_fp_o"))).cast("int")
    return ham.alias("hamming"), F.col("hamming") <= o["max_hamming"]


def _cosine(meta: dict, o: dict) -> tuple[Column, Column]:
    score = cosine_from_norms(
        F.col("_vec_n"), F.col("_vec_o"), F.col("_norm_n"), F.col("_norm_o")
    )
    return portable_round(score, 6).alias("score"), F.col("score") >= o["threshold"]


MINHASH = IndexFamily(
    name="minhash",
    meta_dir="_minhash_meta",
    meta_ddl=(
        "k int, bands int, seed int, shingle_n int, portable boolean, "
        "n_shards int, schema_json string"
    ),
    partition_cols=("band", "bshard"),
    key_cols=("band", "bucket"),
    # (_id, band), not _id: a write hard-killed inside its commit can
    # land a subset of a doc's band rows, and an id-level anti-join
    # would leave it short of bands forever; the retry appends exactly
    # the missing rows (band is a partition column — no extra I/O)
    row_key=("_id", "band"),
    payload=("_sig",),
    band=_minhash_band,
    code=_band_code,
    check=_jaccard,
    defaults={"text_col": "text", "id_col": "doc_id", "threshold": 0.5, "max_bucket": 1000},
    fan_probe=False,
)

SIMHASH = IndexFamily(
    name="simhash",
    meta_dir="_simhash_meta",
    meta_ddl="bits int, bands int, n_shards int, schema_json string",
    partition_cols=("band", "bshard"),
    key_cols=("band", "bucket"),
    row_key=("_id", "band"),
    payload=("_fp",),
    band=_simhash_band,
    code=_band_code,
    check=_hamming,
    defaults={"text_col": "text", "id_col": "doc_id", "max_hamming": 3, "max_bucket": 1000},
    fan_probe=False,
)

EMBEDDING = IndexFamily(
    name="embedding",
    meta_dir="_emb_index_meta",
    meta_ddl="proj_json string, schema_json string",
    partition_cols=("bucket",),
    key_cols=("bucket",),
    row_key=("_id",),
    payload=("_vec", "_norm"),
    band=_embedding_band,
    code=lambda meta: F.col("bucket"),
    check=_cosine,
    defaults={"vec_col": "embedding", "id_col": "vec_id", "threshold": 0.9, "max_bucket": 2000},
    fan_probe=True,
)

# no band frame: the IVF build, serve and cell assignment live in
# operators/similarity.py, and IVF records its source id column in the
# meta, so its rows and tombstones are keyed by that column
IVF = IndexFamily(
    name="ivf",
    meta_dir="_ivf_meta",
    partition_cols=("_cell",),
    code=lambda meta: F.col("_cell"),
    row_key=None,
    tombstone_col=None,
    side_dirs=("_ivf_centers",),
)

# no band frame: operators/text_index.py builds and serves it. The
# meta is _corpus_stats, republished on every append; an append that
# crashed before its membership commit is retried through the row-key
# anti-join, and compaction collapses any duplicate that remains
TEXT = IndexFamily(
    name="text",
    meta_dir="_corpus_stats",
    partition_cols=("_bucket",),
    code=lambda meta: F.col("_bucket"),
    row_key=("tok", "doc_id"),
    schema_field="postings_schema",
    tombstone_col="doc_id",
    side_dirs=("_doc_stats",),
    dedup_keys=("tok", "doc_id"),
)

FAMILIES = (MINHASH, SIMHASH, EMBEDDING, IVF, TEXT)


# ---------------------------------------------------------------------------
# Write, meta, read
# ---------------------------------------------------------------------------


def _write_partitioned(family: IndexFamily, df: DataFrame, path: str, mode: str) -> None:
    # one shuffle keyed by the partition columns: each task owns whole
    # partition dirs and writes one file per dir, not a sliver per task
    parts = list(family.partition_cols)
    df.repartition(*parts).write.partitionBy(*parts).mode(mode).parquet(path)


def write_index_frame(family: IndexFamily, banded: DataFrame, path: str, meta: dict) -> None:
    """The write tail every family writer ends in: ``banded`` (the
    family's band frame) partitioned by ``family.partition_cols``, plus
    the one-row meta side table — ``meta`` and the row schema."""
    _write_partitioned(family, banded, path, "overwrite")
    row = {**meta, "schema_json": banded.schema.json()}
    names = [c.split()[0] for c in family.meta_ddl.split(",")]
    banded.sparkSession.createDataFrame(
        [tuple(row[n] for n in names)], family.meta_ddl
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{family.meta_dir}")


def read_meta_row(family: IndexFamily, spark, path: str):
    """The one row of the index's meta side table (control plane, not
    a data collect); a ``ValueError`` naming the path when it is
    missing. A ``replace_dir`` publish of the table torn between its
    two renames (text republishes ``_corpus_stats`` on every append)
    is healed first: the previous copy renames back."""
    from pyspark.errors import AnalysisException

    live = f"{path}/{family.meta_dir}"
    heal_replaced_dir(spark, live)
    try:
        return spark.read.parquet(live).collect()[0]
    except AnalysisException:
        raise ValueError(f"{path} holds no {family.meta_dir} index meta table") from None


def index_meta(family: IndexFamily, spark, path: str) -> dict:
    """The family's meta side table as a dict."""
    return read_meta_row(family, spark, path).asDict()


def index_schema(family: IndexFamily, meta):
    """The index's row schema, parsed from the JSON the meta holds in
    ``family.schema_field`` — the one parse of it in the package, so
    every scan, the append's payload check and the tombstone table read
    the types the writer wrote."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(meta[family.schema_field]))


def read_index(family: IndexFamily, spark, path: str, meta) -> DataFrame:
    """Index scan with the meta's explicit schema: an EMPTY index has
    no data files to infer from, and inference is a driver-side footer
    read a 100 TB index can skip."""
    return spark.read.schema(index_schema(family, meta)).parquet(path)


# ---------------------------------------------------------------------------
# Tombstones
# ---------------------------------------------------------------------------
#
# A takedown, right-to-be-forgotten or TTL'd-corpus user must be able to
# REMOVE documents from a persisted index without a full rewrite. The
# mechanism is a tombstone side table (`_tombstones/` under the index
# root — an underscore dir, hidden from the index's own scans like the
# meta tables): deletion appends the ids, probes and serves mask them,
# and compaction physically drops both the tombstoned rows and the
# applied tombstones.
#
# Semantics: a tombstone MASKS the id until compaction removes the rows
# and the tombstone together. Appending a tombstoned id while the
# tombstone lives is a no-op from the probe's point of view (the rows
# land but stay masked, and compaction drops them); after compaction
# the id is gone entirely and a later append re-indexes it fresh. This
# keeps probes replay-deterministic: output is a pure function of
# (shard, index-minus-shard-minus-tombstones) at probe time.
#
# The dir exists only while it holds ids: a delete never writes an
# empty delta and compaction drops the dir, so "no dir" is the one
# zero-tombstone state and costs no join node and no Spark job.
#
# 100 TB posture: the tombstone set is sized by deletion REQUESTS, not
# by the corpus, so the mask broadcasts it and the append is a
# driver-tiny idempotent delta write. A TTL/retention sweep breaks that
# sizing assumption (tombstones can reach a corpus fraction before the
# next compaction), so the mask is SIZE-CONDITIONAL: past the broadcast
# budget it routes through the Bloom membership split
# (`operators.membership.membership_mark`, the switch decontamination
# uses) — definitely-live rows never touch a shuffle; only the
# Bloom-possible sliver pays the exact join.

_TOMBSTONE_DIR = "_tombstones"


def _read_tombstones(family: IndexFamily, spark, path: str, meta) -> DataFrame | None:
    """The index's tombstoned ids — one column, named and typed as the
    index's tombstone id column, so the two can never drift — or
    ``None`` when the index has no ``_tombstones/`` dir. One Hadoop
    ``exists`` call, no Spark job: reading a missing dir would make
    Spark log a stack trace before it raised."""
    from pyspark.sql.types import StructType

    ts_dir = f"{path}/{_TOMBSTONE_DIR}"
    fs, p = hadoop_fs_path(spark, ts_dir)
    if not fs.exists(p):
        return None
    schema = StructType([index_schema(family, meta)[family.tombstone_id(meta)]])
    return spark.read.schema(schema).parquet(ts_dir)


def mask_tombstones(
    family: IndexFamily, df: DataFrame, path: str, meta, keep: str = "live"
) -> DataFrame:
    """``df``, a frame holding the index at ``path``'s tombstone id
    column, minus its tombstoned ids (``keep="live"``, the mask every
    probe and serve applies after its pruned scan) or only them
    (``keep="dead"``, the text serve's N/avgdl corrections). An index
    with no tombstones returns ``df`` itself for ``live`` — no join
    node — and an empty ``df`` for ``dead``.

    Request-sized tombstone sets broadcast (a semi/anti join). Past the
    source-byte budget (``operators.membership.BROADCAST_MAX_SOURCE_
    BYTES``, read at call time) the mask routes through the Bloom
    membership split instead: every ``df`` row is tested against k
    broadcast word-table probes (bounded by the filter size, never the
    tombstone count), definitely-absent rows pass with no shuffle, and
    only the Bloom-possible sliver pays the exact shuffle-hash join.
    Both paths give the same rows (the Bloom layer has no false
    negatives; false positives die in the exact join). The estimate
    reads driver file metadata only; an unestimatable set broadcasts."""
    if keep not in ("live", "dead"):
        raise ValueError(f"keep must be 'live' or 'dead', got {keep!r}")
    ts = _read_tombstones(family, df.sparkSession, path, meta)
    if ts is None:
        return df if keep == "live" else df.limit(0)
    from tia_data_pipeline_spark.operators import membership

    col = family.tombstone_id(meta)
    est = estimated_relation_bytes(ts)
    if est is None or est <= membership.BROADCAST_MAX_SOURCE_BYTES:
        return df.join(F.broadcast(ts), col, "left_anti" if keep == "live" else "left_semi")
    import uuid

    flag = f"_ts_hit_{uuid.uuid4().hex[:8]}"  # collision-proof temp name
    # the tombstone table is distinct by construction (index_delete
    # dedups before writing): skip the redundant exchange
    marked = membership.membership_mark(
        df, col, ts, col, hit_col=flag, strategy="bloom", members_distinct=True
    )
    hit = F.col(flag).isNull() if keep == "live" else F.col(flag).isNotNull()
    return marked.filter(hit).drop(flag)


# ---------------------------------------------------------------------------
# Probe core
# ---------------------------------------------------------------------------


def _opts(family: IndexFamily, given: dict) -> dict:
    unknown = sorted(set(given) - set(family.defaults))
    if unknown:
        raise TypeError(f"the {family.name} index takes no option {unknown}")
    return {**family.defaults, **given}


def _touched(family: IndexFamily, rows: DataFrame, meta: dict) -> Column:
    """Partition predicate: the distinct partition codes ``rows`` (a
    shard, or a batch of IVF probes) land in, collected to the driver
    (bounded by the partition count) and stated as literals, so the
    scan plans PartitionFilters. The one touched-partition collect."""
    code = family.code(meta)
    codes = sorted(int(r[0]) for r in rows.select(code).distinct().collect())
    return code.isin(codes) if codes else F.lit(False)


def _capped(family: IndexFamily, df: DataFrame, max_bucket: int) -> DataFrame:
    keys = list(family.key_cols)
    ok = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select(*keys)
    )
    return df.join(ok, keys, "left_semi")


def _side(family: IndexFamily, df: DataFrame, id_as: str) -> DataFrame:
    sfx = "_n" if id_as == "new_id" else "_o"
    return df.select(
        *family.key_cols,
        F.col("_id").alias(id_as),
        *[F.col(c).alias(c + sfx) for c in family.payload],
    )


def _pairs(family: IndexFamily, joined: DataFrame, check: tuple) -> DataFrame:
    score, keep = check
    out = joined.select("new_id", "dup_id", score).filter(keep)
    # a pair can collide in several bands; a one-key family assigns
    # each row ONE cell, so its pairs meet once and a dedup would be a
    # no-op shuffle over the widest relation in the plan
    return out.dropDuplicates(["new_id", "dup_id"]) if len(family.key_cols) > 1 else out


def _shard_side(family: IndexFamily, banded: DataFrame, meta: dict, max_bucket: int):
    """Shard-side artifacts that depend only on the shard and the hash
    family, so one shard probing several dirs derives them once: the
    touched-partition predicate, the shard's ids, the capped probe side."""
    probe = _side(family, _capped(family, banded, max_bucket), "new_id")
    return (
        _touched(family, banded, meta),
        banded.select("_id").distinct(),
        fan_out(probe) if family.fan_probe else probe,
    )


def _cross(
    family: IndexFamily, shard: tuple, spark, path: str, meta: dict, check, max_bucket: int
) -> DataFrame:
    pred, shard_ids, probe = shard
    idx = mask_tombstones(
        family, read_index(family, spark, path, meta).filter(pred), path, meta
    ).join(shard_ids, on="_id", how="left_anti")
    hist = _side(family, _capped(family, idx, max_bucket), "dup_id")
    return _pairs(family, probe.join(hist, list(family.key_cols)), check)


def _intra(family: IndexFamily, banded: DataFrame, check, max_bucket: int) -> DataFrame:
    capped = _capped(family, banded, max_bucket)
    a = _side(family, capped, "new_id")
    b = _side(family, capped, "dup_id")
    joined = (fan_out(a) if family.fan_probe else a).join(b, list(family.key_cols))
    return _pairs(family, joined.filter(F.col("new_id") < F.col("dup_id")), check)


def _probe(family: IndexFamily, new: DataFrame, index_paths: list[str], given: dict):
    o = _opts(family, given)
    spark = new.sparkSession
    metas = [index_meta(family, spark, p) for p in index_paths]
    fams = {json.dumps({k: v for k, v in m.items() if k != "schema_json"}) for m in metas}
    if len(fams) != 1:
        raise ValueError(
            "index dirs must share one hash family (the projection and "
            f"banding parameters a probe derives its keys from); got {len(fams)}"
        )
    meta = metas[0]
    check = family.check(meta, o)  # validate before anything persists
    # the shard frame feeds the touched collect, its cap count and every
    # join, and its hash aggregate is the CPU-heavy leg: persist it
    banded = family.band(new, meta, o).persist()
    pred, ids, probe = _shard_side(family, banded, meta, o["max_bucket"])
    cached = [banded]
    if len(index_paths) > 1:
        # every dir's leg consumes the capped probe side; caching keeps
        # the cap's count exchange out of each of them
        probe = probe.persist()
        cached.append(probe)
    pairs = [
        _cross(family, (pred, ids, probe), spark, p, m, check, o["max_bucket"])
        for p, m in zip(index_paths, metas)
    ]
    return pairs, cached


def index_probe(
    family: IndexFamily, new: DataFrame, index_paths: list[str], **opts
) -> list[DataFrame]:
    """Near-duplicate pairs ``(new_id, dup_id, <score>)`` of a NEW SHARD
    against each index in ``index_paths`` (one frame per path, same
    order) — the cross leg, no history rescan; ``opts`` override
    ``family.defaults``. Several paths (a masked dir and its compacted
    sibling, say) must share the hash family and share one shard
    derivation. Lazy: the shard frame (and, for several paths, the
    capped probe side) stays cached until unpersist/clearCache/session
    end — a long-lived daily loop uses :func:`index_probe_scoped`."""
    return _probe(family, new, index_paths, opts)[0]


@contextmanager
def index_probe_scoped(
    family: IndexFamily, new: DataFrame, index_paths: list[str], **opts
):
    """:func:`index_probe` with an exact cache lifecycle — consume the
    yielded frames INSIDE the scope; everything the probe persisted is
    released on every exit path::

        with index_probe_scoped(MINHASH, shard, [path]) as (pairs,):
            pairs.write.parquet(out)"""
    pairs, cached = _probe(family, new, index_paths, opts)
    try:
        yield pairs
    finally:
        for df in cached:
            df.unpersist()


# ---------------------------------------------------------------------------
# Lifecycle: append, delete, compact, stats
# ---------------------------------------------------------------------------


def _append_delta(family: IndexFamily, rows: DataFrame, path: str, meta: dict) -> DataFrame:
    """``rows`` (index rows, partition columns included) minus those
    already in the index under ``family.append_key(meta)`` — the
    idempotent append delta every family writes with
    ``_write_partitioned(family, delta, path, "append")``. A row can
    live nowhere but its own partition (its partition code is a pure
    function of its content), so the anti-join reads the touched
    partitions only and a retry costs what the shard costs. Lazy but
    for the touched collect; ``rows`` is read twice, so callers
    persist it."""
    key = family.append_key(meta)
    existing = (
        read_index(family, rows.sparkSession, path, meta)
        .filter(_touched(family, rows, meta))
        .select(*key)
        .distinct()
    )
    return rows.join(existing, on=key, how="left_anti")


def index_append(family: IndexFamily, new: DataFrame, index_path: str, **opts) -> None:
    """Append a shard's rows — idempotent (twice ≡ once): rows already
    present under ``family.row_key`` are anti-joined away over the
    touched partitions. ``_id`` is non-null by every band frame's
    precondition, so plain-equality anti-join semantics are exact."""
    meta = index_meta(family, new.sparkSession, index_path)
    # consumed twice (touched collect + write); the append is EAGER,
    # so the cache lifecycle is exact
    banded = family.band(new, meta, _opts(family, opts)).persist()
    try:
        _write_partitioned(
            family, _append_delta(family, banded, index_path, meta), index_path, "append"
        )
    finally:
        banded.unpersist()


def index_delete(
    family: IndexFamily, ids: DataFrame, index_path: str, *, id_col: str | None = None
) -> None:
    """Tombstone documents out of the index (takedown, right to be
    forgotten, TTL): masked from every probe at once, physically
    removed by the next :func:`index_compact`. Ids-only — a takedown
    request never ships the document back; ``id_col`` defaults to the
    family's source id column.

    Idempotent (twice ≡ once): already-tombstoned ids are anti-joined
    away, so a retried batch never duplicates tombstone rows, and an
    empty delta (all-NULL batch, replayed ids) writes nothing — no
    empty file, and no dir on a pristine index. NULL ids are dropped
    (nothing to mask), which also makes the anti-join's plain equality
    exact."""
    spark = ids.sparkSession
    meta = index_meta(family, spark, index_path)
    col = family.tombstone_id(meta)
    dtype = index_schema(family, meta)[col].dataType
    delta = (
        ids.select(F.col(id_col or family.defaults.get("id_col", col)).cast(dtype).alias(col))
        .filter(F.col(col).isNotNull())
        .distinct()
    )
    existing = _read_tombstones(family, spark, index_path, meta)
    if existing is not None:
        delta = delta.join(existing, col, "left_anti")
    delta = delta.persist()
    try:
        if delta.limit(1).count():
            # deletion batches are request-sized: one file per batch
            delta.coalesce(1).write.mode("append").parquet(f"{index_path}/{_TOMBSTONE_DIR}")
    finally:
        delta.unpersist()


def _require_local_path(path: str, op: str) -> None:
    """Compaction lists data files with glob and copies side dirs with
    shutil, so it is local-filesystem-only: fail up front, before any
    read, for object-store and HDFS URIs instead of inside a glob that
    silently sees nothing."""
    if "://" in path:
        scheme = path.split("://", 1)[0]
        raise ValueError(
            f"{op} is local-FS-only (glob/copytree) and takes a bare local "
            f"path; got scheme {scheme!r}. Rewrite to a new generation dir "
            "and flip a pointer on object stores."
        )


def _index_data_files(root: str) -> list[str]:
    """Data files of an index, root-relative — the one definition of a
    data file (underscore side dirs, _SUCCESS and dot/CRC files are
    not), shared by compaction and stats so they agree on
    fragmentation. ``key=value`` components are exempt from the
    underscore skip: a partition column may start with an underscore
    (IVF's ``_cell=K/``, text's ``_bucket=K/``), and Spark's scanner
    treats such dirs as data too."""
    import glob
    import os

    out = []
    for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
        rel = os.path.relpath(f, root)
        if any(p.startswith(("_", ".")) and "=" not in p for p in rel.split(os.sep)):
            continue
        if os.path.isfile(f):
            out.append(rel)
    return out


def index_compact(family: IndexFamily, spark, path: str) -> dict:
    """Rewrite the index to one file per partition dir with pending
    tombstones applied (see :func:`_compact`). Local paths only — an
    object-store URI raises ``ValueError`` before the meta is read.
    Returns ``{"rows", "files_before", "files_after"}``."""
    _require_local_path(path, "index_compact")
    return _compact(family, spark, path, index_meta(family, spark, path))


def _compact(family: IndexFamily, spark, path: str, meta) -> dict:
    """The compaction every incremental index needs: each append adds a
    file per touched partition, and after months of daily shards a
    probe's pruned scan pays listing and footer cost per tiny file.
    Tombstoned rows are masked out of the rewrite and ``_tombstones/``
    is not carried over, so compaction applies pending deletes;
    ``family.dedup_keys`` drops rows duplicated by a crashed and
    retried append (exact duplicates by construction, so any survivor
    will do). Otherwise content is identical before and after.

    One keyed shuffle into the staging dir of :func:`…scale.replace_dir`
    (each task owns whole partition dirs), the meta and side dirs
    copied byte for byte, then the publish. NOT transactional: a probe
    listing files between the publish's two renames can fail and should
    retry, so run it in the maintenance window."""
    import os
    import shutil

    before = _index_data_files(path)
    df = mask_tombstones(family, read_index(family, spark, path, meta), path, meta)
    if family.dedup_keys is not None:
        df = df.dropDuplicates(list(family.dedup_keys))
    with replace_dir(spark, path) as staging:
        _write_partitioned(family, df, staging, "overwrite")
        for d in (family.meta_dir, *family.side_dirs):
            src = os.path.join(path, d)
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(staging, d))
        # counted from the staging output (one file per partition), not
        # by a pre-count that would read the fragmented input twice
        rows = read_index(family, spark, staging, meta).count()
    return {
        "rows": int(rows),
        "files_before": len(before),
        "files_after": len(_index_data_files(path)),
    }


def index_stats(family: IndexFamily, spark, path: str) -> dict:
    """Health census: fragmentation (compaction due?), partition skew
    (caps earning their keep?) and pending deletes. One aggregate job
    over the index plus a driver-side file walk; with tombstones, two
    more small jobs.

    Returns ``{"rows", "partitions", "files", "max_partition_rows",
    "avg_files_per_partition", "tombstones", "tombstone_fraction"}``.
    ``rows`` is the PHYSICAL row count (tombstoned rows cost scan I/O
    until compaction), and the fraction is in rows (a doc masks
    ``bands`` index rows), so it is the scan share compaction
    reclaims."""
    meta = index_meta(family, spark, path)
    df = read_index(family, spark, path, meta)
    n_files = len(_index_data_files(path))
    per_part = (
        df.groupBy(*family.partition_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("rows"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("max_rows"),
        )
        .collect()[0]
    )
    rows, n_parts = int(per_part["rows"]), int(per_part["parts"])
    ts = _read_tombstones(family, spark, path, meta)
    n_ts = masked = 0
    if ts is not None:
        n_ts = ts.count()
        masked = mask_tombstones(family, df, path, meta, keep="dead").count()
    return {
        "rows": rows,
        "partitions": n_parts,
        "files": n_files,
        "max_partition_rows": int(per_part["max_rows"]),
        "avg_files_per_partition": round(n_files / n_parts, 2) if n_parts else 0.0,
        "tombstones": int(n_ts),
        "tombstone_fraction": round(masked / rows, 6) if rows else 0.0,
    }
