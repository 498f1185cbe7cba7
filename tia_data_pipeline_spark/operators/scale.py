"""Generic physical-layout primitives: fan-out, salting, z-order,
size estimates, and the directory publish step.

- **Fan-out** (:func:`fan_out`, :func:`adaptive_index_shards`) sizes
  parallelism from the source's leaf-file bytes, driver metadata only
  (:func:`estimated_relation_bytes`).
- **Bucketing** pre-shuffles data *at write time*: two tables bucketed
  on the same keys with the same bucket count join with NO exchange at
  read time — the recurring-join workload (facts ⋈ facts on orderkey,
  the reference's posts⋈comments) pays the shuffle once per load
  instead of once per query.
- **Salting** spreads a pathologically hot key across `n` artificial
  sub-keys when the other side is too big to broadcast and a single
  task would otherwise receive the whole hot partition.
- **Z-order** lays files out along a Morton curve so min/max skipping
  prunes on several columns.
- **Publish**: :func:`replace_dir` / :func:`heal_replaced_dir` stage
  and swap a rewritten directory, and the pending markers flag a
  multi-job mutation in flight, all through :func:`hadoop_fs_path`.

The persisted-index layout (tombstones, compaction, stats) lives in
``operators.index``.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


# Per-file driver metadata calls stop being free on many-file
# relations: beyond this many leaf files the byte estimate stats an
# evenly-strided SAMPLE and extrapolates (avg_size × n_files) instead
# of touching every file, so the estimate stays O(1) py4j round-trips
# per file sampled regardless of relation size and a 10k-tiny-file
# relation on a wide cluster still gets its widening.
_FAN_OUT_STAT_SAMPLE = 64


def _sampled_total_bytes(spark, files: list[str]) -> int | None:
    """Total bytes across ``files`` from driver FileSystem metadata —
    an evenly-strided sample of at most ``_FAN_OUT_STAT_SAMPLE`` files
    extrapolated by file count (exact when all files are stat-ed; a
    mean estimate for larger relations). The stride is ceiling-division
    so the sample spans the WHOLE listing: floor stride is 1 for 65-127
    files, which would stat only the first 64 — biased when listing
    order correlates with size (one big compacted file up front, small
    increments behind it). None when any lookup fails."""
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        if len(files) > _FAN_OUT_STAT_SAMPLE:
            stride = -(-len(files) // _FAN_OUT_STAT_SAMPLE)
            sample = files[::stride][:_FAN_OUT_STAT_SAMPLE]
        else:
            sample = files
        sampled = 0
        for f in sample:
            p = jvm.org.apache.hadoop.fs.Path(f)
            sampled += p.getFileSystem(hconf).getFileStatus(p).getLen()
        return sampled * len(files) // len(sample)
    except Exception:  # noqa: BLE001 — inaccessible scheme/conf
        return None


def estimated_relation_bytes(df: DataFrame) -> int | None:
    """Total leaf-file bytes behind ``df``'s scan — driver metadata
    only, no Spark job. ``None`` for in-memory relations or unreadable
    schemes; callers fall back to their conservative default. Used by
    size-conditional plan choices (e.g. broadcast-vs-bloom membership
    in ``operators.membership.membership_mark``)."""
    files = df.inputFiles()
    if not files:
        return None
    return _sampled_total_bytes(df.sparkSession, files)


# File suffixes Hadoop cannot split: one such file = ONE read task no
# matter its size. (bz2 IS splittable; parquet-internal snappy/zstd
# pages don't surface here — this list is about WHOLE-FILE codecs on
# text/json/csv scans.)
_UNSPLITTABLE_SUFFIXES = (".gz", ".zst", ".zstd", ".lz4", ".snappy", ".deflate", ".zip")


def _estimated_scan_splits(df: DataFrame, files: list[str]) -> int | None:
    """Approximate how many read partitions the file scan yields:
    ``ceil(splittable_bytes / maxPartitionBytes) + n_unsplittable``.
    Splittable-parquet large files divide at the split size and tiny
    files bin-pack toward it, so total/split-size tracks the reader's
    behavior from both sides (open-cost padding ignored — it only
    *raises* the real count). Whole-file-compressed inputs (gzip json/
    csv etc.) contribute ONE split each regardless of size — a 10 GB
    .json.gz otherwise estimates ~80 splits and fan_out would skip the
    widening for a scan that actually arrives on one core (exactly the
    serialization fan_out exists to prevent). Returns None when any
    lookup fails (caller falls back to the file-count heuristic)."""
    spark = df.sparkSession
    try:
        max_bytes = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:  # noqa: BLE001 — unparseable conf: heuristic fallback
        return None
    unsplittable = [f for f in files if f.lower().endswith(_UNSPLITTABLE_SUFFIXES)]
    splittable = [f for f in files if not f.lower().endswith(_UNSPLITTABLE_SUFFIXES)]
    total = _sampled_total_bytes(spark, splittable) if splittable else 0
    if total is None:
        return None
    est_split = -(-total // max_bytes) if total else 0  # ceil
    return max(1, est_split + len(unsplittable))


_BYTE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark size-string → bytes ("134217728b", "128m", "1g", "64MB")."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIXES:
        return int(s[:-1]) * _BYTE_SUFFIXES[s[-1]]
    return int(s)


def adaptive_index_shards(
    df: DataFrame, *, bands: int = 8, max_shards: int = 256, default: int = 16
) -> int:
    """Size a persisted index's per-band shard count from its SOURCE
    relation's bytes (guide §6: sensible output file sizing — the
    shard count is frozen into the index layout at write time, so a
    constant tuned for either local mode or the cluster is wrong at
    the other end).

    ``shards ≈ ceil(source_scan_splits / bands)`` keeps total partition
    dirs (bands × shards) near the source's own split count: a one-file
    sf0.1 corpus gets 1 shard (bands dirs, one healthy file each — not
    a 128-tiny-file probe-scan storm), while a 100 TB corpus walks the
    estimate up to ``max_shards`` (8 bands × 256 shards = 2048 dirs,
    ~500 MB/dir per index-TB — within parquet's comfortable range, and
    `_touched_partition_filter`'s flat-isin encoding stays thousands of
    codes, far under the column-node stack bound). In-memory relations
    (no input files) fall back to ``default`` — the prior fixed value."""
    files = df.inputFiles()
    if files:
        est = _estimated_scan_splits(df, files)
        if est is not None:
            return max(1, min(max_shards, -(-est // bands)))
    return default


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a low-parallelism relation before CPU-heavy per-row
    compute (regex scoring, shingling, per-token hashing), to the
    session's default parallelism.

    At cluster scale parquet scans arrive pre-split
    (``spark.sql.files.maxPartitionBytes``) and this is a no-op; on a
    small corpus a single-file scan yields ONE input split, so an
    expensive projection serializes onto one core while the rest of the
    cluster idles. Round-robin repartition costs a shuffle of the
    narrowed input — call it *after* column pruning, *before* the
    expensive projection — and buys a full-width compute stage. AQE
    never coalesces an explicit ``repartition(n)``, so the width sticks.

    The skip decision estimates the scan's actual split count from
    leaf-file BYTES, not file count alone (``df.inputFiles()`` +
    per-file sizes — driver metadata only, no ``df.rdd`` probe which
    would force a physical-plan conversion on every contract build):

    - a few LARGE splittable files already scan at ≥ parallelism
      (bytes/split-size ≥ n) → no-op, no redundant shuffle;
    - many TINY files bin-pack into few read partitions (bytes small
      even though file count ≥ n) → still widened;
    - an in-memory relation (no input files) or any relation whose
      sizes can't be read falls back to the file-count heuristic.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        est = _estimated_scan_splits(df, files)
        wide = est >= n if est is not None else len(files) >= n
        if wide:
            return df
    return df.repartition(n)


def _row_salt(df: DataFrame, n_salt: int):
    """Deterministic salt in [0, n_salt): xxhash64 of the full row
    content. Unlike ``monotonically_increasing_id() % n`` (whose value
    depends on partition layout, so a task retry or upstream
    repartition re-deals the salt and can double-count rows mid-retry),
    a content hash assigns every row the same salt on every execution —
    retried stages and re-planned inputs stay consistent. Caveat: rows
    that are bit-for-bit identical share a salt, so the spread bound is
    the distinct-row count per hot key, not the row count; for
    aggregate inputs with a duplicate-heavy hot key, pre-count
    duplicates first (a cheap exact groupBy on the full row).

    Map-typed columns are excluded from the hash — xxhash64 over a map
    fails planning (unorderable/unhashable since Spark 3; the
    merge_upsert sort-exclusion rule applied to hashing)."""
    hashable = [c for c, t in df.dtypes if "map<" not in t]
    if not hashable:
        raise ValueError("_row_salt: no hashable (non-map) columns to salt on")
    return F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salt)).cast("int")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    keys: Sequence[str],
    *,
    num_buckets: int = 32,
    sort_keys: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist hash-bucketed (and optionally sorted) by the join keys.
    Sorting within buckets additionally removes the sort from future
    sort-merge joins — scans come back bucketed AND ordered."""
    writer = df.write.bucketBy(num_buckets, *keys)
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.format("parquet").mode(mode).saveAsTable(table_name)


def salted_join(
    large: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    *,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the large side gets a uniform salt in
    [0, n_salt); the small side is replicated once per salt value; the
    join key becomes (keys…, salt). A key owning 50% of the rows now
    lands on n_salt tasks instead of one. Cost: small side is read
    n_salt× (it must still be far smaller than the large side — if it
    broadcasts, just broadcast instead).

    Only large-side-preserving join types are valid: each large row
    carries ONE salt while the small side is replicated across ALL
    n_salt values, so any right/full-outer flavor would emit up to
    n_salt−1 phantom null-extended rows per small-side key (the
    replicas the large side never drew). Rejected explicitly rather
    than silently mis-joined."""
    allowed = {"inner", "left", "leftouter", "left_outer", "cross",
               "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti"}
    if how.lower().replace(" ", "") not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not large-side-preserving; the "
            "replicated small side would emit phantom rows (use inner/left/"
            "left_semi/left_anti, or salt the other side)"
        )
    keys = list(keys)
    salted_large = large.withColumn(SALT_COL, _row_salt(large, n_salt))
    salted_small = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(n_salt).select(F.col("id").cast("int").alias(SALT_COL))
        )
    )
    out = salted_large.join(salted_small, on=keys + [SALT_COL], how=how)
    return out.drop(SALT_COL)


def salted_group_count(df: DataFrame, keys: Sequence[str], *, n_salt: int = 16) -> DataFrame:
    """Two-phase grouped count with explicit salting: partial count per
    (keys, salt), then final sum per keys. (Plain groupBy already does
    map-side partials; the explicit form exists for aggregates where a
    single final-reduce key would still be hot, e.g. top-heavy
    distributions with many distinct-ish partial states.)"""
    keys = list(keys)
    salted = df.withColumn(SALT_COL, _row_salt(df, n_salt))
    partial = salted.groupBy(*keys, SALT_COL).agg(F.count("*").alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))


def zorder_value(df: DataFrame, cols: Sequence[str], *, bits: int = 8) -> Column:
    """Z-order (Morton) key over ``cols``: per-column quantile bucket
    ids, bit-interleaved. Files laid out along this key have NARROW
    min/max ranges on EVERY participating column, so parquet
    row-group / file skipping prunes multi-dimensional predicates —
    the layout lever for tables queried by more than one column
    (single-column sort gives perfect pruning on one dim and none on
    the others).

    Bucket boundaries come from ``approxQuantile`` — a sampling-based
    driver action whose result is ``2^bits - 1`` doubles per column
    (the same class of small control-plane scalar as the shard-count
    total; the data path stays fully distributed). Each value maps to
    its bucket by counting boundaries <= value (a HOF over the
    broadcast literal boundary array — 255 comparisons per row at the
    default 8 bits), and buckets interleave LSB-first:
    bit j of column i lands at position ``j * n_cols + i``. NULLs sort
    to bucket 0."""
    cols = list(cols)
    if not 1 <= bits <= 21:
        raise ValueError("bits must be in [1, 21]")
    if len(cols) * bits > 63:
        raise ValueError("n_cols * bits must fit a bigint")
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    # one sampling job computes every column's boundary set
    all_cuts = df.approxQuantile(cols, probs, 0.001)
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        arr = F.array(*[F.lit(float(v)) for v in all_cuts[i]])
        bucket = F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double"))).cast("bigint")
        bucket = F.coalesce(bucket, F.lit(0).cast("bigint"))
        for j in range(bits):
            bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1).cast("bigint"))
            z = z + F.shiftleft(bit, j * len(cols) + i)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    *,
    n_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` laid out along the Z-order curve of ``cols``:
    range-partition on the interleaved key (``n_files`` output files,
    contiguous curve segments) and sort within each file so row-group
    stats are tight too. Point/range predicates on ANY subset of
    ``cols`` then skip most files on min/max stats alone — the
    multi-dim analogue of `write_bucketed`'s join locality."""
    import uuid as _uuid

    z = zorder_value(df, cols, bits=bits)
    # uuid-suffixed temp column: a fixed name like "_z" would silently
    # overwrite-then-drop a user column of the same name
    zc = f"_z_{_uuid.uuid4().hex[:8]}"
    (
        df.withColumn(zc, z)
        .repartitionByRange(n_files, F.col(zc))
        .sortWithinPartitions(zc)
        .drop(zc)
        .write.mode(mode)
        .parquet(path)
    )


def hadoop_fs_path(spark, path: str):
    """(FileSystem, Path) for ``path`` via the JVM gateway — the one
    place the Hadoop boilerplate lives, so every index-side file
    primitive (markers, staged swaps, heal-on-read) resolves scheme
    and conf identically."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def heal_replaced_dir(spark, live: str) -> None:
    """Undo a :func:`replace_dir` publish torn between its two renames:
    ``live`` missing but ``<live>__old`` present means a crash landed
    after the move-aside and before staging moved in — the previous
    copy renames back. A no-op (one ``exists`` call) in every other
    state, so side-table readers run it before each read."""
    fs, p_live = hadoop_fs_path(spark, live)
    if not fs.exists(p_live):
        _, p_old = hadoop_fs_path(spark, live.rstrip("/") + "__old")
        if fs.exists(p_old):
            fs.rename(p_old, p_live)


@contextmanager
def replace_dir(spark, live: str):
    """Stage-then-publish a directory rewrite — the one publish step of
    every staged rewrite (index compaction, IVF retrain, the text
    index's side tables, the lakehouse parquet fallback). Yields the
    staging path ``<live>__new`` (cleared of any stale copy) for the
    block to write; on a normal exit it heals a torn earlier publish,
    moves ``live`` aside to ``<live>__old``, renames staging to
    ``live`` and deletes ``__old``. If the block raises, nothing is
    published and ``live`` is untouched.

    A failed rename never leaves ``live`` empty: the moved-aside copy
    renames back and :class:`OSError` names where the previous copy is,
    with staging kept for inspection. ``FileSystem.rename`` signals
    failure as False OR as an exception depending on the
    implementation; both count as failure. A failed delete of the
    superseded ``__old`` only warns — the swap itself succeeded.

    NOT transactional: a reader listing files between the two renames
    can fail and should retry, and a hard kill between them leaves
    ``__old`` for :func:`heal_replaced_dir` (run by the next publish
    and by side-table reads)."""
    live = live.rstrip("/")
    new, old = live + "__new", live + "__old"
    fs, p_live = hadoop_fs_path(spark, live)
    _, p_new = hadoop_fs_path(spark, new)
    _, p_old = hadoop_fs_path(spark, old)

    def rename(src, dst) -> bool:
        try:
            return bool(fs.rename(src, dst))
        except Exception:  # noqa: BLE001 — FS implementations throw OR return False
            return False

    fs.delete(p_new, True)
    yield new
    heal_replaced_dir(spark, live)
    moved = bool(fs.exists(p_live))
    if moved:
        fs.delete(p_old, True)  # stale: live is the newer copy
        if not rename(p_live, p_old):
            raise OSError(f"rename {live} -> {old} failed; {live} unchanged, staging kept at {new}")
    if not rename(p_new, p_live):
        msg = f"rename {new} -> {live} failed; staging kept at {new}"
        if moved:
            msg += f", previous copy at {live if rename(p_old, p_live) else old}"
        raise OSError(msg)
    if not moved:
        return
    try:
        deleted = bool(fs.delete(p_old, True))
    except Exception:  # noqa: BLE001 — FS implementations throw OR return False
        deleted = False
    if not deleted:
        warnings.warn(f"replace_dir left the previous copy at {old}; delete it manually")


def pending_marker_set(spark, marker_path: str) -> None:
    """Create (or truncate) a tiny marker file — the crash-detection
    primitive for multi-job index mutations (VERDICT r10 #6): an append
    sets the marker BEFORE its first data write and clears it only
    after its LAST commit, so the next append finding the marker knows
    a predecessor died mid-protocol and runs its reconciliation pass.
    Goes through the Hadoop FileSystem API so the marker works on any
    scheme the index itself lives on, not just local paths."""
    fs, p = hadoop_fs_path(spark, marker_path)
    fs.create(p, True).close()


def pending_marker_exists(spark, marker_path: str) -> bool:
    fs, p = hadoop_fs_path(spark, marker_path)
    return bool(fs.exists(p))


def pending_marker_clear(spark, marker_path: str) -> None:
    fs, p = hadoop_fs_path(spark, marker_path)
    fs.delete(p, False)
