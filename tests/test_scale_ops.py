"""Bucketing removes the join shuffle; salting preserves join/agg
results while spreading hot keys."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.operators.scale import (
    salted_group_count,
    salted_join,
    write_bucketed,
)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, no_broadcast):
    # managed tables land in ./spark-warehouse (gitignored; warehouse
    # dir is a static conf); DROP TABLE removes the files.
    li = load_table(spark, SMOKE_SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SMOKE_SF, "orders").select("o_orderkey", "o_orderdate")
    try:
        write_bucketed(li, "li_b", ["l_orderkey"], num_buckets=8, sort_keys=["l_orderkey"])
        write_bucketed(orders, "ord_b", ["o_orderkey"], num_buckets=8, sort_keys=["o_orderkey"])
        joined = spark.table("li_b").join(
            spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # same join on raw (unbucketed) scans DOES shuffle — the contrast
        raw = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert "Exchange" in _explain(raw)
        assert joined.count() == raw.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_salted_join_matches_plain_join(spark, no_broadcast):
    li = load_table(spark, SMOKE_SF, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = load_table(spark, SMOKE_SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    plain = li.join(orders, "l_orderkey").count()
    salted = salted_join(li, orders, ["l_orderkey"], n_salt=8).count()
    assert salted == plain


def test_partition_pruning_on_date_partitioned_events(spark, tmp_path):
    """The 100 TB layout promise (SCALE.md): event tables written
    partitioned by day let the reference's 'yesterday' predicate prune
    partitions before any task launches."""
    path = str(tmp_path / "events_by_day")
    events = load_table(spark, SMOKE_SF, "events")
    events.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-05")
    plan = _explain(pruned)
    assert "PartitionFilters" in plan and "event_date" in plan
    # only the one day's rows are read
    expect = events.filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-06")
    ).count()
    assert pruned.count() == expect
    # the physical layout: one directory per day
    import os

    days = [d for d in os.listdir(path) if d.startswith("event_date=")]
    assert len(days) >= 28


def test_aqe_splits_skewed_join(spark, no_broadcast):
    """AQE's OptimizeSkewedJoin splits the hot partition at runtime —
    the first line of defense before manual salting (SCALE.md)."""
    # thresholds scaled down to local data sizes (production defaults are
    # 256MB); coalescing off so the split is visible at this scale
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # one pathologically hot key (90% of rows) + a uniform tail;
        # incompressible pad so shuffle byte stats reflect row counts
        pad = F.sha2(F.col("id").cast("string"), 512)
        hot = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload"), pad.alias("pad")
        )
        tail = spark.range(20_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("payload"), pad.alias("pad")
        )
        big = hot.unionAll(tail)
        dim = spark.range(100).select(F.col("id").alias("k"), F.lit("d").alias("attr"))
        # inspect the SAME DataFrame that executes: count() would build
        # its own QueryExecution and the unexecuted join plan never gets
        # AQE-finalized
        counted = big.join(dim, "k").agg(F.count("*").alias("n"))
        assert counted.collect()[0]["n"] == 220_000  # correctness under skew
        final_plan = counted._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, "AQE did not mark the skewed join"
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_salted_group_count_matches(spark):
    li = load_table(spark, SMOKE_SF, "lineitem")
    got = {
        r["l_returnflag"]: r["count"]
        for r in salted_group_count(li, ["l_returnflag"], n_salt=8).collect()
    }
    expect = {r["l_returnflag"]: r["count"] for r in li.groupBy("l_returnflag").count().collect()}
    assert got == expect


def test_salt_deterministic_across_partitioning(spark):
    """The salt is a content hash, not a partition-layout artifact: the
    same row gets the same salt no matter how the input is partitioned
    (a task retry or upstream repartition must not re-deal salts)."""
    from tia_data_pipeline_spark.operators.scale import SALT_COL, _row_salt

    li = load_table(spark, SMOKE_SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    layouts = [li.coalesce(1), li.repartition(13), li.repartition(4, "l_quantity")]
    # (l_orderkey, l_linenumber) is not unique in this corpus, so key
    # the comparison on the full row content (sorted multiset).
    salted = [
        sorted(
            (r["l_orderkey"], r["l_linenumber"], r["l_quantity"], r[SALT_COL])
            for r in df.withColumn(SALT_COL, _row_salt(df, 8)).collect()
        )
        for df in layouts
    ]
    assert salted[0] == salted[1] == salted[2]
    assert len({s[-1] for s in salted[0]}) > 1  # and it actually spreads


def test_day_partitioned_write_prunes_partitions(spark, tmp_path):
    """The 100 TB layout lever for event tables: write partitioned by
    day, and a day-ranged query must show PartitionFilters at the scan
    (whole directories skipped) rather than row-level filtering of the
    full corpus."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    path = str(tmp_path / "events_by_day")
    events = load_table(spark, SMOKE_SF, "events")
    events.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(path)

    scan = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "2024-01-03" in p
    # pruning is real: only that day's rows are read, and they match
    # the unpartitioned predicate exactly
    expect = events.filter(F.to_date("ts") == "2024-01-03").count()
    assert scan.count() == expect > 0


def test_fan_out_skips_large_splittable_files(spark, tmp_path):
    """fan_out's skip must be BYTE-based, not file-count-based (ADVICE
    r03): one large splittable parquet file already scans wide, so no
    repartition; one small file still gets the widening."""
    from tia_data_pipeline_spark.operators.scale import fan_out

    big = str(tmp_path / "big.parquet")
    # ~32 splits at the lowered split size -> treated as already-wide
    spark.range(200_000).selectExpr("id", "repeat('x', 64) AS pad").coalesce(
        1
    ).write.parquet(big)
    small = str(tmp_path / "small.parquet")
    spark.range(100).coalesce(1).write.parquet(small)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        wide = fan_out(spark.read.parquet(big))
        assert "RoundRobinPartitioning" not in _explain(wide), "large file needs no fan-out"
        narrow = fan_out(spark.read.parquet(small))
        assert "RoundRobinPartitioning" in _explain(narrow)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_out_widens_in_memory_relation(spark):
    from tia_data_pipeline_spark.operators.scale import fan_out

    df = spark.createDataFrame([(1,), (2,)], "x int")
    assert "RoundRobinPartitioning" in _explain(fan_out(df))


def test_adaptive_index_shards_tracks_source_bytes(spark, tmp_path):
    """Index shard counts derive from the SOURCE relation's bytes
    (round-11 optimization: a fixed n_shards=16 gave a one-file sf0.1
    corpus a 128-tiny-file probe scan): a small file sizes to 1 shard,
    a many-split scan walks the count up, estimates cap at max_shards,
    and an in-memory relation falls back to the caller default."""
    from tia_data_pipeline_spark.operators.scale import adaptive_index_shards

    small = str(tmp_path / "small.parquet")
    spark.range(100).coalesce(1).write.parquet(small)
    assert adaptive_index_shards(spark.read.parquet(small)) == 1

    big = str(tmp_path / "big.parquet")
    spark.range(200_000).selectExpr("id", "repeat('x', 64) AS pad").coalesce(
        1
    ).write.parquet(big)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        est = adaptive_index_shards(spark.read.parquet(big), bands=8)
        assert est > 1  # ~32 splits / 8 bands
        assert adaptive_index_shards(
            spark.read.parquet(big), bands=1, max_shards=4
        ) == 4  # cap binds
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    mem = spark.createDataFrame([(1,), (2,)], "x int")
    assert adaptive_index_shards(mem, default=7) == 7


def test_parse_bytes_spark_size_strings():
    from tia_data_pipeline_spark.operators.scale import _parse_bytes

    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("4096") == 4096


def test_zorder_layout_narrows_every_dimension(spark, tmp_path):
    """Files along the Z-curve have narrow min/max spans on BOTH
    participating columns (multi-dim skipping); a single-column sort
    gives a narrow span on its column and the FULL range on the other.
    Span measured per output file via input_file_name()."""
    from tia_data_pipeline_spark.operators.scale import write_zordered

    orders = load_table(spark, SMOKE_SF, "orders").select("o_custkey", "o_totalprice")
    lo_k, hi_k, lo_p, hi_p = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    rng_k, rng_p = float(hi_k - lo_k), float(hi_p - lo_p)

    def spans(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(
                ((F.max("o_custkey") - F.min("o_custkey")) / rng_k).alias("sk"),
                ((F.max("o_totalprice") - F.min("o_totalprice")) / rng_p).alias("sp"),
            )
            .collect()
        )
        n = len(per_file)
        return (
            sum(r["sk"] for r in per_file) / n,
            sum(r["sp"] for r in per_file) / n,
            n,
        )

    zp = str(tmp_path / "z")
    write_zordered(orders, zp, ["o_custkey", "o_totalprice"], n_files=16)
    assert spark.read.parquet(zp).count() == orders.count()
    zk, zpr, nz = spans(zp)
    assert nz > 4  # the range partitioner actually split the curve

    sp_path = str(tmp_path / "sorted")
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(sp_path)
    )
    sk, spr, _ = spans(sp_path)

    # z-order: BOTH dims narrow; linear sort: only its own dim narrow
    assert zk < 0.6 and zpr < 0.6, f"z spans too wide: {zk:.2f}/{zpr:.2f}"
    assert sk < 0.2, f"sorted layout should be tight on its key: {sk:.2f}"
    assert spr > 0.8, f"sorted layout should span ~full price range: {spr:.2f}"
    # and the z layout beats the sort on the neglected dimension by a lot
    assert zpr < spr / 2


def test_zorder_bad_args(spark):
    from tia_data_pipeline_spark.operators.scale import zorder_value

    orders = load_table(spark, SMOKE_SF, "orders")
    with pytest.raises(ValueError):
        zorder_value(orders, ["o_custkey"], bits=0)
    with pytest.raises(ValueError):
        zorder_value(orders, ["o_custkey", "o_totalprice"], bits=32)


@pytest.mark.slow
def test_fan_out_many_tiny_files_still_widens(spark, tmp_path):
    """The sampled byte estimate must keep widening a MANY-tiny-file
    relation (the old >=1024-file short-circuit skipped the estimate
    entirely and left bin-packed scans narrow): 80 tiny files whose
    total is far below one split must repartition."""
    from tia_data_pipeline_spark.operators import scale as SC
    from tia_data_pipeline_spark.operators.scale import fan_out

    path = str(tmp_path / "tiny")
    spark.range(400).repartition(80).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= 60  # genuinely many leaf files
    # force the sampling path (sample < file count)
    old = SC._FAN_OUT_STAT_SAMPLE
    SC._FAN_OUT_STAT_SAMPLE = 16
    try:
        assert "RoundRobinPartitioning" in _explain(fan_out(df))
    finally:
        SC._FAN_OUT_STAT_SAMPLE = old


def test_salted_join_rejects_non_large_preserving_how(spark):
    """right/full outer would emit phantom null-extended rows for the
    small-side salt replicas the large side never drew — rejected."""
    import pytest

    from tia_data_pipeline_spark.operators.scale import salted_join

    large = spark.createDataFrame([(1, "x")], "k bigint, v string")
    small = spark.createDataFrame([(1, "d")], "k bigint, d string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="large-side-preserving"):
            salted_join(large, small, ["k"], how=how)
    assert salted_join(large, small, ["k"], how="left").count() == 1


def test_row_salt_skips_map_columns(spark):
    """xxhash64 over a map column fails planning; the salt must hash
    the remaining columns instead of erroring."""
    from tia_data_pipeline_spark.operators.scale import salted_group_count

    df = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"b": 2}), (2, {"c": 3})],
        "k bigint, meta map<string,int>",
    )
    out = {r["k"]: r["count"] for r in salted_group_count(df, ["k"]).collect()}
    assert out == {1: 2, 2: 1}


def test_fan_out_widens_unsplittable_gzip(spark, tmp_path):
    """Review r7: a whole-file-compressed input is ONE read task no
    matter its byte size — the byte-based skip must not mistake a big
    .json.gz for a wide scan (splittable-bytes estimate would skip the
    widening and serialize the downstream projection on one core)."""
    import gzip
    import json as _json

    from tia_data_pipeline_spark.operators.scale import (
        _estimated_scan_splits,
        fan_out,
    )

    path = tmp_path / "docs.json.gz"
    with gzip.open(path, "wt") as fh:
        for i in range(1000):
            fh.write(_json.dumps({"id": i, "text": "x" * 200}) + "\n")
    df = spark.read.json(str(path))
    est = _estimated_scan_splits(df, df.inputFiles())
    assert est == 1  # one unsplittable file = one split, whatever its size
    wide = fan_out(df)
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def _put(d, text: str) -> None:
    """Make dir ``d`` holding one file ``part`` with ``text``."""
    d.mkdir(parents=True, exist_ok=True)
    (d / "part").write_text(text)


def _got(d) -> str:
    return (d / "part").read_text()


class _RenameFailsFor:
    """A FileSystem proxy whose ``rename`` of a source named ``name``
    fails — by returning False or by raising, the two ways Hadoop
    FileSystems report it; every other call goes to the real one."""

    def __init__(self, fs, name: str, raises: bool):
        self._fs, self._name, self._raises = fs, name, raises

    def rename(self, src, dst):
        if src.getName() == self._name:
            if self._raises:
                raise RuntimeError("injected rename failure")
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, attr):
        return getattr(self._fs, attr)


def test_replace_dir_publish_leaves_no_side_dirs(spark, tmp_path):
    import warnings

    from tia_data_pipeline_spark.operators.scale import replace_dir

    live = tmp_path / "t"
    _put(live, "old")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a clean publish warns about nothing
        with replace_dir(spark, str(live)) as staging:
            _put(tmp_path / "t__new", "new")
            assert staging == str(live) + "__new"
        # first publish: no live copy to move aside
        with replace_dir(spark, str(tmp_path / "fresh")):
            _put(tmp_path / "fresh__new", "first")
    assert _got(live) == "new" and _got(tmp_path / "fresh") == "first"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["fresh", "t"]


def test_replace_dir_block_failure_leaves_live_untouched(spark, tmp_path):
    from tia_data_pipeline_spark.operators.scale import replace_dir

    live = tmp_path / "t"
    _put(live, "old")
    with pytest.raises(RuntimeError, match="writer died"):
        with replace_dir(spark, str(live)):
            _put(tmp_path / "t__new", "half")
            raise RuntimeError("writer died")
    assert _got(live) == "old"
    assert not (tmp_path / "t__old").exists()


@pytest.mark.parametrize("raises", [False, True], ids=["returns_false", "raises"])
def test_replace_dir_failed_publish_rename_restores_live(spark, tmp_path, monkeypatch, raises):
    from tia_data_pipeline_spark.operators import scale

    real = scale.hadoop_fs_path

    def failing(spark_, path):
        fs, p = real(spark_, path)
        return _RenameFailsFor(fs, "t__new", raises), p

    monkeypatch.setattr(scale, "hadoop_fs_path", failing)
    live = tmp_path / "t"
    _put(live, "old")
    with pytest.raises(OSError, match=f"previous copy at {live}$"):
        with scale.replace_dir(spark, str(live)):
            _put(tmp_path / "t__new", "new")
    assert _got(live) == "old"
    assert _got(tmp_path / "t__new") == "new"  # staging kept for inspection
    assert not (tmp_path / "t__old").exists()


def test_replace_dir_heals_torn_swap_and_keeps_the_only_copy(spark, tmp_path):
    """A crash between the two renames leaves only ``__old``: the heal
    renames it back, and a publish that then fails still leaves it
    live — the only copy is never deleted."""
    from tia_data_pipeline_spark.operators.scale import heal_replaced_dir, replace_dir

    live, old = tmp_path / "t", tmp_path / "t__old"
    _put(old, "old")
    heal_replaced_dir(spark, str(live))
    assert _got(live) == "old" and not old.exists()

    live.rename(old)  # torn again
    with pytest.raises(OSError):
        with replace_dir(spark, str(live)):
            pass  # nothing staged: the publish rename fails
    assert _got(live) == "old" and not old.exists()

    live.rename(old)  # torn again; this publish succeeds
    with replace_dir(spark, str(live)):
        _put(tmp_path / "t__new", "new")
    assert _got(live) == "new" and not old.exists()


def test_replace_dir_clears_stale_old_beside_live(spark, tmp_path):
    from tia_data_pipeline_spark.operators.scale import replace_dir

    live, old = tmp_path / "t", tmp_path / "t__old"
    _put(live, "cur")
    _put(old, "stale")  # a previous publish whose final delete failed
    with replace_dir(spark, str(live)):
        _put(tmp_path / "t__new", "new")
    assert _got(live) == "new" and not old.exists()
