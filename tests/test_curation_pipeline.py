"""End-to-end curation pipeline: quality gate → exact dedup → Bloom
decontamination → training shards. Composes the operator tier the way
a production pipeline would — each stage's guarantee checked on the
final artifact, not just in isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF, bm25_serve_one
from tia_data_pipeline_spark.catalog import load_table
from tia_data_pipeline_spark.functions.text import word_count
from tia_data_pipeline_spark.operators.dedup import exact_dedup, word_shingles
from tia_data_pipeline_spark.operators.membership import (
    bloom_build,
    bloom_params,
    bloom_prefilter,
)
from tia_data_pipeline_spark.sources.shards import (
    read_shard_manifest,
    write_training_shards,
)


def test_full_curation_to_shards(spark, tmp_path):
    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")

    # 1. quality gate: length bounds (the cheap Gopher-style shape rule)
    gated = docs.withColumn("n_tok", word_count(F.col("text"))).filter(
        (F.col("n_tok") >= 5) & (F.col("n_tok") <= 5_000)
    )

    # 2. exact dedup: one survivor per content hash
    survivors = gated.join(
        exact_dedup(gated, "text", "doc_id").select("doc_id"), "doc_id", "left_semi"
    )

    # 3. decontamination: drop training docs sharing any 3-gram with the
    #    "benchmark" (doc_id % 17 == 0 stands in, as in q_decontaminate).
    #    Bloom pre-test first, exact semi-join on the sliver after — the
    #    composition must equal the plain exact path.
    sh = survivors.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh"))
    bench_sh = sh.filter(F.col("doc_id") % 17 == 0).select("sh").distinct()
    train_sh = sh.filter(F.col("doc_id") % 17 != 0)

    n_bench = bench_sh.count()
    m, k = bloom_params(max(1, n_bench), 0.01)
    bloom_path = str(tmp_path / "bloom")
    bloom_build(bench_sh, "sh", m_bits=m, k_hashes=k).write.parquet(bloom_path)
    bloom = spark.read.parquet(bloom_path)

    candidates = bloom_prefilter(train_sh, "sh", bloom, m_bits=m, k_hashes=k)
    contaminated = candidates.join(
        bench_sh.withColumnRenamed("sh", "bsh"), F.col("sh") == F.col("bsh"), "left_semi"
    ).select("doc_id").distinct()

    exact_contaminated = train_sh.join(
        bench_sh.withColumnRenamed("sh", "bsh"), F.col("sh") == F.col("bsh"), "left_semi"
    ).select("doc_id").distinct()
    assert sorted(r["doc_id"] for r in contaminated.collect()) == sorted(
        r["doc_id"] for r in exact_contaminated.collect()
    ), "bloom pre-test changed decontamination semantics"

    clean = (
        survivors.filter(F.col("doc_id") % 17 != 0)
        .join(contaminated, "doc_id", "left_anti")
    )

    # 4. shard the cleaned corpus with a token budget + manifest
    out = str(tmp_path / "shards")
    manifest = write_training_shards(
        clean, out, key_col="doc_id", weight_col="n_tok", tokens_per_shard=4_000
    )

    back = spark.read.parquet(out)
    # complete and exact: what was cleaned is what was sharded
    assert back.count() == clean.count()
    # end-state invariants carried through the whole pipeline:
    assert back.filter((F.col("n_tok") < 5) | (F.col("n_tok") > 5_000)).count() == 0
    assert (
        back.groupBy(F.sha2(F.col("text"), 256)).count().filter(F.col("count") > 1).count()
        == 0
    ), "duplicate content survived to the shards"
    leaked = (
        back.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh"))
        .join(bench_sh.withColumnRenamed("sh", "bsh"), F.col("sh") == F.col("bsh"), "left_semi")
        .count()
    )
    assert leaked == 0, "benchmark n-gram leaked into the training shards"
    # manifest accounts for every token
    man_total = read_shard_manifest(spark, out).agg(F.sum("n_tokens")).collect()[0][0]
    assert man_total == clean.agg(F.sum("n_tok")).collect()[0][0]


def test_release_gate_statistics_on_shards(spark, tmp_path):
    """Round-5 extension of the end-to-end story: after sharding, the
    RELEASE GATE statistics a pipeline would publish alongside the
    artifact — per-shard Gini of token mass (no shard dominated by a
    few huge docs), KS drift between the shards' length distributions
    (hash assignment should make shards statistically alike), and a
    retrieval index built ON the artifact that serves sane results."""
    from pyspark.sql.window import Window

    from tia_data_pipeline_spark.operators.text_index import build_text_index
    from tia_data_pipeline_spark.sources.shards import write_training_shards

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    clean = docs.withColumn("n_tok", word_count(F.col("text")))
    out = str(tmp_path / "shards")
    write_training_shards(
        clean, out, key_col="doc_id", weight_col="n_tok", tokens_per_shard=8_000
    )
    back = spark.read.parquet(out)

    # Gini per shard: hash assignment mixes doc sizes, so no shard
    # should be grossly more unequal than the corpus itself
    wr = Window.partitionBy("shard").orderBy("n_tok", "doc_id")
    r = back.select("shard", "n_tok", "doc_id", F.row_number().over(wr).alias("rn"))
    g = r.groupBy("shard").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("sx"),
        F.sum(F.col("rn").cast("bigint") * F.col("n_tok")).alias("swx"),
    )
    ginis = [
        (2.0 * row["swx"] - (row["n"] + 1.0) * row["sx"]) / (row["n"] * row["sx"])
        for row in g.collect()
    ]
    assert ginis and all(0.0 <= x < 0.7 for x in ginis), ginis

    # KS between shard 0 and the rest: same underlying distribution →
    # small statistic (hash split ≈ random split)
    counts = (
        back.groupBy("n_tok")
        .agg(
            F.sum(F.when(F.col("shard") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("shard") != 0, 1).otherwise(0)).alias("cb"),
        )
    )
    wv = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb")).collect()[0]
    ks_num = (
        counts.select(
            F.sum("ca").over(wv).alias("cum_a"), F.sum("cb").over(wv).alias("cum_b")
        )
        .agg(F.max(F.abs(F.col("cum_a") * tot["nb"] - F.col("cum_b") * tot["na"])))
        .collect()[0][0]
    )
    ks = ks_num / (tot["na"] * tot["nb"])
    assert ks < 0.2, f"hash shards drifted apart: KS={ks}"

    # retrieval index on the artifact serves plausible results
    idx = str(tmp_path / "idx")
    build_text_index(back.select("doc_id", "text"), idx)
    hits = bm25_serve_one(spark, idx, ["spark", "join"], k=5)
    assert len(hits) == 5 and all(score is not None for _, _, score in hits)
