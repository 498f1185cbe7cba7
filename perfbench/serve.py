"""``retrieval_serve``: top-k serving from persisted indexes that the
ingest path has just written to.

Set-up builds the history indexes (text, IVF) over a seeded corpus,
lands a posts shard through ``pipelines.posts_pipeline`` and the two
``streaming`` append loops, and deletes a takedown from both families,
so the served layout carries the files that ingest and deletion leave
behind. The timed loop then sends requests as one closed-loop client,
alternating an ANN request (16 probes through ``ann_search_batch``,
k=10, n_probe=4, centers and meta read once as ``stream_ann_topk``
does) and a BM25 request (16 queries through ``bm25_topk_batch``,
k=10). One op is one request, from frame
creation to committed output; one pass is one ANN + BM25 pair.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from spans import another_round, jvm_memory_mb, median, tail, tree_cpu_s

K = 10
N_PROBE = 4
N_LISTS = 16
RECALL_FLOOR = 0.7  # mean ANN recall@10 against the exact top-k


def run(args, work, tracer, run, spark) -> None:
    import duckdb

    from layers import dir_usage

    inputs = gen.serve_inputs(args.seed)
    sf_dir = os.path.join(work, "corpus")
    gen.write_serve_corpus(sf_dir, inputs)
    path = {k: os.path.join(work, k) for k in ("text", "ivf", "drift", "landed", "ann_out", "bm25_out")}
    path["posts"] = os.path.join(sf_dir, "posts")

    from pyspark.sql import functions as F

    from tia_data_pipeline_spark import catalog, pipelines
    from tia_data_pipeline_spark.operators import similarity, text_index
    from tia_data_pipeline_spark.streaming import ann_serve, text_serve

    def index_usage():
        return {f: dir_usage(path[f]) for f in ("text", "ivf", "posts")}

    # index set-up runs once (repeating it does not fit a run); its CPU
    # is added to the session set-up's
    c0 = tree_cpu_s()
    docs = catalog.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = catalog.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    text_index.build_text_index(docs, path["text"])
    assigned, centers = similarity.ivf_build_index(emb, n_lists=N_LISTS, seed=args.seed)
    similarity.ivf_write_index(assigned, centers, path["ivf"])

    before = index_usage()
    with tracer.span("shard", "op"):
        a = time.monotonic()
        land_shard(spark, tracer, pipelines, inputs["shard"], path)
        landed = spark.read.parquet(path["landed"])
        new_docs = landed.select(F.col("id").alias("doc_id"), F.col("content").alias("text"))
        text_serve.text_index_append_batch(new_docs, path["text"])
        new_vecs = landed.select(
            F.col("id").alias("vec_id"),
            F.from_json("embedding", "array<float>").alias("embedding"),
        )
        ann_serve.ivf_append_batch(new_vecs, path["ivf"], path["drift"], 0)
        shard_s = time.monotonic() - a
    after = index_usage()

    takedown = spark.createDataFrame([(int(i),) for i in inputs["takedown"]], "doc_id bigint")
    text_index.text_index_delete(takedown, path["text"])
    similarity.ivf_index_delete(takedown.withColumnRenamed("doc_id", "vec_id"), path["ivf"])
    centers = similarity.ivf_read_centers(spark, path["ivf"])
    meta = similarity.ivf_index_meta(spark, path["ivf"])
    index_setup_cpu = tree_cpu_s() - c0
    run.values["setup_s"] += index_setup_cpu
    usage = index_usage()

    # timed loop: ANN and BM25 alternate, whole pairs only; the last
    # pair starts only if it should end near --seconds
    by_kind = {"ann": [], "bm25": []}
    for rid, (kind, payload) in enumerate(inputs["requests"]):
        by_kind[kind].append((rid, payload))
    lat = {"ann": [], "bm25": []}
    cpu, pair_cpu, op_ids, cached = [], [], [], 0
    jsc = spark.sparkContext._jsc

    def request(kind: str, rid: int, payload) -> None:
        if kind == "ann":
            probes = spark.createDataFrame(
                [(rid * 100 + j, v.tolist()) for j, v in enumerate(payload)],
                "probe_id bigint, embedding array<float>",
            )
            ann_serve.ann_search_batch(
                probes, path["ivf"], path["ann_out"], rid,
                k=K, n_probe=N_PROBE, centers=centers, meta=meta,
            )
        else:
            queries = spark.createDataFrame(
                [(rid * 100 + j, terms) for j, terms in enumerate(payload)],
                "query_id bigint, terms array<string>",
            )
            text_serve.bm25_topk_batch(queries, path["text"], path["bm25_out"], rid, k=K)

    t_meas = time.monotonic()
    i = 0  # request pairs sent
    while another_round(time.monotonic() - t_meas, i, args.seconds):
        if i >= min(len(v) for v in by_kind.values()):
            raise RuntimeError("request stream exhausted; raise gen.N_REQUESTS")
        pc0 = tree_cpu_s()
        for kind in ("ann", "bm25"):
            rid, payload = by_kind[kind][i]
            run.ops_attempted += 1
            c0 = tree_cpu_s()
            try:
                with tracer.span(f"request:{kind}", "op") as op:
                    a = time.monotonic()
                    request(kind, rid, payload)
                    lat[kind].append(time.monotonic() - a)
            except Exception as exc:  # noqa: BLE001 — count, name, go on
                run.ops_failed += 1
                run.detail.setdefault("op_errors", []).append(f"{kind} {rid}: {str(exc)[:200]}")
                continue
            cpu.append(tree_cpu_s() - c0)
            if op is not None:
                op_ids.append(op.id)
                cached = max(cached, jsc.getPersistentRDDs().size())
        pair_cpu.append(tree_cpu_s() - pc0)
        i += 1
    measured = time.monotonic() - t_meas

    all_lat = lat["ann"] + lat["bm25"]
    run.values["op_p50_s"] = median(all_lat)
    run.values["ops_per_s"] = len(all_lat) / measured
    run.values["op_cpu_s"] = median(cpu)
    run.values["pass_cpu_s"] = median(pair_cpu)
    run.detail.update(jvm_memory_mb(spark))

    # -- correctness, outside the timed region --------------------------
    con = duckdb.connect()
    live_ids, live_vecs, live_texts = live_corpus(inputs)
    recall = check_ann(run, spark, similarity, con, path, by_kind["ann"][:i], live_ids, live_vecs)
    check_bm25(run, con, path, by_kind["bm25"][:i], live_ids, live_texts)
    check_ingest(run, spark, pipelines, con, path, inputs, len(live_ids))
    con.close()

    n_live = len(live_ids)
    detail = {
        "workload": "retrieval_serve",
        "sizes": {
            "history_docs": gen.N_HISTORY, "vocab": gen.N_VOCAB, "shard_docs": gen.SHARD_DOCS,
            "takedown": gen.TAKEDOWN, "batch": gen.BATCH, "k": K, "n_probe": N_PROBE, "n_lists": N_LISTS,
        },
        "index_setup_cpu_s": index_setup_cpu,
        "requests": len(all_lat),
        "serve_items_per_s": gen.BATCH * len(all_lat) / measured,
        "ann_recall_at_10": recall,
        "shard_s": shard_s,
        "ingest_docs_per_s": rows_written(path["landed"]) / shard_s,
        "index_bytes_per_doc": sum(usage[f][0] for f in ("text", "ivf")) / n_live,
    }
    for kind in ("ann", "bm25"):
        pct, tail_v, n = tail(lat[kind])
        detail.update({f"{kind}_p50_s": median(lat[kind]), f"{kind}_tail_s": tail_v,
                       f"{kind}_tail_pct": pct, f"{kind}_samples": n, f"{kind}_latencies_s": lat[kind]})
    run.detail.update(detail)
    run.detail.update({k: run.values[k] for k in ("setup_s", "op_p50_s", "ops_per_s", "op_cpu_s", "pass_cpu_s")})

    if tracer.enabled:
        import layers

        # maintenance, after the measured loop: compact both families
        text_index.text_index_compact(spark, path["text"])
        similarity.ivf_index_compact(spark, path["ivf"])
        run.values["storage.compact.bytes_rewritten"] = sum(
            dir_usage(path[f])[0] for f in ("text", "ivf")
        )
        for f, (size, files) in usage.items():
            run.values[f"storage.{f}.bytes"] = size
            run.values[f"storage.{f}.files"] = files
        run.values["storage.bytes_written_per_shard"] = sum(after[f][0] - before[f][0] for f in after)
        results = sum(
            rows_written(f"{path[kind + '_out']}/batch_id={rid}")
            for kind in by_kind for rid, _ in by_kind[kind][:i]
        )
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        run.values.update(layers.collect(tracer, op_ids, results, cores, cached))


def land_shard(spark, tracer, pipelines, recs, path) -> None:
    """Fetch the shard through the hourly posts pipeline and land the
    new rows (staged under ``landed``, then appended to the posts
    table)."""
    fetcher = gen.ShardFetcher(recs, gen.PAGE_SIZE)
    existing = spark.read.parquet(path["posts"])
    new_rows = pipelines.posts_pipeline(
        spark, fetcher, post_schema(), existing,
        n_pages=len(fetcher.pages), ts_string_cols=("date_gmt",),
    )
    with tracer.span("pipelines.posts_pipeline.exec", "pipelines"):
        new_rows.write.mode("overwrite").parquet(path["landed"])
        spark.read.parquet(path["landed"]).write.mode("append").parquet(path["posts"])


def post_schema():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(gen.POST_FIELDS)


def rows_written(out_dir: str) -> int:
    import pyarrow.dataset as ds

    if not os.path.isdir(out_dir):
        return 0
    return ds.dataset(out_dir, format="parquet", partitioning="hive").count_rows()


def live_corpus(inputs):
    """Ids, vectors and texts an index should hold after set-up:
    history plus the landed shard (re-deliveries excluded) minus the
    takedown."""
    ids, vecs, texts = list(range(len(inputs["texts"]))), list(inputs["vecs"]), list(inputs["texts"])
    for r in inputs["shard"]:
        if r["id"] >= inputs["first_shard_id"]:
            ids.append(r["id"])
            vecs.append(np.asarray(r["embedding"], dtype=np.float32))
            texts.append(r["content"])
    gone = set(int(x) for x in inputs["takedown"])
    keep = [j for j, d in enumerate(ids) if d not in gone]
    return (np.asarray([ids[j] for j in keep]), np.stack([vecs[j] for j in keep]),
            [texts[j] for j in keep])


def exact_top_k(live_ids, live_vecs, probe, k=K) -> list[int]:
    v = live_vecs.astype(np.float64)
    sc = (v @ probe.astype(np.float64)) / (np.linalg.norm(v, axis=1) * np.linalg.norm(probe))
    order = np.lexsort((live_ids, -np.round(sc, 6)))
    return [int(live_ids[j]) for j in order[:k]]


def check_ann(run, spark, similarity, con, path, served, live_ids, live_vecs) -> float:
    got = {}
    rows = con.sql(
        f"SELECT probe_id, vec_id FROM read_parquet('{path['ann_out']}/*/*.parquet', hive_partitioning=true)"
    ).fetchall()
    for pid, vid in rows:
        got.setdefault(int(pid), set()).add(int(vid))
    recalls = []
    for rid, probes in served:
        for j, p in enumerate(probes):
            exact = exact_top_k(live_ids, live_vecs, p)
            recalls.append(len(got.get(rid * 100 + j, set()) & set(exact)) / K)
    recall = float(np.mean(recalls)) if recalls else 0.0
    run.check("ann_recall_at_10", recall >= RECALL_FLOOR, f"recall {recall:.3f} < {RECALL_FLOOR}")
    # the numpy reference must agree with the engine's exact top-k
    rid, probes = served[0]
    corpus = spark.createDataFrame(
        [(int(d), v.tolist()) for d, v in zip(live_ids, live_vecs)], "vec_id bigint, embedding array<float>"
    )
    probe = spark.createDataFrame([(0, probes[0].tolist())], "vec_id bigint, embedding array<float>")
    engine = [int(r["vec_id"]) for r in similarity.brute_force_top_k(corpus, probe, k=K).collect()]
    ref = exact_top_k(live_ids, live_vecs, probes[0])
    run.check("ann_exact_reference", set(engine) == set(ref), f"brute_force_top_k {engine} vs {ref}")
    return recall


def check_bm25(run, con, path, sample, live_ids, live_texts) -> None:
    """The run's BM25 requests recomputed by a DuckDB full scan of the
    live documents, from ``q_bm25``'s oracle template."""
    from tia_data_pipeline_spark import plans

    template = plans.oracle_sql()["q_bm25"]
    terms_sql = "tok IN ('spark', 'join', 'stream')"
    if terms_sql not in template or "LIMIT 20" not in template:
        run.check("bm25_reference_template", False, "q_bm25 oracle no longer has the expected shape")
        return
    con.execute("CREATE OR REPLACE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(zip(map(int, live_ids), live_texts)))
    got = {}
    for qid, did, score, rnk in con.sql(
        f"SELECT query_id, doc_id, score, rnk FROM read_parquet('{path['bm25_out']}/*/*.parquet', hive_partitioning=true)"
    ).fetchall():
        got.setdefault(int(qid), []).append((int(rnk), int(did), float(score)))
    bad = []
    for rid, queries in sample:
        for j, terms in enumerate(queries):
            quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
            sql = template.replace(terms_sql, f"tok IN ({quoted})").replace("LIMIT 20", f"LIMIT {K}")
            ref = [(int(d), float(s)) for d, _n, s in con.sql(sql).fetchall()]
            mine = [(d, s) for _r, d, s in sorted(got.get(rid * 100 + j, []))]
            if mine != ref:
                bad.append(f"query {rid * 100 + j} {terms}: {mine[:3]} vs {ref[:3]}")
    run.check("bm25_reference", not bad, "; ".join(bad[:3]))


def check_ingest(run, spark, pipelines, con, path, inputs, n_live) -> None:
    def live(glob: str, col: str, tomb: str) -> int:
        t = f"{tomb}/_tombstones"
        minus = (
            f" WHERE {col} NOT IN (SELECT {col} FROM read_parquet('{t}/*.parquet'))"
            if os.path.isdir(t) else ""
        )
        return con.sql(
            f"SELECT count(DISTINCT {col}) FROM read_parquet('{glob}', hive_partitioning=true){minus}"
        ).fetchone()[0]

    counts = {
        "text": live(f"{path['text']}/_doc_stats/*.parquet", "doc_id", path["text"]),
        "ivf": live(f"{path['ivf']}/_cell=*/*.parquet", "vec_id", path["ivf"]),
    }
    for fam, n in counts.items():
        run.check(f"ingest_count:{fam}", n == n_live, f"{n} docs, expected {n_live}")
    # re-running the shard lands nothing
    fetcher = gen.ShardFetcher(inputs["shard"], gen.PAGE_SIZE)
    again = pipelines.posts_pipeline(
        spark, fetcher, post_schema(), spark.read.parquet(path["posts"]),
        n_pages=len(fetcher.pages), ts_string_cols=("date_gmt",),
    ).count()
    run.check("ingest_rerun_lands_nothing", again == 0, f"{again} rows landed again")
