"""``query_sweep``: contract queries over a seeded corpus.

Each pass runs every query of :data:`QUERIES` once, in a seed-permuted
order, with the ``bench.py`` isolation protocol: ``clearCache``, then
``build``, then one execution, here an Arrow collect of the result. One
op is one query's build + execution; one pass is every query once.
After each pass, outside the timed region, each result is checked
against the query's DuckDB oracle. The first pass runs in a fresh JVM,
so it includes JIT compilation, as a new process serving its first
reports does. Which query pays for the JIT of code they share moves
with the order the seed gives, so the bounded figure is the pass's
total CPU, not any one query's.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import gen
from spans import another_round, jvm_memory_mb, median, tail, tree_cpu_s

N_QUERIES = 7  # queries per pass: a cold pass of them takes about 25 s on 4 cores
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_profile.jsonl")


def select_queries(profile: list[dict], n: int) -> dict[str, tuple[str, ...]]:
    """A cross-section of the registry in proportion to measured cost.

    Every plans module gets one pick; the other ``n - 6`` go, one at a
    time, to the module whose share of the profile's CPU most exceeds
    its share of the picks. Within a module the queries are ordered by
    CPU (highest first, then by name), the module's CPU is cut into one
    equal slice per pick, and the query under the middle of each slice
    is taken, so a query is picked in proportion to its cost.
    """
    total = sum(r["cpu_s"] for r in profile)
    mods = sorted({r["module"] for r in profile})
    mod_cpu = {m: sum(r["cpu_s"] for r in profile if r["module"] == m) for m in mods}
    picks = dict.fromkeys(mods, 1)
    while sum(picks.values()) < n:
        m = max(mods, key=lambda m: n * mod_cpu[m] / total - picks[m])
        picks[m] += 1
    out = {}
    for m in mods:
        rows = sorted((r for r in profile if r["module"] == m), key=lambda r: (-r["cpu_s"], r["query"]))
        ends = np.cumsum([r["cpu_s"] for r in rows])
        chosen = []
        for i in range(picks[m]):
            q = rows[int(np.searchsorted(ends, (i + 0.5) * mod_cpu[m] / picks[m], side="right"))]["query"]
            if q not in chosen:
                chosen.append(q)
        out[m] = tuple(chosen)
    return out


def load_profile(path: str = PROFILE) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


QUERIES = select_queries(load_profile(), N_QUERIES)


def run(args, work, tracer, run, spark) -> None:
    import duckdb

    sf_dir = os.path.join(work, "corpus")
    gen.write_corpus(sf_dir, args.seed)

    from tests.oracle import assert_parity, create_duck_views
    from tia_data_pipeline_spark import plans
    from tia_data_pipeline_spark.plans.contract import TEMP_DERIVATION_DIRS

    module_of = {q: m for m, qs in QUERIES.items() for q in qs}
    names = sorted(module_of)

    def one(name: str):
        """clearCache → build → Arrow collect; (build_s, exec_s, table)."""
        q = plans.REGISTRY[name]
        mark = len(TEMP_DERIVATION_DIRS)
        spark.catalog.clearCache()
        mod = module_of[name]
        try:
            a = time.monotonic()
            with tracer.span(f"plans.{mod}.build", "plans"):
                df = q.build(spark, sf_dir)
            b = time.monotonic()
            with tracer.span(f"plans.{mod}.exec", "plans"):
                out = df.toArrow()
            c = time.monotonic()
        finally:
            for d in TEMP_DERIVATION_DIRS[mark:]:
                shutil.rmtree(d, ignore_errors=True)
            del TEMP_DERIVATION_DIRS[mark:]
        return b - a, c - b, out

    con = duckdb.connect()
    create_duck_views(con, sf_dir)
    rows = {}

    # timed passes: whole passes only, so every run times the same mix;
    # the last pass starts only if it should end near --seconds
    rng = np.random.default_rng([args.seed, 3])
    lat, cpu, by_query, build, execs, mod_cpu, op_ids = [], [], {}, {}, {}, {}, []
    passes, pass_cpu = [], []
    cached = 0
    jsc = spark.sparkContext._jsc
    t_meas = time.monotonic()
    while another_round(time.monotonic() - t_meas, len(passes), args.seconds):
        p0, pc0, results = time.monotonic(), tree_cpu_s(), {}
        for name in rng.permutation(names):
            run.ops_attempted += 1
            c0 = tree_cpu_s()
            try:
                with tracer.span(f"query:{name}", "op") as op:
                    b, e, results[name] = one(name)
            except Exception as exc:  # noqa: BLE001 — count, name, go on
                run.ops_failed += 1
                run.detail.setdefault("op_errors", []).append(f"{name}: {str(exc)[:200]}")
                continue
            c1 = tree_cpu_s()
            if op is not None:
                op_ids.append(op.id)
                cached = max(cached, jsc.getPersistentRDDs().size())
            lat.append(b + e)
            cpu.append(c1 - c0)
            by_query.setdefault(name, []).append(b + e)
            build.setdefault(module_of[name], []).append(b)
            execs.setdefault(module_of[name], []).append(e)
            mod_cpu[module_of[name]] = mod_cpu.get(module_of[name], 0.0) + c1 - c0
        # the pass's CPU includes what the JVM does between ops (JIT, GC)
        pass_cpu.append(tree_cpu_s() - pc0)
        passes.append(time.monotonic() - p0)
        for name, got in results.items():
            rows[name] = got.num_rows
            try:
                assert_parity(got, con.sql(plans.REGISTRY[name].oracle), name)
                run.check(f"parity:{name}", True)
            except Exception as exc:  # noqa: BLE001 — a failing check is named, not fatal
                run.check(f"parity:{name}", False, f"{type(exc).__name__}: {str(exc)[:300]}")
    con.close()

    run.values["op_p50_s"] = median(lat)
    run.values["ops_per_s"] = len(lat) / sum(lat)
    run.values["op_cpu_s"] = median(cpu)
    run.values["pass_cpu_s"] = median(pass_cpu)
    run.detail.update(jvm_memory_mb(spark))
    pct, tail_v, n = tail(lat)
    run.detail.update(
        workload="query_sweep",
        queries=QUERIES,
        passes=len(passes),
        pass_s=median(passes),
        query_p50_s=median(lat),
        query_tail_s=tail_v,
        query_tail_pct=pct,
        query_samples=n,
        pass_cpu_by_module_s={m: v / len(passes) for m, v in mod_cpu.items()},
        build_p50_s={m: median(v) for m, v in build.items()},
        exec_p50_s={m: median(v) for m, v in execs.items()},
        result_rows=rows,
        query_latencies_s=by_query,
    )
    run.detail.update({k: run.values[k] for k in ("setup_s", "op_p50_s", "ops_per_s", "op_cpu_s", "pass_cpu_s")})
    if tracer.enabled:
        import layers

        per_pass_rows = sum(rows.values())
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        run.values.update(layers.collect(tracer, op_ids, per_pass_rows * len(passes), cores, cached))

