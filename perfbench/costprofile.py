#!/usr/bin/env python3
"""Per-query cost profile of one registry pass, from which ``query_sweep``
picks its queries (``sweep.select_queries``).

    python3 perfbench/costprofile.py > perfbench/registry_profile.jsonl

Run from the repository root; it takes about five minutes on 4 cores.
Every query of the six ``plans`` modules runs except the persisted-index
builders (:data:`INDEX_BUILDERS`), with the sweep's protocol
(``clearCache``, ``build``, Arrow collect), in the sweep's pinned
environment, over the seed-1 corpus. A first pass over a small corpus
warms the JVM; the second pass, at the sweep's corpus size, is the
profile: one JSON line per query with its module, CPU and wall seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# they write or memoize temp indexes at build time, so their cost
# differs from pass to pass; retrieval_serve covers the index layer
INDEX_BUILDERS = {
    "q_embed_incremental", "q_dedup_incremental", "q_simhash_incremental", "q_index_delete",
    "q_takedown", "q_ivf_append", "q_bm25_indexed", "q_bm25_batch",
}


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import run as bench

    work = os.path.join(ROOT, ".perfbench_work", f"profile-{os.getpid()}")
    try:
        bench.pin_env(work)
        import gen
        from spans import tree_cpu_s
        from tia_data_pipeline_spark import session

        spark = session.get_spark(app_name="perfbench-profile", extra_conf=bench.spark_conf(work, False))
        from tia_data_pipeline_spark import plans
        from tia_data_pipeline_spark.plans.contract import TEMP_DERIVATION_DIRS

        names = [n for n in plans.REGISTRY if n not in INDEX_BUILDERS]
        for scale, report in ((0.05, False), (1.0, True)):
            sf_dir = os.path.join(work, f"corpus-{scale}")
            gen.write_corpus(sf_dir, 1, scale=scale)
            for name in names:
                q = plans.REGISTRY[name]
                mark = len(TEMP_DERIVATION_DIRS)
                spark.catalog.clearCache()
                c0, t0 = tree_cpu_s(), time.monotonic()
                try:
                    q.build(spark, sf_dir).toArrow()
                finally:
                    wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
                    for d in TEMP_DERIVATION_DIRS[mark:]:
                        shutil.rmtree(d, ignore_errors=True)
                    del TEMP_DERIVATION_DIRS[mark:]
                if report:
                    module = q.build.__module__.rsplit(".", 1)[-1]
                    print(json.dumps({"query": name, "module": module,
                                      "cpu_s": round(cpu, 2), "wall_s": round(wall, 3)}), flush=True)
    finally:
        bench.stop_spark_and_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    return 0


if __name__ == "__main__":
    sys.exit(main())
