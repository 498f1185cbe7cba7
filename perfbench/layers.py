"""Per-layer attribution for the traced run.

:func:`install` wraps the engine's public entry points in spans. It
must run before ``plans`` or ``streaming`` is imported: those modules
bind ``load_table``, ``ivf_read_centers`` and friends by name at import
time, so only a wrapper already on the module attribute is seen.
:func:`collect` turns the spans, the Spark UI's job list and the index
directories into the per-layer metrics named in ``run.per_layer_units``.
"""

from __future__ import annotations

import importlib
import os

from spans import Tracer, engine_by_root, median, self_times

_PKG = "tia_data_pipeline_spark"

# (module, attribute, layer, span name); the order matters: operator
# wrappers go on before streaming/plans import the operator names
WRAPS = (
    ("session", "get_spark", "session", "session.get_spark"),
    ("catalog", "load_table", "catalog", "catalog.load_table"),
    ("operators.text_index", "bm25_search_batch", "operators", "operators.text_index.bm25_search_batch.build"),
    ("operators.text_index", "read_corpus_stats", "operators", "operators.side_table"),
    ("operators.similarity", "ivf_read_centers", "operators", "operators.side_table"),
    ("operators.similarity", "ivf_index_meta", "operators", "operators.side_table"),
    ("operators.text_index", "text_index_delete", "operators", "operators.text.index_delete"),
    ("operators.similarity", "ivf_index_delete", "operators", "operators.ivf.index_delete"),
    ("operators.text_index", "text_index_compact", "operators", "operators.text.index_compact"),
    ("operators.similarity", "ivf_index_compact", "operators", "operators.ivf.index_compact"),
    ("operators.similarity", "ivf_build_index", "operators", "operators.ivf_build_index"),
    ("operators.similarity", "ivf_write_index", "operators", "operators.ivf_write_index"),
    ("operators.text_index", "build_text_index", "operators", "operators.build_text_index"),
    ("pipelines", "posts_pipeline", "pipelines", "pipelines.posts_pipeline.build"),
    ("streaming.ann_serve", "ann_search_batch", "streaming", "streaming.ann_search_batch"),
    ("streaming.ann_serve", "ivf_append_batch", "streaming", "streaming.ivf_append_batch"),
    ("streaming.text_serve", "bm25_topk_batch", "streaming", "streaming.bm25_topk_batch"),
    ("streaming.text_serve", "text_index_append_batch", "streaming", "streaming.text_index_append_batch"),
)


def install(tracer: Tracer) -> None:
    for mod, attr, layer, name in WRAPS:
        tracer.wrap(importlib.import_module(f"{_PKG}.{mod}"), attr, layer, name)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers are not data files."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n == "_SUCCESS":
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def collect(tracer: Tracer, op_ids: list[int], results: int, cores: int, cached_rdds: int) -> dict:
    """Per-layer values from the spans of the measured ops ``op_ids``
    (root spans) plus whole-run spans for setup-phase functions."""
    spans = tracer.spans
    roots = tracer.root_of()
    in_ops = set(op_ids)
    out: dict[str, float] = {}

    def stat(name: str, within_ops: bool = False):
        ds = [s.end - s.start for s in spans if s.name == name and (not within_ops or roots[s.id] in in_ops)]
        return len(ds), (sum(ds) / len(ds) if ds else 0.0)

    # the first call launches the JVM; the repeated set-ups follow it
    out["session.get_spark_s"] = median([s.end - s.start for s in spans if s.name == "session.get_spark"][1:])
    n, mean = stat("catalog.load_table", within_ops=True)
    out["catalog.load_table.calls"], out["catalog.load_table_s"] = n, mean
    for name in {s.name for s in spans}:
        parts = name.split(".")
        if parts[0] == "plans":
            out[f"{name}_s"] = stat(name, within_ops=True)[1]
        elif parts[0] == "pipelines":
            out[f"{name}_s"] = stat(name)[1]
        elif parts[0] == "streaming":
            n, mean = stat(name)
            out[f"{name}_s"], out[f"{name}.calls"] = mean, n
        elif parts[0] == "operators" and name != "operators.side_table":
            key = "operators.text_index.bm25_search_batch.build_s" if "bm25" in name else f"{name}_s"
            out[key] = stat(name)[1]
    requests = [i for i in op_ids if spans[i].name.startswith("request:")]
    if requests:
        side = stat("operators.side_table", within_ops=True)[0]
        out["operators.side_table_reads_per_request"] = side / len(requests)

    # self time by layer, per measured op
    kids = tracer.children()
    selfs = self_times(spans, kids)
    wall = sum(spans[i].end - spans[i].start for i in op_ids)
    total_self = 0.0
    for s in spans:
        if roots[s.id] in in_ops:
            layer = s.layer
            out[f"self.{layer}_s"] = out.get(f"self.{layer}_s", 0.0) + selfs[s.id] / len(op_ids)
            total_self += selfs[s.id]
    out["trace.self_over_wall"] = total_self / wall if wall else 0.0
    out["trace.op_p50_s"] = median([spans[i].end - spans[i].start for i in op_ids])

    # engine counters, per measured op
    per = engine_by_root(tracer.sc, tracer, cores)
    tot: dict[str, float] = {}
    for i in op_ids:
        for k, v in per.get(i, {}).items():
            tot[k] = tot.get(k, 0.0) + v
    for k, v in tot.items():
        out[f"engine.{k}"] = v / len(op_ids)
    out["engine.input_records_per_result"] = tot.get("input_records", 0.0) / results if results else 0.0
    out["engine.cached_rdds"] = cached_rdds
    return out
