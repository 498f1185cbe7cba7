"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import pickle

import pytest

import gen
import run
import sweep
from spans import Span, Tracer, another_round, median, self_times, tail, union_length

HERE = os.path.dirname(os.path.abspath(__file__))


def _corpus_bytes(tmp_path, seed: int, sub: str) -> dict[str, bytes]:
    d = tmp_path / sub
    gen.write_corpus(str(d), seed)
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    a = _corpus_bytes(tmp_path, 7, "a")
    b = _corpus_bytes(tmp_path, 7, "b")
    assert set(a) == {f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")}
    assert a == b


def test_other_seed_gives_other_corpus(tmp_path):
    a = _corpus_bytes(tmp_path, 7, "a")
    b = _corpus_bytes(tmp_path, 8, "b")
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert a[f"{name}.parquet"] != b[f"{name}.parquet"], name


def _serve_bytes(tmp_path, seed: int, sub: str) -> bytes:
    inputs = gen.serve_inputs(seed)
    d = tmp_path / sub
    gen.write_serve_corpus(str(d), inputs)
    files = sorted(p for p in d.rglob("*.parquet"))
    blob = b"".join(p.read_bytes() for p in files)
    return blob + pickle.dumps(
        (inputs["shard"], inputs["takedown"].tolist(),
         [(k, p.tolist() if k == "ann" else p) for k, p in inputs["requests"]])
    )


def test_serve_inputs_are_a_function_of_the_seed(tmp_path):
    assert _serve_bytes(tmp_path, 3, "a") == _serve_bytes(tmp_path, 3, "b")
    assert _serve_bytes(tmp_path, 3, "a") != _serve_bytes(tmp_path, 4, "c")


def test_shard_carries_near_duplicate_and_redelivery_shares():
    inputs = gen.serve_inputs(5)
    recs = inputs["shard"]
    first = inputs["first_shard_id"]
    redelivered = [r for r in recs if r["id"] < first]
    assert len(recs) == gen.SHARD_DOCS
    assert len(redelivered) == int(gen.SHARD_DOCS * gen.REDELIVERY_SHARE)
    history = [h.split() for h in inputs["texts"]]

    def near_duplicate(words):  # one substituted word at most
        return any(len(h) == len(words) and sum(a != b for a, b in zip(h, words)) <= 1 for h in history)

    near = [r for r in recs if r["id"] >= first and near_duplicate(r["content"].split())]
    assert len(near) >= int(gen.SHARD_DOCS * gen.NEAR_DUP_SHARE)
    kinds = [k for k, _ in inputs["requests"]]
    assert kinds.count("ann") == kinds.count("bm25") == gen.N_REQUESTS // 2


def test_shard_fetcher_pages_and_pickles():
    recs = [{"id": i} for i in range(7)]
    f = pickle.loads(pickle.dumps(gen.ShardFetcher(recs, 3)))
    assert [len(f(p)) for p in (1, 2, 3, 4)] == [3, 3, 1, 0]
    assert f(0) == []


def test_tail_rule():
    xs = list(range(1, 101))  # 1..100
    assert tail(xs) == (90.0, 90, 100)  # ten samples (91..100) beyond it
    assert tail(list(range(11))) == (round(100 / 11, 2), 0, 11)
    assert tail(list(range(10))) == (None, None, 10)  # too few samples
    assert tail([5.0] * 30)[1] == 5.0


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_arithmetic():
    # root [0,10]: child a [1,4] with grandchild [2,3]; child b [3,6]
    # overlapping a; child c runs past the root's end and is clipped
    spans = [
        Span(0, None, "op", "op", 0.0, 10.0),
        Span(1, 0, "a", "streaming", 1.0, 4.0),
        Span(2, 1, "g", "operators", 2.0, 3.0),
        Span(3, 0, "b", "plans", 3.0, 6.0),
        Span(4, 0, "c", "plans", 9.0, 11.0),
    ]
    t = Tracer(enabled=True)
    t.spans = spans
    st = self_times(spans, t.children())
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert t.root_of() == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_self_times_sum_to_wall_for_nested_spans():
    t = Tracer(enabled=True)
    with t.span("op", "op"):
        with t.span("x", "plans"):
            with t.span("y", "operators"):
                pass
        with t.span("z", "streaming"):
            pass
    st = self_times(t.spans, t.children())
    root = t.spans[0]
    assert sum(st.values()) == pytest.approx(root.end - root.start)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op", "op") as s:
        assert s is None
    assert t.spans == []


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_another_round_stops_near_the_deadline():
    assert another_round(0.0, 0, 10.0)  # the first round always runs
    assert another_round(4.0, 1, 10.0)  # 4 + 2 < 10
    assert not another_round(8.0, 2, 10.0)  # 8 + 2 == 10: would overrun


def test_select_queries_is_proportional_to_cost():
    profile = [
        {"query": "q1", "module": "a", "cpu_s": 4.0},
        {"query": "q2", "module": "a", "cpu_s": 1.0},
        {"query": "q3", "module": "a", "cpu_s": 1.0},
        {"query": "q4", "module": "b", "cpu_s": 2.0},
    ]
    # a holds 3/4 of the CPU, so it takes the third pick; its slices
    # [0, 3) and [3, 6) have midpoints 1.5 (under q1) and 4.5 (under q2)
    assert sweep.select_queries(profile, 3) == {"a": ("q1", "q2"), "b": ("q4",)}
    assert sweep.select_queries(profile, 2) == {"a": ("q1",), "b": ("q4",)}
    # a takes all four extra picks; q1 lies under three of the five
    # midpoints (0.6, 1.8, 3.0) and is picked once
    assert sweep.select_queries(profile, 6)["a"] == ("q1", "q2", "q3")


def test_sweep_queries_cover_every_plans_module():
    assert set(sweep.QUERIES) == set(run.PLAN_MODULES)
    picked = [q for qs in sweep.QUERIES.values() for q in qs]
    assert len(picked) == len(set(picked)) <= sweep.N_QUERIES
    assert set(picked) <= {r["query"] for r in sweep.load_profile()}
