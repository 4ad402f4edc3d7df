"""Checks of the benchmark itself (no Spark session):

    python3 -m pytest varbench -q

The gate must flag a perturbed result and accept a re-rendered one,
the generator must be deterministic in its seed and its malformed rows
really malformed, and BENCHMARK.json must describe the workloads
run.py runs.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import corpus  # noqa: E402
import gate  # noqa: E402
import run  # noqa: E402

COLS = ["event_id", "merged_json", "revenue"]
ROWS = [(1, '{"a": 1, "b": [1, 2]}', 10.5), (2, '{"k": null}', 0.25)]


def test_gate_accepts_same_multiset_in_any_order_and_key_order():
    reordered = [(2, '{"k":null}', 0.25), (1, '{"b": [1, 2], "a": 1}', 10.5)]
    assert gate.compare(COLS, ROWS, COLS, reordered) is None


@pytest.mark.parametrize("perturbed", [
    [(1, '{"a": 1, "b": [1, 2]}', 10.5), (2, '{"k": null}', 0.26)],   # a value
    [(1, '{"a": 1, "b": [2, 1]}', 10.5), (2, '{"k": null}', 0.25)],   # array order in JSON
    [(1, '{"a": 1, "b": [1, 2]}', 10.5), (3, '{"k": null}', 0.25)],   # a key
    [(1, '{"a": 1, "b": [1, 2]}', 10.5)],                              # a missing row
    [(1, '{"a": 1, "b": [1, 2]}', 10.5), (2, '{"k": 0}', 0.25)],      # JSON null vs 0
])
def test_gate_flags_perturbed_result(perturbed):
    assert gate.compare(COLS, ROWS, COLS, perturbed) is not None


def test_gate_flags_renamed_column():
    assert gate.compare(["event_id", "merged", "revenue"], ROWS, COLS, ROWS) is not None


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    return work, corpus.generate(work, seed=7, k=2)


def test_generator_is_deterministic_in_seed(small_corpus, tmp_path):
    work, (d, stats) = small_corpus
    d2, stats2 = corpus.generate(str(tmp_path), seed=7, k=2)
    assert stats == stats2
    for name in ("events", "ingest_raw", "orders"):
        assert pq.read_table(f"{d}/{name}.parquet").equals(pq.read_table(f"{d2}/{name}.parquet"))
    _, stats3 = corpus.generate(str(tmp_path), seed=8, k=2)
    assert stats3["answers"] != stats["answers"]


def test_replicas_keep_keys_disjoint_and_docs_keep_integer_k(small_corpus):
    _, (d, stats) = small_corpus
    orders = pq.read_table(f"{d}/orders.parquet").to_pydict()
    assert len(set(orders["o_orderkey"])) == stats["rows"]["orders"]
    props = pq.read_table(f"{d}/events.parquet").column("props").to_pylist()
    ks = [json.loads(p)["k"] for p in props]
    assert all(isinstance(k, int) and 0 <= k < 100 for k in ks)
    assert stats["doc_shape"]["max_depth"] == 3


def test_malformed_rows_are_invalid_and_counted(small_corpus):
    _, (d, stats) = small_corpus
    raw = pq.read_table(f"{d}/ingest_raw.parquet").column("raw").to_pylist()
    bad = 0
    for text in raw:
        try:
            json.loads(text)
        except ValueError:
            bad += 1
    assert bad == stats["answers"]["ingest"]["n_malformed"]
    assert bad == round(corpus.BASE_ROWS["events"] * corpus.MALFORMED_SHARE) * 2


def test_known_answer_check_flags_perturbed_ingest(small_corpus):
    ops = pytest.importorskip("ops")
    _, (_, stats) = small_corpus
    ctx = ops.Ctx(None, {}, "", stats, "", None)
    good = dict(stats["answers"]["ingest"])
    assert ops.IngestOp().check(ctx, good) is None
    assert ops.IngestOp().check(ctx, {**good, "n_malformed": good["n_malformed"] - 1}) is not None


def test_tail_is_the_interpolated_90th_percentile():
    walls = [float(i) for i in range(30, 0, -1)]
    value, pct, beyond = run.tail(walls)
    assert value == pytest.approx(1 + 0.9 * 29)
    assert (pct, beyond) == (90.0, 3)
    assert run.tail([2.0]) == (2.0, 100.0, 0)


def test_benchmark_json_matches_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (name, w["why"]) for name, w in spec["workloads"].items()
    ]
    for w in spec["workloads"].values():
        assert set(w["ops"]) <= set(spec["op_inputs"])
