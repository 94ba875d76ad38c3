"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pytest

import inputs
import measure
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------ percentile support
@pytest.mark.parametrize(
    "n,p,ok",
    [(20, 50, True), (19, 50, False), (100, 90, True), (99, 90, False), (200, 95, True), (199, 95, False)],
)
def test_percentile_needs_ten_samples_beyond_it(n, p, ok):
    assert measure.supported(n, p) is ok


def test_highest_supported_percentile():
    assert measure.highest_supported(19) is None
    assert measure.highest_supported(20) == 50
    assert measure.highest_supported(150) == 90
    assert measure.highest_supported(1000) == 99


def test_percentile_interpolates_between_ranks():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile(xs, 90) == pytest.approx(4.6)
    assert measure.percentile([7.0], 50) == 7.0


def test_spread_uses_statistics_quartiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert measure.spread(xs) == pytest.approx((q3 - q1) / med)


# ---------------------------------------------------- seeds and sequences
SMALL = inputs.Sizes(events=500, documents=50, embeddings=20)


def _same_tables(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _same_tables(inputs.generate(3, SMALL), inputs.generate(3, SMALL))
    assert not _same_tables(inputs.generate(3, SMALL), inputs.generate(4, SMALL))
    c1, p1 = inputs.dedup_corpus(np.random.default_rng(3), 40, 3, 4)
    c2, p2 = inputs.dedup_corpus(np.random.default_rng(3), 40, 3, 4)
    c3, _ = inputs.dedup_corpus(np.random.default_rng(4), 40, 3, 4)
    assert c1.equals(c2) and p1 == p2 and not c1.equals(c3)


def test_written_tables_have_the_fixture_schemas(tmp_path):
    """The schemas of the sf0.1 fixture files, as the README records them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inputs.write_parquet(inputs.generate(1, SMALL), str(tmp_path))
    schema = {n: pq.read_schema(tmp_path / f"{n}.parquet") for n in ("events", "documents", "embeddings")}
    assert [(f.name, f.type) for f in schema["events"]] == [
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]
    assert [(f.name, f.type) for f in schema["documents"]] == [
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]
    assert [(f.name, f.type) for f in schema["embeddings"]] == [
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ]


def test_events_spread_over_one_and_a_half_percent_users():
    ev = inputs.generate(2, inputs.Sizes(events=20_000, documents=1, embeddings=1))["events"]
    assert ev.user_id.min() == 0 and ev.user_id.max() == 299
    assert ev.ts.is_monotonic_increasing


def _first_ops(seed: int, n: int = 40) -> list:
    seq = workloads.SearchMix(seed).ops()
    return [next(seq) for _ in range(n)]


def test_same_seed_same_op_sequence_other_seed_other_sequence():
    assert _first_ops(5) == _first_ops(5)
    assert _first_ops(5) != _first_ops(6)


def test_every_seed_runs_the_same_class_pattern():
    kinds = [op.kind for op in _first_ops(5)]
    assert kinds == [op.kind for op in _first_ops(6)]
    assert kinds[:12] == list(workloads.SearchMix.PATTERN)


def test_corpus_ops_rotate_through_every_query():
    names = [op.args["name"] for op in _first_ops(9, 12 * len(workloads.CORPUS_QUERIES)) if op.kind == "corpus"]
    assert sorted(names) == sorted(workloads.CORPUS_QUERIES)


def test_planted_chains_are_near_duplicates():
    corpus, planted = inputs.dedup_corpus(np.random.default_rng(1), 20, 5, 6)
    assert len(planted) == 5 * 5
    text = dict(zip(corpus.doc_id, corpus.text))
    for a, b in planted:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= 1


# ------------------------------------------------------------ metric names
def test_metric_names_and_units_are_well_formed():
    bench = _bench()
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert measure.METRIC_NAME.fullmatch(name), name
    for m in metrics:
        assert all(c.isalnum() or c in "_/%.-" for c in m["unit"]) and len(m["unit"]) <= 16


def test_per_layer_metrics_match_the_tracer():
    bench = _bench()
    listed = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert listed == tracing.PER_LAYER


def test_invalid_metric_names_are_rejected():
    for bad in ("", "a b", "-lead", "x" * 65, "a/b"):
        assert not measure.METRIC_NAME.fullmatch(bad)


# -------------------------------------------------------- result checks
def test_topk_accepts_any_tied_ids_at_the_cut():
    ref = [(1, 0.9), (2, 0.8), (3, 0.5), (4, 0.5), (5, 0.5), (6, 0.1)]
    assert measure.topk_matches([(1, 0.9), (2, 0.8), (3, 0.5)], ref, 3)
    assert measure.topk_matches([(1, 0.9), (2, 0.8), (5, 0.5)], ref, 3)
    assert measure.topk_matches([(1, 0.9), (2, 0.8 + 1e-12), (4, 0.5)], ref, 3)


def test_topk_rejects_wrong_ids_scores_or_sizes():
    ref = [(1, 0.9), (2, 0.8), (3, 0.5), (4, 0.5), (6, 0.1)]
    assert not measure.topk_matches([(1, 0.9), (6, 0.8), (3, 0.5)], ref, 3)
    assert not measure.topk_matches([(1, 0.9), (2, 0.7), (3, 0.5)], ref, 3)
    assert not measure.topk_matches([(1, 0.9), (2, 0.8)], ref, 3)
    assert not measure.topk_matches([(1, 0.9), (2, 0.8), (6, 0.1)], ref, 3)


def test_canon_hash_ignores_row_and_column_order():
    a = [{"x": 1, "y": 0.1234567}, {"x": 2, "y": 2.0}]
    b = [{"y": 2.0, "x": 2}, {"y": 0.12345671, "x": 1}]
    assert measure.canon_hash(a, ["x", "y"]) == measure.canon_hash(b, ["y", "x"])
    assert measure.canon_hash(a, ["x", "y"]) != measure.canon_hash(a[:1], ["x", "y"])


# ------------------------------------------------------------- the runner
def test_runner_fails_without_the_engine(tmp_path):
    """In a directory with only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    bench = _bench()
    proc = subprocess.run(
        [sys.executable, *bench["command"][1:], "--workload", "search_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
