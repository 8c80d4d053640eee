"""Self-checks for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import sys

import numpy as np
import pytest

import datagen
import metrics
import stats
from dms_model import OPS, ROUND_MIX, Op, StoreModel, op_rounds
from tracing import Tracer, layer_of
from workloads import WORKLOADS, _tfidf_expect, semdedup_ok, units

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
NAMES = [f"n{i}" for i in range(50)]


def _take(seed: int, rounds: int) -> list[Op]:
    gen = op_rounds(seed, NAMES, datagen.VOCAB, datagen.WORDS)
    return [op for r in itertools.islice(gen, rounds) for op in r]


def test_op_rounds_same_seed_same_sequence():
    assert _take(7, 5) == _take(7, 5)
    assert _take(7, 5) != _take(8, 5)


def test_op_rounds_every_round_has_the_exact_mix():
    for r in itertools.islice(op_rounds(3, NAMES, datagen.VOCAB, datagen.WORDS), 20):
        counts = [sum(op.kind == k for op in r) for k in OPS]
        assert counts == list(ROUND_MIX)


def test_op_rounds_names_are_skewed():
    ops = [op for op in _take(11, 50) if op.name]
    top = max(sum(op.name == n for op in ops) for n in NAMES)
    assert top > 4 * len(ops) / len(NAMES)


def test_model_preload_orders_versions_by_length_then_content():
    m = StoreModel()
    m.preload([("a", b"bbb"), ("a", b"aa"), ("a", b"abc"), ("b", b"x")])
    assert m.live["a"] == {1: b"aa", 2: b"abc", 3: b"bbb"}
    assert m.versions("b") == [1]


def test_model_versions_never_reuse_tombstones_until_compaction():
    m = StoreModel()
    m.preload([("a", b"1"), ("a", b"22")])
    assert m.delete("a") is True  # deletes v2
    assert m.download("a") == b"1"
    assert m.upload("a", b"new") == 3  # v2 is tombstoned, not reused
    assert m.delete("a") and m.delete("a")
    assert m.delete("a") is False
    assert m.download("a") is None and m.versions("a") == []
    m.compact()
    assert m.upload("a", b"again") == 1


def test_model_meta_and_search():
    m = StoreModel()
    m.preload([("a", b"spark join spark"), ("b", b"join"), ("c", b"scan")])
    meta = {"sha256": hashlib.sha256(b"spark join spark").hexdigest(), "length": "16"}
    assert m.meta_ok("a", meta)
    assert not m.meta_ok("a", dict(meta, length="15"))
    assert m.meta_ok("zzz", None)
    assert m.search("spark join") == [("a", 1, 3), ("b", 1, 1)]
    assert m.search("join", k=1) == [("a", 1, 1)]


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 99) == 99
    assert stats.percentile([5.0], 99.9) == 5.0


@pytest.mark.parametrize(
    "n, pct", [(9, None), (39, None), (50, 75.0), (200, 95.0), (1000, 99.0), (20000, 99.9)]
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    got = stats.tail([float(i) for i in range(n)])
    assert (got[0] if got else None) == pct
    if got:
        assert n - sum(v <= got[1] for v in range(n)) >= stats.TAIL_MIN_BEYOND


def test_unstolen_takes_out_the_stolen_share():
    assert stats.unstolen(2.0, 75, 25) == pytest.approx(1.5)
    assert stats.unstolen(2.0, 100, 0) == 2.0
    assert stats.unstolen(0.004, 0, 0) == 0.004  # shorter than a clock tick
    busy, steal = stats.cpu_jiffies()
    assert busy > 0 and steal >= 0


def test_units_depend_on_the_budget_alone():
    assert units(16, 4.0) == 4
    assert units(16, 20.0) == 1
    assert units(1, 20.0) == 1
    assert units(60, 20.0) == 3


def test_op_rounds_uploads_have_the_corpus_shape():
    ups = [op for op in _take(5, 50) if op.kind == "upload"]
    lengths = [len(op.payload.split()) for op in ups]
    assert min(lengths) >= datagen.WORDS[0] and max(lengths) <= datagen.WORDS[1]
    assert all(set(op.payload.decode().split()) <= set(datagen.VOCAB) for op in ups)


def test_semdedup_ok_rejects_broken_results():
    cols = ["vec_id", "cell", "component", "keep", "digest"]
    rows = [(0, 0, 0, True, "d"), (1, 0, 0, False, "d"), (2, 1, 2, True, "d")]
    assert semdedup_ok(cols, rows, 3, 2)
    assert not semdedup_ok(cols, rows, 4, 2)  # a row missing
    assert not semdedup_ok(cols[:4], [r[:4] for r in rows], 3, 2)  # no digest column
    assert not semdedup_ok(cols, rows, 3, 1)  # more cells than k
    assert not semdedup_ok(cols, [rows[0], (1, 0, 0, True, "d"), rows[2]], 3, 2)  # two survivors
    assert not semdedup_ok(cols, [rows[0], (1, 1, 0, False, "d"), rows[2]], 3, 2)  # split component
    assert not semdedup_ok(cols, rows[:2] + [(2, 1, 2, True, "e")], 3, 2)  # two digests


def test_corpus_has_the_fixture_near_duplicate_share():
    texts = datagen.document_texts(np.random.default_rng(1), 4000)
    dups = [t for t in texts if t.endswith(" dup")]
    assert 0.04 < len(dups) / len(texts) < 0.06
    # a copy's source may itself have become a copy, as in the fixture
    found = sum(t[: -len(" dup")] in set(texts) for t in dups)
    assert found > 0.9 * len(dups)


def test_self_time_subtracts_children():
    tr = Tracer(True, "t")
    tr.spans = [
        {"id": 0, "name": "bench.loop", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "dms.store.upload", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "queries.q6", "parent": 0, "start": 5.0, "end": 9.0},
    ]
    own = tr.self_times()
    assert own["bench"] == pytest.approx(3.0)
    assert own["dms.store"] == pytest.approx(3.0)
    assert own["queries"] == pytest.approx(4.0)
    assert layer_of("search.index.tfidf_search") == "search.index"
    assert layer_of("dms.extract.extract_metadata") == "dms.extract"


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("dms.store.download", job_group=True):
        pass
    assert tr.spans == [] and tr.groups == {}


def test_tfidf_expect_accepts_exact_and_rejects_wrong():
    texts = {"d1": "spark spark join", "d2": "join scan", "d3": "scan"}
    # idf(spark) = ln 3, idf(join) = ln 1.5
    good = [("d1", 2.6027), ("d2", 0.4055)]
    assert _tfidf_expect(texts, "spark join", good, 10)
    assert not _tfidf_expect(texts, "spark join", good[::-1], 10)
    assert not _tfidf_expect(texts, "spark join", good[:1], 10)
    assert _tfidf_expect(texts, "spark join", good[:1], 1)


def test_datagen_is_seeded_and_matches_the_catalog():
    from dmshadoop_spark.catalog import TABLES

    a, b = datagen.tables(5, 0.001), datagen.tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(datagen.tables(6, 0.001)["documents"])
    assert set(a) == set(TABLES)
    assert datagen.tables(5, 0.001, ["documents"])["documents"].equals(a["documents"])


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: (u, b) for k, (u, b, _moves) in metrics.LAYER.items()
    }
    assert len(metrics.LAYER) <= 128
