"""tools/bench_pairs.py's no-regression verdicts, on canned run outputs."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "bench_pairs.py",
)
_spec = importlib.util.spec_from_file_location("bench_pairs", _PATH)
bench_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_pairs)

_BENCH = {
    "end_to_end": [
        {"name": "setup_s", "better": "lower", "bound": 0.25},
        {"name": "work_per_s", "better": "higher", "bound": 0.25},
        {"name": "no_bound", "better": "higher"},
    ],
    "per_layer": [{"name": "dms.store.download.p50_ms", "better": "lower"}],
}


def _runs(**sides: dict[str, list[float]]) -> dict[str, list[dict]]:
    """Run outputs as ``perfbench/run.py`` prints them, one per value."""
    out = {}
    for side, metrics in sides.items():
        n = len(next(iter(metrics.values())))
        out[side] = [
            {
                "correct": True,
                "failed": 0,
                "metrics": {k: {"value": v[i]} for k, v in metrics.items()},
            }
            for i in range(n)
        ]
    return out


@pytest.mark.parametrize(
    "parent, change, better, want",
    [
        # narrow spread, change 10% worse: inside the bound
        ([100, 101, 99, 100, 102], [90, 91, 89, 90, 92], "higher", "within bound"),
        ([10, 10.1, 9.9, 10, 10.2], [11, 11.1, 10.9, 11, 11.2], "lower", "within bound"),
        # 30% worse at the median
        ([100, 101, 99, 100, 102], [70, 71, 69, 70, 72], "higher", "worse beyond bound"),
        ([10, 10.1, 9.9, 10, 10.2], [13, 13.1, 12.9, 13, 13.2], "lower", "worse beyond bound"),
        # the parent's quartiles are 60 apart, over 0.25 of its median 100
        ([40, 70, 100, 130, 160], [95, 100, 105, 98, 101], "higher", "unresolved"),
        # ... unless every change run beats every parent run
        ([40, 70, 100, 130, 160], [170, 180, 175, 190, 171], "higher", "within bound"),
        ([4, 7, 10, 13, 16], [3, 2, 3.5, 2.5, 1], "lower", "within bound"),
        # a tie with the parent's best run does not beat it
        ([40, 70, 100, 130, 160], [160, 180, 175, 190, 171], "higher", "unresolved"),
    ],
)
def test_verdict(parent, change, better, want):
    assert bench_pairs.verdict(parent, change, better, 0.25) == want


def test_verdicts_cover_bounded_end_to_end_metrics_only():
    runs = _runs(
        parent={
            "setup_s": [15.0, 15.5, 14.8, 15.2],
            "work_per_s": [70.0, 75.0, 72.0, 74.0],
            "no_bound": [1.0, 1.0, 1.0, 1.0],
            "dms.store.download.p50_ms": [2.0, 2.1, 2.2, 2.0],
        },
        change={
            "setup_s": [20.0, 21.0, 20.5, 19.5],
            "work_per_s": [73.0, 74.0, 71.0, 75.0],
            "no_bound": [9.0, 9.0, 9.0, 9.0],
            "dms.store.download.p50_ms": [9.0, 9.1, 9.2, 9.0],
        },
    )
    assert bench_pairs.verdicts(runs, _BENCH) == {
        "setup_s": "worse beyond bound",
        "work_per_s": "within bound",
    }


def test_verdicts_skip_a_metric_some_run_lacks():
    runs = _runs(
        parent={"setup_s": [15.0, 15.5], "work_per_s": [70.0, 75.0]},
        change={"setup_s": [15.0, 15.2], "work_per_s": [70.0, 71.0]},
    )
    del runs["change"][1]["metrics"]["work_per_s"]
    assert bench_pairs.verdicts(runs, _BENCH) == {"setup_s": "within bound"}
