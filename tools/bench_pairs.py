"""Run the benchmark in two checkouts as alternating pairs and compare.

    python tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload dms_mixed \
        --seeds 31 32 33 34 35 --seconds 16 [--trace 0] [--out pairs.json]

For each seed, ``perfbench/run.py`` runs once in each checkout with the
same arguments, one after the other; which side runs first alternates
from seed to seed, so a drift of the host's load falls on both sides.
Each run is a fresh process started in its checkout, so each side runs
its own code and its own copy of the benchmark. The last stdout line of
every run (``correct``, ``failed``, ``metrics``) and its report line are
kept.

Printed per metric: each side's median and quartiles, the change/parent
ratio of every pair, and how many pairs the change won (the direction
comes from the ``better`` field of the change's ``BENCHMARK.json``;
ties count for neither). A run that is not ``correct`` or that failed
operations is flagged. ``--out`` also writes every run's output as JSON.

Last, one no-regression verdict per end-to-end metric that has a
``bound`` in ``BENCHMARK.json`` (``verdict``): "within bound", "worse
beyond bound", or "unresolved" when the parent's own quartile spread is
wider than the bound and not every change run beats every parent run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``checkout``: its final JSON line, with the
    report line before it under ``report``."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{' '.join(cmd)} in {checkout} exited {proc.returncode}:\n"
            f"{proc.stderr[-2000:]}"
        )
    out = json.loads(lines[-1])
    out["report"] = json.loads(lines[-2]).get("report", {}) if len(lines) > 1 else {}
    return out


def load_bench(checkout: str) -> dict:
    """``checkout``'s ``BENCHMARK.json``."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench: dict) -> dict[str, str]:
    """Metric name -> "higher" or "lower"."""
    return {
        m["name"]: m["better"]
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """The no-regression verdict on one metric's runs: "worse beyond
    bound" when the change's median is worse than the parent's by more
    than ``bound`` (a fraction of the parent's median); else "unresolved"
    when the distance between the parent's quartiles is more than
    ``bound`` of its median and not every change run is better than
    every parent run; else "within bound". ``better`` is "higher" or
    "lower"."""
    sign = 1 if better == "higher" else -1
    pq1, pm, pq3 = quartiles(parent)
    cm = statistics.median(change)
    if sign * (pm - cm) > bound * abs(pm):
        return "worse beyond bound"
    beats_all = min(sign * c for c in change) > max(sign * p for p in parent)
    if pq3 - pq1 > bound * abs(pm) and not beats_all:
        return "unresolved"
    return "within bound"


def verdicts(runs: dict[str, list[dict]], bench: dict) -> dict[str, str]:
    """``verdict`` of each end-to-end metric of ``bench`` that has a
    ``bound`` and a value in every run of ``runs`` ("parent" and
    "change" lists of run outputs)."""
    out = {}
    for m in bench.get("end_to_end", []):
        name = m["name"]
        if "bound" not in m or not all(
            name in r["metrics"] for side in runs.values() for r in side
        ):
            continue
        p, c = ([r["metrics"][name]["value"] for r in runs[s]] for s in ("parent", "change"))
        out[name] = verdict(p, c, m["better"], m["bound"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            out = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            out["seed"] = seed
            runs[side].append(out)
            flag = "" if out.get("correct") and not out.get("failed") else "  NOT CLEAN"
            print(f"seed {seed} {side}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()
            ) + flag, flush=True)

    bench = load_bench(sides["change"])
    better = directions(bench)
    names = [n for n in runs["change"][0]["metrics"] if n in runs["parent"][0]["metrics"]]
    print(f"\n{args.workload}, {len(args.seeds)} pairs, seeds {args.seeds}")
    for name in names:
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        up = better.get(name) == "higher"
        wins = sum((b > a) if up else (b < a) for a, b in zip(p, c))
        ratios = " ".join(f"{b / a:.3f}" if a else "n/a" for a, b in zip(p, c))
        pq1, pm, pq3 = quartiles(p)
        cq1, cm, cq3 = quartiles(c)
        print(
            f"{name}: parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  "
            f"change {cm:.4g} [{cq1:.4g}, {cq3:.4g}]  "
            f"median ratio {cm / pm if pm else float('nan'):.3f}  "
            f"change wins {wins}/{len(p)} ({better.get(name, '?')} is better)"
        )
        print(f"  per-pair change/parent: {ratios}")
    for name, v in verdicts(runs, bench).items():
        print(f"verdict {name}: {v}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"args": vars(args), "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
