"""Alternating parent/change pairs of the repository benchmark.

    python tools/bench_pairs.py --ref HEAD~1 --workload nightly_small --seed 3 --pairs 10
    python tools/bench_pairs.py --ref HEAD --aa --workload query_mix --seed 3 --pairs 10

Runs ``perfbench/run.py`` (``--trace 0``) ``--pairs`` times on each
side, alternating which side goes first. The change side is this
checkout; the parent side is the committed files of ``--ref``,
exported with ``git archive`` into a temporary directory (the same
files a clean checkout of the ref holds). With ``--aa`` both sides are
fresh exports of ``--ref`` (an A/A test: any verdict other than NO
CLAIM is bias of the method, not a gain). Only the JSON line each run
prints last on stdout is read; nothing under ``perfbench/`` is edited.

The run length is BENCHMARK.json's ``run_seconds``. Prints every run,
then per end-to-end metric each side's median and quartiles, the
number of pairs the change won and the verdict of the claim rule: a
gain counts only over at least 10 pairs, if the change wins at least 9
in 10 of them (ties count for neither side) and the medians differ by
more than the parent's interquartile range. The wins are also counted
by which side ran first in the pair, so a run-order effect shows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_ref(ref: str, dest: str) -> None:
    """The committed files of ``ref`` under ``dest``."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", ref],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, args, seconds: int) -> dict:
    """One benchmark run in ``tree``; its stdout JSON result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"benchmark run in {tree} exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], lower_is_better: bool) -> tuple[int, bool]:
    """Pairs the change won, and whether the claim rule holds (never
    over fewer than 10 pairs)."""
    sign = 1 if lower_is_better else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    gap = sign * (pm - statistics.median(change))
    return wins, len(parent) >= 10 and wins >= 0.9 * len(parent) and gap > p3 - p1


def order_wins(parent: list[float], change: list[float], firsts: list[str],
               lower_is_better: bool) -> dict[str, tuple[int, int]]:
    """Per side that ran first: (pairs the change won, pairs)."""
    sign = 1 if lower_is_better else -1
    out = {"change": [0, 0], "parent": [0, 0]}
    for p, c, first in zip(parent, change, firsts):
        out[first][0] += sign * (p - c) > 0
        out[first][1] += 1
    return {k: (w, n) for k, (w, n) in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", required=True, help="git ref of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--aa", action="store_true",
                    help="run two fresh exports of --ref against each other")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="bench_pairs-")
    try:
        trees = {"parent": os.path.join(tmp, "parent"), "change": ROOT}
        if args.aa:
            trees["change"] = os.path.join(tmp, "change")
        for tree in trees.values():
            if tree != ROOT:
                os.makedirs(tree)
                export_ref(args.ref, tree)
        results: dict[str, list[dict]] = {"parent": [], "change": []}
        firsts: list[str] = []
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            firsts.append(order[0])
            for side in order:
                res = run_once(trees[side], args, bench["run_seconds"])
                results[side].append(res)
                values = " ".join(
                    f"{n}={m['value']:.3f}" for n, m in sorted(res["metrics"].items())
                )
                print(f"pair {i + 1:2d} {side:6s} correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} {values}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cpus = len(os.sched_getaffinity(0))
    all_correct = all(r["correct"] for side in results.values() for r in side)
    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, {cpus} cpus, "
          f"{'A/A: both sides ' + args.ref if args.aa else 'parent ' + args.ref}, "
          f"every run correct: {all_correct}")
    for name in sorted(better):
        values = {
            side: [r["metrics"][name]["value"] for r in results[side]] for side in results
        }
        for side, xs in values.items():
            q1, med, q3 = quartiles(xs)
            print(f"{name:10s} {side:6s} median {med:.3f}  q1 {q1:.3f}  q3 {q3:.3f}  "
                  f"iqr {q3 - q1:.3f}")
        wins, claimed = verdict(values["parent"], values["change"], better[name] == "lower")
        med_p, med_c = statistics.median(values["parent"]), statistics.median(values["change"])
        print(f"{name:10s} change won {wins}/{args.pairs} pairs; median {med_p:.3f} -> "
              f"{med_c:.3f} ({(med_c - med_p) / med_p:+.1%}); verdict: "
              f"{'GAIN' if claimed and all_correct else 'NO CLAIM'}")
        by_order = order_wins(values["parent"], values["change"], firsts,
                              better[name] == "lower")
        print(f"{name:10s} change won {by_order['change'][0]}/{by_order['change'][1]} "
              f"pairs it ran first, {by_order['parent'][0]}/{by_order['parent'][1]} "
              f"pairs it ran second")
    return 0


if __name__ == "__main__":
    sys.exit(main())
