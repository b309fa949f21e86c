"""Interleaved A/B pairs of the repository benchmark between two revisions.

    python3 scripts/ab_pairs.py <rev_a> <rev_b> --workload lookup --pairs 10

Exports each revision with `git archive` into its own temporary
directory, so neither side runs from the working tree, then runs
`perfbench/run.py --trace 0` in both, pair by pair. Pair i runs both sides
with seed `--seed` + i, and alternates which side goes first, so a slow
stretch of a shared host lands on both. A revision is anything
`git archive` takes; `$(git stash create)` names the uncommitted changes
to tracked files.

Prints one line per run (its seed, `correct`, `failed`, the stolen-CPU
share the workload reports, and the end-to-end metrics), then, for every
end-to-end metric of BENCHMARK.json, each side's median and
interquartile range, the change of the medians, and in how many pairs B
was better than A. `--report f1,f2,...` summarizes fields of the
workload's own report line the same way, so a serving change shows which
request kind moved:

    python3 scripts/ab_pairs.py <rev_a> <rev_b> --workload lookup --pairs 10 \
        --report key_lookup_ms_p50,row_lookup_ms_p50,requests_per_s,cpu_ms_per_op

A report field is better higher when it is a rate (its name ends in
`_per_s`), else lower. `--json` also writes every run to a file. Changes
nothing in either revision.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, into: str) -> str:
    """`git archive` of `rev` unpacked into the new directory `into`."""
    os.makedirs(into)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)
    return into


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in `checkout`: its contract line, plus
    the stolen-CPU share from its report line (None when absent)."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        report = json.loads(lines[-2])["report"]
    except (IndexError, ValueError, KeyError):
        tail = (proc.stderr or proc.stdout)[-2000:]
        print(f"run failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
        return {"correct": False, "failed": None, "metrics": {}, "steal": None, "report": {}}
    out["steal"] = report.get("steal_share", report.get("setup_steal_share"))
    out["report"] = report
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(label: str, values: dict[tuple[str, int], float], better: str) -> None:
    """Print each side's median and interquartile range of `values`, keyed
    (side, pair), the change of the medians, and in how many pairs B was
    better than A."""
    by: dict[str, dict[int, float]] = {"A": {}, "B": {}}
    for (side, pair), v in values.items():
        by[side][pair] = v
    if not by["A"] or not by["B"]:
        print(f"  {label}: no values")
        return
    qa, qb = quartiles(sorted(by["A"].values())), quartiles(sorted(by["B"].values()))
    pairs = sorted(set(by["A"]) & set(by["B"]))
    sign = -1 if better == "lower" else 1
    wins = sum(sign * (by["B"][p] - by["A"][p]) > 0 for p in pairs)
    change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
    print(
        f"  {label}: A {qa[1]:.4g} ({qa[0]:.4g}-{qa[2]:.4g})  "
        f"B {qb[1]:.4g} ({qb[0]:.4g}-{qb[2]:.4g})  "
        f"{change:+.1f}%  B better in {wins}/{len(pairs)}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--json", help="write every run to this file")
    ap.add_argument(
        "--report", help="comma-separated fields of the workload's report line to summarize"
    )
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    try:
        sides = {
            "A": export(args.rev_a, os.path.join(tmp, "a")),
            "B": export(args.rev_b, os.path.join(tmp, "b")),
        }
        with open(os.path.join(sides["B"], "BENCHMARK.json")) as fh:
            e2e = json.load(fh)["end_to_end"]
        runs: list[dict] = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = "AB" if i % 2 == 0 else "BA"
            for side in order:
                r = run_once(sides[side], args.workload, seed, args.seconds)
                r.update(pair=i, side=side, seed=seed)
                runs.append(r)
                vals = " ".join(
                    f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                    for m in e2e
                    if m["name"] in r["metrics"]
                )
                steal = "?" if r["steal"] is None else f"{r['steal']:.3f}"
                print(
                    f"pair {i} {side} seed={seed} correct={r['correct']} "
                    f"failed={r['failed']} steal={steal} {vals}",
                    flush=True,
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{args.workload}: {args.rev_a} (A) -> {args.rev_b} (B), {args.pairs} pairs")
    for m in e2e:
        values = {
            (r["side"], r["pair"]): r["metrics"][m["name"]]["value"]
            for r in runs
            if m["name"] in r["metrics"]
        }
        summarize(f"{m['name']} ({m['better']} is better, bound {m['bound']:.0%})",
                  values, m["better"])
    for name in filter(None, (args.report or "").split(",")):
        values = {
            (r["side"], r["pair"]): r["report"][name]
            for r in runs
            if isinstance(r["report"].get(name), (int, float))
        }
        better = "higher" if name.endswith("_per_s") else "lower"
        summarize(f"report {name} ({better} is better)", values, better)
    ok = all(r["correct"] and r["failed"] == 0 for r in runs)
    print(f"  every run correct with 0 failed: {ok}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
