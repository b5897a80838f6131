"""Paired parent/change runs of the repository benchmark.

    python tools/perf_pairs.py PARENT_REV --seeds 401 402 403 404 405
        [--workloads export_convert corpus_dedup] [--seconds 10]
        [--trace 0] [--metric NAME ...] [--out runs.jsonl]

Adds a temporary `git worktree` of PARENT_REV (under $TMPDIR), then
for every seed and workload runs the unchanged `perfbench/run.py` once
in the parent checkout and once in this one, alternating which side
goes first from pair to pair so a drifting host load falls on both
sides. It prints, per metric, each side's median [q1, q3], the median
of the per-seed change/parent ratios, the range of `host.steal_pct`
over the runs and each side's failed-op count. The metrics default to
BENCHMARK.json's `end_to_end` names; with `--trace 1` name per-layer
ones with `--metric`. `--out` keeps every run's record (metrics, host
line, failed, cycle times) as one JSON line. The worktree is removed
at exit.
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


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one value is its own
    quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[tuple[dict, dict]],
              metrics: list[str]) -> dict[str, dict]:
    """Per metric over (parent, change) run records: each side's
    quartiles, the median paired change/parent ratio, and how many
    pairs had the metric on both sides. A run that crashed carries no
    metrics and drops out of the pairs it belongs to."""
    out = {}
    for name in metrics:
        both = [(p["metrics"][name], c["metrics"][name]) for p, c in pairs
                if name in p["metrics"] and name in c["metrics"]]
        if not both:
            continue
        par, chg = zip(*both)
        ratios = [c / p for p, c in both if p]
        out[name] = {"parent": quartiles(list(par)),
                     "change": quartiles(list(chg)),
                     "ratio": statistics.median(ratios) if ratios else None,
                     "pairs": len(both)}
    return out


def parse_run(stdout: str) -> dict:
    """One run's record from run.py's output: the metric values of
    the last line, failed ops, steal, the host line (load1, canary)
    and the timed cycles."""
    lines = [json.loads(ln) for ln in stdout.splitlines()
             if ln.startswith("{")]
    rec = {"metrics": {}, "failed": None, "steal_pct": None}
    for obj in lines[:-1]:
        if "host" in obj:
            rec["host"] = obj["host"]
            rec["steal_pct"] = obj["host"]["steal_pct"]
        if "detail" in obj:
            rec["cycles_s"] = obj["detail"]["cycles_s"]
            rec["cycles_cpu_s"] = obj["detail"]["cycles_cpu_s"]
    if lines and "metrics" in lines[-1]:
        last = lines[-1]
        rec["failed"] = last["failed"]
        rec["metrics"] = {k: v["value"] for k, v in last["metrics"].items()}
    return rec


def run_one(checkout: str, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    rec = parse_run(proc.stdout)
    if proc.returncode or rec["failed"] is None:
        sys.stderr.write(proc.stderr[-2000:])
        rec["error"] = f"exit {proc.returncode}"
    return rec


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"


def report(workload: str, pairs: list[tuple[dict, dict]],
           metrics: list[str]) -> None:
    runs = [r for pair in pairs for r in pair]
    steal = [r["steal_pct"] for r in runs if r["steal_pct"] is not None]
    failed = [sum(r["failed"] or 0 for r in side) for side in zip(*pairs)]
    crashed = [sum("error" in r for r in side) for side in zip(*pairs)]
    print(f"== {workload}: {len(pairs)} pairs; steal "
          + (f"{min(steal):.1f}-{max(steal):.1f}%" if steal else "n/a")
          + f"; failed ops parent {failed[0]} change {failed[1]}"
          + f"; crashed runs parent {crashed[0]} change {crashed[1]}")
    for name, s in summarize(pairs, metrics).items():
        ratio = "n/a" if s["ratio"] is None else f"{s['ratio']:.3f}"
        print(f"{name}: parent {fmt(s['parent'])}  change {fmt(s['change'])}"
              f"  paired ratio {ratio}  ({s['pairs']} pairs)")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in contract["workloads"]])
    p.add_argument("--seconds", type=float, default=contract["run_seconds"])
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--metric", action="append", dest="metrics")
    p.add_argument("--out")
    args = p.parse_args(argv)
    metrics = args.metrics or [m["name"] for m in contract["end_to_end"]]

    tmp = tempfile.mkdtemp(prefix="perf_pairs_")
    parent_dir = os.path.join(tmp, "parent")
    out = open(args.out, "a") if args.out else None
    try:
        subprocess.run(["git", "worktree", "add", "--detach", parent_dir,
                        args.parent], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL)
        for workload in args.workloads:
            pairs = []
            for i, seed in enumerate(args.seeds):
                sides = {}
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    checkout = parent_dir if side == "parent" else ROOT
                    rec = run_one(checkout, workload, seed, args.seconds,
                                  args.trace)
                    rec.update(side=side, workload=workload, seed=seed)
                    sides[side] = rec
                    print(f"# {workload} seed {seed} {side}: "
                          + json.dumps({k: rec["metrics"].get(k)
                                        for k in metrics})
                          + f" steal {rec['steal_pct']}", file=sys.stderr)
                    if out:
                        out.write(json.dumps(rec) + "\n")
                        out.flush()
                pairs.append((sides["parent"], sides["change"]))
            report(workload, pairs, metrics)
    finally:
        if out:
            out.close()
        subprocess.run(["git", "worktree", "remove", "--force", parent_dir],
                       cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT)
    return 0


if __name__ == "__main__":
    sys.exit(main())
