#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts, for before/after claims.

Usage:
    python3 scripts/perf_pairs.py --parent <checkout> --change <checkout> \
        --workload corpus-pipeline --seeds 61-68,71-74 [--seconds 5]

For each seed it runs `perfbench/run.py --seconds <s> --trace 0` in both
checkouts, one after the other, alternating which side goes first (the
first seed runs the parent first). After each run it reads the raw record
that run.py leaves in `perfbench/.work/last-<workload>-0.json` for the
per-operation step times. It prints one line per run, then per side the
medians of the end-to-end metrics, the parent's interquartile range, how
many pairs the change won on `op_p50_s`, and the median of each step.

`tail_s` is action + publish + readback: the part of a corpus-pipeline
iteration after the report is constructed and planned.

Each side builds its own perfbench classpath on its first run; the
checkouts are only read, never written, apart from perfbench's own
`.work` and `target` directories.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

TAIL = ("action", "publish", "readback")


def parse_seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def step_medians(raw):
    """Median over the run's successful operations of each step's time."""
    ops = [o for o in raw["ops"] if o["ok"]]
    names = sorted({k.split(".")[0] for o in ops for k in o["steps"]})
    med = {}
    for n in names:
        med[n] = statistics.median(
            sum(v for k, v in o["steps"].items() if k == n or k.startswith(n + "."))
            for o in ops)
    if any(n in med for n in TAIL):
        med["tail_s"] = sum(med.get(n, 0.0) for n in TAIL)
    return med


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-3000:])
        raise SystemExit(f"perf_pairs: run failed in {checkout} (seed {seed})")
    last = json.loads(lines[-1])
    with open(os.path.join(checkout, "perfbench", ".work", f"last-{workload}-0.json")) as f:
        raw = json.load(f)
    metrics = {k: v["value"] for k, v in last["metrics"].items()}
    return {"correct": last["correct"], "failed": last["failed"], "metrics": metrics,
            "steps": step_medians(raw)}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 61-68,71-74")
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    results = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds)
            results[side].append(r)
            m, st = r["metrics"], r["steps"]
            print(f"seed {seed} {side:6s} correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={v:.3f}" for k, v in sorted(m.items())) + " | " +
                  " ".join(f"{k}={v:.3f}" for k, v in sorted(st.items())), flush=True)

    par, chg = results["parent"], results["change"]
    print(f"pairs: {len(par)}")
    for k in sorted(par[0]["metrics"]):
        p = [r["metrics"][k] for r in par]
        c = [r["metrics"][k] for r in chg]
        wins = sum(1 for a, b in zip(p, c) if b < a)
        pm, cm = statistics.median(p), statistics.median(c)
        print(f"{k}: median {pm:.3f} -> {cm:.3f} ({100 * (cm - pm) / pm:+.1f} %), "
              f"parent IQR {iqr(p):.3f}, change lower in {wins}/{len(p)}")
    steps = sorted(set(par[0]["steps"]) | set(chg[0]["steps"]))
    for k in steps:
        p = [r["steps"].get(k, 0.0) for r in par]
        c = [r["steps"].get(k, 0.0) for r in chg]
        wins = sum(1 for a, b in zip(p, c) if b < a)
        print(f"step {k}: median {statistics.median(p):.3f} -> {statistics.median(c):.3f}, "
              f"change lower in {wins}/{len(p)}")
    bad = sum(1 for r in par + chg if not r["correct"] or r["failed"])
    print(f"runs not correct or with failed operations: {bad}")


if __name__ == "__main__":
    main()
