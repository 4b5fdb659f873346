#!/usr/bin/env python3
"""Paired parent/change runs of perfbench, one table per workload.

Usage:
  python3 tools/perf_pairs.py --parent <rev> --workload <name> --seeds 8101-8110

The parent side is `git archive <rev>` unpacked into a temp dir outside
the repo, removed when the session ends. The change side is the repo's
working tree. Each side runs `perfbench/run.py --seconds 6 --trace 0`
(the benchmark's own run length) from its own checkout, so each builds
and caches its own inputs. Per seed the two sides run back to back, and
which side runs first alternates from seed to seed, so a slow drift of
the host hits both sides alike.

Prints every run as it finishes, then, for each end-to-end metric in
BENCHMARK.json (direction and bound read from there):
  - the median (Q1-Q3) per side and the change of the medians;
  - the median of the per-pair change ratios (change / parent - 1);
  - "change better in k/n" pairs, ties counting for neither side;
  - "gain bar": "met" when the change won at least 9/10 of the pairs
    and the medians differ, in the metric's better direction, by more
    than the parent's IQR (Q3 - Q1), else "not met";
  - "bound": "WORSE" when the change's median is worse than the
    parent's by more than the metric's `bound` (a fraction of the
    parent's median), else "ok".
A run that exits non-zero, prints "correct": false or lacks a metric
counts as failed, and its pair is left out of the table. Exits non-zero
when a run failed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

sys.dont_write_bytecode = True
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def archive(rev):
    """Unpacks `git archive <rev>` into a fresh temp dir."""
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--short", rev], check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = tempfile.mkdtemp(prefix=f"perf_pairs_{sha}_")
    tar = os.path.join(dest, "src.tar")
    subprocess.run(["git", "-C", REPO, "archive", "-o", tar, rev], check=True)
    with tarfile.open(tar) as t:
        t.extractall(dest)
    os.remove(tar)
    return dest


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(root, workload, seed):
    """One perfbench run; returns its last JSON line, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "6", "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.4g}"


def row(metric, ps, cs):
    """One table row for `metric` over the paired values `ps` (parent)
    and `cs` (change)."""
    sign = 1 if metric["better"] == "higher" else -1
    (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
    better = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
    ties = sum(1 for p, c in zip(ps, cs) if c == p)
    rel = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
    ratios = [c / p - 1 for p, c in zip(ps, cs) if p]
    pair_rel = f"{statistics.median(ratios) * 100:+.1f}%" if ratios else "n/a"
    tie_note = f" ({ties} ties)" if ties else ""
    bar = "met" if 10 * better >= 9 * len(ps) and sign * (cm - pm) > p3 - p1 else "not met"
    worse = sign * (pm - cm) > metric["bound"] * abs(pm)
    return (f"| {metric['name']} | {fmt(pm)} ({fmt(p1)}-{fmt(p3)}) | {fmt(cm)} ({fmt(c1)}-{fmt(c3)}) "
            f"| {rel} | {pair_rel} | {better}/{len(ps)}{tie_note} | {bar} "
            f"| {'WORSE' if worse else 'ok'} (±{metric['bound']:g}) |")


def table(metrics, pairs):
    """The markdown table over the correct (parent, change) run pairs."""
    lines = ["| metric | parent median (Q1-Q3) | change median (Q1-Q3) | median change "
             "| median pair change | change better in | gain bar | bound |",
             "|---|---|---|---|---|---|---|---|"]
    if pairs:
        lines += [row(m, [p[m["name"]] for p, _ in pairs], [c[m["name"]] for _, c in pairs])
                  for m in metrics]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent = archive(a.parent)
    try:
        roots = {"parent": parent, "change": REPO}
        for side, root in roots.items():
            print(f"{side}: {root}", flush=True)
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(roots[side], a.workload, seed) or {}
                got = res.get("metrics", {})
                vals = {m["name"]: got[m["name"]]["value"] for m in metrics if m["name"] in got}
                correct = res.get("correct") is True and len(vals) == len(metrics)
                runs[side].append({"seed": seed, "correct": correct, **vals})
                print(json.dumps({"side": side, "seed": seed, "correct": correct, **vals}),
                      flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p["correct"] and c["correct"]]
    print(f"\n{a.workload}: {len(pairs)} pairs, parent {a.parent}, change working tree")
    print(table(metrics, pairs))
    failed = any(not r["correct"] for side in runs.values() for r in side)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
