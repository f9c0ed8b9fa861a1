#!/usr/bin/env python3
"""Compare the working tree against a parent commit on the repo benchmark
with alternating pairs of runs.

    python3 tools/bench_pairs.py --parent HEAD~1 --workload jsonl_nested \\
        --seed 11 --seconds 15 --pairs 5

The parent commit's files are exported (`git archive`) into a temporary
directory outside the checkout, so the parent side runs exactly what is
committed there, and nothing is registered in the repository's `.git`.
Each pair runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in each tree, parent first in even pairs and the working
tree first in odd ones, so that drift of the host's speed falls on both
sides alike. Each tree builds into its own `.bench_build`.

For every end-to-end metric that BENCHMARK.json declares, the script
prints the parent's median and quartile spread, the working tree's median,
their ratio, on how many pairs the working tree was better, and whether
the ratio stays within the metric's bound in its `better` direction. It
also prints each side's `failed` count. It exits 1 when a bound is
exceeded or a run failed, else 0. It reads BENCHMARK.json and changes
nothing under perfbench/.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export_commit(commit, dest):
    """Writes the files of `commit` into `dest`; returns its full hash."""
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--verify", f"{commit}^{{commit}}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    marker = dest / ".bench_pairs_commit"
    if marker.is_file() and marker.read_text() == sha:
        return sha  # a kept directory from an earlier call: reuse its build
    if marker.is_file():
        shutil.rmtree(dest)  # an export of another commit
    elif dest.exists() and any(dest.iterdir()):
        sys.exit(f"bench_pairs: {dest} is not empty and holds no export; not touching it")
    dest.mkdir(parents=True, exist_ok=True)
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", "--format=tar", sha],
                               stdout=subprocess.PIPE)
    with tarfile.open(fileobj=archive.stdout, mode="r|") as tar:
        tar.extractall(dest, filter="data")
    if archive.wait() != 0:
        sys.exit(f"bench_pairs: git archive {sha} failed")
    marker.write_text(sha)
    return sha


def run_once(tree, workload, seed, seconds):
    """One benchmark run in `tree`; returns its result line as a dict."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        return {"failed": None, "attempted": 0, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, runs, metrics):
    """Prints the comparison for one workload; returns True when it passes."""
    ok = True
    print(f"\n{workload}: {len(runs['parent'])} pairs")
    for side in ("parent", "change"):
        failed = [r["failed"] for r in runs[side]]
        if any(f is None or f > 0 for f in failed):
            ok = False
        print(f"  failed ({side}): {failed}")
    print(f"  {'metric':14s} {'parent':>10s} {'parent IQR':>23s} {'change':>10s} {'ratio':>7s} "
          f"{'better':>7s} {'bound':>6s}  verdict")
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            print(f"  {name:14s} no data")
            ok = False
            continue
        par = statistics.median(p for p, _ in pairs)
        chg = statistics.median(c for _, c in pairs)
        q1, q3 = quartiles([p for p, _ in pairs])
        ratio = chg / par if par else float("inf")
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        passes = ratio <= 1 + bound if lower else ratio >= 1 - bound
        ok &= passes
        iqr = f"{q1:.4g}-{q3:.4g}"
        print(f"  {name:14s} {par:10.4g} {iqr:>23s} {chg:10.4g} {ratio:7.3f} "
              f"{f'{wins}/{len(pairs)}':>7s} {bound:6.2f}  {'ok' if passes else 'WORSE'}"
              f" ({m['better']} is better)")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="commit to compare against, e.g. HEAD~1")
    ap.add_argument("--workload", action="append", required=True,
                    help="a workload named in BENCHMARK.json; repeat for several")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--keep", type=Path,
                    help="export the parent here and keep it (reused when it holds the same "
                         "commit); default: a temporary directory, removed at the end")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    known = {w["name"] for w in bench["workloads"]}
    for w in a.workload:
        if w not in known:
            sys.exit(f"bench_pairs: unknown workload {w}; BENCHMARK.json has {sorted(known)}")

    tmp = None
    if a.keep:
        parent_tree = a.keep.resolve()
        if ROOT in parent_tree.parents or parent_tree == ROOT:
            sys.exit("bench_pairs: --keep must lie outside the checkout")
    else:
        tmp = Path(tempfile.mkdtemp(prefix="bench_pairs-"))
        parent_tree = tmp / "parent"
    try:
        sha = export_commit(a.parent, parent_tree)
        print(f"parent {sha} in {parent_tree}; change = working tree {ROOT}")
        ok = True
        for w in a.workload:
            runs = {"parent": [], "change": []}
            for i in range(a.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    tree = parent_tree if side == "parent" else ROOT
                    res = run_once(tree, w, a.seed, a.seconds)
                    runs[side].append(res)
                    vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                    print(f"  {w} pair {i + 1} {side}: failed={res['failed']} {vals}", flush=True)
            ok &= report(w, runs, bench["end_to_end"])
        sys.exit(0 if ok else 1)
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
