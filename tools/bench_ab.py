#!/usr/bin/env python3
"""A/B the repo benchmark between a parent commit and this checkout.

Usage (from the root of a checkout):

    python3 tools/bench_ab.py PARENT --seeds 601,602,603 \
        [--workloads ingest,query] [--seconds S] [--keep]

Exports PARENT's committed files (`git archive`) into a fresh directory
under the system temp dir ($TMPDIR, else /tmp), then, for each seed and
workload, runs `python3 osmbench/run.py --trace 0` once in the parent copy
and once in this checkout, alternating which side runs first: the parent
first on the 1st, 3rd, ... seed, the change first on the others. Each
side builds its own sources on its first run. `--seconds` defaults to
BENCHMARK.json's `run_seconds`.

Prints every run as it finishes, then one row per workload and end-to-end
metric: parent median and quartiles, change median, change/parent ratio
of the medians, and the pairs the change won (ties count for neither
side). Failed ops are summed per side. The tool only reads osmbench/; the
parent copy is deleted at the end unless --keep is given.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def export_parent(commit, dest):
    archive = subprocess.run(["git", "archive", "--format=tar", commit], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout, workload, seed, seconds):
    """One `osmbench/run.py` run in `checkout`; its final JSON line, or None
    after printing the tail of its standard error."""
    proc = subprocess.run(
        [sys.executable, "osmbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.splitlines()[-20:])
        print(f"  run failed in {checkout} (exit {proc.returncode}):\n{tail}", flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--keep", action="store_true", help="keep the parent copy")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",")]
    metrics = spec["end_to_end"]

    parent_dir = tempfile.mkdtemp(prefix="bench_ab-")
    print(f"parent {a.parent} exported to {parent_dir}", flush=True)
    # results[workload][side] = list of (seed, result or None)
    results = {w: {"parent": [], "change": []} for w in workloads}
    try:
        export_parent(a.parent, parent_dir)
        sides = {"parent": parent_dir, "change": ROOT}
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    r = run_once(sides[side], w, seed, seconds)
                    results[w][side].append((seed, r))
                    if r is not None:
                        vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                                        for m in metrics)
                        print(f"{w} seed={seed} {side}: {vals} "
                              f"failed={r['failed']}/{r['attempted']}", flush=True)
    finally:
        if a.keep:
            print(f"parent copy kept at {parent_dir}")
        else:
            shutil.rmtree(parent_dir, ignore_errors=True)

    print()
    print(f"{'workload':10} {'metric':12} {'parent med [q1, q3]':28} {'change med':>10} "
          f"{'chg/par':>8} {'wins':>6}")
    for w in workloads:
        pairs = [(p, c) for (_, p), (_, c) in zip(results[w]["parent"], results[w]["change"])
                 if p is not None and c is not None]
        if not pairs:
            print(f"{w:10} no complete pair")
            continue
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["metrics"][name]["value"] for p, _ in pairs]
            chg = [c["metrics"][name]["value"] for _, c in pairs]
            wins = sum(1 for x, y in zip(par, chg) if (y < x if lower else y > x))
            q1, q3 = quartiles(par)
            pm, cm = statistics.median(par), statistics.median(chg)
            print(f"{w:10} {name:12} {f'{pm:.4g} [{q1:.4g}, {q3:.4g}]':28} {cm:>10.4g} "
                  f"{cm / pm:>8.3f} {f'{wins}/{len(pairs)}':>6}")
        for side in ("parent", "change"):
            runs = [r for _, r in results[w][side] if r is not None]
            failed = sum(r["failed"] for r in runs)
            attempted = sum(r["attempted"] for r in runs)
            missing = len(results[w][side]) - len(runs)
            print(f"{w:10} {side} failed ops {failed}/{attempted}, runs that failed: {missing}")


if __name__ == "__main__":
    main()
