#!/usr/bin/env python3
"""A/B the repo benchmark between a parent commit and this checkout.

Usage (from the root of a checkout):

    python3 tools/bench_ab.py PARENT --seeds 601,602,603 \
        [--workloads ingest,query] [--seconds S] [--keep] [--claim METRIC@WORKLOAD]

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
side). An end-to-end metric whose change median is worse than the parent
median by more than its `bound` in BENCHMARK.json (a fraction of the
parent median) is marked WORSE. Then the same per op (e.g. `planet`,
`changesets`, `diffApply`), over each run's median latency of that op: the
`per_op.<op>.p50_s` of the stamped record the run names with
`record=osmbench/records/...`; ops carry no bound. Failed ops are summed
per side. The tool only reads osmbench/; the parent copy is deleted at the
end unless --keep is given.

Ends with a verdict line and exits 1 when any metric is marked WORSE, when
the change side has more failed ops than the parent side, or when a
change-side run failed; else exits 0.

`--claim pass_s@ingest` also judges a claimed gain on one end-to-end
metric of one workload: CLAIM MET when the change wins at least nine
tenths of the pairs (ties count for neither side) and its median is
better than the parent's by more than the parent's quartile distance
(q3 - q1); else CLAIM NOT MET, and the exit code is 1.
"""
import argparse
import json
import os
import re
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
    result = json.loads(lines[-1])
    result["per_op"] = per_op_medians(checkout, proc.stdout)
    return result


def per_op_medians(checkout, stdout):
    """{op: median latency in s} from the record named by `record=` on stdout."""
    m = re.search(r" record=(osmbench/records/\S+\.json)", stdout)
    if not m:
        return {}
    with open(os.path.join(checkout, m.group(1))) as f:
        per_op = json.load(f).get("per_op", {})
    return {op: v["p50_s"] for op, v in per_op.items() if v.get("p50_s") is not None}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def judge_claim(par, chg, lower=True):
    """(met, reason) for a claimed gain: the change wins >= 9/10 of the
    pairs and the medians differ, in its favour, by more than the parent's
    quartile distance."""
    n = len(par)
    wins = sum(1 for x, y in zip(par, chg) if (y < x if lower else y > x))
    q1, q3 = quartiles(par)
    gain = statistics.median(par) - statistics.median(chg)
    if not lower:
        gain = -gain
    met = n > 0 and 10 * wins >= 9 * n and gain > q3 - q1
    return met, (f"{wins}/{n} pairs won (need 9/10), median gain {gain:.4g} "
                 f"against parent quartile distance {q3 - q1:.4g}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--keep", action="store_true", help="keep the parent copy")
    ap.add_argument("--claim", help="METRIC@WORKLOAD whose gain is claimed, e.g. pass_s@ingest")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",")]
    metrics = spec["end_to_end"]
    claim = None
    if a.claim:
        name, _, wl = a.claim.partition("@")
        claim = next((m for m in metrics if m["name"] == name), None)
        if claim is None or wl not in workloads:
            ap.error(f"--claim {a.claim}: no end-to-end metric {name!r} on a run workload")
        claim_workload = wl

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
    print(f"{'workload':10} {'metric':16} {'parent med [q1, q3]':28} {'change med':>10} "
          f"{'chg/par':>8} {'wins':>6}")
    problems = []
    for w in workloads:
        pairs = [(p, c) for (_, p), (_, c) in zip(results[w]["parent"], results[w]["change"])
                 if p is not None and c is not None]
        if not pairs:
            print(f"{w:10} no complete pair")
        def row(name, par, chg, lower=True, bound=None):
            wins = sum(1 for x, y in zip(par, chg) if (y < x if lower else y > x))
            q1, q3 = quartiles(par)
            pm, cm = statistics.median(par), statistics.median(chg)
            worse = bound is not None and (cm > pm * (1 + bound) if lower
                                           else cm < pm * (1 - bound))
            if worse:
                problems.append(f"{w} {name} {cm:.4g} against {pm:.4g} (bound {bound})")
            print(f"{w:10} {name:16} {f'{pm:.4g} [{q1:.4g}, {q3:.4g}]':28} {cm:>10.4g} "
                  f"{cm / pm:>8.3f} {f'{wins}/{len(pairs)}':>6}{'  WORSE' if worse else ''}")

        for m in metrics if pairs else []:
            name = m["name"]
            row(name, [p["metrics"][name]["value"] for p, _ in pairs],
                [c["metrics"][name]["value"] for _, c in pairs], m["better"] == "lower",
                m.get("bound"))
        ops = sorted(set.intersection(*(set(p["per_op"]) & set(c["per_op"]) for p, c in pairs))
                     if pairs else [])
        for op in ops:
            row(f"op {op}", [p["per_op"][op] for p, _ in pairs], [c["per_op"][op] for _, c in pairs])
        failed = {}
        for side in ("parent", "change"):
            runs = [r for _, r in results[w][side] if r is not None]
            failed[side] = sum(r["failed"] for r in runs)
            attempted = sum(r["attempted"] for r in runs)
            missing = len(results[w][side]) - len(runs)
            print(f"{w:10} {side} failed ops {failed[side]}/{attempted}, "
                  f"runs that failed: {missing}")
            if side == "change" and missing:
                problems.append(f"{w}: {missing} change-side run(s) failed")
        if failed["change"] > failed["parent"]:
            problems.append(f"{w}: {failed['change']} failed ops on the change side, "
                            f"{failed['parent']} on the parent side")

    claim_met = True
    if claim:
        pairs = [(p, c) for (_, p), (_, c) in zip(results[claim_workload]["parent"],
                                                  results[claim_workload]["change"])
                 if p is not None and c is not None]
        name = claim["name"]
        claim_met, why = judge_claim([p["metrics"][name]["value"] for p, _ in pairs],
                                     [c["metrics"][name]["value"] for _, c in pairs],
                                     claim["better"] == "lower")
        print()
        print(f"claim {name}@{claim_workload}: {'CLAIM MET' if claim_met else 'CLAIM NOT MET'}"
              f" ({why})")

    print()
    if problems:
        print("verdict: WORSE: " + "; ".join(problems))
        sys.exit(1)
    print("verdict: no end-to-end metric worse than its bound, no extra failures")
    if not claim_met:
        sys.exit(1)


if __name__ == "__main__":
    main()
