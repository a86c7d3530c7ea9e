#!/usr/bin/env python3
"""Interleaved A/B of two commits on one benchmark workload.

    python3 scripts/ab.py PARENT CHANGE --workload cdc_services --pairs 10

Each commit is checked out once (a local clone sharing this repository's
objects, so the repository's own .git is left alone) under --root, and each
checkout builds and runs its OWN perfbench/run.py for BENCHMARK.json's
run_seconds. Pair i runs both sides on seed i+1 (or every pair on --seed N,
for a held-out seed), the parent first in even pairs and the change first
in odd ones.
Metric names, directions and bounds come from BENCHMARK.json. For each
metric the report prints both medians, both IQR/median spreads, the
change's wins out of the pairs (ties count for neither), and for
end-to-end metrics whether the change's median is worse than the parent's
by more than the bound. --trace 1 runs traced and reports the per-layer
metrics instead. --claim METRIC adds the verdict of the claim rule for that
metric: the change must win at least 9 in 10 of the pairs, and its median
must beat the parent's by more than the parent's interquartile range.
Every run is appended to --log as one JSON line.
Exits non-zero when any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=REPO):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def checkout(root, rev):
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    d = os.path.join(root, "ab-" + sha[:12])
    if not os.path.isdir(os.path.join(d, ".git")):
        os.makedirs(root, exist_ok=True)
        git("clone", "--quiet", "--shared", "--no-checkout", REPO, d)
        git("checkout", "--quiet", "--detach", sha, cwd=d)
    return sha, d


def run(d, workload, seed, seconds, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=d, text=True, stdout=subprocess.PIPE)
    result = None
    for line in p.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
    return p.returncode, result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=None,
                    help="run every pair on this seed instead of seeds 1..N")
    ap.add_argument("--claim", default=None, metavar="METRIC",
                    help="print the claim-rule verdict for this metric")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", default="/tmp/graft-ab")
    ap.add_argument("--log", default=None,
                    help="JSON-lines file every run is appended to")
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    sides = {"parent": checkout(a.root, a.parent),
             "change": checkout(a.root, a.change)}
    runs = {"parent": [], "change": []}
    ops = {"parent": [0, 0], "change": [0, 0]}  # failed, attempted
    bad = 0
    for i in range(a.pairs):
        seed = a.seed if a.seed is not None else i + 1
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            sha, d = sides[side]
            code, res = run(d, a.workload, seed, seconds, a.trace)
            ok = code == 0 and res is not None and res.get("correct", False)
            bad += not ok
            runs[side].append(values(res))
            if res:
                ops[side][0] += res.get("failed", 0)
                ops[side][1] += res.get("attempted", 0)
            rec = {"pair": i, "side": side, "commit": sha, "seed": seed,
                   "workload": a.workload, "trace": a.trace, "exit": code,
                   "result": res}
            print(json.dumps({k: rec[k] for k in ("pair", "side", "seed", "exit")}
                             | {"failed": res and res.get("failed")}),
                  file=sys.stderr, flush=True)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")

    print(f"{a.workload}: {a.pairs} pairs, {seconds} s runs, "
          f"parent {sides['parent'][0][:12]} vs change {sides['change'][0][:12]}")
    report(metrics, runs, ops)
    if a.claim:
        print(claim(bench["end_to_end"] + bench["per_layer"], a.claim, runs))
    if bad:
        print(f"{bad} run(s) failed or were incorrect", file=sys.stderr)
        sys.exit(1)


def values(res):
    """Metric name -> number of one harness result ({} for no result)."""
    if not res:
        return {}
    return {k: v["value"] if isinstance(v, dict) else v
            for k, v in res["metrics"].items()}


def claim(metrics, name, runs):
    """The claim rule's verdict for one metric: wins in at least 9/10 of
    the pairs (ties count for neither side), and a median gap larger than
    the parent's interquartile range."""
    m = next((m for m in metrics if m["name"] == name), None)
    if m is None:
        return f"claim {name}: no such metric in BENCHMARK.json"
    lower = m["better"] == "lower"
    pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
             if name in p and name in c]
    if not pairs:
        return f"claim {name}: no complete pairs"
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    q1, pm, q3 = quartiles(ps)
    cm = statistics.median(cs)
    gap = (pm - cm) if lower else (cm - pm)
    won = wins * 10 >= 9 * len(pairs)
    clear = gap > q3 - q1
    return (f"claim {name}: wins {wins}/{len(pairs)} "
            f"({'meets' if won else 'misses'} 9/10); median {pm:.4g} -> {cm:.4g} "
            f"({cm / pm:.2f}x), gap {gap:.4g} vs parent IQR {q3 - q1:.4g} "
            f"({'exceeds' if clear else 'does not exceed'}); "
            f"{'HOLDS' if won and clear else 'FAILS'}")


def report(metrics, runs, ops):
    for side, (f, n) in ops.items():
        print(f"{side} failed ops: {f}/{n}")
    print(f"{'metric':28} {'parent':>12} {'change':>12} {'p iqr/med':>10} "
          f"{'c iqr/med':>10} {'wins':>6}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
                 if name in p and name in c]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        pm, cm = statistics.median(ps), statistics.median(cs)
        verdict = ""
        if "bound" in m and pm:
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            verdict = (f"worse by {worse:.1%} > bound {m['bound']:.0%}"
                       if worse > m["bound"] else f"within bound ({worse:+.1%})")
            if max(spread(ps), spread(cs)) > m["bound"]:
                verdict += ", spread above bound"
        print(f"{name:28} {pm:12.4g} {cm:12.4g} {spread(ps):10.3f} "
              f"{spread(cs):10.3f} {wins:3d}/{len(pairs):<2d}  {verdict}")


if __name__ == "__main__":
    main()
