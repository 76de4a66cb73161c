#!/usr/bin/env python3
"""Alternated A/B pairs of the repo benchmark: a parent revision against
HEAD, on one workload.

    python3 tools/ab.py PARENT_REV WORKLOAD PAIRS [--seconds 6] \\
        [--trace 0|1] [--work DIR]

Both revisions are exported with `git archive` into checkouts under
--work (outside the repo; the repo's own git state is left untouched).
Pair i runs `python3 perfbench/run.py --workload W --seed i --seconds S`
once in each checkout, the parent first in pairs 1, 3, ... and HEAD first
in pairs 2, 4, ..., so neither side always runs on a warmer machine. The
first run in a checkout also builds it; run.py keeps build time out of its
metrics.

For every end-to-end metric in BENCHMARK.json the script prints each
side's median and IQR (the distance between the quartiles) and how many
pairs the change won. A metric is flagged `unresolved` when the parent's
IQR/median exceeds the metric's bound: that spread is too wide to tell a
change within the bound from noise. Every run's `correct` and `failed`
are printed. With --trace 1 run.py reports per-layer metrics instead;
the script then prints them side by side for each pair.
The raw result lines are written as JSON to <work>/ab-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """A clean checkout of `rev` at `dest` (reused when already there)."""
    sha = subprocess.check_output(["git", "-C", ROOT, "rev-parse", rev],
                                  text=True).strip()
    stamp = os.path.join(dest, ".ab-rev")
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return sha
    if os.path.exists(dest):
        subprocess.check_call(["rm", "-rf", dest])
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"ab: git archive {rev} failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


def run(checkout, workload, seed, seconds, trace):
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)  # each checkout builds into its own tree
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True,
                       text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab: {checkout} seed {seed} printed no result "
                 f"(exit {p.returncode})")
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def value(r, name):
    m = r["metrics"].get(name)
    return None if m is None else m["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default="/tmp/graft_ab")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    sides = {"parent": a.parent, "change": "HEAD"}
    dirs = {s: os.path.join(a.work, s) for s in sides}
    shas = {s: export(rev, dirs[s]) for s, rev in sides.items()}
    print(f"ab: {a.workload}, {a.pairs} pairs, --seconds {a.seconds}, "
          f"--trace {a.trace}; parent {shas['parent'][:10]}, "
          f"change {shas['change'][:10]}", flush=True)

    results = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = i + 1
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(dirs[side], a.workload, seed, a.seconds, a.trace)
            results[side].append(r)
            print(f"pair {i + 1} seed {seed} {side:6s} correct={r['correct']} "
                  f"failed={r['failed']} wall={r['wall_s']}s "
                  + " ".join(f"{m['name']}={value(r, m['name'])}"
                             for m in e2e if not a.trace), flush=True)

    if not a.trace:
        print(f"\n{'metric':16s} {'parent med':>11s} {'IQR':>8s} "
              f"{'change med':>11s} {'IQR':>8s} {'delta':>7s} {'wins':>6s}")
    for m in ([] if a.trace else e2e):
        name, bound = m["name"], m["bound"]
        sign = 1 if m["better"] == "lower" else -1
        pv = [value(r, name) for r in results["parent"]]
        cv = [value(r, name) for r in results["change"]]
        pm, cm = statistics.median(pv), statistics.median(cv)
        pq, cq = quartiles(pv), quartiles(cv)
        wins = sum(1 for p, c in zip(pv, cv) if sign * (p - c) > 0)
        delta = (cm - pm) / pm if pm else 0.0
        flags = []
        if pm and (pq[1] - pq[0]) / pm > bound:
            flags.append("unresolved")
        if sign * delta < -bound:
            flags.append("WORSE than bound")
        print(f"{name:16s} {pm:11.3f} {pq[1] - pq[0]:8.3f} {cm:11.3f} "
              f"{cq[1] - cq[0]:8.3f} {delta:+7.1%} {wins:3d}/{len(pv):<2d} "
              + " ".join(flags))
    bad = [(s, i + 1) for s in results for i, r in enumerate(results[s])
           if not r["correct"] or r["failed"]]
    print("every run correct, failed 0" if not bad else f"NOT CORRECT: {bad}")

    if a.trace:
        keys = sorted(set().union(*(r["metrics"] for s in results
                                    for r in results[s])))
        for i in range(a.pairs):
            print(f"\npair {i + 1} per-layer (parent | change)")
            for k in keys:
                print(f"  {k:44s} {value(results['parent'][i], k)!s:>14s}"
                      f" | {value(results['change'][i], k)!s:>14s}")

    out = os.path.join(a.work, f"ab-{a.workload}.json")
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "seconds": a.seconds,
                   "trace": a.trace, "revs": shas, "runs": results}, f,
                  indent=1)
    print(f"\nab: raw results in {out}")


if __name__ == "__main__":
    main()
