#!/usr/bin/env python3
"""Paired, interleaved A/B of the repo benchmark (perfbench) on one host.

    python3 tools/perf_ab.py --parent HEAD --scratch /tmp/ab \\
        --workload lake_build --workload event_stream --pairs 10 \\
        --claim lake_build:live_heap_mb --out ab.json

Run from the root of a checkout. The parent tree is `git archive <parent>`;
the change is the staged tree (`git checkout-index -a`), so stage the
change first. Both land under `--scratch` (wiped first), never in a git
worktree. Each side is built and warmed with one uncounted seed-0 run; then
seeds 1..N run interleaved, one workload at a time: odd seeds run the
parent first, even seeds the change first.

Per metric it prints each side's median and Q1-Q3, the change/parent
ratio of the medians, and the pairs the change wins. Each end-to-end
metric's median is checked against its `bound` in BENCHMARK.json: a
relative worsening above the bound fails, and so does a spread (Q1-Q3 over
the median, on either side) above the bound, unless every change run beats
every parent run. Each side's fail_ratio must be 0, and a `--claim workload:metric` must win at least 90% of the pairs with
a median gap wider than the parent's Q1-Q3. The exit status is 1 if any
check fails. A run that crashes is counted as failed, not retried.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(cmd, **kw):
    return subprocess.run(cmd, check=True, **kw)


def trees(parent, scratch):
    """parent: `git archive <rev>`; change: the staged tree."""
    shutil.rmtree(scratch, ignore_errors=True)
    sides = {"parent": os.path.join(scratch, "parent"),
             "change": os.path.join(scratch, "change")}
    os.makedirs(sides["parent"])
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", parent], stdout=subprocess.PIPE)
    sh(["tar", "-x", "-C", sides["parent"]], stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"git archive {parent} failed")
    sh(["git", "-C", ROOT, "checkout-index", "-a", f"--prefix={sides['change']}/"])
    return sides


def run(tree, workload, seed, seconds, trace):
    """One perfbench run: its metrics, checks and CPU steal, or None."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  run failed (exit {p.returncode}): {p.stderr.strip()[-300:]}", flush=True)
        return None
    res = json.loads(lines[-1])
    host = next(json.loads(l[5:]) for l in lines if l.startswith("host "))
    return {"metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "attempted": res["attempted"], "failed": res["failed"],
            "steal": host["cpu_steal_share"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, runs, bench, claims):
    """Print the table for one workload; return the failed checks."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    pairs = [(a, b) for a, b in zip(runs["parent"], runs["change"]) if a and b]
    failures = []
    for side in ("parent", "change"):
        done = [r for r in runs[side] if r]
        crashed = len(runs[side]) - len(done)
        attempted = sum(r["attempted"] for r in done)
        failed = sum(r["failed"] for r in done)
        steal = max((r["steal"] for r in done), default=0.0)
        print(f"{workload} {side}: {len(done)} runs, {crashed} crashed, checks "
              f"{attempted - failed}/{attempted}, max cpu_steal_share {steal:.3f}")
        if crashed or failed:
            failures.append(f"{workload} {side}: {crashed} crashed runs, {failed} failed checks")
    if not pairs:
        return failures + [f"{workload}: no complete pair"]
    print("| workload | metric | parent | change | change/parent | wins | check |")
    print("|---|---|---|---|---|---|---|")
    for name in pairs[0][0]["metrics"]:
        a = [p["metrics"][name] for p, _ in pairs]
        b = [c["metrics"][name] for _, c in pairs]
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        (a1, am, a3), (b1, bm, b3) = quartiles(sorted(a)), quartiles(sorted(b))
        ratio = bm / am if am else float("nan")
        check = ""
        if name in bound and am and bm:
            worse = (bm - am) / am if lower else (am - bm) / am
            spread = max((a3 - a1) / am, (b3 - b1) / bm)
            apart = max(b) < min(a) if lower else min(b) > max(a)
            if worse > bound[name]:
                check = f"WORSE by {worse:.1%}"
            elif spread > bound[name] and not apart:
                check = f"unresolved: spread {spread:.1%}"
            else:
                check = "ok"
            if check != "ok":
                failures.append(f"{workload} {name}: {check}, bound {bound[name]:.0%}")
        if f"{workload}:{name}" in claims:
            gap = (am - bm) if lower else (bm - am)
            held = wins * 10 >= 9 * len(pairs) and gap > a3 - a1
            check += f"; claim {'holds' if held else 'FAILS'} (gap {gap:.4g}, parent IQR {a3 - a1:.4g})"
            if not held:
                failures.append(f"{workload} {name}: claimed gain not shown")
        print(f"| {workload} | {name} | {am:.4g} ({a1:.4g}–{a3:.4g}) | {bm:.4g} ({b1:.4g}–{b3:.4g}) "
              f"| {ratio:.3f} | {wins}/{len(pairs)} | {check} |")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--scratch", required=True, help="directory for both trees (wiped)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--claim", action="append", default=[], help="workload:metric")
    ap.add_argument("--out", help="write every run's record here as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = trees(args.parent, os.path.abspath(args.scratch))
    record, failures = {}, []
    for w in args.workload:
        for side, tree in sides.items():
            print(f"{w}: building and warming {side} (seed 0, not counted)", flush=True)
            run(tree, w, 0, args.seconds, args.trace)
        runs = {"parent": [], "change": []}
        for seed in range(1, args.pairs + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            for side in order:
                r = run(sides[side], w, seed, args.seconds, args.trace)
                runs[side].append(r)
                if r:
                    focus = {k: round(v, 3) for k, v in r["metrics"].items()
                             if k in ("work_s", "live_heap_mb")}
                    print(f"  seed {seed} {side}: {focus} steal {r['steal']:.3f}", flush=True)
        record[w] = runs
        failures += report(w, runs, bench, set(args.claim))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"parent": args.parent, "pairs": args.pairs, "trace": args.trace,
                       "seconds": args.seconds, "runs": record}, f, indent=1)
    for msg in failures:
        print("FAILED: " + msg)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
