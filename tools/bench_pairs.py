#!/usr/bin/env python3
"""A/B the benchmark: a git ref against the working tree, in alternating pairs.

Usage (from the root of the repo):
    python3 tools/bench_pairs.py --ref HEAD --seeds 11-20 [--workloads pipeline,sql_short]
                                 [--seconds 18] [--out pairs.json]

The ref is exported with `git archive` into a temporary directory; the
working tree runs in place. For each workload and seed, perfbench/run.py
runs once on each side; which side runs first alternates from pair to
pair, so a drift of the host's speed lands on both sides. Prints, for
each workload and end-to-end metric of BENCHMARK.json, both sides'
median and quartiles, the pairs the working tree won, and the median gap
against the ref's quartile distance (IQR). Runs that fail or report
incorrect results are listed. --out keeps every run's result line.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """The result line of one perfbench run (None when it failed)."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, metrics):
    print(f"\n{workload}: {len(pairs)} pairs (ref vs tree)")
    print(f"  {'metric':16s} {'ref median [q1, q3]':>30s} {'tree median [q1, q3]':>30s}"
          f" {'tree won':>9s} {'gap/ref IQR':>12s}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ok = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
              for a, b in pairs if a and b]
        if not ok:
            continue
        ref, tree = [a for a, _ in ok], [b for _, b in ok]
        won = sum(1 for a, b in ok if (b < a if lower else b > a))
        (r1, r3), (t1, t3) = quartiles(ref), quartiles(tree)
        rm, tm = statistics.median(ref), statistics.median(tree)
        iqr = r3 - r1
        gap = f"{(tm - rm) / iqr:+.2f}" if iqr > 0 else "n/a"
        print(f"  {name:16s} {rm:10.4f} [{r1:.4f}, {r3:.4f}] {tm:10.4f} [{t1:.4f}, {t3:.4f}]"
              f" {won:4d}/{len(ok):<4d} {gap:>12s}")
    bad = [(side, i) for i, p in enumerate(pairs) for side, res in zip(("ref", "tree"), p)
           if not res or not res["correct"] or res["failed"]]
    for side, i in bad:
        print(f"  pair {i}: the {side} run failed or was incorrect")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--workloads", default=None, help="comma list (default: all)")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    ref_dir = tempfile.mkdtemp(prefix="bench_ref_")
    try:
        archive = subprocess.run(["git", "archive", a.ref], cwd=ROOT, capture_output=True, check=True)
        subprocess.run(["tar", "-x", "-C", ref_dir], input=archive.stdout, check=True)
        results = {}
        for w in workloads:
            pairs = []
            for i, s in enumerate(seeds(a.seeds)):
                order = [(0, ref_dir), (1, ROOT)]
                if i % 2:
                    order.reverse()
                pair = [None, None]
                for side, checkout in order:
                    pair[side] = run(checkout, w, s, seconds)
                print(f"[bench_pairs] {w} seed {s}: "
                      + " ".join(f"{n}={'ok' if r else 'failed'}" for n, r in zip(("ref", "tree"), pair)),
                      file=sys.stderr, flush=True)
                pairs.append(pair)
            results[w] = pairs
            report(w, pairs, bench["end_to_end"])
        if a.out:
            json.dump({"ref": a.ref, "seconds": seconds, "seeds": seeds(a.seeds), "pairs": results},
                      open(a.out, "w"), indent=1)
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
