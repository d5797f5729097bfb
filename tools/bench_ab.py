#!/usr/bin/env python3
"""A/B runner for the repository benchmark: a parent revision against the
working tree, on one workload, over several seeds.

  python3 tools/bench_ab.py <parent-rev> <workload> <seed>...

Exports the committed files of <parent-rev> (`git archive`) into a
temporary directory (under $TMPDIR, /tmp by default), then for every seed
runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
once in each tree, T being BENCHMARK.json's `run_seconds`, alternating
which tree goes first from seed to seed.
Prints, per end-to-end metric of BENCHMARK.json, the parent and change
medians, the relative change, its bound, whether it stays inside the
bound, the interquartile range of the parent's runs (a claimed gain needs
a median difference above it) and on how many seed pairs the change was
better; then the summed `failed`/`attempted` of each side. The export is removed on exit, also
when interrupted. `perfbench/` and `BENCHMARK.json` are read, never
written; each tree builds into its own `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[bench_ab] {msg}", file=sys.stderr, flush=True)


def export(rev, dest):
    """Unpack the committed files of `rev` into `dest`."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run(tree, workload, seed, seconds):
    """One untraced benchmark run; returns its result line as a dict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {tree} (seed {seed}, exit {p.returncode})")
    for ln in lines:
        if ln.startswith("CHECK FAILED"):
            log(f"{tree} seed {seed}: {ln}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    # a terminated runner still removes its export (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    parent = tempfile.mkdtemp(prefix="bench_ab_parent_")
    try:
        export(a.parent_rev, parent)
        trees = {"parent": parent, "change": ROOT}
        results = {"parent": [], "change": []}
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                log(f"seed {seed}: {side}")
                results[side].append(run(trees[side], a.workload, seed, seconds))
    finally:
        shutil.rmtree(parent, ignore_errors=True)

    print(f"{a.workload}: {a.parent_rev} -> working tree, seeds "
          f"{' '.join(map(str, a.seeds))}, {seconds:g} s runs, medians")
    print(f"  {'metric':<18} {'parent':>10} {'change':>10} {'delta':>8} "
          f"{'bound':>6}  {'inside':<6} {'parent IQR':>10}  better")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        delta = (cm - pm) / pm if pm else 0.0
        worse = delta if lower else -delta
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        q = statistics.quantiles(p, n=4, method="inclusive") if len(p) > 1 \
            else [pm, pm, pm]
        print(f"  {name:<18} {pm:>10.4g} {cm:>10.4g} {delta:>+8.1%} "
              f"{m['bound']:>6.2f}  {'yes' if worse <= m['bound'] else 'NO':<6} "
              f"{q[2] - q[0]:>10.4g}  {wins}/{len(p)} {m['unit']}")
    for side in ("parent", "change"):
        rs = results[side]
        print(f"  {side}: failed/attempted = {sum(r['failed'] for r in rs)}/"
              f"{sum(r['attempted'] for r in rs)}, correct "
              f"{sum(bool(r['correct']) for r in rs)}/{len(rs)} runs")


if __name__ == "__main__":
    main()
