#!/usr/bin/env python3
"""Interleaved A/B of perfbench between a parent revision and this checkout.

    tools/ab_perfbench.py PARENT_REV --workload recrawl --seeds 2-11
    tools/ab_perfbench.py HEAD~1 --workload chat --seeds 2-11,23 --out ab_runs

`git archive`s PARENT_REV into a temporary directory outside the repo,
then runs `perfbench/run.py --workload W --seed S` untraced, for the
`run_seconds` BENCHMARK.json fixes, once in that tree and once in this
checkout (its working tree, uncommitted edits included) for every seed,
alternating which side runs first so drift on the host falls on both.
Each tree builds its own classes on its first run.

Prints, for every end-to-end metric BENCHMARK.json names, each side's
median and interquartile range over the seeds, how many pairs the
change won (better in the metric's declared direction), and a verdict
read against the metric's `bound` (see `verdict`). `--out DIR`
keeps every run's stdout as DIR/{parent,change}_<seed>.out, the input
`tools/triage_bench.py` reads. Exits 1 if any run failed or reported an
incorrect output, 2 on bad arguments or a failed `git archive`.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    """'2-11' or '2-5,9,23' -> [2, 3, 4, 5, 9, 23]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise ValueError(f"no seeds in {spec!r}")
    return seeds


def archive(rev, dest):
    """Extract the committed tree of `rev` into `dest`."""
    tar = os.path.join(dest, "tree.tar")
    with open(tar, "wb") as fh:
        subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT, stdout=fh,
                       check=True)
    tree = os.path.join(dest, "tree")
    with tarfile.open(tar) as t:
        if hasattr(tarfile, "data_filter"):
            t.extractall(tree, filter="data")
        else:
            t.extractall(tree)
    os.remove(tar)
    return tree


def run(tree, workload, seed, seconds):
    """(ok, metrics, stdout) of one untraced perfbench run in `tree`."""
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    ok = (proc.returncode == 0 and result.get("correct") is True
          and result.get("failed", 1) == 0)
    if not ok:
        sys.stderr.write(f"{tree} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}\n")
    metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    return ok, metrics, proc.stdout


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """The no-regression reading of one end-to-end metric over paired runs.

    `parent` and `change` hold one value per pair, in pair order; `better`
    is "lower" or "higher"; `bound` is the relative worsening allowed.

    - "better": the change wins at least nine tenths of the pairs and its
      median beats the parent's by more than the parent's interquartile
      range, or every change run beats every parent run;
    - "unresolved": otherwise, when the parent's interquartile range is
      wider than `bound` times its median;
    - "worse": otherwise, when the change's median is worse than the
      parent's by more than `bound` times the parent's median;
    - "within bound": otherwise.
    """
    sign = 1 if better == "lower" else -1
    pm, cm = statistics.median(parent), statistics.median(change)
    lo, hi = quartiles(parent)
    beats = [sign * (p - c) > 0 for p, c in zip(parent, change)]
    if ((sum(beats) >= 0.9 * len(beats) and sign * (pm - cm) > hi - lo)
            or all(sign * (p - c) > 0 for p in parent for c in change)):
        return "better"
    if hi - lo > bound * abs(pm):
        return "unresolved"
    return "worse" if sign * (cm - pm) > bound * abs(pm) else "within bound"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="the revision to compare against, e.g. HEAD~1")
    ap.add_argument("--workload", required=True, choices=("chat", "recrawl"))
    ap.add_argument("--seeds", required=True, help="e.g. 2-11 or 2-5,9")
    ap.add_argument("--out", help="keep every run's stdout in this directory")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    try:
        seeds = parse_seeds(args.seeds)
    except ValueError as e:
        ap.error(str(e))
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    scratch = tempfile.mkdtemp(prefix="ab_perfbench_")
    try:
        try:
            trees = {"parent": archive(args.parent, scratch), "change": ROOT}
        except (subprocess.CalledProcessError, tarfile.TarError) as e:
            print(f"ab_perfbench: cannot archive {args.parent}: {e}", file=sys.stderr)
            return 2
        samples = {"parent": [], "change": []}
        all_ok = True
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                ok, metrics, out = run(trees[side], args.workload, seed, seconds)
                all_ok &= ok
                samples[side].append(metrics)
                if args.out:
                    with open(os.path.join(args.out, f"{side}_{seed}.out"), "w") as fh:
                        fh.write(out)
                print(f"seed {seed} {side}: {'ok' if ok else 'FAILED'} " +
                      " ".join(f"{m['name']}={metrics.get(m['name'])}"
                               for m in bench["end_to_end"]), flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    print(f"\n{args.workload}, {len(seeds)} pairs, seeds {args.seeds}, {seconds:g} s runs")
    print(f"{'metric':<12} {'parent median (IQR)':>22} {'change median (IQR)':>22} "
          f"{'delta':>8} {'wins':>6}  verdict (bound)")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p[name], c[name]) for p, c in zip(samples["parent"], samples["change"])
                 if name in p and name in c]
        if not pairs:
            print(f"{name:<12} no samples")
            continue
        cols = []
        for vals in zip(*pairs):
            lo, hi = quartiles(list(vals))
            cols.append((statistics.median(vals), hi - lo))
        (pm, piqr), (cm, ciqr) = cols
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        delta = (cm - pm) / pm if pm else float("nan")
        v = verdict([p for p, _ in pairs], [c for _, c in pairs], m["better"], m["bound"])
        print(f"{name:<12} {pm:>12.4g} ({piqr:>7.3g}) {cm:>12.4g} ({ciqr:>7.3g}) "
              f"{delta:>+8.1%} {wins:>3}/{len(pairs)}  {v} ({m['bound']:g})")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
