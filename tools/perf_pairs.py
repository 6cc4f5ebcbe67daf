#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload: a base commit against the working tree.

Run from the repository root:

    python3 tools/perf_pairs.py --workload chess_pipeline --base HEAD --seeds 41-50

Extracts a clean copy of the base commit with `git archive` into a directory
under /tmp (kept between invocations, so its build is reused), then for each
seed runs `python3 perfbench/run.py --workload W --seed S` once in that copy
and once in the working tree. The side that runs first alternates from pair
to pair, so a drift over the session (a slower second run, a busy neighbour)
does not land on one side only. Nothing under perfbench/ is changed.

Prints one line per run as it finishes, then, for every end-to-end metric of
BENCHMARK.json: each side's median and quartiles, the median change, and the
number of pairs the working tree won (by the metric's declared direction).
Run length and tracing are left at run.py's own defaults.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text):
    """'41-50' or '41,43,47' -> list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def base_copy(rev):
    """A clean extract of `rev` under /tmp, made once per commit."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = f"/tmp/perf_pairs-{sha[:12]}"
    done = os.path.join(dest, ".perf_pairs_extracted")
    if not os.path.exists(done):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perf_pairs: git archive {sha} failed")
        open(done, "w").close()
    return sha, dest


def run(cwd, workload, seed):
    """One perfbench run; its result line, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(f"perf_pairs: no result from {cwd} seed {seed}:\n"
                     f"{proc.stdout[-2000:]}{proc.stderr[-2000:]}\n")
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", default="HEAD", help="commit to compare against (default HEAD)")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"),
                    help="one pair per seed: '41-50' or '41,43' (default 1-10)")
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sha, base_dir = base_copy(args.base)
    sides = {"base": base_dir, "change": REPO}
    runs = []
    for i, seed in enumerate(args.seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run(sides[side], args.workload, seed)
            pair[side] = res
            if res is None:
                print(f"seed {seed} {side}: no result", flush=True)
                continue
            vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                            for m in metrics)
            print(f"seed {seed} {side}: correct={res['correct']} failed={res['failed']} {vals}",
                  flush=True)
        runs.append(pair)

    complete = [p for p in runs if p["base"] and p["change"]]
    print(f"\n{args.workload}: base {sha[:12]} vs working tree, "
          f"{len(complete)}/{len(runs)} complete pairs")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [p["base"]["metrics"][name]["value"] for p in complete]
        c = [p["change"]["metrics"][name]["value"] for p in complete]
        if not complete:
            continue
        won = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        mb, mc = statistics.median(b), statistics.median(c)
        bq, cq = quartiles(b), quartiles(c)
        delta = (mc - mb) / mb * 100 if mb else float("nan")
        print(f"  {name:14s} base {mb:.4g} ({bq[0]:.4g}-{bq[1]:.4g})  "
              f"change {mc:.4g} ({cq[0]:.4g}-{cq[1]:.4g})  {delta:+.1f}%  "
              f"change won {won}/{len(complete)}")
    bad = [(p["seed"], side) for p in runs for side in ("base", "change")
           if not p[side] or not p[side]["correct"] or p[side]["failed"]]
    print(f"  incorrect or failed runs: {bad or 'none'}")


if __name__ == "__main__":
    main()
