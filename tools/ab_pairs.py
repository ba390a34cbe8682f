#!/usr/bin/env python3
"""Alternating parent/change pairs of the declared benchmark.

Usage (from the repository root):
  python3 tools/ab_pairs.py --parent REV --workloads corpus,stream_ingest \
      --seeds 71-80 --trace 0 [--metrics setup_s,...] [--scratch DIR]

The parent side is `git archive REV` unpacked under the scratch directory;
the change side is this checkout as it stands. For every seed and workload
both sides run `python3 perfbench/run.py` once for BENCHMARK.json's
`run_seconds`, the parent first on odd seeds and the change first on even
ones, each side with its own
CARGO_TARGET_DIR under the scratch directory, so nothing is written into
perfbench/, .git or the checkout's build directory.

Each run prints its `correct` flag and the named metrics; the summary gives,
per workload and metric, each side's median and quartiles and in how many
pairs the change was lower and in how many the two tied. For a metric that
BENCHMARK.json lists with unit `count` it also says, per side, whether every
run gave the same value. A metric name is looked up in the run's
end-to-end metrics (e.g. `setup_s`, `drain_rows_per_s`, `freshness_p50_s`)
and then in its per-layer metrics, which exist only with `--trace 1` (e.g.
`cold.store.upsert_s`). The default metrics are BENCHMARK.json's
end-to-end ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def parent_tree(rev, scratch):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    tree = os.path.join(scratch, "parent-" + sha[:12])
    if not os.path.isdir(tree):
        tmp = tree + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        archive = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                                 check=True, capture_output=True).stdout
        tar_path = os.path.join(scratch, sha[:12] + ".tar")
        with open(tar_path, "wb") as fh:
            fh.write(archive)
        with tarfile.open(tar_path) as tf:
            tf.extractall(tmp)
        os.remove(tar_path)
        os.rename(tmp, tree)
    return tree, sha


def run(tree, target, workload, seed, seconds, trace):
    """One perfbench run; returns (correct, result document or None)."""
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return False, None
    lines = p.stdout.strip().splitlines()
    try:
        correct = p.returncode == 0 and json.loads(lines[-1])["correct"]
    except (IndexError, ValueError, KeyError):
        correct = False
    result = os.path.join(target, "results", f"{workload}-seed{seed}-trace{trace}.json")
    if p.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return False, None
    with open(result) as fh:
        return correct, json.load(fh)


def metric(doc, name):
    for section in ("metrics", "layers"):
        m = (doc or {}).get(section, {}).get(name)
        if m is not None:
            return m["value"]
    return None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--workloads", required=True, help="comma-separated workloads")
    ap.add_argument("--seeds", required=True, help="e.g. 71-80 or 1,3,5")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--metrics", help="comma-separated metric names")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = a.metrics.split(",") if a.metrics else [m["name"] for m in bench["end_to_end"]]
    counts = {m["name"] for m in bench["end_to_end"] + bench["per_layer"] if m["unit"] == "count"}
    workloads = a.workloads.split(",")
    scratch = os.path.abspath(a.scratch)
    os.makedirs(scratch, exist_ok=True)
    ptree, psha = parent_tree(a.parent, scratch)
    sides = {"parent": (ptree, os.path.join(scratch, "build-parent")),
             "change": (ROOT, os.path.join(scratch, "build-change"))}
    print(f"parent {psha[:12]} at {ptree}; change {ROOT}", flush=True)

    values = {(w, s, n): [] for w in workloads for s in sides for n in names}
    pairs = {(w, n): [] for w in workloads for n in names}
    runs = bad = 0
    for seed in seeds(a.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for w in workloads:
            got = {}
            for side in order:
                tree, target = sides[side]
                ok, doc = run(tree, target, w, seed, seconds, a.trace)
                runs += 1
                bad += not ok
                got[side] = {n: metric(doc, n) for n in names}
                shown = " ".join(f"{n}={v:.4g}" if v is not None else f"{n}=NA"
                                 for n, v in got[side].items())
                print(f"seed {seed} {w} {side}: correct={str(ok).lower()} {shown}", flush=True)
                for n, v in got[side].items():
                    if v is not None:
                        values[(w, side, n)].append(v)
            for n in names:
                p, c = got["parent"][n], got["change"][n]
                if p is not None and c is not None:
                    pairs[(w, n)].append((p, c))

    print(f"\n{runs} runs, {bad} not correct")
    for w in workloads:
        for n in names:
            cells = []
            for side in sides:
                q1, q2, q3 = quartiles(values[(w, side, n)])
                cells.append(f"{side} {q2:.4g} ({q1:.4g}-{q3:.4g})")
            ps = pairs[(w, n)]
            lower = sum(c < p for p, c in ps)
            tied = sum(c == p for p, c in ps)
            line = (f"{w} {n}: median (quartiles) {' / '.join(cells)}; "
                    f"change lower in {lower}/{len(ps)} pairs, tied in {tied}")
            if n in counts:
                same = [f"{side} {'yes' if len(set(values[(w, side, n)])) == 1 else 'no'}"
                        for side in sides]
                line += f"; every run the same: {', '.join(same)}"
            print(line)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
