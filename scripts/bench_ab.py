#!/usr/bin/env python
"""Same-host A/B regression control, promoted from the manual
procedure in BENCH/BASELINE.md "Same-host A/B" (VERDICT r05 #6).

Usage:
    python scripts/bench_ab.py <ref-commit> [pairs] [only] [sf_dir]
    python scripts/bench_ab.py <ref-commit> [pairs] --perfbench <workload>
        [--seed 1] [--trace 0] [--dir <tmp>/bench_ab]

Unpacks <ref-commit> like ``--perfbench`` does (below; the directory
is ``$TMPDIR/bench_ab``), then runs the FROZEN bench (``bench.py
--single``, fresh JVM per run) in pairs, alternating which side runs
first, so both trees sample the same host phases, and prints the
per-query best-of deltas.
Use whenever a round's totals drift >15%: on this host a single-run
comparison is noise (documented 3-4x minute-to-minute swings), while
an interleaved best-of pair is the cheapest defensible statistic.

``only`` is a comma list for SPARK_GRAFT_BENCH_ONLY (e.g. "q5,q6");
default runs every query.  HEAD side runs from the repo root, ref
side from the unpacked tree; both use the ref-start bench methodology
(the bench file itself is frozen across optimization rounds).

``--perfbench`` runs the repository benchmark (``perfbench/run.py``,
for BENCHMARK.json's ``run_seconds``) instead.  <ref-commit>'s
committed files are unpacked with ``git archive`` into
``<dir>/<full sha>``, so a directory never holds another commit.  Pair
i (default 10 pairs) uses seed ``--seed + i`` on both sides, the
reference first on odd seeds, one run at a time.  It prints, per
metric, both medians, the reference's interquartile range and how many
pairs the working tree won (direction from BENCHMARK.json), plus each
side's failed operations.  Each end-to-end metric also gets a verdict
against its BENCHMARK.json ``bound`` (a fraction of the reference
median): "WORSE" when the working tree's median is worse by more than
the bound, "unresolved" when the reference IQR is wider than the bound
(unless every working-tree run beats every reference run), else "ok".
The closing JSON line adds both sides' quartiles and every run's
result line.  A claimed gain needs 9 of 10 pairs won and a median gap
above the reference's IQR.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_single(cwd: str, only: str | None, sf_dir: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_REPS"] = env.get("SPARK_GRAFT_BENCH_REPS", "2")
    if only:
        env["SPARK_GRAFT_BENCH_ONLY"] = only
    else:
        env.pop("SPARK_GRAFT_BENCH_ONLY", None)
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "bench.py"), "--single", "32", "1"],
        capture_output=True, text=True, env=env, cwd=cwd, check=True)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)["queries"]


def checkout(ref: str, base: str) -> str:
    """``ref``'s committed files, unpacked into ``base/<full sha>``
    (reused if that directory is already there)."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", ref + "^{commit}"],
                         capture_output=True, text=True, check=True).stdout.strip()
    path = os.path.join(base, sha)
    if not os.path.isdir(path):
        os.makedirs(path)
        archive = subprocess.run(["git", "-C", ROOT, "archive", sha], capture_output=True,
                                 check=True).stdout
        subprocess.run(["tar", "-x", "-C", path], input=archive, check=True)
    return path


def run_perfbench(cwd: str, workload: str, seed: int, trace: int) -> dict:
    """One perfbench run in checkout ``cwd``: its result line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(_spec()["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True, cwd=cwd, check=True, timeout=900)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _better() -> dict[str, str]:
    spec = _spec()
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def _verdict(a: list[float], b: list[float], sign: float, bound: float) -> str:
    """No-regression verdict of working-tree runs ``b`` against
    reference runs ``a`` for one end-to-end metric (``sign`` +1 when
    higher is better): a spread wider than the bound cannot tell
    "within the bound" from "worse", unless the sides do not overlap."""
    qa = _quartiles(a)
    if min(sign * y for y in b) > max(sign * x for x in a):
        return "ok"
    if qa[2] - qa[0] > bound * abs(qa[1]):
        return "unresolved"
    if sign * (qa[1] - statistics.median(b)) > bound * abs(qa[1]):
        return "WORSE"
    return "ok"


def summarize(ref_runs: list[dict], head_runs: list[dict]) -> dict:
    """Per metric: each side's quartiles, the reference's IQR and the
    working tree's pair wins (ties count for neither); plus failed
    operations per side."""
    better = _better()
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    out = {"pairs": len(ref_runs),
           "failed": {"ref": [r["failed"] for r in ref_runs],
                      "head": [r["failed"] for r in head_runs]},
           "metrics": {}}
    for name in ref_runs[0]["metrics"]:
        a = [r["metrics"][name]["value"] for r in ref_runs]
        b = [r["metrics"][name]["value"] for r in head_runs]
        qa, qb = _quartiles(a), _quartiles(b)
        sign = 1.0 if better.get(name, "lower") == "higher" else -1.0
        out["metrics"][name] = {
            "ref_quartiles": qa,
            "head_quartiles": qb,
            "ref_iqr": qa[2] - qa[0],
            "wins": sum(sign * (y - x) > 0 for x, y in zip(a, b)),
        }
        if name in bounds:
            out["metrics"][name]["verdict"] = _verdict(a, b, sign, bounds[name])
    return out


def perfbench_mode(ref: str, ref_dir: str, pairs: int, workload: str, first_seed: int,
                   trace: int) -> None:
    ref_runs, head_runs = [], []
    for i in range(pairs):
        seed = first_seed + i
        order = [("ref", ref_dir), ("head", ROOT)]
        if seed % 2 == 0:
            order.reverse()
        for side, cwd in order:
            print(f"pair {i + 1}/{pairs} seed {seed}: {side} ...", flush=True)
            r = run_perfbench(cwd, workload, seed, trace)
            (ref_runs if side == "ref" else head_runs).append(r)
    s = summarize(ref_runs, head_runs)
    print(f"\n{workload}, {pairs} pairs, seeds {first_seed}-{first_seed + pairs - 1}, "
          f"failed ref {sum(s['failed']['ref'])} head {sum(s['failed']['head'])}")
    print(f"{'metric':36} {ref[:10]:>12} {'HEAD':>12} {'delta':>8} {'ref IQR':>10} {'wins':>5}"
          f"  verdict")
    for name, m in s["metrics"].items():
        base, head = m["ref_quartiles"][1], m["head_quartiles"][1]
        delta = (head / base - 1.0) if base else 0.0
        print(f"{name:36} {base:12.4g} {head:12.4g} {delta:+7.1%} "
              f"{m['ref_iqr']:10.3g} {m['wins']:>2}/{pairs}  {m.get('verdict', '')}")
    print(json.dumps({**s, "workload": workload, "ref": ref, "first_seed": first_seed,
                      "samples_ref": ref_runs, "samples_head": head_runs}))


def perfbench_main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(usage="%(prog)s <ref-commit> [pairs] --perfbench WORKLOAD "
                                       "[--seed N] [--trace 0|1] [--dir DIR]")
    ap.add_argument("ref")
    ap.add_argument("pairs", nargs="?", type=int, default=10)
    ap.add_argument("--perfbench", metavar="WORKLOAD", required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dir", default=os.path.join(tempfile.gettempdir(), "bench_ab"),
                    help="<ref-commit> is unpacked into DIR/<full sha>")
    args = ap.parse_args(argv)
    ref_dir = checkout(args.ref, args.dir)
    perfbench_mode(args.ref, ref_dir, args.pairs, args.perfbench, args.seed, args.trace)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if "--perfbench" in sys.argv[1:]:
        return perfbench_main(sys.argv[1:])
    ref = sys.argv[1]
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    only = sys.argv[3] if len(sys.argv) > 3 else None
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    wt = checkout(ref, os.path.join(tempfile.gettempdir(), "bench_ab"))
    runs_a, runs_b = [], []
    for i in range(pairs):
        order = [("HEAD", ROOT, runs_a), (ref, wt, runs_b)]
        if i % 2:
            order.reverse()
        for side, cwd, runs in order:
            print(f"pair {i + 1}/{pairs}: {side} ...", flush=True)
            runs.append(run_single(cwd, only, sf_dir))
    best_a = {k: min(r[k] for r in runs_a) for k in runs_a[0]}
    best_b = {k: min(r[k] for r in runs_b) for k in runs_b[0]}
    print(f"\n{'query':24} {'HEAD':>8} {ref[:10]:>10} {'delta':>8}")
    for k in best_a:
        d = best_a[k] / best_b[k] - 1.0
        print(f"{k:24} {best_a[k]:8.3f} {best_b[k]:10.3f} {d:+7.1%}")
    ta, tb = sum(best_a.values()), sum(best_b.values())
    print(f"{'TOTAL':24} {ta:8.3f} {tb:10.3f} {ta / tb - 1.0:+7.1%}")
    print(json.dumps({"head": best_a, ref: best_b,
                      "samples_head": runs_a, "samples_ref": runs_b}))


if __name__ == "__main__":
    main()
