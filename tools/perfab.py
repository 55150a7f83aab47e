#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark between two source trees.

    python3 tools/perfab.py <base-rev> <workload> [--pairs 10] [--seed0 N] [--layers SEED]

Side A is <base-rev>, exported with `git archive` into $TMPDIR/perfab/<sha>
(reused by later invocations, so its harness build is cached). Side B is the
working tree this script lives in. Pair i runs `perfbench/run.py --workload
<workload> --seed <seed0 + i> --seconds <run_seconds of BENCHMARK.json>
--trace 0` once on each side, one run at a time; even pairs run A first, odd
pairs B first. Each run's metrics go to stderr as it ends.

For every end-to-end metric of BENCHMARK.json the table gives each side's
median and quartiles, the B/A ratio of the medians, and the pairs B won.
`claim` reads "yes" when B won at least 9 of 10 pairs (the same share of
any other count) and the medians differ by more than A's quartile spread:
the rule a claimed gain must pass. Failed runs are listed and left out.

With --layers SEED, one `--trace 1` run per side on SEED follows the pairs
(A first), and every per-layer metric of BENCHMARK.json is printed side by
side with its B/A ratio. `--pairs 0 --layers SEED` runs only that.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def export(rev, work):
    """A clean tree of `rev` under `work`, named by its commit sha."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    dest = os.path.join(work, sha[:12])
    if not os.path.isdir(os.path.join(dest, "src")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perfab: git archive {rev} failed")
    return dest


def run_once(tree, workload, seed, seconds, trace=0):
    """The metrics of one benchmark run, or the reason it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    if p.returncode != 0 or not res.get("correct") or res.get("failed"):
        return None, f"exit {p.returncode}, correct={res.get('correct')}, failed={res.get('failed')}"
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_rev")
    ap.add_argument("workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--layers", type=int, metavar="SEED",
                    help="after the pairs, one traced run per side on SEED")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    sides = {"A": export(args.base_rev, os.path.join(tempfile.gettempdir(), "perfab")),
             "B": ROOT}
    runs = {"A": [], "B": []}
    failures = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        got = {}
        for side in ("AB" if i % 2 == 0 else "BA"):
            metrics, err = run_once(sides[side], args.workload, seed, seconds)
            if err:
                failures.append(f"pair {i} seed {seed} side {side}: {err}")
            got[side] = metrics
            print(f"perfab: pair {i} seed {seed} {side} "
                  + (json.dumps(metrics) if metrics else "FAILED"), file=sys.stderr, flush=True)
        for side in "AB":
            runs[side].append(got[side])

    if args.pairs:
        table(args, bench, runs)
    if args.layers is not None:
        failures += layers(args, bench, sides)
    for f in failures:
        print(f"failed: {f}")
    sys.exit(1 if failures else 0)


def table(args, bench, runs):
    """Per end-to-end metric: medians, quartiles, pair wins and the claim rule."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    print(f"{args.workload}: A={args.base_rev} B=working tree, "
          f"{args.pairs} interleaved pairs, seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
    print(f"{'metric':<14}{'A median':>12}{'A q1-q3':>23}{'B median':>12}{'B q1-q3':>23}"
          f"{'B/A':>7}{'B wins':>9}  claim")
    for name in [m["name"] for m in bench["end_to_end"]]:
        pairs = [(a[name], b[name]) for a, b in zip(runs["A"], runs["B"])
                 if a and b and name in a and name in b]
        if not pairs:
            continue
        xa, xb = [p[0] for p in pairs], [p[1] for p in pairs]
        ma, mb = statistics.median(xa), statistics.median(xb)
        (a1, a3), (b1, b3) = quartiles(xa), quartiles(xb)
        lower = better[name] == "lower"
        wins = sum(1 for a, b in pairs if (b < a if lower else b > a))
        claim = wins >= 0.9 * len(pairs) and ((ma - mb) if lower else (mb - ma)) > (a3 - a1)
        ratio = mb / ma if ma else float("nan")
        print(f"{name:<14}{ma:>12.3f}{f'{a1:.3f}-{a3:.3f}':>23}{mb:>12.3f}"
              f"{f'{b1:.3f}-{b3:.3f}':>23}{ratio:>7.3f}{f'{wins}/{len(pairs)}':>9}  "
              f"{'yes' if claim else 'no'}")


def layers(args, bench, sides):
    """Print one traced run per side, metric by metric; return its failures."""
    seed = args.layers
    got, failures = {}, []
    for side in "AB":
        got[side], err = run_once(sides[side], args.workload, seed, bench["run_seconds"], trace=1)
        if err:
            failures.append(f"traced seed {seed} side {side}: {err}")
        print(f"perfab: traced seed {seed} {side} "
              + (json.dumps(got[side]) if got[side] else "FAILED"), file=sys.stderr, flush=True)
    print(f"{args.workload} per-layer: A={args.base_rev} B=working tree, "
          f"one traced run each, seed {seed}")
    print(f"{'metric':<34}{'unit':>7}{'A':>12}{'B':>12}{'B/A':>8}")
    a, b = got["A"] or {}, got["B"] or {}
    for m in bench["per_layer"]:
        name = m["name"]
        if name not in a and name not in b:
            continue
        va, vb = a.get(name), b.get(name)
        ratio = f"{vb / va:.3f}" if va and vb is not None else "-"
        fmt = lambda v: "-" if v is None else f"{v:.3f}"
        print(f"{name:<34}{m['unit']:>7}{fmt(va):>12}{fmt(vb):>12}{ratio:>8}")
    return failures


if __name__ == "__main__":
    main()
