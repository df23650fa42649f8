#!/usr/bin/env python3
"""Two-sided A/B of the perfbench benchmark, in interleaved pairs.

    python3 scripts/ab_perfbench.py BASE CHANGE --seeds 301-310 \\
        [--work DIR] [--out ab.json]
    python3 scripts/ab_perfbench.py --report ab.json

Run from the root of a checkout. BASE and CHANGE are each a git ref of this
repository (unpacked with `git archive` under --work) or a directory holding
a checkout (so the working tree can be one side, as `.`). Each side is built
once (perfbench/build.py), then for every seed and every workload of
BENCHMARK.json the two sides run `perfbench/run.py --trace 0` for the file's
`run_seconds`, back to back, one pair at a time; which side runs first
alternates from pair to pair, so a drift in host speed falls on both.

For each workload and metric the report prints each side's median and
interquartile range over its runs, the median ratio CHANGE/BASE, and in how
many pairs CHANGE was better (by the metric's direction in BENCHMARK.json).
A gap smaller than a side's own spread is noise. Every run's raw result line
goes to the JSON file, which is rewritten after each run.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_of(spec):
    """'301-310' or '1,5,9' -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def checkout(spec, work):
    """The root directory of one side: `spec` itself when it is a directory,
    else the commit of git ref `spec` unpacked into work/<commit sha>."""
    if Path(spec).is_dir():
        return Path(spec).resolve()
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--verify", f"{spec}^{{commit}}"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
    dest = work / sha
    if not dest.is_dir():
        dest.mkdir(parents=True)
        archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {spec} failed")
    return dest


def run_once(root, workload, seed, seconds):
    """One perfbench run; its result line, or an error record."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr or p.stdout)[-2000:]}
    return json.loads(lines[-1])


def benchmark():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def directions():
    spec = benchmark()
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def report(runs):
    better = directions()
    for wl in sorted({r["workload"] for r in runs}):
        print(f"\n== {wl}")
        pairs = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        for side in ("base", "change"):
            res = [p[side] for p in pairs.values() if side in p]
            att = sum(x.get("attempted", 0) for x in res)
            bad = sum(x.get("failed", 0) for x in res)
            errs = sum(1 for x in res if "error" in x)
            print(f"{side}: {len(res)} runs, {errs} without a result, "
                  f"error rate {bad}/{att}")
        ok = [p for p in pairs.values()
              if all("metrics" in p.get(s, {}) for s in ("base", "change"))]
        if not ok:
            continue
        print(f"{'metric':34} {'base median':>12} {'IQR':>9} {'change median':>14} "
              f"{'IQR':>9} {'ratio':>6} {'wins':>6}")
        for m in ok[0]["base"]["metrics"]:
            a = [p["base"]["metrics"][m]["value"] for p in ok]
            b = [p["change"]["metrics"][m]["value"] for p in ok]
            higher = better.get(m, "lower") == "higher"
            wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
            ma, mb = statistics.median(a), statistics.median(b)
            ratio = mb / ma if ma else float("nan")
            print(f"{m:34} {ma:12.4g} {iqr(a):9.3g} {mb:14.4g} {iqr(b):9.3g} "
                  f"{ratio:6.3f} {wins:3d}/{len(ok)}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--work", default=".ab_work")
    ap.add_argument("--out", default="ab_perfbench.json")
    ap.add_argument("--report", metavar="JSON", help="print the report of an earlier run")
    args = ap.parse_args(argv)
    if args.report:
        report(json.loads(Path(args.report).read_text())["runs"])
        return
    if not (args.base and args.change):
        ap.error("BASE and CHANGE are required")

    spec = benchmark()
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    work = Path(args.work).resolve()
    sides = {"base": checkout(args.base, work), "change": checkout(args.change, work)}
    for root in sides.values():
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, check=True,
                       stdout=subprocess.DEVNULL)
    runs = []
    pair = 0
    for i, seed in enumerate(seeds_of(args.seeds)):
        for wl in workloads:
            # alternates per seed, so on each workload too
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                res = run_once(sides[side], wl, seed, seconds)
                runs.append({"pair": pair, "workload": wl, "seed": seed, "side": side,
                             "first": order[0], "result": res})
                print(f"pair {pair} {wl} seed {seed} {side}: "
                      + ("error" if "error" in res else
                         " ".join(f"{k}={v['value']:.4g}"
                                  for k, v in list(res["metrics"].items())[:3])),
                      flush=True)
                Path(args.out).write_text(json.dumps(
                    {"base": args.base, "change": args.change, "seconds": seconds,
                     "runs": runs}, indent=1))
            pair += 1
    report(runs)


if __name__ == "__main__":
    main()
