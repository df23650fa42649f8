#!/usr/bin/env python3
"""Marker-table benchmark of the MWU pipeline (MwuApi.rankGeneGroups /
rankGeneGroupsFromObs).

    python3 perfbench/run.py --workload tall_continuous --seed 1 --seconds 12 --trace 0

From the root of a checkout: builds the program from source (perfbench/build.py),
generates the workload's inputs from the seed, computes the single-threaded
reference, runs the Spark program, checks every marker table it returns, and
prints one JSON line {"correct", "attempted", "failed", "metrics"} last.
`--trace 0` gives the end-to-end metrics, `--trace 1` the per-layer ones. The
run's artifact (input properties, host load, every op and span) is written to
.bench_work/results/. `--plant-fault` makes every timed op return a wrong U,
which the checks must count as failures (see selftest.py).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402

ROOT = HERE.parent
# Untimed ops after the cold one. Four let the JIT settle enough on the wide
# shape that run-to-run spreads stay well inside the bounds; the traced run
# has no bounds and keeps to two to stay short.
WARMUPS = {0: 4, 1: 2}
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

SPANS = ["validation", "ranking", "mwuagg.ranksum", "mwuagg.ranksum_agg", "mwuagg.tie",
         "mwustats.test", "mwustats.bh", "logfold", "markertable",
         "pipeline.ckpt_write", "pipeline.ckpt_read"]
SPAN_FIELDS = [("wall_s", "s"), ("task_cpu_s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("max_task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
               ("peak_task_mem_mb", "MB"), ("rows_out", "count")]


def pipeline_spans(workload):
    """The layers a workload's op runs; their traced sum minus the untraced
    op time is trace.overhead_s."""
    spans = ["ranking", "mwuagg.ranksum", "mwuagg.tie", "mwustats.test", "mwustats.bh",
             "logfold", "markertable"]
    return (["validation"] if workload in inputs.SPLIT_INPUT else []) + spans


def host():
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    # a fifth of the machine, 1-4 GiB: the inputs need far less, and the
    # machine may be shared
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap_mb": max(1024, min(4096, mem_kb // 1024 // 5))}


def run_program(args, classes, hw, work, deadline):
    """Runs the Spark program; returns (setup seconds, records). Set-up is
    timed from launch to the 'COLD_DONE' line printed after the first op."""
    out = work / "records.jsonl"
    log = work / "jvm.log"
    (work / "tmp").mkdir()
    mode = "trace" if args.trace else "e2e"
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{hw['heap_mb']}m", f"-Xms{hw['heap_mb']}m",
           f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.MwuBench",
           f"mode={mode}", f"workload={args.workload}", f"inputs={work / 'inputs'}",
           f"work={work}", f"cpus={hw['nproc']}", f"seconds={args.seconds}",
           f"warmups={WARMUPS[args.trace]}", f"out={out}",
           f"plant_fault={1 if args.plant_fault else 0}"]
    with open(log, "w") as err:
        launched = time.monotonic()
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(max(1.0, deadline - launched), p.kill)
        timer.start()
        try:
            cold = None
            for line in p.stdout:
                if line.strip() == "COLD_DONE" and cold is None:
                    cold = time.monotonic() - launched
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    if rc != 0 or cold is None:
        raise RuntimeError(f"program exited with {rc}:\n{log.read_text()[-4000:]}")
    return cold, [json.loads(line) for line in out.read_text().splitlines()]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check_records(records, ref):
    """(attempted, failed, first errors) over every marker table and check."""
    attempted = failed = 0
    errors = []
    for r in records:
        if r["type"] == "op":
            errs = [r["error"]] if "error" in r else reference.check(r["rows"], ref)
        elif r["type"] == "check":
            errs = [] if r["ok"] else [f"check {r['name']} failed"]
        else:
            continue
        attempted += 1
        if errs:
            failed += 1
            errors.append({"kind": r.get("kind", r.get("name")), "id": r.get("id"),
                           "errors": errs[:5]})
    return attempted, failed, errors[:20]


def counts_repeat(rows, keys):
    """True when each count reads the same on every row."""
    return all(len({r[k] for r in rows}) <= 1 for k in keys)


def e2e_metrics(ops, cells, setup_s):
    walls = [o["wall_s"] for o in ops]
    c = [o["counters"] for o in ops]
    return {
        "markers_s": (median(walls), "s"),
        "cells_per_s": (cells * len(walls) / sum(walls), "1/s"),
        "task_cpu_s": (median([x["task_cpu_s"] for x in c]), "s"),
        "shuffle_mb": (median([x["shuffle_write_mb"] for x in c]), "MB"),
        "peak_task_mem_mb": (median([x["peak_task_mem_mb"] for x in c]), "MB"),
        "setup_s": (setup_s, "s"),
    }


def layer_metrics(records, api, workload):
    layers = [r for r in records if r["type"] == "layer"]
    out = {}
    for span in SPANS:
        rs = [r for r in layers if r["name"] == span]
        for field, unit in SPAN_FIELDS:
            xs = [r[field] if field in ("wall_s", "rows_out") else r["counters"][field]
                  for r in rs]
            out[f"{span}.{field}"] = (median(xs), unit)
    out["pipeline.ckpt_write.write_mb"] = (median(
        [r["counters"]["write_mb"] for r in layers if r["name"] == "pipeline.ckpt_write"]), "MB")
    for field in ("construct_s", "plan_s", "exec_s"):
        out[f"api.{field}"] = (median([o[field] for o in api]), "s")
    for field in ("jobs", "stages"):
        out[f"api.{field}"] = (median([o["counters"][field] for o in api]), "count")
    out["api.exchanges"] = (median([o["exchanges"] for o in api]), "count")
    traced = sum(out[f"{s}.wall_s"][0] for s in pipeline_spans(workload))
    out["trace.overhead_s"] = (traced - median([o["wall_s"] for o in api]), "s")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=tuple(inputs.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    classes = build.ensure()
    hw = host()
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_before = os.getloadavg()

    t = time.monotonic()
    m = inputs.make(args.workload, args.seed)
    props = inputs.write(m, args.workload, work / "inputs")
    gen_s = time.monotonic() - t
    t = time.monotonic()
    ref = reference.compute(m)
    reference_s = time.monotonic() - t
    missed = reference.self_test(ref)
    del m

    setup_s, records = run_program(args, classes, hw, work, deadline)
    load_after = os.getloadavg()

    attempted, failed, errors = check_records(records, ref)
    timed = "api" if args.trace else "timed"
    ops = [r for r in records if r["type"] == "op" and r["kind"] == timed and "wall_s" in r]
    if not ops:
        raise RuntimeError(f"no {timed} op returned a table: {errors[:3]}")
    if args.trace:
        metrics = layer_metrics(records, ops, args.workload)
        layers = [r for r in records if r["type"] == "layer"]
        repeat = all(counts_repeat([r["counters"] for r in layers if r["name"] == s],
                                   ["jobs", "stages", "tasks"]) for s in SPANS)
    else:
        metrics = e2e_metrics(ops, props["cells"], setup_s)
        repeat = counts_repeat([dict(o["counters"], exchanges=o["exchanges"]) for o in ops],
                               ["jobs", "stages", "tasks", "exchanges"])

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "plant_fault": args.plant_fault,
        "host": dict(hw, loadavg_before=load_before, loadavg_after=load_after),
        "inputs": props, "generate_s": gen_s,
        "reference_single_thread_s": reference_s,
        "checker_self_test_missed": missed, "errors": errors,
        "setup_s": setup_s, "timed_ops": len(ops), "counts_repeat": repeat,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "records": records,
    }
    results = ROOT / ".bench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(artifact, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0 and not missed, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    # a terminated run still stops the JVM it started (run_program's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        main()
    except (RuntimeError, OSError) as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        sys.exit(1)
