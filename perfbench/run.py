"""Repository benchmark: one seeded workload, measured for a fixed
time, outputs checked, one JSON result on the last line of stdout.

    python3 perfbench/run.py --workload cron_push --seed 1 --seconds 15 --trace 0

Run from the repository root.  ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs traced and untraced ops
alternately and reports the per-layer metrics (layers idle in this
workload read 0).  The line before the result is a record of the box
(nproc, RAM, load, source hash), a fixed calibration microbench, the
set-up breakdown and every op's figures.

Everything the run writes stays under ``.perfbench_work/`` in the
working directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from accounting import RssPeak, StageLedger, Tracer, sample_tree, sum_stages, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "curw_wrf_data_pusher_spark"

#: per-span figures reported; shuffle fetch wait and spill are recorded
#: in the op record but read 0 on a single local executor at this size
SPAN_METRICS = {
    "wall_s": "s", "cpu_s": "s", "task_s": "s", "shuffle_write_mb": "MB",
    "rows_out": "count",
}
RATIOS = {
    "llmops.dedup.verify_candidates.pass_ratio": "ratio",
    "sinks.upsert.upsert_parquet.fact.write_amp": "ratio",
    "plans.rfields.build_rfields.files": "count",
    "sources.netcdf.read_wrf_grid_split.cells_per_s": "1/s",
    "trace.overhead_s": "s",
    "trace.unspanned_s": "s",
}
END_TO_END = {
    "setup_s": "s", "run_s": "s", "cpu_s": "s", "shuffle_mb": "MB",
    "write_mb": "MB", "peak_rss_mb": "MB",
}
MB = 2**20
#: driver heap; the package default (16g) does not fit beside other
#: work on a 15 GB box
DRIVER_MEM = "4g"


def per_layer_units(layers_by_workload) -> dict[str, str]:
    out = {}
    for layers in layers_by_workload.values():
        for layer in layers:
            for m, unit in SPAN_METRICS.items():
                out[f"{layer}.{m}"] = unit
    out.update(RATIOS)
    return out


def box_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    h = hashlib.sha256()
    for dirpath, dirs, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
        "source_sha256": h.hexdigest()[:16],
    }


def calibration() -> dict:
    """Fixed CPU work independent of the package, reported but not
    gated, so drift of the box between runs shows."""
    import numpy as np

    def py_loop():
        s = 0
        for i in range(1_000_000):
            s += i * i
        return s

    def np_sort():
        np.sort(np.random.default_rng(0).random(1_000_000))

    out = {}
    for name, fn in (("py_loop_s", py_loop), ("np_sort_s", np_sort)):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        out[name] = statistics.median(times)
    return out


def configure_env(work: str) -> dict[str, str]:
    """Size the session to the box and keep every file it writes
    inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        # no hsperfdata file: it would go to /tmp whatever the tmpdir.
        # A fixed heap and young generation: G1's adaptive sizing
        # otherwise moves the JVM's resident set by up to 1 GB between
        # identical runs, which would decide peak_rss_mb.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -Xmn512m"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    me = os.getpid()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        rest = [p for p in tree_pids() if p != me]
        if not rest:
            return
        time.sleep(0.1)
    for p in [p for p in tree_pids() if p != me]:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(tree_pids()) > 1:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        time.sleep(0.1)


def measure_op(wl, ledger, traced: bool) -> dict:
    """Run one op from a fresh starting state; returns its figures."""
    wl.prepare()
    wl.phases.clear()
    # release the previous op's frames and shuffle files, then flush
    # dirty pages, so no earlier write is cancelled inside this op
    gc.collect()
    wl.spark._jvm.System.gc()
    ledger.drain()
    os.sync()
    wm = ledger.watermark()
    tracer = Tracer(ledger) if traced else None
    rec = {"traced": traced, "errors": []}
    before = sample_tree()
    with RssPeak() as rss:
        t = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span(wl.name):
                    result = wl.op(tracer)
            else:
                result = wl.op()
        except Exception as exc:  # a failed op is counted, not fatal
            result = None
            rec["errors"].append(f"{type(exc).__name__}: {exc}")
        rec["run_s"] = time.perf_counter() - t
    rec.update(wl.phases)
    proc = sample_tree() - before
    stages = ledger.since(wm)
    rec.update(
        cpu_s=proc.cpu_s,
        write_mb=proc.write_bytes / MB,
        net_write_mb=proc.net_write_bytes / MB,
        shuffle_mb=sum_stages(stages.values())["shuffle_write_bytes"] / MB,
        peak_rss_mb=rss.peak_bytes / MB,
    )
    if not rec["errors"]:
        try:
            rec["errors"] += wl.check(result)
        except Exception as exc:
            rec["errors"].append(f"check {type(exc).__name__}: {exc}")
    if tracer is not None:
        rec["layers"] = layer_figures(tracer, wl)
    return rec


def layer_figures(tracer, wl) -> dict[str, float]:
    out: dict[str, float] = {}
    for sp in tracer.spans:
        st = sum_stages(sp.stages.values())
        fig = {
            "wall_s": sp.self_wall_s,
            "cpu_s": sp.self_proc.cpu_s,
            "task_s": st["run_ms"] / 1000,
            "fetch_wait_s": st["fetch_wait_ms"] / 1000,
            "shuffle_write_mb": st["shuffle_write_bytes"] / MB,
            "spill_mb": (st["memory_spill_bytes"] + st["disk_spill_bytes"]) / MB,
            "rows_out": sp.rows_out,
            "write_mb": sp.self_proc.write_bytes / MB,
        }
        if sp.name == wl.name:
            out["trace.unspanned_s"] = sp.self_wall_s
            out["trace.run_s"] = sp.wall_s
            continue
        for k, v in fig.items():
            key = f"{sp.name}.{k}"
            out[key] = out.get(key, 0) + v
    counts = wl.layer_counts
    if "verify_pass_ratio" in counts:
        out["llmops.dedup.verify_candidates.pass_ratio"] = counts["verify_pass_ratio"]
    if "pushed_mb" in counts:
        out["sinks.upsert.upsert_parquet.fact.write_amp"] = (
            out["sinks.upsert.upsert_parquet.fact.write_mb"] / counts["pushed_mb"]
        )
    if "rfield_files" in counts:
        out["plans.rfields.build_rfields.files"] = counts["rfield_files"]
    read = "sources.netcdf.read_wrf_grid_split"
    if f"{read}.rows_out" in out:
        out[f"{read}.cells_per_s"] = out[f"{read}.rows_out"] / out[f"{read}.wall_s"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, **box_record(),
              "calibration": calibration()}
    extra_conf = configure_env(work)
    spark = None
    try:
        from curw_wrf_data_pusher_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
        session_s = time.perf_counter() - t0
        ledger = StageLedger(spark)

        # set-up: inputs from the seed, store priming, warm-up op
        t = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "wl"), args.seed)
        wl.warmup()
        wl.setup()
        prepare_s = time.perf_counter() - t
        record["setup"] = {"session_s": session_s, "prepare_s": prepare_s}

        ops = []
        # a traced run needs an untraced and a traced op
        min_ops = 2 if args.trace else 1
        deadline = time.perf_counter() + args.seconds
        while len(ops) < min_ops or time.perf_counter() < deadline:
            traced = bool(args.trace) and len(ops) % 2 == 1
            ops.append(measure_op(wl, ledger, traced))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    failed = sum(1 for o in ops if o["errors"])
    plain = [o for o in ops if not o["traced"]]
    if args.trace:
        traced = [o["layers"] for o in ops if o["traced"]]
        metrics = {
            name: {"value": statistics.median(t.get(name, 0.0) for t in traced),
                   "unit": unit}
            for name, unit in per_layer_units(workloads.LAYERS).items()
        }
        metrics["trace.overhead_s"]["value"] = (
            statistics.median(t["trace.run_s"] for t in traced)
            - statistics.median(o["run_s"] for o in plain)
        )
    else:
        values = {"setup_s": session_s + prepare_s}
        for k in ("run_s", "cpu_s", "shuffle_mb", "write_mb", "peak_rss_mb"):
            values[k] = statistics.median(o[k] for o in plain)
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    record["ops"] = ops
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
