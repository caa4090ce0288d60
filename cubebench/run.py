"""Cube benchmark entry point.

    python3 cubebench/run.py --workload cube_build --seed 1 --seconds 15 --trace 0

Runs one workload (see workloads.py) from the root of a source checkout:
generates the seeded inputs, starts a local Spark session through the
program's ``session.get_spark``, sets up, measures a closed loop of
operations for ``--seconds`` seconds and checks every output against an
independent oracle. Everything it writes goes under ``.cubebench/`` in
the checkout; the per-run directory is deleted at the end.

Output: human-readable lines, then as the last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` whose metrics
are the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``). A wrong output counts as a failed
operation and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STAGES = ("merge", "blend", "index", "publish")


def pin_env(run_dir: str) -> dict:
    """Environment for the Spark JVM, its Python workers and this
    process, fixed before anything starts: all cores, a fixed JVM heap
    sized to the box, one BLAS/OpenMP thread per task, scratch and
    temp directories inside the run directory, no console progress bar."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) / 2 ** 20
    # The inputs are megabytes, so a 2 GB heap is ample. It is committed
    # and touched at start-up: how far a growing heap expands depends on
    # GC timing, which made the JVM's peak RSS vary by 10-25 % between
    # runs; a fixed heap leaves native and Python memory to vary.
    mem = f"{max(1, min(2, int(total_gb // 4)))}g"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    jvm_java = f"{java} -Xms{mem} -XX:+AlwaysPreTouch"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "OMP_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": java,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf 'spark.driver.extraJavaOptions={jvm_java}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()      # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)


def peak_rss_mb(spark) -> dict:
    """Peak resident set (VmHWM) of the Spark JVM and of this process."""
    from cubebench.trace import vm_hwm_mb
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb()}


def end_to_end_metrics(setup_s: float, summary: dict, rss: float) -> dict:
    """The end-to-end metrics of BENCHMARK.json from an untraced run."""
    return {"setup_s": setup_s, "job_p50_s": summary["job_p50_s"],
            "mpix_per_s": summary["mpix_per_s"],
            "out_bytes_per_in_byte": summary["out_bytes_per_in_byte"],
            "peak_rss_mb": rss}


def layer_metrics(w, session_s: float) -> tuple[dict, dict]:
    """The per-layer metrics of BENCHMARK.json from a traced run.
    Layers that do not run in this workload report 0."""
    from cubebench.trace import layer_table
    ops = layer_table(w.tracer, w.root_span)
    reads = layer_table(w.tracer, "read")

    def s(name, table=ops):
        return table.get(name, {}).get("self_s", 0.0)

    def c(name, table=ops):
        return table.get(name, {}).get("count", 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    m = {"session.start_s": session_s,
         "scan.self_s": s("scan"), "scan.files": c("scan.files"),
         "decode.self_s": s("decode"), "decode.pixels": c("decode.pixels"),
         "decode.mpx_per_s": ratio(c("decode.pixels") / 1e6, s("decode")),
         "warp.self_s": s("warp"), "warp.pixels_out": c("warp.pixels_out"),
         "warp.pairs_hit_ratio": ratio(c("warp.pairs_hit"), c("warp.pairs_tested"))}
    for st in STAGES:
        m[f"{st}.self_s"] = s(st)
        for k in ("rows_out", "shuffle_bytes", "spill_bytes"):
            m[f"{st}.{k}"] = c(f"{st}.{k}")
    m.update({
        "refresh.self_s": s("refresh"),
        "refresh.state_rows_read": c("refresh.state_rows_read"),
        "refresh.partitions_rewritten": c("refresh.partitions_rewritten"),
        "write.self_s": s("write"), "write.files": c("write.files"),
        "write.bytes": c("write.bytes"),
        "cog.self_s": s("cog"), "cog.bytes": c("cog.bytes"),
        "api.items_plan_s": s("api.items_plan", reads),
        "api.items_exec_s": s("api.items_exec", reads),
        "api.meta_s": s("api.meta", reads),
        "api.jobs_per_req": c("api.jobs_per_req", reads),
        "api.files_listed": c("api.files_listed", reads),
        "spark.jobs": c("spark.jobs"), "spark.tasks": c("spark.tasks"),
        "spark.shuffle_bytes": c("spark.shuffle_bytes"),
        "spark.spill_bytes": c("spark.spill_bytes"),
        "trace.glue_s": s(w.root_span),
    })
    # the first untraced operation of a run may be cold; compare warm ones
    traced = statistics.median(w.traced) if w.traced else 0.0
    untraced = statistics.median(w.untraced[1:] or w.untraced) if w.untraced else 0.0
    m["trace.traced_op_s"] = traced
    m["trace.untraced_op_s"] = untraced
    m["trace.overhead_s"] = traced - untraced
    return m, {"ops": ops, "reads": reads}


def layer_report(table: dict) -> str:
    lines = [f"{'layer':22s} {'self_s (median per op)':>24s}"]
    for name, row in sorted(table["ops"].items()) + sorted(table["reads"].items()):
        if "self_s" in row:
            lines.append(f"{name:22s} {row['self_s']:24.4f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "cube_builder_spark", "__init__.py")):
        print("cube_builder_spark not found next to the benchmark; run from a "
              "source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cubebench.trace import Tracer
    from cubebench.workloads import WORKLOADS, summarize
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(ROOT, ".cubebench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_env(run_dir)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        from cube_builder_spark.session import get_spark
        spark = get_spark("cubebench")
        session_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, os.path.join(run_dir, "work"), args.seed,
                                     tracer)
        w.setup()
        setup_s = time.perf_counter() - t0
        w.run(args.seconds)
        rss = peak_rss_mb(spark)
        versions = {"spark": spark.version,
                    "java": spark._jvm.java.lang.System.getProperty("java.version"),
                    "python": platform.python_version()}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = [x for x in w.samples if x["errors"]]
    for e in w.setup_errors + [e for x in failed for e in x["errors"]]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    attempted = len(w.samples)
    correct = not failed and not w.setup_errors
    summary = summarize(w)
    figures = {"setup_s": (setup_s, "s"), "job_p50_s": (summary["job_p50_s"], "s"),
               "mpix_per_s": (summary["mpix_per_s"], "Mpx/s"),
               "out_bytes_per_in_byte": (summary["out_bytes_per_in_byte"], "ratio"),
               "peak_rss_mb": (sum(rss.values()), "MB"),
               "failed_ratio": (len(failed) / attempted, "ratio")}
    figures.update({k: (summary[k], "ms") for k in
                    ("items_p50_ms", "items_p90_ms", "meta_p50_ms") if k in summary})
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
              "samples": {"ops": summary["ops"], "reads": len(w.reads)},
              "session_s": session_s, "setup_phases": w.setup_phases,
              "peak_rss_parts_mb": rss, "inputs": w.manifest(),
              "env": {k: os.path.relpath(v, ROOT) if v.startswith(run_dir) else v
                      for k, v in env.items() if not k.endswith("_OPTS")
                      and k != "PYSPARK_SUBMIT_ARGS"},
              "console_progress": False, "versions": versions}
    if args.trace:
        metrics, table = layer_metrics(w, session_s)
        os.makedirs(os.path.join(ROOT, ".cubebench"), exist_ok=True)
        path = os.path.join(ROOT, ".cubebench",
                            f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({**tracer.dump(), "layers": table, "metrics": metrics}, fh)
        print(layer_report(table), file=sys.stderr)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        names = spec["per_layer"]
    else:
        metrics = end_to_end_metrics(setup_s, summary, sum(rss.values()))
        names = spec["end_to_end"]
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed),
                      "metrics": {m["name"]: {"value": metrics[m["name"]],
                                              "unit": m["unit"]} for m in names}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
