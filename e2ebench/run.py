#!/usr/bin/env python3
"""End-to-end benchmark of the staticql surface and the near-dup operators.

    python3 e2ebench/run.py --workload content_pages_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` every
call into a layer runs in a span and its own Spark job group, and the
metrics are the per-layer ones (see README.md).  All inputs and Spark
scratch files live under ``.e2ebench_work/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS_OUT = os.path.join(ROOT, ".e2ebench_traces")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["content_pages_refresh", "corpus_neardup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Spark settings for a run: every core, a 4 GB heap (fits a 15 GB box;
    2 GB made the index refreshes twice as slow from GC),
    no console progress bar, every scratch file under ``work``, and the repo
    root on PYTHONPATH (Python workers import staticql_spark)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run for per-span counting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM and wait until it and every process it
    started (Python daemon and workers) have ended."""
    from procs import descendants

    gw, proc = jvm_process()
    procs = descendants(proc.pid) | {proc.pid} if proc else set()
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to a kill on any wait failure
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def per_layer(ctx, tracer, names) -> dict[str, float]:
    """Per-layer metrics from the spans of a traced run; a layer the
    workload never calls reports 0."""
    from workloads import p50

    tracer.count_jobs()
    kids = tracer.children()
    spans = tracer.spans
    measured = [s for s in spans if (s["request"] or "").startswith("r")]

    def req_tasks(pred):
        by_req: dict[str, int] = {}
        for s in spans:
            if s["parent"] is None and s["request"] and pred(s["request"]):
                by_req[s["request"]] = by_req.get(s["request"], 0) + tracer.inclusive(s, "tasks", kids)
        return list(by_req.values())

    def dur_ms(layer, name, kind=None):
        return 1000 * p50([
            s["end"] - s["start"] for s in measured
            if s["layer"] == layer and s["name"] == name
            and (kind is None or ctx.kinds.get(s["request"]) == kind)
        ])

    def incl_tasks(layer, name):
        return p50([tracer.inclusive(s, "tasks", kids) for s in measured
                    if s["layer"] == layer and s["name"] == name])

    out = dict.fromkeys(names, 0.0)
    out.update({k: v for k, v in ctx.layer.items() if k in out})
    out.update(tracer.layer_metrics())
    out.update({k: v for k, v in ctx.detail.items() if k in out})
    out.update({
        "sources.list_tasks": p50(req_tasks(lambda r: r.startswith("setup-"))),
        "sources.scan_tasks": sum(s.get("tasks", 0) for s in spans if s["name"] == "scan"),
        "query.plan_ms": dur_ms("query", "plan"),
        "query.tasks_per_query": p50(req_tasks(lambda r: r in ctx.kinds and r.startswith("r"))),
        "query.find_p50_ms": dur_ms("query", "find"),
        "query.peek_p50_ms": dur_ms("query", "peek"),
        "plans.filter_p50_ms": dur_ms("plans", "paginate", "filter"),
        "plans.cursor_p50_ms": dur_ms("plans", "paginate", "cursor"),
        "relations.join_p50_ms": dur_ms("query", "exec", "join"),
        "relations.join_tasks": p50(req_tasks(
            lambda r: ctx.kinds.get(r) == "join" and r.startswith("r"))),
        "indexing.save_tasks": incl_tasks("indexing", "save_indexes"),
        "streaming.refresh_tasks": incl_tasks("streaming", "refresh_index_partitions"),
        "trace.op_p50_ms": 1000 * p50(ctx.read_lat),
        "trace.op_cpu_p50_ms": 1000 * p50(ctx.read_cpu),
        "trace.spans": len(spans),
    })
    return out


def load_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "staticql_spark", "__init__.py")):
        print(f"e2ebench: no staticql_spark package in {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    e2e_units, layer_units = load_names()

    work = os.path.join(ROOT, ".e2ebench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from procs import hwm_mb
    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    ctx = workloads.Ctx(args.seed, args.seconds, work, tracer)
    try:
        workloads.WORKLOADS[args.workload](ctx)
        _gw, proc = jvm_process()
        rss = hwm_mb(os.getpid()) + (hwm_mb(proc.pid) if proc else 0.0)
        if args.trace:
            values = per_layer(ctx, tracer, layer_units)
            os.makedirs(LAYERS_OUT, exist_ok=True)
            tracer.dump(os.path.join(LAYERS_OUT, f"{args.workload}-{args.seed}.json"))
        else:
            values = {
                "setup_s": ctx.setup_s,  # CPU seconds, like the operation figures
                "op_cpu_p50_ms": 1000 * statistics.median(ctx.read_cpu),
                "cpu_ms_per_op": 1000 * sum(ctx.cpu) / ctx.attempted,
                "peak_rss_mb": rss,
            }
            ctx.detail.update(setup_wall_s=ctx.setup_wall_s,
                              op_p50_ms=1000 * statistics.median(ctx.read_lat),
                              ops_per_s=ctx.attempted / ctx.measure_s)
    finally:
        tracer.restore()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    print(f"e2ebench: total {time.perf_counter() - t_start:.2f}s; per operation, wall s / CPU s:"
          f" {' '.join(f'{x:.2f}/{c:.2f}' for x, c in zip(ctx.latencies, ctx.cpu))}",
          file=sys.stderr)
    for problem in ctx.expected:
        print(f"e2ebench: known fault: {problem}", file=sys.stderr)
    for problem in ctx.unexpected:
        print(f"e2ebench: unexpected failure: {problem}", file=sys.stderr)
    if not args.trace:
        # the workload's own figures, for people reading the log
        print(json.dumps({"workload": args.workload, "detail": ctx.detail}))
    units = layer_units if args.trace else e2e_units
    print(json.dumps({
        "correct": not ctx.unexpected,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
