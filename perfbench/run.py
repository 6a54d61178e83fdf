"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints one line per metric (name, value,
unit), the sample counts and the error rate, and as its last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, and the run also writes its spans and event-log counters
to ``.perfbench_run/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.batch import WORKLOADS as BATCH_WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "recovery_s": "s",
    "peak_rss_mb": "MB",
}


PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.input_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.python_run_s": "s",
    "operators.python_sent_mb": "MB",
    "operators.python_recv_mb": "MB",
    "operators.checkpoint_mb_held": "MB",
    "operators.persistent_rdds": "count",
    "stream.build_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.rows_per_trigger": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.backlog_rows": "count",
    "gen.late_ms": "ms",
    "gen.rows": "count",
    "trace.pass_s": "s",
    **{f"queries.construct_s.{q}": "s" for q in BATCH_WORKLOADS["llm_graph_batch"]},
    **{f"operators.execute_s.{q}": "s" for q in BATCH_WORKLOADS["llm_graph_batch"]},
}

WORKLOADS = (*BATCH_WORKLOADS, "stream_window")

# The engine as every run sees it: four local cores and a 1 GiB driver
# heap, whatever the host has, so runs on different hosts compare.
ENGINE_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "1g"}


def _prepare_env(work: str, trace: bool) -> str:
    """Point every file Spark and its Python workers write into ``work``,
    and turn the event log on for a traced run. Must run before the JVM
    starts: ``PYSPARK_SUBMIT_ARGS`` is read at launch."""
    local, tmp, log_dir = (os.path.join(work, d) for d in ("local", "tmp", "eventlog"))
    for d in (local, tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", f"spark.local.dir={local}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(ENGINE_ENV)
    os.environ.update(
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    return log_dir


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")

    # the engine and its query registry must be present in this checkout
    import __spark_entry__  # noqa: F401
    import gearpump_spark  # noqa: F401

    from perfbench.measure import PeakRss, Tracer

    runs = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = _prepare_env(work, bool(args.trace))
    tracer = Tracer(enabled=bool(args.trace))
    try:
        if args.workload == "stream_window":
            from perfbench.streamwl import StreamRun

            wl = StreamRun(args.seed, args.seconds, tracer, work)
        else:
            from perfbench.batch import BatchRun

            wl = BatchRun(args.workload, args.seed, args.seconds, tracer, work)
        with PeakRss() as rss:
            wl.run()
        wl.check()
        if args.trace:
            metrics, units = wl.per_layer(log_dir), PER_LAYER
            tracer.dump(
                os.path.join(runs, "traces", f"{args.workload}-{args.seed}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "per_layer": metrics,
                    "pass_share_in_query_spans": tracer.coverage("pass"),
                },
            )
        else:
            metrics, units = wl.end_to_end(rss.peak_mb), END_TO_END
    finally:
        _stop_engine()
        shutil.rmtree(work, ignore_errors=True)

    print("\n".join(report(metrics, units, wl.outcome, wl.samples())))
    return 0


def _stop_engine() -> None:
    """Stop any session still running (a failed run leaves one), then the
    driver JVM, and wait for it to exit: it exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def report(metrics: dict, units: dict, out, samples: dict) -> list[str]:
    """The printed result: one line per metric, the sample counts, the
    error rate and its errors, then the JSON line (always last). Every
    metric in ``units`` is reported; a layer the workload does not
    exercise reports 0."""
    metrics = {k: float(metrics.get(k, 0.0)) for k in units}
    lines = [f"{k:44s} {v:14.4f} {units[k]}" for k, v in metrics.items()]
    lines.append(f"samples {json.dumps(samples)}")
    rate = out.failed / max(1, out.attempted)
    lines.append(f"error_rate {rate:.6f} ({out.failed} failed / {out.attempted} attempted)")
    lines += [f"error: {e}" for e in out.errors[:10]]
    lines.append(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return lines


if __name__ == "__main__":
    sys.exit(main())
