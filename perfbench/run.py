"""Options-pipeline benchmark.

Run from the repository root::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Workloads: ``backfill``, ``point_queries``, ``feature_batch`` (see
``workloads.py`` and ``README.md``). The program under test is the
``gapless_deribit_clickhouse_spark`` package in the current directory;
the benchmark changes none of it.

The Spark session is sized for the machine: ``local[nproc]`` and a
driver heap that fits the memory. Every file the run writes (Spark
scratch, JVM temp files, the landed tables) stays under
``.perfbench_work/`` in the current directory and is removed at exit;
with ``--trace 1`` the spans are written to ``.perfbench_traces/``.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` the metrics are the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The line
before it stamps the machine and versions, the one before that shows
the workload's wall-clock figures, which are not bounded.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

PACKAGE = "gapless_deribit_clickhouse_spark"
WORKLOAD_NAMES = ("backfill", "point_queries", "feature_batch")

# Bounded metrics. The operation cost is CPU time, not wall time: on a
# shared machine another tenant's load stretched wall-clock figures by
# up to 2x between runs, while the CPU the process tree used per
# operation moved about half as much. Wall-clock figures are printed,
# unbounded, two lines before the result.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "storage_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}

LAYERS = ("session", "setup", "rest_collector", "instrument", "ddl", "dedup", "api",
          "features", "blackscholes", "validation", "spark", "bench")

PER_LAYER = {
    "rest_collector.pages": "count",
    "rest_collector.fetch_page_ms": "ms",
    "rest_collector.validate_ms": "ms",
    "rest_collector.write_batch_ms_p50": "ms",
    "rest_collector.batches_written": "count",
    "rest_collector.useful_fetch_ratio": "ratio",
    "ddl.write_table_ms": "ms",
    "ddl.files_written": "count",
    "ddl.bytes_written": "bytes",
    "dedup.compact_ms": "ms",
    "dedup.rows_removed": "count",
    "dedup.bytes_rewritten": "bytes",
    "api.plan_ms_p50": "ms",
    "api.exec_ms_p50": "ms",
    "api.range_ms_p50": "ms",
    "api.point_final_ms_p50": "ms",
    "api.latest_final_ms_p50": "ms",
    "api.rows_scanned_per_row_returned": "ratio",
    "features.contract_pipeline_ms": "ms",
    "features.pcr_by_tenor_ms": "ms",
    "features.term_structure_ms": "ms",
    "features.dte_bucket_agg_ms": "ms",
    "features.iv_percentile_ms": "ms",
    "blackscholes.greeks_ms": "ms",
    "validation.quality_metrics_ms": "ms",
    "validation.gap_analysis_ms": "ms",
    "session.start_ms": "ms",
    "setup.generate_ms": "ms",
    "setup.warmup_ms": "ms",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    "trace.spans": "count",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def machine() -> tuple[int, int]:
    """(usable CPUs, total memory in bytes)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), mem_kb * 1024


def driver_mem_gb(mem_bytes: int) -> int:
    """A sixth of the machine, between 2 and 4 GiB: room for the
    workloads' small tables without crowding the machine."""
    return max(2, min(4, mem_bytes // (6 << 30)))


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def end_to_end(ctx, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + statistics.median(ctx.setup_s) + ctx.warmup_s,
        "op_cpu_ms": percentile([o.cpu_s * 1e3 for o in ctx.ops()], 50),
        "storage_bytes_per_user_byte": ctx.storage_ratio,
        "peak_rss_mb": ctx.rss_mb,
    }


def wall_view(workload: str, ctx, e2e: dict[str, float]) -> dict[str, float]:
    """The workload's wall-clock figures."""
    ops = ctx.ops()
    busy = ctx.busy_s()
    ms = [o.seconds * 1e3 for o in ops]
    if workload == "backfill":
        view = {"ingest_rows_per_s": ctx.rows / busy,
                "compact_s": statistics.median(o.seconds for o in ctx.tracer.ops if o.kind == "compact"),
                "storage_bytes_per_user_byte": e2e["storage_bytes_per_user_byte"]}
    elif workload == "point_queries":
        view = {"query_p50_ms": percentile(ms, 50), "query_p90_ms": percentile(ms, 90),
                "queries_per_s": len(ops) / busy}
    else:
        view = {"feature_rows_per_s": ctx.rows / busy}
    view.update(setup_s=e2e["setup_s"], peak_rss_mb=e2e["peak_rss_mb"],
                failed_ops_ratio=ctx.failed / max(1, ctx.attempted), samples=len(ops))
    return view


def per_layer(ctx, session_s: float) -> dict[str, float]:
    tr = ctx.tracer
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(ctx.layer)
    out["session.start_ms"] = session_s * 1e3
    out["setup.warmup_ms"] = ctx.warmup_s * 1e3
    for layer, ms in tr.self_ms_by_layer().items():
        out[f"self_ms.{layer}"] = ms
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_ratio"] = tr.overhead_ratio()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root", file=sys.stderr)
        return 2
    nproc, mem = machine()
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = root / ".perfbench_work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb(mem)}g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
    )
    time.tzset()
    sys.path[:0] = [str(root), str(Path(__file__).resolve().parent)]

    from gapless_deribit_clickhouse_spark.core.session import get_spark
    from tracing import Tracer, clock
    import procs
    import workloads

    tracer = Tracer(enabled=bool(args.trace), run_id=run_id, cpu_clock=procs.tree_cpu_s)
    spark = None
    try:
        t0 = clock()
        with tracer.span("session.start"):
            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.local.dir": str(work / "spark-local"),
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        session_s = clock() - t0
        stamp = {
            "nproc": nproc,
            "mem_total_gb": round(mem / (1 << 30), 1),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, nproc)
        t1 = clock()
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        t2 = clock()
        pids = procs.process_tree(os.getpid())
        if spark is not None:
            procs.stop_spark(spark)
        procs.wait_gone([p for p in pids if p != os.getpid()])
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: session {session_s:.1f} s, set-up {sum(ctx.setup_s):.1f} s, warm-up {ctx.warmup_s:.1f} s, "
          f"ops {ctx.busy_s():.1f} s, checks {ctx.check_s:.1f} s, workload {t2 - t1:.1f} s, "
          f"stop {clock() - t2:.1f} s", file=sys.stderr)

    e2e = end_to_end(ctx, session_s)
    if args.trace:
        metrics, units = per_layer(ctx, session_s), PER_LAYER
        tracer.write(root / ".perfbench_traces" / f"{run_id}.json")
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"wall_metrics": wall_view(args.workload, ctx, e2e)}))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
