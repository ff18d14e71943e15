"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload harvest_pages --seed 1 --seconds 24 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from the seed, starts a Spark session on ``local[<usable cpus>]``,
warms up (one cold pass, then one or two light passes), times a fixed
number of cycles of the workload, about ``--seconds`` of work, checks
every output, and prints one JSON object as the last line of standard
output:

    {"correct": true, "attempted": N, "failed": 0,
     "metrics": {"<name>": {"value": v, "unit": "<unit>"}, ...}}

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the same run is followed by one more cycle in a new
session with the Spark event log on and a job group per layer call;
the metrics are then the per-layer ones, parsed from that log, plus
the tracing overhead (traced cycle wall time over the untraced
median).  Exit status is 0 only when every check passed.

All state, Spark local dirs, temp files and event logs live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "setup_harvest_action_spark"
WORKLOADS = ("harvest_pages", "harvest_bucketed")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "fresh_s": "s",
    "rerun_s": "s",
    "disk_bytes_per_input_byte": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.warmup_s": "s",
    "session.warmup_spread": "ratio",
    "sources.sparql.fetch_s": "s",
    "sources.sparql.to_frame_s": "s",
    "sources.sparql.pages": "count",
    "sources.sparql.rows": "count",
    "harvest.load.fresh_page_p50_s": "s",
    "harvest.load.rerun_page_p50_s": "s",
    "harvest.load.page_max_s": "s",
    "harvest.load.jobs_per_page": "count",
    "harvest.load.tasks_per_page": "count",
    "harvest.load.driver_gap_s": "s",
    "harvest.load.bytes_written": "bytes",
    "harvest.load.terms_inserted": "count",
    "harvest.load.terms_updated": "count",
    "harvest.load.fields_inserted": "count",
    "harvest.constraints.check_s": "s",
    "harvest.constraints.jobs": "count",
    "harvest.constraints.violations": "count",
    "io.sqlite_export.fresh_s": "s",
    "io.sqlite_export.rerun_s": "s",
    "io.sqlite_export.rows_per_s": "1/s",
    "io.sqlite_export.db_bytes": "bytes",
    "harvest.bucketed.page_p50_s": "s",
    "harvest.bucketed.page_max_s": "s",
    "harvest.bucketed.buckets_touched_frac": "ratio",
    "harvest.bucketed.jobs_per_page": "count",
    "harvest.bucketed.files_written": "count",
    "harvest.bucketed.bytes_written": "bytes",
    "harvest.bucketed.live_files": "count",
    "harvest.bucketed.disk_bytes_before_vacuum": "bytes",
    "harvest.bucketed.vacuum_s": "s",
    "harvest.bucketed.vacuum_removed": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _prepare_env(work: str) -> None:
    """Point every writer at the run's scratch dir.  Python workers
    need the checkout root on PYTHONPATH to import the package."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # session.py's driver-heap knob: a 2 GiB heap holds these inputs and
    # keeps the JVM's resident set bounded on a shared machine.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _start_session(work: str, eventlog_dir: str | None = None):
    from setup_harvest_action_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's temp files under the run's dir; no /tmp/hsperfdata
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.setupHarvestAction.checkpointDir": os.path.join(work, "checkpoints"),
    }
    if eventlog_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    start = time.perf_counter()
    # session.py defaults to 32 task slots; use the cores this process has
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - start


def _shutdown() -> None:
    """Stop the session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _traced_cycle(workload, checks, work: str, untraced_wall: float) -> dict:
    """One more cycle in a new session with the event log on and a job
    group per layer call; per-layer metrics from the log."""
    import eventlog
    import workloads as wl
    from timing import Spans

    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _ = _start_session(work, log_dir)
    sc = spark.sparkContext
    ctx = wl.Ctx(
        spark, work, checks=checks, spans=Spans(set_group=lambda g: sc.setJobGroup(g, g)),
        traced=True,
    )
    workload.bind(ctx)
    start = time.time()
    figures, detail = workload.cycle()
    end = time.time()
    workload.check_last()
    app_id = sc.applicationId
    spark.stop()  # closes the event log
    groups = eventlog.read(os.path.join(log_dir, app_id))
    layers = workload.layers(detail, groups)
    layers.update(wl.stage_totals(groups, start, end))
    layers["trace.overhead_ratio"] = figures["wall_s"] / untraced_wall
    return layers


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import workloads as wl
    from timing import cpu_jiffies, load_avg_1m, peak_rss_mb, steal_share

    begin = time.perf_counter()
    spark, start_s = _start_session(work)
    ctx = wl.Ctx(spark, work)
    workload = wl.WORKLOADS[workload_name](ctx, seed)  # inputs and preload
    warm_start = time.perf_counter()
    warmup_spread = workload.warm_up()
    warmup_s = time.perf_counter() - warm_start
    setup_s = time.perf_counter() - begin
    stolen_before = cpu_jiffies()
    e2e = wl.timed_cycles(workload.cycle, wl.n_cycles(seconds, workload.cycle_s))
    stolen = steal_share(stolen_before, cpu_jiffies())
    workload.check_last()
    e2e["setup_s"] = setup_s
    print(
        f"# {workload_name} seed={seed} start_s={start_s:.2f} warmup_s={warmup_s:.2f} "
        f"warmup_spread={warmup_spread:.3f} cycles_steal={stolen:.3f} "
        f"loadavg_1m={load_avg_1m():.2f} peak_rss_mb={peak_rss_mb():.0f} "
        + " ".join(f"{k}={e2e[k]:.4f}" for k in END_TO_END)
    )
    if trace:
        metrics = dict.fromkeys(PER_LAYER, 0)
        metrics.update(_traced_cycle(workload, ctx.checks, work, e2e["wall_s"]))
        metrics.update(
            {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.warmup_spread": warmup_spread,
                "session.peak_rss_mb": peak_rss_mb(),
            }
        )
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    checks = ctx.checks
    for msg in checks.messages:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:  # noqa: BLE001 -- report any failure as a failed run
        traceback.print_exc()
        return 1
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
