"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload migrate_lifecycle --seed 1 --seconds 5 --trace 0

Run it from the root of a source checkout (the directory holding
``migbq_spark``).  The run

1. sets up the engine once, cold: ``get_spark`` (the JVM launch),
   runtime confs and package ship, the ``registry.queries()`` load and a
   warm-up job; ``setup_s`` runs from process start to the end of this;
2. makes the workload's inputs from ``--seed`` (not timed);
3. runs rounds of the workload back to back for ``--seconds``, at least
   one (a closed loop with one client); the first round is the first use
   of every plan and command after set-up;
4. checks the program's outputs, outside the timed region;
5. prints a report line, then the result as the last line of stdout:
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace
1`` every round is traced and the metrics are the per-layer ones, plus
the tracing overhead.  Spans are written to ``.perfbench_out/``.  The
exit code is 0 only when every output was correct.  Everything the run
writes stays inside the checkout.
"""

from __future__ import annotations

_T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("migrate_lifecycle", "query_mix")

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _confine(work: Path) -> None:
    """Point every temporary file Spark, the JVM, Derby and Python make
    into ``work``, and quiet Spark's console output."""
    conf = work / "conf"
    tmp = work / "tmp"
    for d in (conf, tmp, work / "spark-local", work / "derby"):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = " ".join(
        (
            # a fixed-size heap and young generation: the JVM's resident
            # high-water mark then follows what the program keeps, not
            # when G1 chose to grow the heap
            "-Xms2g",
            "-Xmn512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work / 'derby'}",
            f"-Dderby.stream.error.file={work / 'derby' / 'derby.log'}",
        )
    )
    (conf / "spark-defaults.conf").write_text(
        "spark.ui.showConsoleProgress false\n"
        f"spark.local.dir {work / 'spark-local'}\n"
        f"spark.driver.extraJavaOptions {java_opts}\n"
        f"spark.sql.warehouse.dir {work / 'warehouse'}\n"
        f"spark.hadoop.hadoop.tmp.dir {work / 'hadoop'}\n"
    )
    (conf / "log4j2.properties").write_text(_LOG4J)
    # the engine's own knobs (heap, shuffle partitions, staging, CPU
    # count) are the benchmark's choice, not the caller's environment
    for name in list(os.environ):
        if name.startswith(("MIGBQ_", "SPARK_GRAFT_")):
            del os.environ[name]
    os.environ.update(
        SPARK_CONF_DIR=str(conf),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        # for every JVM, the spark-submit launcher's too: no
        # /tmp/hsperfdata_<user>, temporary files under ``work``
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        MIGBQ_DRIVER_MEM="2g",
        PYTHONWARNINGS="ignore",
    )


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _warmup_job(spark) -> None:
    """A fixed small shuffle aggregate: the first job of a session."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 200_000, numPartitions=_cores())
        .select((F.col("id") % 97).alias("k"))
        .groupBy("k")
        .count()
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def _setup() -> tuple[object, dict, dict, dict[str, float]]:
    """The engine set-up, with the time of each step."""
    from migbq_spark.session import ensure_runtime_confs, get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=_cores())
    t1 = time.perf_counter()
    ensure_runtime_confs(spark)
    t2 = time.perf_counter()
    registry = importlib.import_module("migbq_spark.registry")
    queries, oracles = registry.queries(), registry.oracle_sql()
    t3 = time.perf_counter()
    _warmup_job(spark)
    t4 = time.perf_counter()
    return spark, queries, oracles, {
        "warmup_s": t4 - t3,
        "session.get_spark_s": t1 - t0,
        "session.ensure_confs_s": t2 - t1,
        "registry.load_s": t3 - t2,
    }


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Py4JError:  # connection broken by a signal: the JVM is stopped below
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(rounds, ops, setup_s: float, peak_kb, workload: str) -> tuple[dict, dict]:
    """(gated metrics, report-only metrics)."""
    lat = [o.seconds for o in ops]
    gated = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(r.wall_s for r in rounds), "s"),
        "cpu_s": (statistics.median(r.cpu for r in rounds), "s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
        "op_p50_s": (statistics.median(lat), "s"),
    }
    report: dict[str, object] = {
        "failed_frac": sum(not o.ok for o in ops) / len(ops),
        "op_samples": len(lat),
        "rounds": len(rounds),
        "round_wall_s": [round(r.wall_s, 3) for r in rounds],
        "pyworker_cpu_s": statistics.median(r.pyworker_cpu for r in rounds),
        "op_s": [[o.kind, round(o.seconds, 3)] for o in ops],
    }
    if workload == "migrate_lifecycle":
        runs = [o for o in ops if o.kind == "run"]
        syncs = [o.seconds for o in ops if o.kind == "sync"]
        report["rows_per_s"] = sum(o.rows for o in runs) / sum(o.seconds for o in runs)
        report["sync_p50_s"] = statistics.median(syncs)
        report["sync_samples"] = len(syncs)
        report["repair_s"] = statistics.median(o.seconds for o in ops if o.kind == "check")
    return {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}, report


def _per_layer(rounds, setup: dict[str, float]) -> dict:
    from perfbench.workloads import ROUND_LAYER_METRICS

    out = {}
    for key in ("session.get_spark_s", "session.ensure_confs_s", "registry.load_s"):
        out[key] = (setup[key], "s")
    for key, unit in ROUND_LAYER_METRICS.items():
        out[key] = (statistics.fmean(r.layers.get(key, 0.0) for r in rounds), unit)
    out["bench.traced_wall_s"] = (statistics.median(r.wall_s for r in rounds), "s")
    out["bench.tracing_overhead_s"] = (statistics.median(r.tracing_overhead_s for r in rounds), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / "migbq_spark" / "__init__.py").is_file():
        print(f"perfbench: no migbq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as W
    from perfbench.procfs import driver_maxrss_kb

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    _confine(work)
    sizes = W.FULL if args.size == "full" else W.TINY
    workload = {
        "migrate_lifecycle": lambda: W.MigrateWorkload(sizes),
        "query_mix": lambda: W.QueryWorkload(W.QUERY_SQL + W.QUERY_DEDUP, sizes.query_keep),
    }[args.workload]()

    spark = None
    try:
        spark, queries, oracles, setup = _setup()
        setup_s = time.perf_counter() - _T_START
        ctx = W.Context(spark, queries, oracles, work, args.seed)
        prep = workload.prepare(ctx)
        t_rounds = time.perf_counter()
        rounds = W.run_rounds(workload, ctx, args.seconds, bool(args.trace))
        t_verify = time.perf_counter()
        prep.update(workload.verify(ctx, rounds))
        ops = [o for r in rounds for o in r.ops]
        rss_kb = {
            "jvm_hwm_mb": ctx.sample().jvm_hwm_kb,
            "driver_maxrss_mb": driver_maxrss_kb(),
            "max_worker_hwm_mb": ctx.max_worker_hwm_kb,
        }
        peak_kb = sum(rss_kb.values())
        gated, report = _end_to_end(rounds, ops, setup_s, peak_kb, args.workload)
        metrics = _per_layer(rounds, setup) if args.trace else gated
        if args.trace:
            out_dir.mkdir(exist_ok=True)
            ctx.tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.jsonl")
            report["op_layers"] = {
                o.kind: {k: round(v, 4) for k, v in o.layer.items()} for o in ops if o.layer
            }
        report.update(
            workload=args.workload,
            seed=args.seed,
            setup_steps_s=setup,
            start_to_rounds_s=t_rounds - _T_START,
            start_to_verify_s=t_verify - _T_START,
            start_to_result_s=time.perf_counter() - _T_START,
            **{k: v / 1024 for k, v in rss_kb.items()},
            **prep,
            check_failures=ctx.check_failures,
        )
        failed = sum(not o.ok for o in ops)
        correct = failed == 0 and not ctx.check_failures
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()
    print("perfbench report " + json.dumps({**report, **{k: v["value"] for k, v in gated.items()}}, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
