"""Benchmark of the rollup engine: backfill and refresh, each with serving reads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

The run starts a Spark session (``local[k]``, k = min(4, cores) - 1), makes the
workload's input from ``--seed`` with ``generate_pages``, runs a fixed
number of full-size warm-up ops, then times as many ops, and after them
rounds of serving reads, as fill ``--seconds`` at the workload's nominal
unit time (see ``unit_count``). Before every op or read round it clears
Spark's cache and fails the run if any RDD is still persisted. After the
timed loop it checks every measured unit's outputs; a unit whose check
fails is counted as failed but still timed. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records warm-up and op times and a host-capacity sample.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones: ops then alternate untraced and traced, spans wrap the engine's
public calls, and Spark's event log (enabled in this session only) supplies
task and SQL-operator metrics per span. Everything the run writes stays in
``.perfbench_work/`` of the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NEEDED = (
    "usgs_geomag_algorithms_spark/__init__.py",
    "tests/oracle_numpy.py",
    "tools/throttle_probe.py",
)

#: end-to-end metric -> unit
E2E_UNITS = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "cpu_s_per_mpoint": "s/Mpoint",
    "bytes_per_point": "B/point",
    "cycle_p50_s": "s",
    "read_p50_ms": "ms",
    "reads_per_s": "reads/s",
    "cpu_ms_per_read": "ms",
}


class CacheLeakError(RuntimeError):
    pass


def guard_cache(spark) -> None:
    """Clear Spark's cache before an op; an RDD that survives is a leak
    that would let the op skip work (a repeated build reusing a persisted
    minute frame skips the FIR)."""
    spark.catalog.clearCache()
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    if leaked.size():
        raise CacheLeakError(
            f"{leaked.size()} RDD(s) still persisted at the start of an op: "
            f"{leaked.toString()}"
        )


def host_sample(dur: float = 0.3) -> dict:
    """Tasks/s of tools/throttle_probe.py at 1 and at nproc processes.
    Recorded only; no run is dropped or rescaled by it."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import throttle_probe as probe

    n = os.cpu_count() or 1
    t1 = probe.level(1, dur)
    tn = probe.level(n, dur)
    return {"nproc": n, "t1": t1, "tn": tn, "ratio": tn / (n * t1)}


def start_session(work: str, trace: bool, cores: int):
    from usgs_geomag_algorithms_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched (and with it the Python
    UDF workers) to exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def e2e_metrics(ops, reads, setup_s: float, bytes_per_point: float) -> dict:
    med = statistics.median
    return {
        "setup_s": setup_s,
        "points_per_s": med(op.points / op.wall_s for op in ops),
        "cpu_s_per_mpoint": med(op.cpu_s / op.points * 1e6 for op in ops),
        "bytes_per_point": bytes_per_point,
        "cycle_p50_s": med(op.wall_s for op in ops),
        "read_p50_ms": med(r.ms for r in reads),
        "reads_per_s": len(reads) / (sum(r.ms for r in reads) / 1000.0),
        "cpu_ms_per_read": sum(r.cpu_ms for r in reads) / len(reads),
    }


class Loop:
    """Timed units of one kind (ops or read rounds), each preceded by the
    cache guard. With tracing on, every second unit is traced."""

    def __init__(self, spark, tracer, trace: bool):
        self.spark, self.tracer, self.trace = spark, tracer, trace
        #: (kind, traced, result or None) in execution order
        self.units: list[tuple[str, bool, object]] = []
        self.errors: list[str] = []

    def run(self, kind: str, fn, count: int) -> None:
        for n in range(count):
            guard_cache(self.spark)
            traced = self.trace and n % 2 == 1
            self.tracer.active, self.tracer.group = traced, (kind, len(self.units))
            try:
                out = fn(measured=True)
            except Exception:  # an op that raises is a failed op, not a crash
                self.errors.append(traceback.format_exc())
                out = None
            finally:
                self.tracer.active = False
            self.units.append((kind, traced, out))


def run(args, work: str) -> tuple[dict, dict]:
    from proctree import process_age_s, tree_peak_rss_mb
    from layers import LAYER_UNITS, Tracer, layer_report, patch_engine, read_eventlog
    from workloads import WORKLOADS, Context

    # one core stays free for the driver, the JIT, GC and the Python UDF
    # workers: on 4 cores local[3] built as fast as local[4] within 8% and
    # its op and read times varied less over six interleaved pairs
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    t = time.perf_counter()
    spark = start_session(work, args.trace, cores)
    session_ms = (time.perf_counter() - t) * 1000.0
    phases = {"session_started": process_age_s()}
    tracer = Tracer(spark)
    try:
        if args.trace:
            patch_engine(tracer)
        wl = WORKLOADS[args.workload](
            Context(spark, work, args.seed, args.seconds, tracer)
        )
        wl.setup()
        phases["input_ready"] = process_age_s()
        warmup = []
        for i in range(wl.warmup_ops):
            guard_cache(spark)
            warmup.append(wl.run_op(measured=False).wall_s)
            if i == 0:
                # one read round after the first warm-up op, so the read
                # path is warm too and, with a second warm-up op, the timed
                # ops start right after an op
                guard_cache(spark)
                warmup.append(wl.read_round(measured=False).wall_s)
        setup_s = process_age_s()

        loop = Loop(spark, tracer, bool(args.trace))
        n_ops, n_rounds = wl.timed_counts()
        loop.run("op", wl.run_op, n_ops)
        loop.run("reads", wl.read_round, n_rounds)
        phases["measured"] = process_age_s()
        fails = wl.verify()  # one error list per completed unit, in order
        phases["checked"] = process_age_s()
        bpp = wl.store_bytes_per_point()
        peak_rss = tree_peak_rss_mb()
    finally:
        tracer.unpatch()
        stop_session(spark)
    phases["stopped"] = process_age_s()
    it = iter(fails)
    failed = [out is None or bool(next(it)) for _k, _t, out in loop.units]
    # a unit that ran to the end is timed even if its check failed: the
    # check verdict is reported as "correct" and "failed"
    done = [(k, t, out) for k, t, out in loop.units if out is not None]
    if not any(k == "op" for k, _t, _o in done):
        raise RuntimeError("no op ran to the end")
    if args.trace:
        ev = read_eventlog(os.path.join(work, "eventlog"), "pages_input")
        layers = layer_report(tracer.spans, ev, cores)
        walls = {
            traced: [o.wall_s for k, t, o in done if k == "op" and t == traced]
            for traced in (True, False)
        }
        if not walls[True] or not walls[False]:
            raise RuntimeError("a traced run needs a traced and an untraced op")
        layers["session.start_ms"] = session_ms
        layers["session.peak_rss_mb"] = peak_rss
        layers["trace_overhead_ms"] = 1000.0 * (
            statistics.median(walls[True]) - statistics.median(walls[False])
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        ops = [o for k, _t, o in done if k == "op"]
        all_reads = [r for _k, _t, o in done for r in o.reads]
        vals = e2e_metrics(ops, all_reads, setup_s, bpp)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "setup_phases_s": phases,
        "warmup_op_s": warmup,
        "op_s": [o.wall_s if o else None for k, _t, o in loop.units if k == "op"],
        "op_points": [o.points for k, _t, o in done if k == "op"],
        "read_ms": [(x.kind, x.ms) for _k, _t, o in done for x in o.reads],
        "host": host_sample(),
        "op_errors": loop.errors,
        "check_errors": [e for errs in fails for e in errs][:20],
    }
    result = {
        "correct": not any(failed),
        "attempted": len(loop.units),
        "failed": sum(failed),
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark scratch, Python temp files and the UDF workers' imports all
    # resolve inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
