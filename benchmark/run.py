"""Same-box benchmark of h3ronpy_spark.

    python3 benchmark/run.py --workload pip_points --seed 1 --seconds 18 --trace 0

Runs from the repository root.  One process drives one Spark session
(``local[N]``, N = usable CPUs) and one closed-loop client: each
operation starts when the previous one has returned.  Set-up (session,
polygon coverage, persisted inputs, coverage index, warm-up operations)
happens before the timed loop; every operation's output is then checked
against a Spark-free reference.  The loop's timed metrics are
normalised by a box-speed probe run between operations (``calib.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the operations are tagged and the per-layer metrics are reported
instead (see ``layers.py``).  The line before it, starting with
``diagnostics``, holds figures that are not metrics: co-tenant pressure
over the timed loop, the box slowdown, the raw metrics, the error rate
and the latency sample counts.

Everything the run writes (Spark scratch, event log, temporary files)
goes under ``.bench_work/`` in the current directory and is removed at
exit, except span traces, kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from benchmark import procstat  # noqa: E402
from benchmark.calib import BoxProbe  # noqa: E402
from benchmark.stats import highest_tail_percentile, percentile, samples_beyond  # noqa: E402
from benchmark.trace import Tracer  # noqa: E402

# The latency tail reported: the highest whole percentile that keeps ten
# samples beyond it at MIN_SAMPLES operations.  The loop runs for
# --seconds and then on until it has MIN_SAMPLES operations.
TAIL_PERCENTILE = 60
MIN_SAMPLES = 26

# Operations run before the timed loop.  Latency falls for the first
# several operations of a session while the JVM compiles the hot paths.
WARMUP_OPS = 3

# Driver JVM heap.  The engine's session factory defaults to 24g, more
# than this box has; 2g holds every workload here.
DRIVER_MEM = "2g"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into `work`
    and configure the session the engine's factory will build."""
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["H3SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process of the tree."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    procstat.reap_children()


def run(args) -> dict:
    from benchmark.workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    slots = usable_cpus()
    stats = procstat.TreeStats()

    with tracer.span("session.start") as sp:
        from h3ronpy_spark.session import get_spark

        spark = get_spark(f"local[{slots}]", app_name="h3ronpy_spark_benchmark", shuffle_partitions=slots)
        spark.sparkContext.setLogLevel("ERROR")
    session_s = sp.duration
    wl = WORKLOADS[args.workload](spark, args.seed, slots)
    with tracer.span("setup") as sp:
        parts = wl.setup()
    setup_data_s = sp.duration
    with tracer.span("warmup") as sp:
        for _ in range(WARMUP_OPS):
            wl.run()
    parts["warmup_s"] = sp.duration
    setup_s = session_s + setup_data_s + sp.duration
    with tracer.span("reference"):
        try:
            wl.build_reference()
            ref_ok = True
        except Exception:
            # e.g. the coverage differs from the h3core polyfill: every
            # operation built on it counts as failed
            traceback.print_exc(file=sys.stderr)
            ref_ok = False

    traced_ops, untraced_lat, traced_lat, results = [], [], [], []
    attempted = failed = 0
    sc = spark.sparkContext
    probe = BoxProbe()
    probe_wall = probe_cpu = 0.0
    pressure = procstat.Pressure(stats)
    cpu0 = stats.cpu_s()
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    while time.perf_counter() < deadline or attempted < MIN_SAMPLES:
        tag = f"op-{attempted}" if args.trace and attempted % 2 == 0 else None
        if tag:
            sc.addJobTag(tag)
        with tracer.span("operation", op=f"op-{attempted}") as sp:
            try:
                out = wl.run()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                out = None
        lat = sp.duration
        if tag:
            sc.removeJobTag(tag)
            traced_lat.append(lat)
            if out is not None:
                traced_ops.append((tag, lat, out))
        else:
            untraced_lat.append(lat)
        attempted += 1
        results.append(out)
        stats.sample()
        c = procstat.own_cpu_s()
        probe_wall += probe.run()
        probe_cpu += procstat.own_cpu_s() - c
    wall = time.perf_counter() - t0 - probe_wall
    cpu = stats.cpu_s() - cpu0 - probe_cpu
    box = pressure.shares()
    slow = probe.slowdown()

    for out in results:
        if out is None or not ref_ok:
            failed += 1
            continue
        try:
            wl.check(*out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1

    lat_all = untraced_lat + traced_lat
    n = len(lat_all)
    items = wl.items_per_op * (attempted - failed)
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "slots": slots,
        "error_rate": failed / max(attempted, 1),
        "latency_samples": n,
        "tail_samples_beyond": samples_beyond(n, TAIL_PERCENTILE),
        "highest_tail_percentile": highest_tail_percentile(n),
        "loop_s": round(wall, 3),
        "coverage_rows": wl.coverage_rows,
        "setup_parts_s": {"session_s": round(session_s, 3), **{k: round(v, 3) for k, v in parts.items()}},
        **box,
        "box_slowdown": round(slow, 4),
    }
    rss = stats.peak_mb()
    diag["peak_rss_mb"] = {k: round(v, 1) for k, v in rss.items()}
    if not args.trace:
        raw = {
            "items_per_s": (items / wall, "1/s"),
            "query_p50_ms": (percentile(lat_all, 50) * 1e3, "ms"),
            f"query_p{TAIL_PERCENTILE}_ms": (percentile(lat_all, TAIL_PERCENTILE) * 1e3, "ms"),
            "cpu_us_per_item": (cpu / max(items, 1) * 1e6, "us"),
            "setup_s": (setup_s, "s"),
            # the Python processes only: the JVM's resident set follows
            # how far G1 has grown and touched its heap, which differed by
            # 15-25% between runs of the same code (fixed -Xms included);
            # it is reported per layer as rss.jvm_peak_mb
            "peak_rss_mb": (rss["driver_py"] + rss["python_workers"], "MB"),
        }
        diag["raw"] = {k: v for k, (v, _) in raw.items()}
        # set-up is mostly process start and first-use cost, which does
        # not follow the probe; it and memory are reported as measured
        scale = {"items_per_s": slow, "setup_s": 1.0, "peak_rss_mb": 1.0}
        metrics = {k: (v * scale.get(k, 1.0 / slow), u) for k, (v, u) in raw.items()}
    else:
        from benchmark import layers

        metrics = layers.measure(
            wl, tracer, os.path.join(args.work, "events"),
            traced_ops, untraced_lat, parts,
            session_s=session_s, rss=rss,
        )
    stop_session(spark)
    tracer.dump(os.path.join(args.traces, f"{args.workload}-seed{args.seed}.json"))
    return {
        "diag": diag,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    from benchmark.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    base = os.path.join(os.getcwd(), ".bench_work")
    args.work = os.path.join(base, f"run-{os.getpid()}")
    args.traces = os.path.join(base, "traces")
    os.makedirs(args.traces, exist_ok=True)
    prepare_environment(args.work, bool(args.trace))
    procstat.become_subreaper()
    # on SIGTERM, unwind through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(args)
    finally:
        procstat.reap_children()
        shutil.rmtree(args.work, ignore_errors=True)
    print("diagnostics " + json.dumps(out["diag"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
