"""The process-tree CPU sum counts Spark's Python worker daemon and its
workers, during the run and after the JVM that forked them has ended."""

import json
import os
import subprocess
import sys
import textwrap

from benchmark import procstat

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCENARIO = textwrap.dedent(
    """
    import json, os, sys, time
    sys.path.insert(0, {root!r})
    from benchmark import procstat
    from benchmark.run import stop_session

    procstat.become_subreaper()
    os.environ["H3SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from h3ronpy_spark.session import get_spark

    spark = get_spark("local[2]", app_name="procstat_test", shuffle_partitions=2)

    def burn(batches):
        for b in batches:
            t = time.process_time()
            while time.process_time() - t < 1.5:
                pass
            yield b

    stats = procstat.TreeStats()
    spark.range(0, 2, 1, 2).collect()
    tree0, own0 = stats.cpu_s(), procstat.own_cpu_s()
    spark.range(0, 2, 1, 2).mapInPandas(burn, "id long").collect()
    tree1, own1 = stats.cpu_s(), procstat.own_cpu_s()
    me = os.getpid()
    roles = sorted({{procstat.role_of(p, q.comm, me) for p, q in procstat.tree().items()}})
    stop_session(spark)
    print(json.dumps({{
        "udf_tree_s": tree1 - tree0,
        "udf_driver_s": own1 - own0,
        "tree_before_stop_s": tree1,
        "after_jvm_end_s": stats.cpu_s(),
        "roles": roles,
        "left": len(procstat.tree()) - 1,
    }}))
    """
)


def test_tree_cpu_counts_python_workers_after_jvm_ends():
    p = subprocess.run(
        [sys.executable, "-c", SCENARIO.format(root=ROOT)],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    assert r["roles"] == ["driver_py", "jvm", "python_workers"]
    # two tasks burn 1.5 CPU-s each in Python workers, not in the driver
    assert r["udf_tree_s"] >= 2.5
    assert r["udf_tree_s"] - r["udf_driver_s"] >= 2.5
    # the JVM, the daemon and the workers are gone; their time is kept
    assert r["after_jvm_end_s"] >= r["tree_before_stop_s"]
    assert r["left"] == 0


def test_pressure_shares_are_fractions():
    pr = procstat.Pressure(procstat.TreeStats())
    sum(i * i for i in range(200_000))
    s = pr.shares()
    assert set(s) == {"steal_share", "outside_busy_share"}
    assert all(0.0 <= v <= 1.0 for v in s.values())


def test_peak_rss_tracks_this_process():
    st = procstat.TreeStats()
    st.sample()
    mb = st.peak_mb()
    assert mb["driver_py"] > 10
    assert mb["total"] == mb["driver_py"] + mb["jvm"] + mb["python_workers"]
