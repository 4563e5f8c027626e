import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
# Spark's Python workers import the benchmark's generators by module path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("H3SPARK_DRIVER_MEM", "1g")
    from h3ronpy_spark.session import get_spark

    s = get_spark("local[2]", app_name="benchmark_tests", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
