"""Session pins (victoriametrics_spark/session.py) that change how Spark
runs rather than what it computes."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from victoriametrics_spark.session import codegen_compilations


def test_codegen_cache_holds_working_set(spark):
    """150 projections, each inlining its own literal, generate 300
    classes: more than Spark's default codegen cache of 100 holds, which
    made a second pass recompile all of them. With the cache sized to
    the working set the second pass compiles none."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def one_pass() -> int:
        before = codegen_compilations(spark)
        for i in range(150):
            spark.range(1).selectExpr(f"id + {i} AS x").collect()
        return codegen_compilations(spark) - before

    one_pass()
    assert one_pass() == 0


_CLUSTER_PROBE = """
from victoriametrics_spark.session import get_spark
from victoriametrics_spark.storage.layout import default_buckets
spark = get_spark("cluster-probe")
print(spark.conf.get("spark.sql.shuffle.partitions"), default_buckets(spark))
spark.stop()
"""


def test_cluster_session_keeps_submit_shuffle_partitions(tmp_path):
    """A session whose master comes from spark-submit keeps Spark's
    shuffle partitions (200 by default) instead of the driver's core
    count, so a new samples or logs table there gets 32 buckets. The
    probe runs in its own process: ``SPARK_MASTER`` sends ``get_spark``
    down the cluster path, and the submit arguments supply the master
    as spark-submit would."""
    repo = str(Path(__file__).resolve().parents[1])
    env = dict(
        os.environ,
        SPARK_MASTER="local[1]",
        PYSPARK_SUBMIT_ARGS="--master local[1] pyspark-shell",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
        PYTHONPATH=os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
    )
    env.pop("MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", _CLUSTER_PROBE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert out.split()[-2:] == ["200", "32"]
