"""Session factory defaults, checked in a fresh interpreter so the
shared test session (tests/conftest.py) is never rebuilt."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_shuffle_partitions_equal_task_slots():
    """With no ``shuffle_partitions`` argument, ``get_spark`` opens one
    shuffle partition per task slot (``$SPARK_GRAFT_CPUS``): one state
    store per slot for every stateful operator."""
    code = (
        "from gmall_realtime_ck_spark.session import get_spark\n"
        "spark = get_spark(app_name='session-default')\n"
        "print(spark.conf.get('spark.sql.shuffle.partitions'),"
        " spark.sparkContext.defaultParallelism)\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "3", "SPARK_DRIVER_MEMORY": "1g"}
    env.pop("SPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    assert out.stdout.split()[-2:] == ["3", "3"], out.stdout
