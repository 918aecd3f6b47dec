"""The event-log parser attributes a tiny two-group job per tag.

Run from the repository root:  python -m pytest perfbench/test_eventlog.py -q

Group ``py`` runs a mapInPandas that sleeps a known time per partition;
group ``jvm`` runs a JVM-only aggregation with a shuffle. The parser
must put the Python-worker time under ``py`` in seconds (which pins the
unit of Spark's ``time to run Python workers`` update to ms) and none
under ``jvm``, and the shuffle under ``jvm``.

The job runs in a child process with a Spark session of its own: the
event-log settings become JVM system properties, and a session sharing
this process's JVM would keep writing event logs after the test.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

from eventlog import UNTAGGED, event_log_conf, find_event_log, parse_event_log  # noqa: E402

SLEEP_S = 0.4
PARTITIONS = 2


def run_tagged_job(log_dir: str) -> None:
    """The two-group job, with its event log written into ``log_dir``."""
    from pyspark.sql import functions as F

    from blink_spark.session import get_spark

    spark = get_spark(
        "eventlog-test", cores=2, shuffle_partitions=2,
        extra_conf=event_log_conf(log_dir),
    )
    sc = spark.sparkContext
    try:
        def slow(batches):
            import time

            for pdf in batches:
                time.sleep(SLEEP_S)
                yield pdf

        # the first Python job of a session also pays worker start-up
        sc.setJobGroup("warmup", "python-worker start-up")
        spark.range(0, 10, 1, PARTITIONS).mapInPandas(slow, "id long").collect()
        sc.setJobGroup("py", "python-worker job")
        n_py = (
            spark.range(0, 100, 1, PARTITIONS)
            .mapInPandas(slow, "id long")
            .write.format("noop").mode("overwrite").save()
        )
        sc.setJobGroup("jvm", "jvm-only job")
        n_jvm = (
            spark.range(0, 200_000, 1, PARTITIONS)
            .groupBy((F.col("id") % 1000).alias("k"))
            .count()
            .count()
        )
        assert n_py is None and n_jvm == 1000
    finally:
        spark.stop()


@pytest.fixture()
def tagged_log(tmp_path):
    log_dir = str(tmp_path / "events")
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    # the Python workers import blink_spark from this checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), log_dir],
        cwd=str(tmp_path), env=env, check=True, timeout=300,
    )
    return parse_event_log(find_event_log(log_dir))


def test_python_worker_time_is_attributed_per_tag_in_seconds(tagged_log):
    py, jvm = tagged_log["py"], tagged_log["jvm"]
    assert py.tasks >= PARTITIONS
    # each partition's batch sleeps SLEEP_S inside the worker; allow for
    # Arrow transfer, but a wrong unit is off by 1e3 either way
    assert PARTITIONS * SLEEP_S * 0.8 <= py.python_s <= PARTITIONS * SLEEP_S + 5.0
    assert py.task_s >= py.python_s * 0.5
    assert jvm.python_s == 0.0
    assert jvm.tasks >= PARTITIONS
    assert jvm.shuffle_write_mb > 0.0 and py.shuffle_write_mb == 0.0
    assert jvm.cpu_s > 0.0
    assert py.skew >= 1.0 and jvm.skew >= 1.0
    assert UNTAGGED not in tagged_log or tagged_log[UNTAGGED].python_s == 0.0


if __name__ == "__main__":
    run_tagged_job(sys.argv[1])
