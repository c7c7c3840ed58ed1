"""Tests of the benchmark's accounting helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from accounting import StageLedger, Tracer, sample_tree  # noqa: E402

MB = 2**20


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-accounting-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(local))
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    yield s
    s.stop()


def _job_stages(spark, group: str) -> set[int]:
    tracker = spark.sparkContext.statusTracker()
    return {
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }


def test_span_gets_exactly_the_stages_started_inside_it(spark):
    sc = spark.sparkContext
    spark.range(10).count()  # stages before any span belong to none
    tracer = Tracer(StageLedger(spark))
    with tracer.span("outer"):
        sc.setJobGroup("outer", "outer")
        spark.range(0, 50_000, numPartitions=4).selectExpr(
            "id % 7 as k"
        ).groupBy("k").count().collect()
        with tracer.span("inner"):
            sc.setJobGroup("inner", "inner")
            spark.range(0, 20_000, numPartitions=3).selectExpr(
                "id % 5 as k"
            ).groupBy("k").count().collect()
        sc.setJobGroup("outer", "outer")
        spark.range(0, 30_000, numPartitions=2).selectExpr(
            "id % 3 as k"
        ).distinct().count()
    sc.setJobGroup("after", "after")
    spark.range(10).count()

    spans = {sp.name: sp for sp in tracer.spans}
    got = {name: {sid for sid, _ in sp.stages} for name, sp in spans.items()}
    assert got["inner"] == _job_stages(spark, "inner")
    assert got["outer"] == _job_stages(spark, "outer")
    assert not got["inner"] & got["outer"]
    assert not (got["inner"] | got["outer"]) & _job_stages(spark, "after")
    # the inner aggregation shuffles: its metrics were read after the
    # stages completed
    inner = spans["inner"].stages.values()
    assert sum(s["shuffle_write_bytes"] for s in inner) > 0
    assert sum(s["run_ms"] for s in inner) > 0
    assert spans["outer"].self_wall_s < spans["outer"].wall_s


def test_proc_accounting_matches_a_child_of_known_size(tmp_path):
    target = tmp_path / "out.bin"
    child = textwrap.dedent(
        f"""
        import os, time
        end = time.process_time() + 0.6
        while time.process_time() < end:
            pass
        with open({str(target)!r}, "wb") as f:
            for _ in range(16):
                f.write(os.urandom(MB))
        """
    ).replace("MB", str(MB))
    before = sample_tree()
    subprocess.run([sys.executable, "-c", child], check=True)
    delta = sample_tree() - before
    # the reaped child's CPU and writes are kept by its parent's counters
    assert 0.6 <= delta.cpu_s <= 1.6
    assert 16 * MB <= delta.write_bytes <= 17 * MB

    # removed before any sync, its pages are still dirty: the removing
    # process is charged with the cancelled write
    before = sample_tree()
    os.remove(target)
    delta = sample_tree() - before
    assert 0 < delta.cancelled_write_bytes <= 16 * MB
    assert delta.net_write_bytes < 0
