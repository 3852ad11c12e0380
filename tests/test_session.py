"""Session factory guards. All but the codegen-cache test hold without
starting a session."""

import os

from mashspark.session import _default_cores, _task_cpus


def test_task_cpus_clamped_to_cores(monkeypatch):
    """task.cpus above the session's core count leaves no schedulable
    task slot (every job hangs): the env override is clamped to
    [1, cores]."""
    monkeypatch.delenv("MASHSPARK_TASK_CPUS", raising=False)
    assert _task_cpus(4) == 1
    monkeypatch.setenv("MASHSPARK_TASK_CPUS", "2")
    assert _task_cpus(4) == 2
    monkeypatch.setenv("MASHSPARK_TASK_CPUS", "8")
    assert _task_cpus(4) == 4
    assert _task_cpus(1) == 1
    monkeypatch.setenv("MASHSPARK_TASK_CPUS", "0")
    assert _task_cpus(4) == 1


def test_default_cores_follow_affinity(monkeypatch):
    """With no ``cores`` argument, a session sizes ``local[N]`` from
    ``SPARK_GRAFT_CPUS`` or else from the CPUs the process may run on, not
    from a fixed 32."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cores() == 3


def test_repeated_query_reuses_compiled_code(spark):
    """A query run again after ~150 other compiled plans compiles
    nothing: the codegen class cache outlives one job's worth of
    distinct whole-stage units (a dedup job leaves ~75), so repeated
    jobs do not recompile byte-identical code."""
    from pyspark.sql import functions as F

    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def query(i):
        return spark.range(64).filter(F.col("id") * i % 7 == i % 7).count()

    query(0)
    for i in range(1, 150):
        query(i)
    before = compiles.getCount()
    query(0)
    assert compiles.getCount() == before
