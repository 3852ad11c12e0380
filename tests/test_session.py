"""Session factory guards that must hold without starting a session."""

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
