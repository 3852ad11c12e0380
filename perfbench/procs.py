"""Process-tree sampling and Spark shutdown for the benchmark.

The JVM and the Python UDF workers are separate processes, and the Spark
status store does not see Python-worker CPU, so both are read from /proc:
a background thread samples every descendant of this process, classifies it
as ``jvm`` (the ``java`` process) or ``py`` (Python processes below the
JVM), and remembers each pid's last cumulative CPU, so a worker that exits
between samples still counts up to its last sample.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_procs() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds, rss bytes) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        lp, rp = raw.index("("), raw.rindex(")")
        rest = raw[rp + 2:].split()
        out[int(name)] = (int(rest[1]), raw[lp + 1:rp],
                          (int(rest[11]) + int(rest[12])) / _HZ,
                          int(rest[21]) * _PAGE)
    return out


def descendants() -> dict[int, tuple[int, str, float, int]]:
    """Live descendants of this process."""
    procs = _read_procs()
    me = os.getpid()
    members = {me}
    grew = True
    while grew:
        grew = False
        for pid, ent in procs.items():
            if pid not in members and ent[0] in members:
                members.add(pid)
                grew = True
    members.discard(me)
    return {p: procs[p] for p in members if p in procs}


def _kind(pid: int, tree: dict) -> str | None:
    """``jvm`` for the java process, ``py`` for Python processes that have
    a java ancestor (the UDF daemon and its workers), else None."""
    comm = tree[pid][1]
    if comm == "java":
        return "jvm"
    if not comm.startswith("python"):
        return None
    ppid = tree[pid][0]
    while ppid in tree:
        if tree[ppid][1] == "java":
            return "py"
        ppid = tree[ppid][0]
    return None


class TreeSampler:
    """Samples JVM and Python-worker CPU and RSS in a background thread.

    ``mark()`` opens a window; ``window(mark)`` returns the CPU each kind
    used since that mark and the peak RSS each kind reached since the
    latest mark.
    """

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._lock = threading.Lock()
        self._cpu: dict[int, tuple[str, float]] = {}  # pid -> (kind, last cpu)
        self._peak = {"jvm": 0, "py": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = descendants()
        rss = {"jvm": 0, "py": 0}
        with self._lock:
            for pid, (_pp, _comm, cpu, r) in tree.items():
                kind = _kind(pid, tree)
                if kind is None:
                    continue
                rss[kind] += r
                self._cpu[pid] = (kind, cpu)
            for kind in rss:
                self._peak[kind] = max(self._peak[kind], rss[kind])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def mark(self) -> dict[int, float]:
        """Open a window: snapshot every pid's CPU and reset the RSS peak."""
        self._sample()
        with self._lock:
            self._peak = {"jvm": 0, "py": 0}
            return {pid: cpu for pid, (_k, cpu) in self._cpu.items()}

    def window(self, mark: dict[int, float]) -> dict:
        """CPU seconds per kind since ``mark`` and the RSS peaks in MB
        since the latest ``mark()``."""
        self._sample()
        with self._lock:
            cpu = {"jvm": 0.0, "py": 0.0}
            for pid, (kind, c) in self._cpu.items():
                cpu[kind] += c - mark.get(pid, 0.0)
            return {"jvm_cpu_s": cpu["jvm"], "py_cpu_s": cpu["py"],
                    "jvm_peak_rss_mb": self._peak["jvm"] / 1e6,
                    "py_peak_rss_mb": self._peak["py"] / 1e6}


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    below this one (the JVM, the UDF daemon and its workers, which outlive
    their parent briefly) has exited; SIGKILL whatever is left after
    ``timeout``."""
    from pyspark import SparkContext

    started = set(descendants())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes (PythonGatewayServer)
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_gone(started | set(descendants()), timeout)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL the rest after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.05)
