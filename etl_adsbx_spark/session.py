"""SparkSession factory with scale-oriented defaults.

The engine targets a 1000-executor cluster reading ~100 TB; tests run on
local[N]. Every setting here is chosen to behave identically in both modes:
AQE handles partition coalescing / skew at runtime so the static
``shuffle.partitions`` is an upper bound, not a tuning knob per query.

Three environment variables shape the local launch: ``SPARK_GRAFT_CPUS``
(the ``local[N]`` core count, default every core),
``SPARK_GRAFT_DRIVER_MEM`` (the driver heap ceiling, default
:func:`default_driver_memory`) and ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` (driver
JVM options, passed through as given). The JVM commits heap as it grows,
so a cold start holds only what it uses. The SQL confs set here are runtime
confs: a caller that needs another shuffle width sets it with
``spark.conf.set`` on the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_limit_files(proc_cgroup: str, root: str) -> list[str]:
    """The memory-limit files that can bound this process: those of its
    own cgroup and every ancestor, most specific first (a process in a
    nested cgroup — a systemd slice, a k8s pod without a cgroup
    namespace — has no limit file at the mount root), then the two
    root-namespace files. Covers cgroup v2 (``0::<path>``) and the v1
    memory controller."""
    try:
        with open(proc_cgroup) as f:
            lines = f.read().splitlines()
    except OSError:
        lines = []
    files = []
    for line in lines:
        hier, controllers, path = line.split(":", 2)
        if hier == "0":
            base, name = root, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = os.path.join(root, "memory"), "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        files += [os.path.join(base, *parts[:i], name) for i in range(len(parts), 0, -1)]
    return files + [os.path.join(root, "memory.max"),
                    os.path.join(root, "memory", "memory.limit_in_bytes")]


def _host_memory_gb(proc_cgroup: str = "/proc/self/cgroup",
                    cgroup_root: str = "/sys/fs/cgroup") -> int:
    """Usable physical memory in GB: the sysconf total clamped by the
    tightest cgroup memory limit that applies (a memory-limited container
    on a large host would otherwise derive a heap sized to the HOST's RAM,
    and the JVM is OOM-killed once the heap grows past the container's
    limit). A missing or unlimited ("max" / huge sentinel) limit leaves
    the sysconf total."""
    try:
        total = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
    except (ValueError, OSError, AttributeError):  # pragma: no cover
        total = 16
    for path in _cgroup_limit_files(proc_cgroup, cgroup_root):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit_gb = int(raw) >> 30
            # v1 reports an enormous sentinel when unlimited; only a
            # limit BELOW the physical total is a real container bound
            if 0 < limit_gb < total:
                total = limit_gb
    return total


def default_driver_memory() -> str:
    """Machine-derived single-JVM heap: ~1.5 GB per core, floored at 8 GB
    then capped at half of system RAM (the cap wins on small hosts — a
    <16 GB machine gets half its RAM, never the 8 GB floor). In local mode the driver JVM hosts every
    executor thread, so the production sizing rule (GBs per core —
    ``local[32]`` at a fixed 8 GB is 250 MB/core) applies to it directly:
    the round-8/9 sf10 probes showed heavy sort/join stages exhausting
    the execution-memory pool at 8 GB across 32 concurrent tasks no
    matter how the data is partitioned. ``SPARK_GRAFT_DRIVER_MEM``
    remains an override, not a requirement. On a real cluster this
    setting is inert — executor memory is the cluster manager's knob."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    cpus = os.cpu_count() or 4
    total_gb = _host_memory_gb()
    # The half-of-RAM cap is applied AFTER the 8 GB floor so a small host
    # (<16 GB) never sees a driver heap request above half its RAM — the
    # floor is a sizing preference, the cap is a safety bound (2 GB hard
    # minimum keeps the JVM startable on tiny CI boxes).
    return f"{min(max(8, int(cpus * 1.5)), max(total_gb // 2, 2))}g"


def get_spark(app_name: str = "etl_adsbx_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      join-strategy switching — the 100-TB path relies on these instead of
      hand-tuned partition counts.
    - UTC session timezone: deterministic timestamp semantics that match the
      DuckDB oracle (naive-UTC parquet timestamps).
    - Arrow enabled: Pandas-UDF hot paths transfer columnar batches.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Posting-list explodes (jaccard_prefix_pairs, the tfidf-SimHash
        # composition) build per-partition window/agg state proportional to
        # rows/partition: at a fixed 32 partitions the sf10 probes needed a
        # hand-raised spark.sql.shuffle.partitions=256 + 48g heap
        # (BASELINE.md, round-8 third-decade note). Starting every shuffle
        # fine-grained and letting AQE COALESCE small stages keeps
        # rows/partition bounded as data grows with no per-query knob: small
        # workloads coalesce back to a handful of partitions, explode-heavy
        # stages keep the fan-out. tests/conftest.py narrows it to 32 for the
        # pytest session: its hypothesis suites run hundreds of few-row jobs
        # where the fine-grained start is pure per-job overhead.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The ContextCleaner only unpersists an RDD once the DRIVER JVM
        # garbage-collects its handle; its safety-net System.gc() fires
        # every 30 min by default — far too slow for long sessions that
        # construct thousands of short-lived checkpoints/persists (the
        # pytest suite, iterative fits): dead blocks pile up for the
        # whole run and the heap growth page-faults fresh OS pages
        # mid-query (the r11 stall pathology; measured r12: late-suite
        # tests ran up to ~10× their isolated time). 5 min keeps the
        # backlog bounded at the cost of one cheap driver full-GC per
        # interval; explicit frees (planprobe.release_pins between
        # perfbench ops, operators' unpersist discipline) remain the first
        # line.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Spark 4.1's ChecksumCheckpointFileManager leaks its I/O thread
        # pools PER STREAMING QUERY — measured r12: 128 threads per
        # stateful query, surviving q.stop() (a zombie or long test
        # session accumulates 1000+ JVM threads and every later job slows
        # ~10×). Checkpoint-file checksums protect against object-store
        # corruption; local-disk checkpoints (tests, single-box runs)
        # get no benefit, so default OFF here; it is a SQL conf, so a
        # cluster deploy re-enables it with spark.conf.set once the
        # upstream leak is fixed.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # Applied at JVM launch; a no-op when an existing session is reused.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
