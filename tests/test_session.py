"""Session factory: heap sizing under cgroup limits, the driver JVM's
launch options and the shared test session's shuffle widths."""

from __future__ import annotations

import os
import shlex

from etl_adsbx_spark.session import _host_memory_gb


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def test_nested_cgroup_limit_clamps_host_memory(tmp_path):
    """A process in a nested cgroup (a systemd slice, a k8s pod without a
    cgroup namespace) has no limit file at the mount root: the limit sits
    on its own cgroup or an ancestor, named by /proc/self/cgroup."""
    root = str(tmp_path / "cgroup")
    proc = str(tmp_path / "proc_self_cgroup")
    _write(os.path.join(root, "memory.max"), "max\n")
    _write(os.path.join(root, "kubepods", "memory.max"), "max\n")
    _write(os.path.join(root, "kubepods", "pod1", "memory.max"), f"{1 << 30}\n")
    _write(proc, "0::/kubepods/pod1/ctr\n")
    unbounded = _host_memory_gb(str(tmp_path / "missing"), str(tmp_path / "none"))
    assert unbounded > 1
    # the limit is on the parent of the process's own cgroup
    assert _host_memory_gb(proc, root) == 1
    # the cgroup v1 memory controller, nested the same way
    _write(os.path.join(root, "memory", "slice", "memory.limit_in_bytes"), f"{1 << 30}\n")
    _write(proc, "4:memory:/slice\n0::/\n")
    assert _host_memory_gb(proc, root) == 1
    # an unlimited nested cgroup leaves the sysconf total
    _write(proc, "0::/kubepods\n")
    assert _host_memory_gb(proc, root) == unbounded


def test_driver_jvm_gets_no_heap_options_but_the_users(spark):
    """The driver JVM commits heap lazily: no -Xms and no AlwaysPreTouch
    reach it unless SPARK_GRAFT_DRIVER_JAVA_OPTS passes them, and every
    option in that variable does reach it."""
    user = shlex.split(os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(mx.getInputArguments())
    assert [o for o in user if o not in args] == [], args
    added = [a for a in args if a.startswith("-Xms") or "AlwaysPreTouch" in a]
    assert [a for a in added if a not in user] == [], args


def test_test_session_pins_small_shuffles(spark):
    """get_spark launches with 32 shuffle partitions and AQE's 256-way
    initial split; the shared test session narrows both (conftest), since
    the fine-grained start costs the suite ~3-4× its time."""
    launch = spark.sparkContext.getConf()
    assert launch.get("spark.sql.shuffle.partitions") == "32"
    assert launch.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "256"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32"
