"""Session factory: heap sizing under cgroup limits and the order of the
driver JVM's options."""

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


def test_user_java_opts_follow_builtin_flags(spark):
    """SPARK_GRAFT_DRIVER_JAVA_OPTS is appended after the built-in heap
    floor, so the JVM applies the user's -Xms (the last flag given)."""
    user_xms = [o for o in shlex.split(os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
                if o.startswith("-Xms")]
    assert user_xms, "the test session sets -Xms through SPARK_GRAFT_DRIVER_JAVA_OPTS"
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(mx.getInputArguments())
    xms = [a for a in args if a.startswith("-Xms")]
    assert len(xms) >= 2, args  # the built-in floor, then the user's
    assert xms[-1] == user_xms[-1], args
