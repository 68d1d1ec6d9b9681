"""The run environment recorded with every result, so runs on different
core counts, memory sizes or engine trees are never paired."""

from __future__ import annotations

import fnmatch
import hashlib
import os
import platform
import stat


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def total_ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a live process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for process {pid}")


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; a busy host slows every timing."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def _ignore_patterns(root: str) -> list[str]:
    try:
        with open(os.path.join(root, ".gitignore")) as f:
            lines = [ln.strip() for ln in f]
    except FileNotFoundError:
        return []
    return [ln.rstrip("/") for ln in lines if ln and not ln.startswith(("#", "!"))]


def git_tree_id(path: str, ignore: list[str]) -> str:
    """The id git gives the tree of ``path`` (``git rev-parse
    HEAD:<path>`` for a clean checkout), computed from the files so it
    works in a checkout that is not a git repository. Symlinks and
    submodules are not handled; the engine tree has neither."""
    entries = []
    for name in os.listdir(path):
        if any(fnmatch.fnmatch(name, pat) for pat in ignore):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            sub = git_tree_id(full, ignore)
            if sub is None:
                continue
            entries.append((name + "/", b"40000 " + name.encode(), bytes.fromhex(sub)))
        else:
            with open(full, "rb") as f:
                data = f.read()
            blob = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            mode = b"100755" if os.stat(full).st_mode & stat.S_IXUSR else b"100644"
            entries.append((name, mode + b" " + name.encode(), blob))
    if not entries:
        return None  # git stores no empty trees
    body = b"".join(head + b"\0" + sha for _, head, sha in sorted(entries))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


def record(spark, root: str, seed: int) -> dict:
    conf = spark.conf
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "total_ram_mb": round(total_ram_mb()),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "pyspark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "warpdb_spark_tree": git_tree_id(os.path.join(root, "warpdb_spark"), _ignore_patterns(root)),
    }
