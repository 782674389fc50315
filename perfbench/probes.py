"""Storage and memory probes, run from outside the program."""

from __future__ import annotations

import os


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid() -> int:
    """Pid of the Spark driver JVM this Python process launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """VmHWM of this driver process plus its JVM child."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid())


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden and ``_`` files,
    such as checksums and commit markers, excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def db_layout(spark, db: str) -> dict:
    """``layout.table_file_stats`` summed over every table of ``db``
    (views hold no files and are skipped)."""
    from mallarddv_spark.sources.layout import table_file_stats

    out = {"files": 0, "small_files": 0, "bytes": 0}
    for t in spark.catalog.listTables(db):
        if t.tableType == "VIEW" or t.isTemporary:
            continue
        st = table_file_stats(spark, f"{db}.{t.name}")
        out["files"] += st["n_files"]
        out["small_files"] += st["small_files"]
        out["bytes"] += st["total_bytes"]
    return out
