"""Host record and process memory for result files."""

from __future__ import annotations

import os
import platform
import time
from importlib import metadata
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _version(pkg: str) -> str | None:
    try:
        return metadata.version(pkg)
    except metadata.PackageNotFoundError:
        return None


def _git_sha(root: Path) -> str | None:
    """HEAD's sha when root is a git checkout, read without running git."""
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = root / ".git" / ref[5:]
    if ref_file.is_file():
        return ref_file.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def record(root: Path, n: int) -> dict:
    return {
        "nproc": nproc(),
        "ram_mb": _mem_total_mb(),
        "master": f"local[{n}]",
        "load_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": _version("pyspark"),
        "arrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "git_sha": _git_sha(root),
    }


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time since boot, in clock ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    ticks = [int(x) for x in fields]
    return {"total": sum(ticks[:8]), "steal": ticks[7], "idle": ticks[3] + ticks[4]}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of the CPU time the guest's vCPUs wanted between two
    ``cpu_ticks()`` readings that the hypervisor gave to other guests."""
    wanted = (after["total"] - after["idle"]) - (before["total"] - before["idle"])
    return (after["steal"] - before["steal"]) / wanted if wanted else 0.0


def mark() -> tuple[float, dict[str, int]]:
    """A point in time for ``unstolen_s``: the clock and the CPU ticks."""
    return time.perf_counter(), cpu_ticks()


def unstolen_s(seconds: float, share: float) -> float:
    """Wall seconds less the share the hypervisor gave to other guests:
    the time the same work takes on vCPUs nobody else runs on."""
    return seconds * (1.0 - share)


def reset_peak_rss(pid: int) -> None:
    """Reset a process's peak resident set (VmHWM) to its current size."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
