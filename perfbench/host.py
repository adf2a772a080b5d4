"""Host record, host-derived Spark resources and the RSS sampler."""

from __future__ import annotations

import os
import subprocess
import threading
import time


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time split from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def unstolen(wall_s: float, before: dict[str, int], after: dict[str, int]) -> float:
    """``wall_s`` less the share of CPU time the hypervisor withheld
    between two ``cpu_ticks`` readings.

    On a shared host, neighbours' load shows up as steal: time a vCPU
    was ready to run but not scheduled.  The VM asked for busy + steal
    vCPU time and got busy, so a CPU-bound interval would have taken
    ``wall_s * busy / (busy + steal)`` without them."""
    busy = after["busy"] - before["busy"]
    steal = after["steal"] - before["steal"]
    return wall_s * busy / (busy + steal) if busy + steal else wall_s


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def spark_jvms() -> list[int]:
    out = subprocess.run(["pgrep", "-f", "org.apache.spark"], capture_output=True, text=True)
    return [int(p) for p in out.stdout.split()]


def drain_jvms(timeout_s: float = 60.0) -> float:
    """Wait for leftover Spark JVMs to exit; return the seconds waited.

    A JVM still shutting down from an earlier run would share the cores
    with this one.  Processes this run did not start are never killed:
    if they outlive ``timeout_s`` the run refuses to start."""
    t0 = time.monotonic()
    while spark_jvms():
        if time.monotonic() - t0 > timeout_s:
            raise SystemExit(f"refusing to start: Spark JVMs still running: {spark_jvms()}")
        time.sleep(1.0)
    return time.monotonic() - t0


def resources(work_dir: str) -> dict:
    """Spark resources derived from this host.

    One PySpark task slot keeps about two threads busy (the JVM task and
    its Python worker), so the run gets nproc/2 slots.  The driver heap
    is an eighth of physical memory, between 1 and 4 GiB."""
    nproc = os.cpu_count() or 2
    mem_kb = meminfo_kb()["MemTotal"]
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "slots": max(1, nproc // 2),
        "driver_heap_mb": heap_mb,
        "local_dir": os.path.join(work_dir, "spark-local"),
    }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for pid in children.get(parent, ()):
            out.append((pid, parent))
            todo.append(pid)
    return out


class RssSampler:
    """Samples the summed RSS of every process below ``root_pid`` (the
    driver JVM, the Python daemon and its workers) while ``active`` is
    set.  The root itself, the benchmark's own interpreter, is left out."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self.root_pid = root_pid
        self.period_s = period_s
        self.active = threading.Event()
        self.peak_kb = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                parts = {}
                for pid, parent in descendants(self.root_pid):
                    exe = _exe(pid)
                    # a child the JVM forked but has not exec'd yet
                    # still reports the JVM's pages
                    if exe.startswith("java") and parent != self.root_pid:
                        continue
                    parts[f"{pid}:{exe}"] = _rss_kb(pid)
                kb = sum(parts.values())
                if kb > self.peak_kb:
                    self.peak_kb, self.peak_parts = kb, parts
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
