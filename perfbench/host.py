"""Host probes: process-tree RSS and CPU time, CPU and disk canaries,
filesystem."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among its sharers, so a child forked from the JVM does not count the
    JVM's heap twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (the Python driver, the JVM it
    launched and the JVM's Python workers)."""
    kids = _children()
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        pids.append(pid)
    return pids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of the process tree under ``root``."""
    return sum(_pss_bytes(pid) for pid in _tree(root))


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime, the reaped children's) of one
    process or thread, in clock ticks."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[0] is stat field 3 (state); utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15 if children else 13])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by the process tree under
    ``root``, including children it has reaped. Time the hypervisor
    stole from a vCPU while one of them ran on it is in it."""
    return sum(_cpu_ticks(f"/proc/{pid}/stat", True) for pid in _tree(root)) / _TICK


def thread_cpu_s(tid: int) -> float:
    """CPU seconds used so far by one thread of this process."""
    return _cpu_ticks(f"/proc/self/task/{tid}/stat", False) / _TICK


def tree_jit_cpu_s(root: int) -> float:
    """CPU seconds used so far by the JIT compiler threads in the tree.
    A compiler thread that exits takes its count out of this sum but not
    out of ``tree_cpu_s``, so the JVM must keep them for its life."""
    ticks = 0
    for pid in _tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    comm = f.read()
            except OSError:
                continue
            if comm.startswith(("C1 Compiler", "C2 Compiler")):
                ticks += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
    return ticks / _TICK


class RssSampler:
    """Samples the process-tree PSS on a daemon thread and keeps the
    peak over its whole life."""

    def __init__(self, interval_s: float = 0.1):
        self.peak_bytes = 0
        self.tid = None
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def own_cpu_s(self) -> float:
        """CPU seconds the sampling thread itself has used."""
        return thread_cpu_s(self.tid) if self.tid else 0.0

    def _run(self) -> None:
        self.tid = threading.get_native_id()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def peak_mb(self) -> float:
        return max(self.peak_bytes, tree_rss_bytes(os.getpid())) / 2**20

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Canaries:
    """The repository bench's CPU and disk canaries (``bench.py``), run
    in a child process so they overlap work that leaves cores idle: the
    JVM start before the run and the result checks after it."""

    def __init__(self, root: str, directory: str):
        self._root, self._dir = root, directory
        self.cpu_s: list[float] = []
        self.disk_mbps: list[float] = []
        self._proc = None

    def start(self) -> None:
        os.makedirs(self._dir, exist_ok=True)
        code = (
            "import json, sys; sys.path.insert(0, sys.argv[1]); import bench; "
            "print(json.dumps([bench._host_calibration(), bench._disk_calibration(sys.argv[2])]))"
        )
        self._proc = subprocess.Popen(
            [sys.executable, "-c", code, self._root, self._dir], stdout=subprocess.PIPE, text=True
        )

    def wait(self) -> None:
        out, _ = self._proc.communicate()
        cpu, disk = json.loads(out.strip().splitlines()[-1])
        self.cpu_s.append(cpu)
        self.disk_mbps.append(disk)


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def busy_split(before: list[int], after: list[int]) -> tuple[float, float]:
    """Busy CPU seconds host-wide between two ``cpu_jiffies`` readings:
    (not stolen, stolen). The tick counters of /proc/stat put a stolen
    tick under steal; the run time of a task, which /proc/<pid>/stat
    reports, also counts time stolen from its vCPU while it ran."""
    d = [b - a for a, b in zip(before, after)]
    # user, nice, system, irq, softirq; then steal
    return (d[0] + d[1] + d[2] + d[5] + d[6]) / _TICK, d[7] / _TICK


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_jiffies`` readings that the
    hypervisor gave to other guests (field 8, steal)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def filesystem(path: str) -> str:
    """Type of the filesystem holding ``path`` (longest /proc/mounts
    prefix)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype
