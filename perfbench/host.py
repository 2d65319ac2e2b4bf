"""Host-derived settings and `/proc` readings for the benchmark.

Everything here reads the machine the benchmark runs on: cores from the
CPU affinity mask (what `nproc` prints), driver heap from
`/proc/meminfo`, and process-tree CPU and memory from `/proc/<pid>/stat`,
`/proc/<pid>/status` and `/proc/<pid>/smaps_rollup`. No third-party
package.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb(share: float) -> int:
    """`share` of MemTotal, capped at 8 GB: the driver JVM shares the
    host with its Python workers and with whatever else runs there."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(8192, int(int(line.split()[1]) / 1024 * share))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _read_stat(pid: int) -> tuple[int, float, str] | None:
    """(ppid, cpu seconds incl. reaped children, comm)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14
    cpu = sum(int(x) for x in f[11:15]) / CLK_TCK
    return int(f[1]), cpu, comm


def _read_kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Samples the processes below this one (the driver JVM and its
    Python workers) on a background thread.

    CPU of the tree is the sum, over live descendants, of user+system
    time including reaped children, so a worker that exits is still
    counted through its parent.

    Memory is the largest sum, over one sample's live descendants, of
    their proportional set size (Pss). Python workers are forked from a
    daemon and share most pages with it; Pss splits shared pages among
    their users, where summed VmHWM counts them once per worker and so
    grows with the number of workers alive. The summed VmHWM peak is
    kept too, for comparison."""

    def __init__(self, interval_s: float = 1.0):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._peak_kb = {"Pss:": 0, "VmHWM:": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _descendants(self) -> dict[int, tuple[float, str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, list(children.get(self.root, []))
        while todo:
            pid = todo.pop()
            _ppid, cpu, comm = stats[pid]
            out[pid] = (cpu, comm)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> dict[int, tuple[float, str]]:
        procs = self._descendants()
        pss = sum(_read_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in procs)
        hwm = sum(_read_kb(f"/proc/{p}/status", "VmHWM:") for p in procs)
        with self._lock:
            self._peak_kb["Pss:"] = max(self._peak_kb["Pss:"], pss)
            self._peak_kb["VmHWM:"] = max(self._peak_kb["VmHWM:"], hwm)
        return procs

    def cpu_s(self, python_only: bool = False) -> float:
        return sum(cpu for cpu, comm in self.sample().values()
                   if not python_only or comm.startswith("python"))

    def peak_mb(self) -> tuple[float, float]:
        """(peak summed Pss, peak summed VmHWM) in MB."""
        self.sample()
        with self._lock:
            return (self._peak_kb["Pss:"] / 1024.0,
                    self._peak_kb["VmHWM:"] / 1024.0)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
