"""What the benchmark reads from /proc (psutil is not installed): the process
tree of this run, its CPU time, the host's CPU counters and the Python
side's peak RSS."""

from __future__ import annotations

import os
import threading

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 onwards)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()


def proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat_fields(int(d))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    descendant: the Spark JVM and its Python workers. A process that has
    exited counts through its parent's reaped-children times. The kernel
    leaves out the time the hypervisor stole, so this does not move with
    the load of other tenants the way wall time does."""
    ticks = 0
    for pid in proc_tree(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks * TICK_S


def host_cpu_ticks() -> list[int]:
    """The host-wide CPU counters of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def hwm_kb(pid: int) -> int:
    """The kernel's peak-RSS mark of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    except OSError:
        return 0


class PythonMemorySampler(threading.Thread):
    """Peak RSS of the Python side: this process and its ``python*``
    descendants (the PySpark daemon and workers), as the sum of each
    process's own high-water mark, so a short peak between two polls still
    counts. Polled twice a second to find new processes and to read a mark
    before the process exits. The JVM is measured from inside (its heap
    pools), because its RSS follows when G1 chose to grow the heap."""

    def __init__(self):
        super().__init__(daemon=True)
        self.hwm: dict[int, int] = {}
        self.comm: dict[int, str] = {}
        self._stop_evt = threading.Event()

    def poll(self) -> None:
        for pid in proc_tree(os.getpid()):
            self.hwm[pid] = max(self.hwm.get(pid, 0), hwm_kb(pid))
            try:  # the latest name: the JVM starts as a shell script
                with open(f"/proc/{pid}/comm") as f:
                    self.comm[pid] = f.read().strip()
            except OSError:
                pass

    def run(self):
        while not self._stop_evt.wait(0.5):
            self.poll()

    def stop(self) -> tuple[float, int]:
        """Summed peak RSS in MB, and the number of processes counted."""
        self._stop_evt.set()
        self.join()
        self.poll()
        me = os.getpid()
        kbs = [kb for pid, kb in self.hwm.items()
               if pid == me or self.comm.get(pid, "").startswith("python")]
        return sum(kbs) / 1024, len(kbs)
