"""Process meters read from ``/proc`` only.

CPU time covers this process and every descendant: the JVM it
launched and the Python workers the JVM forks. A worker that exits
mid-run still counts, because the kernel folds a reaped child's CPU
time into its parent's ``cutime``/``cstime``, and the parent is
summed too. Resident-set high-water marks come from ``VmHWM``; a
sampler thread keeps the largest value seen per process so short-lived
workers are not missed.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces/parens: split around the LAST ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ppid, ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def process_tree(
    root: int, stats: dict[int, tuple[str, int, float]] | None = None
) -> dict[int, tuple[str, int, float]]:
    """{pid: (comm, ppid, cpu_s)} for ``root`` and all its descendants
    (``stats``: a previous scan to walk instead of ``/proc``)."""
    if stats is None:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    return sum(cpu for _, _, cpu in process_tree(root).values())


# JVM thread name prefixes -> kind (HotSpot names its own threads)
_JVM_THREADS = (("GC Thread", "gc"), ("G1 ", "gc"), ("C1 Compiler", "jit"),
                ("C2 Compiler", "jit"))


def _own_cpu_s(path: str) -> float:
    """utime + stime from a ``stat`` file, without reaped children."""
    with open(path) as f:
        rest = f.read().rpartition(")")[2]
    return sum(int(x) for x in rest.split()[11:13]) / _TICK


def jvm_cpu_split(jvm: int) -> dict[str, float]:
    """CPU seconds of a JVM and its descendants by kind: ``gc`` and
    ``jit`` threads, the JVM's ``other`` threads (task threads among
    them, and threads that have exited) and ``python`` (every
    descendant process, reaped ones included)."""
    split = {"gc": 0.0, "jit": 0.0}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                comm = f.read()
            cpu = _own_cpu_s(f"/proc/{jvm}/task/{tid}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue
        for prefix, kind in _JVM_THREADS:
            if comm.startswith(prefix):
                split[kind] += cpu
                break
    own = _own_cpu_s(f"/proc/{jvm}/stat")
    split["other"] = own - split["gc"] - split["jit"]
    split["python"] = tree_cpu_s(jvm) - own
    return split


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class RssSampler:
    """Background sampler of ``VmHWM`` over the process tree.

    ``peak_mb()`` is the JVM's high-water mark plus the largest Python
    worker's (a worker is any Python process below the JVM).
    """

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.jvm_kb = 0
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        tree = process_tree(self.root)
        jvms = [p for p, (comm, _, _) in tree.items() if comm == "java"]
        for jvm in jvms:
            self.jvm_kb = max(self.jvm_kb, _hwm_kb(jvm))
            for pid, (comm, _, _) in process_tree(jvm, tree).items():
                if pid != jvm and comm.startswith("python"):
                    self.worker_kb = max(self.worker_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def peak_mb(self) -> float:
        return (self.jvm_kb + self.worker_kb) / 1024.0
