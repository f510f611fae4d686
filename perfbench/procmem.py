"""Peak resident memory (VmHWM) of the driver JVM and its Python workers,
read from /proc/<pid>/status."""

from __future__ import annotations

import os
import threading


def vmhwm_kb(status_text: str) -> int:
    """The VmHWM field of a /proc/<pid>/status text, in kB (0 if absent)."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _read(pid: int, name: str) -> str | None:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _ppid_comm(pid: int) -> tuple[int, str] | None:
    stat = _read(pid, "stat")
    if stat is None:
        return None
    # "pid (comm) state ppid ..." - comm may itself hold spaces or parens
    lp, rp = stat.index("("), stat.rindex(")")
    return int(stat[rp + 2 :].split()[1]), stat[lp + 1 : rp]


def alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    stat = _read(pid, "stat")
    return stat is not None and stat[stat.rindex(")") + 2] != "Z"


def descendants(root: int) -> dict[int, str]:
    """{pid: comm} of every live descendant of `root`."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pc = _ppid_comm(int(name))
            if pc is not None:
                children.setdefault(pc[0], []).append((int(name), pc[1]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            out[pid] = comm
            todo.append(pid)
    return out


class PeakSampler:
    """Polls the process tree under `root` and keeps each process's
    VmHWM (itself a high-water mark, so polling only has to see a
    process once before it exits).

    jvm_mb()  VmHWM of the java process under `root` (the driver JVM)
    py_mb()   sum of VmHWM over the Python processes under the JVM
              (the pyspark daemon and the workers it forks)
    """

    def __init__(self, root: int | None = None, period_s: float = 0.25):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak_kb: dict[int, tuple[str, bool, int]] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        procs = descendants(self.root)
        jvms = [p for p, c in procs.items() if c == "java"]
        under_jvm: set[int] = set()
        for j in jvms:
            under_jvm.update(descendants(j))
        for pid, comm in procs.items():
            text = _read(pid, "status")
            if text is None:
                continue
            kb = vmhwm_kb(text)
            old = self.peak_kb.get(pid, (comm, False, 0))
            self.peak_kb[pid] = (comm, pid in under_jvm, max(old[2], kb))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "PeakSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()

    def jvm_mb(self) -> float:
        return max(
            (kb for comm, _, kb in self.peak_kb.values() if comm == "java"),
            default=0,
        ) / 1024.0

    def py_mb(self) -> float:
        return sum(
            kb
            for comm, under_jvm, kb in self.peak_kb.values()
            if under_jvm and comm.startswith("python")
        ) / 1024.0
