"""Process-tree resource readings from /proc: peak resident memory of the
benchmark's process tree (python driver, its JVM, the forked pyspark
workers), and the CPU that processes OUTSIDE the tree burned, or the
hypervisor stole, while the timed window ran (the co-tenant diagnostic that
explains an outlier run)."""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: str) -> int:
    """Proportional set size: pages shared with other processes (a forked
    pyspark worker and its daemon, a JVM child between fork and exec) are
    split between the sharers, so a tree's sum counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # raced a process exit
    return 0


def _proc_table() -> list[tuple[int, int, int, str]]:
    """(pid, ppid, cpu_ticks incl. reaped children, command) per process."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue  # raced a process exit
        rest = rest.split()
        cpu = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out.append((int(d), int(rest[1]), cpu, head.split("(", 1)[1]))
    return out


def _tree(root: int, table: list[tuple]) -> list[tuple]:
    """The rows of ``table`` for ``root`` and all its descendants."""
    kids: dict[int, list] = {}
    by_pid = {}
    for row in table:
        kids.setdefault(row[1], []).append(row[0])
        by_pid[row[0]] = row
    found, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in by_pid:
            found.append(by_pid[p])
        stack.extend(kids.get(p, []))
    return found


def tree_cpu_ticks(root: int) -> int:
    """A reaped child's ticks roll into exactly one live ancestor's cutime,
    so summing all four fields over the live tree counts each tick once."""
    return sum(r[2] for r in _tree(root, _proc_table()))


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole machine. Busy is user + nice +
    system + irq + softirq (guest time is already inside user)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class CotenantMeter:
    """Average cores used by processes outside our tree, and cores stolen
    by the hypervisor, between start() and read()."""

    def start(self, wall: float) -> None:
        self._wall0 = wall
        self._busy0, self._steal0 = _cpu_ticks()
        self._tree0 = tree_cpu_ticks(os.getpid())

    def read(self, wall: float) -> dict[str, float]:
        busy, steal = _cpu_ticks()
        span = max(wall - self._wall0, 1e-9) * _HZ
        other = (busy - self._busy0) - (tree_cpu_ticks(os.getpid()) - self._tree0)
        return {
            "cotenant_cores": max(0.0, other / span),
            "stolen_cores": (steal - self._steal0) / span,
        }


class RssSampler:
    """Background thread sampling the tree's resident memory every
    ``period_s`` as the sum of its processes' PSS; ``peak_mb`` is the
    largest sample. The only thread the benchmark adds."""

    def __init__(self, period_s: float = 0.5):
        self._period = period_s
        self._stop = threading.Event()
        self._peak = 0
        self.peak_by_command: dict[str, float] = {}
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            pss = [(r[3], _pss_bytes(str(r[0]))) for r in _tree(root, _proc_table())]
            total = sum(b for _, b in pss)
            if total > self._peak:
                self._peak = total
                by_cmd: dict[str, float] = {}
                for cmd, b in pss:
                    by_cmd[cmd] = by_cmd.get(cmd, 0.0) + b / 2**20
                self.peak_by_command = by_cmd
            self._stop.wait(self._period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self._peak / 2**20
