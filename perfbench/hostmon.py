"""Host telemetry from /proc: peak memory of a process tree, and the CPU
burned by processes outside it (external load that makes a run contended).

Tree memory is the sum of each member's proportional set size (``Pss`` in
``smaps_rollup``): pages shared between processes, such as those of forked
Python workers, count once in total instead of once per process, which
summed RSS would do.

The external-load estimate follows the repository's older ``bench.py``:
system busy jiffies minus the jiffies of the measured tree, including the
rolled-up CPU of reaped children (Python workers come and go), per wall
second.  It is sampled continuously by a background thread.
"""

from __future__ import annotations

import os
import threading
import time

EXT_CORES_CONTENDED = 2.0
_TICK = os.sysconf("SC_CLK_TCK") or 100


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, start time)."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may contain spaces or parentheses: split after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        try:
            table[int(pid)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
                int(rest[19]),
            )
        except (IndexError, ValueError):
            continue
    return table


def tree_pids(root_pid: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def kill_all(seen: dict[int, int], timeout: float = 10.0) -> None:
    """SIGKILL every process in ``seen`` (pid -> start time) that is still
    the same process, then wait until all of them are gone."""
    def alive():
        table = proc_table()
        return [p for p, st in seen.items() if p in table and table[p][2] == st]

    for pid in alive():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.time() + timeout
    while time.time() < deadline and alive():
        time.sleep(0.05)


def _system_busy_jiffies() -> int | None:
    """Non-idle jiffies over all CPUs (idle and iowait excluded)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return sum(f) - f[3] - f[4]


class TreeMonitor:
    """Samples the tree rooted at ``root_pid`` every ``interval`` seconds
    until ``stop()``: peak summed PSS, and external CPU cores per wall
    second over the whole sampling window."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mem = 0
        self.seen: dict[int, int] = {}   # every tree member: pid -> start time
        self._first = self._last = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def _sample(self) -> None:
        table = proc_table()
        pids = tree_pids(self.root_pid, table)
        if not pids:
            return
        self.seen.update((p, table[p][2]) for p in pids)
        self.peak_mem = max(self.peak_mem, sum(_pss_bytes(p) for p in pids))
        busy = _system_busy_jiffies()
        # the tree's own CPU: live members, plus the root's reaped children
        own = sum(table[p][1] for p in pids)
        if busy is not None:
            point = (time.perf_counter(), busy, own)
            if self._first is None:
                self._first = point
            self._last = point

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()  # records any members still alive

    @property
    def peak_mem_mb(self) -> float:
        return self.peak_mem / (1024 * 1024)

    @property
    def ext_cpu_cores(self) -> float | None:
        if self._first is None or self._last is self._first:
            return None
        (t0, b0, o0), (t1, b1, o1) = self._first, self._last
        wall = t1 - t0
        if wall <= 0:
            return None
        own = max(0.0, (o1 - o0) / _TICK / wall)
        ext = (b1 - b0) / _TICK / wall - own
        return min(float(os.cpu_count() or 1), max(0.0, ext))

    @property
    def contended(self) -> bool:
        """More than EXT_CORES_CONTENDED cores busy outside the tree: the
        run's timings include external load."""
        ext = self.ext_cpu_cores
        return ext is not None and ext > EXT_CORES_CONTENDED
