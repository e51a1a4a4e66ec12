"""Memory and leak probes, read from outside the engine.

- :class:`PeakMemory` keeps the peak of the run's memory: the JVM memory
  still held after the last query, read after full GCs, plus the resident
  memory of the Python workers and the bytes under the engine's
  shared-memory root, sampled from ``/proc`` every second.
- :func:`dir_mb` sizes a directory tree (block stores, checkpoints).
- :func:`descendants` lists the processes a run started, to wait for them.
- :func:`persisted_rdds` counts the session's persistent RDDs.
"""

from __future__ import annotations

import gc
import os
import threading
import time

_MB = 1024.0 * 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:  # removed by the engine mid-walk
                pass
    return total / _MB


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root_pid: int, min_depth: int = 1) -> list[int]:
    """Processes below ``root_pid``, from ``min_depth`` generations down
    (1: children and below; 2: grandchildren and below)."""
    kids = _children()
    out, stack = [], [(pid, 1) for pid in kids.get(root_pid, [])]
    while stack:
        pid, depth = stack.pop()
        if depth >= min_depth:
            out.append(pid)
        stack.extend((k, depth + 1) for k in kids.get(pid, []))
    return out


def _private_pss_kb(pid: int) -> int:
    """Proportional set size without shared-memory mappings: a page
    shared by forked workers counts once, and mapped shm files are left
    to :func:`dir_mb` so they are not counted twice."""
    kb = 0
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("Pss_Anon", "Pss_File"):
                kb += int(rest.split()[0])
    return kb


def jvm_live_mb(sc, settle_s: float = 0.3, min_rounds: int = 5, max_rounds: int = 10) -> float:
    """JVM heap and non-heap memory the session still holds. Each round
    runs a full GC, then pauses so Spark's context cleaner can drop the
    cached blocks, shuffles and broadcasts of objects the GC found
    unreachable. Those drops land up to about a second late, so rounds go
    on until the last three reads agree within 1%."""
    gc.collect()  # release Py4J handles caught in Python reference cycles
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    reads: list[int] = []
    while len(reads) < max_rounds:
        mx.gc()
        reads.append(mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed())
        last3 = reads[-3:]
        if len(reads) >= min_rounds and max(last3) <= 1.01 * min(last3):
            break
        time.sleep(settle_s)
    return reads[-1] / _MB


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


class PeakMemory:
    """``peak_mb`` is the JVM memory left held after the last query (see
    :meth:`jvm_boundary`) plus the peak of worker memory and engine shm
    bytes, sampled every ``interval_s``. The Python workers are the
    processes below the JVM, which is the benchmark's own child."""

    # the sampler shares the GIL with the driver, which launches every
    # Spark job, so it samples rarely
    def __init__(self, sc, shm_root: str, interval_s: float = 1.0):
        self.sc = sc
        self.shm_root = shm_root
        self.interval_s = interval_s
        self.jvm_mb = 0.0
        self.rest_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return self.jvm_mb + self.rest_mb

    def jvm_boundary(self) -> None:
        """Reads held JVM memory; called after the last query, untimed."""
        self.jvm_mb = max(self.jvm_mb, jvm_live_mb(self.sc))

    def sample(self) -> None:
        kb = 0
        for pid in descendants(os.getpid(), min_depth=2):
            try:
                kb += _private_pss_kb(pid)
            except OSError:  # exited between listing and reading
                pass
        self.rest_mb = max(self.rest_mb, kb / 1024.0 + dir_mb(self.shm_root))
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakMemory":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
