"""Host-speed probe: timed windows scaled to a reference CPU speed.

The benchmark runs on a shared virtual machine whose CPU speed drifts by up
to 1.6 times over minutes while the program and its inputs stay the same
(a fixed CPU job timed back to back for five minutes read 0.42-0.85 s).
Ten runs of one workload span several such periods, so raw walls spread by
30-40% between runs however long each run measures.

:func:`probe` times a fixed CPU job on every core: ``nproc`` threads, each
compressing the same 64 KiB buffer a fixed number of times (``zlib``
releases the GIL, so the threads run in parallel). It reports the job's
wall, less the CPU time the benchmark's child processes (the program's
JVM and Python workers) used meanwhile, spread over the cores: the
program's own background work, such as JIT compilation after an
operation, does not read as a slow host. The wall, not the threads' CPU
time, because the drift shows in the wall of a job on every core but not
always in its CPU time.

A :class:`Window` runs the probe right before and right after a timed
window; a wall measured in it is scaled by ``REF_PROBE_S`` over the mean of
the two probes. The result is the wall in seconds on a host where the
probe takes ``REF_PROBE_S``. The probe runs between the program's
operations, in the benchmark's own process, and does not touch the
program, so a slower program reads slower whatever the host's speed.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
import zlib

# about the probe's median on the 4-core host of the baseline; it fixes the
# unit of the scaled walls and changes no ratio between them
REF_PROBE_S = 0.07
ROUNDS = 16  # compressions per thread and run
_RNG = random.Random(0)
_BUF = bytes(_RNG.getrandbits(8) if i % 3 else 65 for i in range(1 << 16))
_TICK = os.sysconf("SC_CLK_TCK")


def children_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants."""
    stats: dict[int, tuple[int, float]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the name: state, ppid, ... utime and stime are fields 14-15
        stats[int(pid)] = (int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo += kids.get(pid, [])
    return total


def _job(cores: int) -> float:
    def work() -> None:
        for _ in range(ROUNDS):
            zlib.compress(_BUF, 6)

    pool = [threading.Thread(target=work) for _ in range(cores)]
    busy0, t0 = children_cpu_s(), time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    wall = time.perf_counter() - t0
    return wall - (children_cpu_s() - busy0) / cores


def probe() -> float:
    """Median of three runs of the fixed job on ``nproc`` cores at once,
    each its wall less the CPU time the child processes took from those
    cores meanwhile. The median drops the host's sub-second spikes (one
    run in a few reads three times the others), which the operations
    themselves, seconds long, average out."""
    cores = os.cpu_count() or 4
    return statistics.median(_job(cores) for _ in range(3))


class Window:
    """A timed window between two probes: ``with Window() as w: ...``,
    then ``w.scale`` turns a wall measured inside it into seconds at the
    reference speed."""

    def __enter__(self) -> "Window":
        self.before = probe()
        return self

    def __exit__(self, *exc) -> None:
        self.scale = REF_PROBE_S / ((self.before + probe()) / 2)
