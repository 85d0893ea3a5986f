"""What the workloads share: the run context, the closed loop,
the outcome record and set-up helpers."""

from __future__ import annotations

import contextlib
import io
import itertools
import os
import time
from dataclasses import dataclass, field


import metrics

SETUP_REPS = 3


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    spark: object
    session_s: float
    session_cpu_s: float

    def path(self, *parts) -> str:
        """A path under the work directory; its parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts) -> str:
        """A directory under the work directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Outcome:
    setup_s: float = 0.0        # CPU seconds
    setup_wall_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong answer is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def zero_layers() -> dict:
    return {name: 0.0 for name, *_ in metrics.PER_LAYER}


def generate(seed: int, sf: float, out_dir: str, tables) -> str:
    """Seeded synthetic tables via ``tools/gen_sf.py`` (its fixed seed
    replaced by ``seed``); the generator's progress lines are dropped."""
    import gen_sf

    saved = gen_sf.SEED
    gen_sf.SEED = seed
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.generate(sf, out_dir, tables=set(tables))
    finally:
        gen_sf.SEED = saved
    return out_dir


def fixed_ops(seconds: float, cycle_s: float, cycles) -> list:
    """The operations of one run, in order, for one client that sends
    each only after the previous one completed (a closed loop).  The
    work is fixed: ``seconds / cycle_s`` whole cycles, at least one,
    where ``cycle_s`` is a cycle's nominal time on a 4-core host, so
    every run of a workload does the same operations whatever the load
    of the host."""
    n = max(1, round(seconds / cycle_s))
    return [op for cycle in itertools.islice(cycles, n) for op in cycle]


def in_turn(i: int, runs: list) -> list:
    """``runs`` in order for even ``i`` and reversed for odd.  A traced
    run does each operation twice, untraced and traced, and the two
    take turns going first so that neither gains from following the
    other: the ratio of their summed times is the tracing overhead."""
    return runs if i % 2 == 0 else runs[::-1]


def timed(fn, *args, **kwargs):
    """``(fn(...), wall seconds, CPU seconds of the process tree)``."""
    cpu = tree_cpu_s()
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t, tree_cpu_s() - cpu


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants -- the driver JVM and its Python workers -- including
    the children they have already reaped.  Unlike wall time it does not
    grow while other processes on the host hold the cores.  Linux
    ``/proc``; clock-tick resolution."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:         # the process ended meanwhile
            continue
        # fields after "pid (comm) ": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def host_context(spark) -> dict:
    """Host load at this moment: the fixed contention probe of
    ``bench.py`` and the 1-minute load average.  Recorded, never a
    metric."""
    import bench

    return {"probe_s": round(bench._contention_probe(spark), 4),
            "probe_ref_s": bench.PROBE_REF_S,
            "loadavg_1m": round(os.getloadavg()[0], 2)}


def percentile_summary(xs) -> dict:
    """Median, tail (by ``metrics.tail``) and sample count, for the
    human-readable details line."""
    xs = list(xs)
    out = {"n": len(xs)}
    if xs:
        out["p50"] = round(metrics.median(xs), 3)
        t = metrics.tail(xs)
        if t is not None:
            out[f"p{t[0]:g}"] = round(t[1], 3)
    return out
