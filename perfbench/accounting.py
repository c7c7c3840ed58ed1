"""Measurement helpers: OS per-process accounting over a process tree,
Spark stage metrics from the application status store, and a span
tracer that attributes both to layer calls.

Nothing here touches the package under test.  The tree is the driver
Python process and every descendant (the JVM and its Python workers);
CPU of descendants that already exited is kept through the kernel's
``cutime``/``cstime`` and reaped-child I/O fields, so short-lived
workers are not lost.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: the tree's root: this process
_ROOT = os.getpid()
#: resident-memory sampling period, and how many samples reuse one
#: read of the tree's pid list
_RSS_INTERVAL_S = 0.05
_RSS_REFRESH = 10


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after
    # the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [_ROOT]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


@dataclass(frozen=True)
class ProcSample:
    cpu_s: float
    write_bytes: int
    cancelled_write_bytes: int

    def __sub__(self, other: "ProcSample") -> "ProcSample":
        return ProcSample(
            self.cpu_s - other.cpu_s,
            self.write_bytes - other.write_bytes,
            self.cancelled_write_bytes - other.cancelled_write_bytes,
        )

    def __add__(self, other: "ProcSample") -> "ProcSample":
        return ProcSample(
            self.cpu_s + other.cpu_s,
            self.write_bytes + other.write_bytes,
            self.cancelled_write_bytes + other.cancelled_write_bytes,
        )

    @property
    def net_write_bytes(self) -> int:
        return self.write_bytes - self.cancelled_write_bytes


ZERO = ProcSample(0.0, 0, 0)


def _io_fields(pid: int) -> dict[str, int]:
    try:
        with open(f"/proc/{pid}/io") as f:
            return {
                k: int(v)
                for k, v in (line.split(": ") for line in f.read().splitlines())
            }
    except OSError:
        return {}


def sample_tree() -> ProcSample:
    """CPU seconds (user+system, own and reaped children) and storage
    write bytes summed over the live tree."""
    cpu = 0
    wb = cwb = 0
    for pid in tree_pids():
        st = _stat_fields(pid)
        if st is None:
            continue
        # fields 14-17 of stat: utime stime cutime cstime (1-based)
        cpu += sum(int(x) for x in st[11:15])
        io = _io_fields(pid)
        wb += io.get("write_bytes", 0)
        cwb += io.get("cancelled_write_bytes", 0)
    return ProcSample(cpu / _TICK, wb, cwb)


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssPeak:
    """Background sampler of the tree's summed resident memory; the
    peak over the ``with`` block is ``.peak_bytes``.  The tree's pid
    list is re-read every ``_RSS_REFRESH`` samples, which keeps a
    sample to a few ``statm`` reads."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        n = 0
        while True:
            if n % _RSS_REFRESH == 0:
                pids = tree_pids()
            n += 1
            self.peak_bytes = max(self.peak_bytes, rss_bytes(pids))
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssPeak":
        self.peak_bytes = rss_bytes(tree_pids())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, rss_bytes(tree_pids()))


#: StageData getters read per stage -> record key; times are in
#: milliseconds.
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class StageLedger:
    """Reads per-stage task metrics from Spark's status store.

    ``AppStatusStore.stageList`` returns stages newest first, so
    ``since(watermark)`` walks only the stages submitted after the
    watermark.  The listener bus is drained first: the store is fed
    asynchronously and a stage's final metrics land on its completion
    event."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._store = self._jsc.statusStore()
        self._no_quantiles = self._gateway.new_array(
            self._gateway.jvm.double, 0
        )

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def watermark(self) -> int:
        """Highest stage id submitted so far (-1 before any)."""
        self.drain()
        stages = self._stages()
        return stages.apply(0).stageId() if stages.length() else -1

    def since(self, watermark: int) -> dict[tuple[int, int], dict]:
        """Every stage attempt with id above ``watermark``, keyed by
        ``(stageId, attemptId)``."""
        self.drain()
        stages = self._stages()
        out: dict[tuple[int, int], dict] = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= watermark:
                break
            out[(sid, s.attemptId())] = {
                k: getattr(s, getter)() for k, getter in _STAGE_FIELDS.items()
            }
        return out


def sum_stages(stages) -> dict[str, float]:
    tot = {k: 0 for k in _STAGE_FIELDS}
    for rec in stages:
        for k in _STAGE_FIELDS:
            tot[k] += rec[k]
    return tot


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    wall_s: float = 0.0
    child_wall_s: float = 0.0
    proc: ProcSample = ZERO
    child_proc: ProcSample = ZERO
    rows_out: int = 0
    stages: dict = field(default_factory=dict)

    @property
    def self_wall_s(self) -> float:
        return self.wall_s - self.child_wall_s

    @property
    def self_proc(self) -> ProcSample:
        return self.proc - self.child_proc


class Tracer:
    """Nested spans around layer calls.  Each span keeps its self wall
    time (duration minus the part its child spans cover), the process
    tree's CPU and write bytes over the same self interval, and the
    Spark stages submitted inside it but not inside a child span."""

    def __init__(self, ledger: StageLedger):
        self.ledger = ledger
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, int, ProcSample]] = []
        self._claimed: set[tuple[int, int]] = set()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1][0].name if self._stack else None
        wm = self.ledger.watermark()
        sp = Span(name, parent, time.perf_counter())
        self._stack.append((sp, wm, sample_tree()))
        return sp

    def _close(self) -> None:
        sp, wm, before = self._stack.pop()
        sp.wall_s = time.perf_counter() - sp.start
        sp.proc = sample_tree() - before
        new = self.ledger.since(wm)
        sp.stages = {k: v for k, v in new.items() if k not in self._claimed}
        self._claimed.update(sp.stages)
        if self._stack:
            parent = self._stack[-1][0]
            parent.child_wall_s += sp.wall_s
            parent.child_proc = parent.child_proc + sp.proc
        self.spans.append(sp)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close()
