"""Statistics, span tracing and /proc probes for the benchmark.

Nothing here touches Spark. GC time, the JVM pid and host CPU ticks
come from ``bench.py``'s own helpers instead.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# --- statistics -----------------------------------------------------------

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest percentile that has at
    least ``MIN_BEYOND`` samples strictly beyond it.

    With n sorted samples that is the (n - MIN_BEYOND)-th smallest,
    the ``100 * (n - MIN_BEYOND) / n`` percentile. Below
    ``2 * MIN_BEYOND`` samples no percentile at or above the median has
    that support, so the median itself is reported (percentile 50)."""
    n = len(values)
    if n == 0:
        raise ValueError("tail() of no samples")
    if n < 2 * MIN_BEYOND:
        return statistics.median(values), 50.0, n
    k = n - MIN_BEYOND  # 1-based rank; MIN_BEYOND samples lie above it
    return sorted(values)[k - 1], 100.0 * k / n, n


def summary(values: list[float]) -> dict:
    """Median and rule-based tail of a sample, with its size."""
    value, pct, n = tail(values)
    return {"p50": statistics.median(values), "tail": value, "tail_pct": pct, "n": n}


def tail_note(s: dict) -> str:
    """How a :func:`summary`'s tail was taken, for printing."""
    if s["n"] < 2 * MIN_BEYOND:
        return f"the median of {s['n']}: fewer than {2 * MIN_BEYOND} samples"
    return f"p{s['tail_pct']:.0f} of {s['n']}"


# --- tracing --------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str  # "<layer>.<what>"
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` is a no-op
    context manager, so the untraced run pays nothing but one call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    record_s: float = 0.0  # time spent inside the tracer itself
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def span(self, name: str):
        """Context manager recording a span parented to the innermost
        open span of the calling thread."""
        return _SpanCtx(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (e.g. a streaming trigger
        from its progress event)."""
        if not self.enabled:
            return -1
        t0 = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, parent, name, start, end))
        self.record_s += time.perf_counter() - t0
        return sid

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def layer_self_s(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval covered by its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(f"{s.id}\t{s.parent}\t{s.name}\t{s.start:.6f}\t{s.end:.6f}\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "sid")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.sid = tracer, name, -1

    def __enter__(self) -> int:
        tr = self.tracer
        if not tr.enabled:
            return -1
        t0 = time.perf_counter()
        parent = tr.current()
        with tr._lock:
            self.sid = len(tr.spans)
            tr.spans.append(Span(self.sid, parent, self.name, time.time()))
        stack = getattr(tr._local, "stack", None)
        if stack is None:
            stack = tr._local.stack = []
        stack.append(self.sid)
        tr.record_s += time.perf_counter() - t0
        return self.sid

    def __exit__(self, *exc) -> None:
        tr = self.tracer
        if not tr.enabled:
            return
        t0 = time.perf_counter()
        tr.spans[self.sid].end = time.time()
        tr._local.stack.pop()
        tr.record_s += time.perf_counter() - t0


# --- /proc probes ---------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two
    ``(steal, total)`` tick samples of ``bench._cpu_ticks``."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from "state" on


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's when asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks / CLK_TCK


def proc_rss_bytes(pid: int) -> int:
    st = _stat(pid)
    return int(st[21]) * PAGE if st else 0


def proc_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _children(ppid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[1]) == ppid:
                out.append(int(name))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcSampler:
    """Background sampler of the JVM and its ``pyspark.daemon`` Python
    workers: peak combined RSS, distinct worker pids, worker CPU.

    Workers are the daemon's children; the CPU of workers that exited
    is folded into the daemon's reaped-children time."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss = 0
        self.worker_pids: set[int] = set()
        self._live_cpu: dict[int, float] = {}
        self._daemons: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        rss = proc_rss_bytes(self.jvm_pid)
        for d in _children(self.jvm_pid):
            if "pyspark.daemon" in _cmdline(d) or "pyspark/daemon" in _cmdline(d):
                self._daemons.add(d)
        for d in list(self._daemons):
            rss += proc_rss_bytes(d)
            for w in _children(d):
                self.worker_pids.add(w)
                rss += proc_rss_bytes(w)
                self._live_cpu[w] = proc_cpu_s(w)
        self.peak_rss = max(self.peak_rss, rss)

    def python_cpu_s(self) -> float:
        """Daemon + reaped workers + last-seen live workers' CPU."""
        live = {w for d in self._daemons for w in _children(d)}
        return sum(proc_cpu_s(d, children=True) for d in self._daemons) + sum(
            cpu for w, cpu in self._live_cpu.items() if w in live
        )

    def peak_rss_mb(self) -> float:
        self.sample()
        return max(self.peak_rss, proc_hwm_bytes(self.jvm_pid)) / 2**20


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """``(bytes, files)`` under ``path``; ``suffix`` filters file names."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
