"""Timing statistics, span recording and /proc readings for the benchmark.

Nothing here imports Spark: the functions take process ids and numbers,
so the smoke tests can exercise them without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def tail_stats(samples: list[float]) -> dict:
    """Median and tail of one operation type's latencies.

    The tail is the highest whole percentile that still has at least ten
    samples beyond it, so a short run reports a low percentile instead of
    a p99 resting on one sample. With ten or fewer samples no percentile
    qualifies and the tail is None."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    out = {"p50": statistics.median(xs), "n": n, "tail": None, "tail_pct": None}
    if n > 10:
        pct = (100 * (n - 10)) // n
        # nearest rank ceil(pct/100 * n) leaves n - rank >= 10 samples above
        rank = max(1, -(-pct * n // 100))
        out.update(tail=xs[rank - 1], tail_pct=pct)
    return out


# ---------------------------------------------------------------------------
# /proc: CPU seconds and peak RSS of the JVM and its Python workers
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int, with_reaped: bool) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 (1-based)
    ticks = int(fields[11]) + int(fields[12])
    if with_reaped:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def cpu_split(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU s, Python-worker CPU s) consumed so far.

    The Python side counts every process under the JVM (the pyspark
    daemon and its forked workers), including workers already reaped
    (their time is folded into the parent's cutime/cstime)."""
    jvm = _cpu_s(jvm_pid, with_reaped=False)
    py = sum(_cpu_s(p, with_reaped=True) for p in descendants(jvm_pid))
    return jvm, py


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder: name, start, end, parent and op id.

    A disabled tracer records nothing and costs one attribute check per
    span, so the timed runs use the same code path with tracing off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs
        self.start = 0.0
        self.end = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.idx = len(self.t.spans)
            self.t.spans.append({
                "name": self.name, "start": self.start, "end": None,
                "parent": self.t._stack[-1] if self.t._stack else None,
                "op": self.t.op_id, **self.attrs,
            })
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans[self.idx]["end"] = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start
