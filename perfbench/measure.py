"""Measurement helpers of the benchmark: pure Python, no Spark.

Everything here is unit-tested by ``perfbench/test_measure.py``:

- the tail-percentile rule (highest order statistic with at least ten
  samples beyond it) and the per-pass latency summary;
- per-unit normalisation (per doc, per query, per second);
- failed-op counting;
- spans with parent links and per-layer self time;
- host CPU accounting from ``/proc/stat`` (busy excluding steal, steal share)
  and ``/proc/loadavg``;
- the seeded request stream the serve workloads replay.
"""

from __future__ import annotations

import json
import random
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Callable, Dict, List, NamedTuple, Optional, Sequence

TAIL_BEYOND = 10


# ---------------------------------------------------------------- statistics

def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND):
    """``(value, percentile, n)``: the highest order statistic that still has
    ``beyond`` samples above it, the share of samples at or below it (in
    percent), and the sample count. Needs more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    i = n - beyond - 1
    return sorted(values)[i], 100.0 * (i + 1) / n, n


def pass_summary(lat_ms: Sequence[float], pass_size: int,
                 beyond: int = TAIL_BEYOND):
    """Latency of a window replayed as whole passes over one request mix:
    ``(p50, tail, tail_percentile, passes)``, each the median over passes of
    that pass's median and of its tail (the tail rule applied within the
    pass, so its percentile is the same in every run). Samples after the
    last whole pass are left out."""
    k = len(lat_ms) // pass_size
    if k == 0:
        raise ValueError(f"no whole pass of {pass_size} in {len(lat_ms)} samples")
    passes = [lat_ms[i * pass_size:(i + 1) * pass_size] for i in range(k)]
    tails = [tail(p, beyond) for p in passes]
    return (median([median(p) for p in passes]),
            median([t[0] for t in tails]), tails[0][1], k)


def per_unit(total: float, units: int) -> float:
    """``total`` spread over ``units`` (per doc, per query)."""
    if units <= 0:
        raise ValueError(f"cannot normalise over {units} units")
    return total / units


def rate(units: int, seconds: float) -> float:
    """Units completed per second of wall time."""
    if seconds <= 0:
        raise ValueError(f"cannot take a rate over {seconds} s")
    return units / seconds


# ------------------------------------------------------------- failed ops

class OpLog:
    """Counts attempted and failed operations. An operation that raises is
    a failure: its exception is kept (type and message) and the loop goes
    on, so one bad request does not hide the rest of the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []

    def run(self, fn: Callable[[], object]):
        """Call ``fn``; return ``(ok, result)``."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # noqa: BLE001 — counted, reported, not hidden
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append("".join(
                    traceback.format_exception_only(type(exc), exc)).strip())
            return False, None

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ------------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: name, start, end, parent span and request id.

    Spans nest through a stack (the benchmark drives the program from one
    thread). A disabled tracer hands out a no-op context, so the untraced
    run pays nothing per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str, rid: Optional[int] = None):
        return self._span(name, rid) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, rid: Optional[int]):
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "rid": rid, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> Dict[int, float]:
        """Span id → its duration minus the part of it its children cover."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            out[s["id"]] = (s["end"] - s["start"]) - covered(
                s["start"], s["end"],
                [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        return out

    def layer_self_s(self) -> Dict[str, float]:
        """Self time summed per layer, the layer being the span name's first
        dotted component (``indexing.build_index`` → ``indexing``)."""
        st = self.self_times()
        out: Dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + st[s["id"]]
        return out

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -------------------------------------------------------------- host CPU

class CpuSample(NamedTuple):
    """Aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    busy: int    # user + nice + system + irq + softirq (guest is inside user)
    steal: int
    total: int   # busy + idle + iowait + steal
    load1: float


def parse_cpu_line(line: str, load1: float = 0.0) -> CpuSample:
    f = [int(x) for x in line.split()[1:]]
    f += [0] * (8 - len(f))
    user, nice, system, idle, iowait, irq, softirq, steal = f[:8]
    busy = user + nice + system + irq + softirq
    return CpuSample(busy, steal, busy + idle + iowait + steal, load1)


def read_cpu(stat_path: str = "/proc/stat",
             loadavg_path: str = "/proc/loadavg") -> CpuSample:
    with open(loadavg_path) as f:
        load1 = float(f.read().split()[0])
    with open(stat_path) as f:
        return parse_cpu_line(f.readline(), load1)


@dataclass
class CpuDelta:
    busy_s: float      # CPU-seconds the whole VM spent busy, steal excluded
    steal_frac: float  # share of all ticks stolen by the hypervisor
    busy_frac: float   # share of all ticks busy, steal excluded


def cpu_delta(a: CpuSample, b: CpuSample, hz: int = 100) -> CpuDelta:
    """What happened between two samples. VM-wide busy ticks stand for the
    program's CPU: an idle VM is well under 1% busy, and summing per-process
    counters over a process tree goes wrong when worker processes exit."""
    total = b.total - a.total
    busy = b.busy - a.busy
    steal = b.steal - a.steal
    if total <= 0:
        return CpuDelta(busy / hz, 0.0, 0.0)
    return CpuDelta(busy / hz, steal / total, busy / total)


# --------------------------------------------------------- request stream

QUERY_TYPES = ("match", "phrase", "fuzzy", "bool")


class Request(NamedTuple):
    rid: int
    qtype: str
    text: str


def request_stream(seed: str, n: int, texts: Sequence[str]) -> List[Request]:
    """``n`` requests that pair every query text with every query type.
    The stream is a run of passes; each pass is a fresh seeded shuffle of
    all ``len(texts) * len(QUERY_TYPES)`` pairs, so every whole pass holds
    the same mix and only the order depends on the seed."""
    rng = random.Random(f"requests:{seed}")
    pairs = [(t, q) for t in QUERY_TYPES for q in texts]
    out: List[Request] = []
    while len(out) < n:
        rng.shuffle(pairs)
        base = len(out)
        out.extend(Request(base + i, t, q) for i, (t, q) in enumerate(pairs))
    return out[:n]
