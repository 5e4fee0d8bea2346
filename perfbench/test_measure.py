"""Tests of the benchmark's own helpers (no Spark needed).

Run from the checkout root: ``python3 -m pytest perfbench -q -p no:cacheprovider``.
"""

import statistics
import time

import pytest

from measure import (
    QUERY_TYPES, CpuSample, OpLog, Tracer, covered, cpu_delta, median,
    parse_cpu_line, pass_summary, per_unit, rate, request_stream, tail,
)


# ---- tail percentile ----

def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_at_the_smallest_sample_count():
    value, pct, n = tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])
    assert (value, n) == (1, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_is_order_free_and_refuses_short_samples():
    values = [float(x) for x in range(300)]
    assert tail(values) == tail(list(reversed(values)))
    with pytest.raises(ValueError):
        tail(list(range(10)))


def test_pass_summary_takes_medians_over_whole_passes():
    fast = [float(x) for x in range(1, 101)]   # p50 50.5, tail 90
    slow = [2 * v for v in fast]               # p50 101, tail 180
    p50, tail_v, pct, k = pass_summary(fast + fast + slow + [1e9] * 7, 100)
    assert (p50, tail_v, pct, k) == (50.5, 90.0, 90.0, 3)  # partial pass left out
    assert pass_summary(fast + slow, 100)[:2] == ((50.5 + 101) / 2, 135.0)
    with pytest.raises(ValueError):
        pass_summary(fast[:99], 100)


def test_median_matches_statistics():
    for values in ([3.0], [1.0, 9.0], [5.0, 1.0, 4.0], [2.0, 8.0, 4.0, 6.0]):
        assert median(values) == statistics.median(values)
    with pytest.raises(ValueError):
        median([])


# ---- normalisation ----

def test_per_doc_and_per_query_normalisation():
    assert per_unit(6000.0, 4000) == 1.5          # ms of CPU per doc
    assert rate(3000, 1.5) == 2000.0              # docs per second
    with pytest.raises(ValueError):
        per_unit(1.0, 0)
    with pytest.raises(ValueError):
        rate(1, 0.0)


# ---- failed ops ----

def test_oplog_counts_failures_and_keeps_going():
    log = OpLog()

    def boom():
        raise RuntimeError("broken request")

    results = [log.run(lambda: 7), log.run(boom), log.run(lambda: 8)]
    assert results == [(True, 7), (False, None), (True, 8)]
    assert (log.attempted, log.failed) == (3, 1)
    assert log.failed_frac == pytest.approx(1 / 3)
    assert "RuntimeError: broken request" in log.errors[0]


def test_oplog_lets_interrupts_through():
    log = OpLog()

    def stop():
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        log.run(stop)
    assert OpLog().failed_frac == 0.0


# ---- spans and self time ----

def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 4), (6, 7)]) == 4
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3


def test_span_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "bench.request", "parent": None, "rid": 1,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "queries.match_query", "parent": 0, "rid": 1,
         "start": 1.0, "end": 4.0},
        {"id": 2, "name": "queries.collect", "parent": 0, "rid": 1,
         "start": 4.0, "end": 9.0},
        {"id": 3, "name": "analysis.analyze", "parent": 1, "rid": 1,
         "start": 2.0, "end": 3.0},
    ]
    assert tr.self_times() == {0: 2.0, 1: 2.0, 2: 5.0, 3: 1.0}
    assert tr.layer_self_s() == {"bench": 2.0, "queries": 7.0, "analysis": 1.0}


def test_live_spans_nest_and_inherit_request_id():
    tr = Tracer(True)
    with tr.span("bench.request", 42):
        with tr.span("queries.collect"):
            time.sleep(0.001)
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["rid"] == 42
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert sum(tr.layer_self_s().values()) == pytest.approx(
        outer["end"] - outer["start"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("queries.collect", 1):
        pass
    assert tr.spans == [] and tr.layer_self_s() == {}


# ---- steal / busy arithmetic ----

def test_cpu_line_splits_busy_steal_and_idle():
    # user nice system idle iowait irq softirq steal guest guest_nice
    s = parse_cpu_line("cpu  100 5 20 800 10 3 2 60 40 0", load1=1.5)
    assert s == CpuSample(busy=130, steal=60, total=1000, load1=1.5)


def test_cpu_delta_excludes_steal_from_busy():
    a = CpuSample(busy=1000, steal=100, total=10_000, load1=0.1)
    b = CpuSample(busy=1300, steal=150, total=11_000, load1=2.0)
    d = cpu_delta(a, b, hz=100)
    assert d.busy_s == pytest.approx(3.0)       # 300 ticks at 100 Hz
    assert d.steal_frac == pytest.approx(0.05)  # 50 of 1000 ticks
    assert d.busy_frac == pytest.approx(0.30)
    assert cpu_delta(a, a).steal_frac == 0.0


def test_short_cpu_line_is_padded():
    assert parse_cpu_line("cpu 1 2 3 4").total == 10


# ---- request stream ----

def test_request_stream_is_seeded_and_pairs_every_text_with_every_type():
    texts = ["def", "improt", "parse json config"]
    per_pass = len(texts) * len(QUERY_TYPES)
    a = request_stream("7:measure", 3 * per_pass + 5, texts)
    assert a == request_stream("7:measure", 3 * per_pass + 5, texts)
    assert a != request_stream("8:measure", 3 * per_pass + 5, texts)
    assert [r.rid for r in a] == list(range(len(a)))
    everything = sorted((t, q) for t in QUERY_TYPES for q in texts)
    passes = [a[i:i + per_pass] for i in range(0, 3 * per_pass, per_pass)]
    for p in passes:  # every whole pass holds each pair once
        assert sorted((r.qtype, r.text) for r in p) == everything
    assert len({tuple(r.text for r in p) for p in passes}) > 1  # order varies
