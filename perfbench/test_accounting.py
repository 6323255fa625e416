"""The benchmark's own accounting: percentiles with their sample count, the
failure share, closed-loop client timing and span self time. No Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import signal
import subprocess
import sys
import threading
import time

import pytest

from accounting import (
    HostTelemetry, RssSampler, closed_loop, failure_share, latency_summary, percentile,
    supported_percentile, tree_rss_bytes)
from tracing import Tracer, self_time_table, self_times


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == 5.0
    assert percentile(xs, 20) == 1.0
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_supported_percentile_needs_ten_samples_above():
    assert supported_percentile(5) == 50
    assert supported_percentile(20) == 50
    assert supported_percentile(40) == 75
    assert supported_percentile(100) == 90
    assert supported_percentile(1000) == 99


def test_latency_summary_reports_count_and_ms():
    s = latency_summary([0.001 * i for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50_ms"] == pytest.approx(50.0)
    assert s["p90_ms"] == pytest.approx(90.0)
    assert s["supported_percentile"] == 90


def test_failure_share():
    assert failure_share(10, 0) == 0.0
    assert failure_share(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            failure_share(attempted, failed)


def test_closed_loop_clients_wait_for_their_previous_reply():
    active = {}
    lock = threading.Lock()
    overlap = []

    def op(client, seq):
        with lock:
            overlap.append(active.get(client, False))
            active[client] = True
        time.sleep(0.01)
        with lock:
            active[client] = False
        if seq == 3:
            raise RuntimeError("planted failure")
        return seq * 2

    samples, window = closed_loop(3, op, 0.2)
    assert not any(overlap)
    assert [s.seq for s in samples] == list(range(len(samples)))
    assert all(s.seconds >= 0.01 for s in samples)
    assert window >= 0.2
    failed = [s for s in samples if s.error]
    assert [s.seq for s in failed] == [3] and failed[0].result is None
    assert all(s.result == s.seq * 2 for s in samples if not s.error)
    for c in range(3):
        mine = [s for s in samples if s.client == c]
        assert all(a.end <= b.start for a, b in zip(mine, mine[1:]))


def test_closed_loop_finishes_the_call_in_flight_at_the_deadline():
    samples, window = closed_loop(1, lambda c, i: time.sleep(0.15), 0.1)
    assert len(samples) == 1 and window >= 0.15


def test_closed_loop_stops_issuing_at_max_ops():
    samples, _ = closed_loop(3, lambda c, i: time.sleep(0.01), math.inf, max_ops=7)
    assert sorted(s.seq for s in samples) == list(range(7))


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    root = tr.record("op", 0.0, 10.0, request=1)
    tr.record("a", 2.0, 4.0, parent=root["id"], request=1)
    tr.record("b", 3.0, 6.0, parent=root["id"], request=1)
    tr.record("c", 9.0, 12.0, parent=root["id"], request=1)  # clipped at 10
    selfs = self_times(tr.spans)
    assert selfs[root["id"]] == pytest.approx(10.0 - 4.0 - 1.0)
    table = {r["span"]: r for r in self_time_table(tr.spans)}
    assert table["op"]["self_ms"] == pytest.approx(5000.0)
    assert sum(r["self_share"] for r in table.values()) == pytest.approx(1.0)


def test_nested_spans_share_the_request_id():
    tr = Tracer()
    with tr.span("outer", request=9):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["request"] == 9


def test_host_telemetry_and_rss():
    tel = HostTelemetry().finish()
    assert tel["nproc"] == len(os.sched_getaffinity(0))
    assert 0.0 <= tel["steal_pct"] <= 100.0 and len(tel["loadavg"]) == 3
    rss, workers = tree_rss_bytes(os.getpid())
    assert rss > 0 and workers == 0
    sampler = RssSampler(interval_s=0.01).start()
    peak = sampler.stop()
    ballast = bytearray(64 * 2**20)  # touched after the stop: not counted
    assert peak > 0 and sampler.stop() == peak and ballast


def test_rss_counts_at_most_worker_cap_python_workers():
    # a stand-in for Spark's Python daemon: a process whose command line
    # names pyspark.daemon and that forks three idle workers
    script = ("import os, time\n"
              "for _ in range(3):\n"
              "    if os.fork() == 0:\n"
              "        time.sleep(30)\n"
              "        os._exit(0)\n"
              "time.sleep(30)\n")
    proc = subprocess.Popen([sys.executable, "-c", script, "pyspark.daemon"],
                            start_new_session=True)
    try:
        deadline = time.monotonic() + 10
        while tree_rss_bytes(os.getpid())[1] < 3 and time.monotonic() < deadline:
            time.sleep(0.05)
        full, workers = tree_rss_bytes(os.getpid())
        capped, _ = tree_rss_bytes(os.getpid(), worker_cap=1)
        assert workers == 3 and 0 < capped < full
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=10)
