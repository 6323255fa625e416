"""The benchmark's own accounting: percentiles, failure share, closed-loop
clients, peak RSS of the process tree and host telemetry. No Spark here."""

from __future__ import annotations

import logging
import math
import os
import threading
import time
from dataclasses import dataclass
from typing import Callable


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]) of a non-empty sample."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def supported_percentile(n: int, candidates=(99, 90, 75, 50)) -> int:
    """Highest candidate percentile with at least ten samples above it
    (50 when the sample is smaller than that)."""
    for q in candidates:
        if n - math.ceil(q / 100.0 * n) >= 10:
            return q
    return 50


def latency_summary(samples_s: list[float]) -> dict:
    """p50/p90 in ms with the sample count and the supported percentile."""
    return {
        "n": len(samples_s),
        "p50_ms": percentile(samples_s, 50) * 1000.0,
        "p90_ms": percentile(samples_s, 90) * 1000.0,
        "supported_percentile": supported_percentile(len(samples_s)),
    }


def failure_share(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass
class Sample:
    client: int
    seq: int
    start: float
    end: float
    result: object = None
    error: bool = False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def closed_loop(n_clients: int, op: Callable[[int, int], object],
                seconds: float, clock: Callable[[], float] = time.perf_counter,
                max_ops: int | None = None):
    """Run `n_clients` closed-loop clients until `seconds` have passed (or
    `max_ops` calls have been issued).

    Each client calls op(client, seq) and issues its next call only after
    the previous one returned; `seq` numbers calls across clients. The
    call's return value is kept as the sample's result, to be checked
    after the window; an exception marks the sample as an error. Calls
    started before the deadline run to completion. Returns
    (samples, window_s), window_s running from the first start to the
    last end."""
    lock = threading.Lock()
    seq = [0]
    samples: list[Sample] = []
    deadline = clock() + seconds

    def client(c: int) -> None:
        while clock() < deadline:
            with lock:
                i = seq[0]
                seq[0] += 1
            if max_ops is not None and i >= max_ops:
                return
            s = Sample(c, i, clock(), 0.0)
            try:
                s.result = op(c, i)
            except Exception:
                logging.getLogger(__name__).exception("operation %d failed", i)
                s.error = True
            s.end = clock()
            with lock:
                samples.append(s)

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if not samples:
        return samples, 0.0
    window = max(s.end for s in samples) - min(s.start for s in samples)
    return sorted(samples, key=lambda s: s.seq), window


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _forks_python_workers(pid: int) -> bool:
    """Is pid Spark's Python daemon, whose children are the workers?"""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_rss_bytes(pid: int, worker_cap: int | None = None) -> tuple[int, int]:
    """(summed resident set, Python worker count) of a process and all its
    descendants: the benchmark process, the JVM, Spark's Python daemon and
    its workers. Pages shared between forked processes count once per
    process. With worker_cap, only the worker_cap largest workers count:
    Spark forks a worker beyond one per task slot when a task starts before
    the previous one has handed its worker back, which depends on timing."""
    kids = _children_map()
    total, workers = 0, []
    todo = [(pid, False)]
    while todo:
        p, is_worker = todo.pop()
        rss = _rss_bytes(p)
        if is_worker:
            workers.append(rss)
        else:
            total += rss
        daemon = not is_worker and _forks_python_workers(p)
        todo.extend((c, daemon) for c in kids.get(p, []))
    workers.sort(reverse=True)
    return total + sum(workers[:worker_cap]), len(workers)


class RssSampler:
    """Background sampler of tree_rss_bytes(own pid, worker_cap); keeps the
    peak and the largest Python worker count seen."""

    def __init__(self, worker_cap: int | None = None, interval_s: float = 0.25):
        self.worker_cap = worker_cap
        self.interval_s = interval_s
        self.peak = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss, workers = tree_rss_bytes(os.getpid(), self.worker_cap)
        self.peak = max(self.peak, rss)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling (once; later calls change nothing) and return the
        peak."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostTelemetry:
    """nproc, steal% over a window and the load average at its end."""

    def __init__(self):
        self._start = _cpu_times()

    def finish(self) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8]) or 1   # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "steal_pct": 100.0 * steal / total,
            "loadavg": load,
        }
