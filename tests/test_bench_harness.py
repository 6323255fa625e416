"""Unit tests for bench.py's sampling protocol (no Spark, no subprocesses):
steal/probe discard gates, top-up from least-contaminated discarded pairs,
and the wall-clock deadline — the round-3 failure mode (rc 124, no JSON)
must be structurally impossible. Also scripts/hunt_quiet.py's merge of the
full bench record into the compact one."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench(monkeypatch):
    spec = importlib.util.spec_from_file_location("bench_under_test",
                                                  os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "_materialize_corpus", lambda n: "/nonexistent")
    # unit tests must not sleep in the host-quiet gates
    monkeypatch.setenv("SPARK_GRAFT_WAIT_QUIET_S", "0")
    # one build per worker keeps the attempt arithmetic of these tests
    # (the multi-build protocol has its own test below)
    monkeypatch.setenv("SPARK_GRAFT_TIMED_BUILDS", "1")
    return mod


def _sample(n_docs, dps, steal, probe):
    return {"build_s": round(n_docs / dps, 2), "docs_per_sec": dps,
            "steal_pct": steal, "probe_s": probe,
            "query_p50_s": 0.5, "query_p99_s": 0.7, "n_queries": 20}


def _mk_runner(samples):
    """samples: dict cores -> list of (docs_per_sec, steal, probe) served in
    order; repeats the last one when exhausted. Returns a one-build list per
    call (the worker's multi-build shape)."""
    state = {c: 0 for c in samples}

    def run(cores, n_docs, r, max_attempts=2):
        i = min(state[cores], len(samples[cores]) - 1)
        state[cores] += 1
        dps, steal, probe = samples[cores][i]
        return [_sample(n_docs, dps, steal, probe)]
    return run


def test_clean_run_fills_sample(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "3")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    monkeypatch.setattr(
        bench, "_run_one_level",
        _mk_runner({2: [(8000, 0.1, 1.0)], 8: [(26000, 0.1, 1.0)]}),
    )
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["pairs_completed"] == 3 and info["topped_up_pairs"] == 0
    assert not info["deadline_hit"]
    assert results[2]["docs_per_sec"] == 8000


def test_contaminated_pairs_discarded_then_topped_up(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTRA_PAIRS", "1")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    # every pair breaches the steal cap -> all discarded -> retry budget
    # (repeats+extra=3) exhausts -> topped up with the LEAST-stolen two
    monkeypatch.setattr(
        bench, "_run_one_level",
        _mk_runner({2: [(8000, 0.1, 1.0)] * 3,
                    8: [(20000, 5.0, 1.0), (22000, 2.0, 1.0), (21000, 9.0, 1.0)]}),
    )
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["topped_up_pairs"] == 2 and info["pairs_completed"] == 2
    # least-stolen first: the 2.0%- and 5.0%-steal pairs, never the 9.0%
    steals = sorted(p[8]["steal_pct"] for p in pairs)
    assert steals == [2.0, 5.0]


def test_deadline_stops_loop_and_tops_up(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "5")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    calls = {"n": 0}
    real = _mk_runner({2: [(8000, 0.1, 9.9)], 8: [(20000, 0.1, 1.0)]})

    def run(cores, n_docs, r, max_attempts=2):
        calls["n"] += 1
        if calls["n"] == 2:  # after the first pair completes, expire budget
            monkeypatch.setattr(bench, "T0", time.time() - bench._deadline_s())
        return real(cores, n_docs, r, max_attempts)

    monkeypatch.setattr(bench, "_run_one_level", run)
    # first pair is probe-contaminated (9.9 vs 1.0) -> discarded; budget
    # then expires -> loop must stop AND the discarded pair must come back
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["deadline_hit"] is True
    assert info["pairs_completed"] == 1 and info["topped_up_pairs"] == 1
    assert calls["n"] == 2  # no pair started after expiry


def test_exit_probe_gate_discards_midbuild_contention(bench, monkeypatch):
    """Contention that arrives MID-build: entry probes and steal are clean,
    only the post-build exit probe sees it — the pair must be discarded and
    replaced by the later clean pair."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTRA_PAIRS", "1")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    runner = _mk_runner({2: [(8000, 0.1, 1.0)] * 2,
                         8: [(5000, 0.1, 1.0), (26000, 0.1, 1.0)]})

    def run(cores, n_docs, r, max_attempts=2):
        res = runner(cores, n_docs, r, max_attempts)[0]
        # first 8-core run: clean entry, poisoned exit (neighbor arrived
        # during the build and tanked docs_per_sec to 5000)
        res["probe_after_s"] = 4.0 if (cores == 8 and res["docs_per_sec"] == 5000) else 1.0
        return [res]

    monkeypatch.setattr(bench, "_run_one_level", run)
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["pairs_completed"] == 1 and info["topped_up_pairs"] == 0
    assert pairs[0][8]["docs_per_sec"] == 26000


def test_worker_cpu_probe_gate(bench, monkeypatch):
    """Core-local contention on the worker CPUs: driver-side probes and
    steal clean, only the worker-CPU-pinned probe elevated — discarded."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTRA_PAIRS", "1")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    runner = _mk_runner({2: [(8000, 0.1, 1.0)] * 2,
                         8: [(7000, 0.1, 1.0), (26000, 0.1, 1.0)]})

    def run(cores, n_docs, r, max_attempts=2):
        res = runner(cores, n_docs, r, max_attempts)[0]
        slow = cores == 8 and res["docs_per_sec"] == 7000
        res["wprobe_pre_s"] = 1.0
        res["wprobe_after_s"] = 3.5 if slow else 1.0
        return [res]

    monkeypatch.setattr(bench, "_run_one_level", run)
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["pairs_completed"] == 1 and info["topped_up_pairs"] == 0
    assert pairs[0][8]["docs_per_sec"] == 26000


def test_all_levels_failing_raises(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTRA_PAIRS", "0")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    monkeypatch.setattr(bench, "_run_one_level", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="failed every attempt"):
        bench.run_scaling(500_000, [2, 8])


def test_halfsize_fallback_when_budget_tight(bench, monkeypatch):
    """When the remaining budget can't fit another full-size pair but could
    fit a half-size one, the protocol drops to 500k-doc pairs instead of
    giving up — and every run records the doc count it actually used."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "2")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    real = _mk_runner({2: [(8000, 0.1, 1.0)] * 2, 8: [(26000, 0.1, 1.0)] * 2})
    calls = {"n": 0}

    def run(cores, n_docs, r, max_attempts=2):
        calls["n"] += 1
        if calls["n"] == 2:
            # after the first (1M) pair: leave 100s — below the ~120s
            # est_pair floor, above the 0.6x half-size estimate
            monkeypatch.setattr(bench, "T0",
                                time.time() - (bench._deadline_s() - 100))
        return real(cores, n_docs, r, max_attempts)

    monkeypatch.setattr(bench, "_run_one_level", run)
    results, pairs, info = bench.run_scaling(1_000_000, [2, 8])
    assert info["pairs_completed"] == 2 and info["topped_up_pairs"] == 0
    assert not info["deadline_hit"]
    assert [p[2]["n_docs"] for p in pairs] == [1_000_000, 500_000]


def test_halfsize_fallback_bottoms_out_at_500k(bench, monkeypatch):
    """Below 1M there is no half step: the deadline path must still fire
    (emitting the final JSON is the caller's job; this guards the loop)."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "2")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    real = _mk_runner({2: [(8000, 0.1, 1.0)] * 2, 8: [(26000, 0.1, 1.0)] * 2})
    calls = {"n": 0}

    def run(cores, n_docs, r, max_attempts=2):
        calls["n"] += 1
        if calls["n"] == 2:
            monkeypatch.setattr(bench, "T0",
                                time.time() - (bench._deadline_s() - 100))
        return real(cores, n_docs, r, max_attempts)

    monkeypatch.setattr(bench, "_run_one_level", run)
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    assert info["deadline_hit"] is True
    assert info["pairs_completed"] == 1
    assert calls["n"] == 2


def test_multibuild_worker_pairs_positionally(bench, monkeypatch):
    """One attempt with 2 timed builds per worker must yield 2 pairs, paired
    positionally (build i at N with build i at 4N), each gated on its own:
    a steal-dirty second wide build discards only ITS pair."""
    monkeypatch.setenv("SPARK_GRAFT_TIMED_BUILDS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTRA_PAIRS", "0")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP_PAIRS", "0")
    calls = {"n": 0}

    def run(cores, n_docs, r, max_attempts=2):
        calls["n"] += 1
        if cores == 2:
            return [_sample(n_docs, 8000, 0.1, 1.0),
                    _sample(n_docs, 8100, 0.1, 1.0)]
        return [_sample(n_docs, 26000, 0.1, 1.0),
                _sample(n_docs, 25000, 5.0, 1.0)]  # dirty second build

    monkeypatch.setattr(bench, "_run_one_level", run)
    results, pairs, info = bench.run_scaling(500_000, [2, 8])
    # one attempt (2 worker calls), 2 positional pairs, 1 clean + 1 topped up
    assert calls["n"] == 2
    assert info["pairs_completed"] == 2 and info["topped_up_pairs"] == 1
    clean = [p for p in pairs if not p.get("_topped_up")]
    assert len(clean) == 1 and clean[0][8]["docs_per_sec"] == 26000
    assert clean[0][2]["docs_per_sec"] == 8000  # positional: build 0 with build 0


@pytest.fixture()
def hunt(monkeypatch, tmp_path):
    """scripts/hunt_quiet.py with its REPO pointed at an empty directory."""
    spec = importlib.util.spec_from_file_location(
        "hunt_under_test", os.path.join(REPO, "scripts", "hunt_quiet.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(mod, "log", lambda msg: None)
    return mod


def test_hunt_merges_telemetry_only_from_this_runs_record(hunt, monkeypatch, tmp_path):
    """run_once adds headline_probe_s / headline_wait from BENCH_partial.json
    to the compact stdout record only when the bench run it launched wrote
    that file: an older run's record with the same headline value is
    ignored."""
    partial = tmp_path / "BENCH_partial.json"
    full = {"value": 27.5, "headline_probe_s": [[1.0, 1.1]], "headline_wait": 3.0}
    compact = {"value": 27.5}

    def bench_run(write):
        def run(cmd, **kw):
            if write:
                partial.write_text(json.dumps(full))
                # the record lands as the run ends, seconds after its start
                t = time.time() + 5
                os.utime(partial, (t, t))
            return subprocess.CompletedProcess(cmd, 0, json.dumps(compact) + "\n", "")
        return run

    partial.write_text(json.dumps(full))
    old = time.time() - 3600
    os.utime(partial, (old, old))
    monkeypatch.setattr(hunt.subprocess, "run", bench_run(write=False))
    assert hunt.run_once("headline", 60) == compact

    monkeypatch.setattr(hunt.subprocess, "run", bench_run(write=True))
    assert hunt.run_once("headline", 60) == full

    # this run's record, but for another headline value: not merged
    full["value"] = 30.0
    assert hunt.run_once("headline", 60) == compact
