"""Quiet-window hunter: wait for the host to be ACTUALLY quiet (ambient
DRAM probe + loaded steal sample both clean, several consecutive samples),
then fire one bench run; repeat until the run's own telemetry comes back
clean or the overall deadline expires.

Why this exists: this box shows multi-hour windows where every wide build
loses 3-8% of its cycles to the hypervisor and the ~1.5s DRAM probe reads
4-28s. bench.py's in-run gates correctly DISCARD such windows, but they
can't conjure a quiet one — this wrapper spends wall-clock (cheap) instead
of build attempts (expensive) by only launching when the ambient signal has
been clean for a while.

Usage:
    python scripts/hunt_quiet.py scaling   # full scaling protocol runs
    python scripts/hunt_quiet.py headline  # headline-only runs

Env:
    HUNT_DEADLINE_S   total wall budget (default 10800)
    HUNT_PROBE_REF    quiet probe reference seconds (default 2.0)
    HUNT_SAMPLES      consecutive clean samples required (default 3)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (uses _mem_probe / _box_steal_sample)

T0 = time.time()
DEADLINE = float(os.environ.get("HUNT_DEADLINE_S", "10800"))
PROBE_REF = float(os.environ.get("HUNT_PROBE_REF", "2.0"))
SAMPLES = int(os.environ.get("HUNT_SAMPLES", "3"))


def log(msg: str) -> None:
    print(f"[hunt +{time.time() - T0:7.0f}s] {msg}", file=sys.stderr, flush=True)


def remaining() -> float:
    return DEADLINE - (time.time() - T0)


def _probe_margin() -> float:
    """Progressive relaxation: a strict gate early (only fire in a truly
    quiet window), widening as the deadline burns down — a semi-quiet
    protocol run that journals a decent gate-flagged pair beats zero runs
    (the bench's own per-pair gates still mark contamination honestly)."""
    frac = (time.time() - T0) / DEADLINE
    if frac < 0.33:
        return 1.15
    if frac < 0.66:
        return 1.5
    return 2.0


def ambient_quiet() -> bool:
    """One sample: DRAM probe + loaded steal over a wide CPU set."""
    p = bench._mem_probe()
    steal = bench._box_steal_sample(window_s=4.0, loaded=True)
    margin = _probe_margin()
    ok = p <= margin * PROBE_REF and steal <= 1.0
    log(f"  sample: probe {p}s (ref {PROBE_REF} x{margin}), "
        f"loaded steal {steal}% -> {'clean' if ok else 'dirty'}")
    return ok


def wait_quiet() -> bool:
    """Block until SAMPLES consecutive clean samples (15s apart) or the
    deadline; returns False on deadline. Late in the budget one clean
    sample suffices — quiet stretches on this box can be shorter than a
    3-sample streak."""
    streak = 0
    while remaining() > 0:
        need = SAMPLES if (time.time() - T0) / DEADLINE < 0.66 else 1
        if ambient_quiet():
            streak += 1
            if streak >= need:
                return True
        else:
            streak = 0
            time.sleep(min(60, max(0, remaining())))
            continue
        time.sleep(15)
    return False


def run_once(mode: str, budget_s: float) -> dict | None:
    env = {**os.environ, "SPARK_GRAFT_BENCH_DEADLINE_S": str(int(budget_s))}
    if mode == "scaling":
        env["SPARK_GRAFT_SKIP_HEADLINE"] = "1"
        env.setdefault("SPARK_GRAFT_BENCH_REPEATS", "4")
        env.setdefault("SPARK_GRAFT_WAIT_QUIET_S", "120")
    else:
        env["SPARK_GRAFT_SKIP_SCALE"] = "1"
        env.setdefault("SPARK_GRAFT_WAIT_QUIET_S", "60")
    started = time.time()
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, timeout=budget_s + 300, env=env,
        )
    except subprocess.TimeoutExpired:
        log("  bench run TIMED OUT past its own deadline+grace")
        return None
    for tail_line in p.stderr.strip().splitlines()[-6:]:
        log(f"  bench: {tail_line[-200:]}")
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(line)
    except ValueError:
        log(f"  bench emitted no JSON (rc={p.returncode})")
        return None
    # the stdout line is the COMPACT record (driver tail cap) and strips
    # headline_probe_s — without it headline_clean() can never pass. The
    # full record lands in BENCH_partial.json; merge the gate telemetry
    # fields back in from there — only if this run wrote it: a record an
    # older run left behind can carry the same headline value.
    partial = os.path.join(REPO, "BENCH_partial.json")
    try:
        with open(partial) as f:
            full = json.load(f)
        if (os.path.getmtime(partial) > started
                and full.get("value") == res.get("value")):
            for k in ("headline_probe_s", "headline_wait"):
                if k in full and k not in res:
                    res[k] = full[k]
    except (OSError, ValueError) as e:
        log(f"  BENCH_partial.json merge skipped: {e!r}")
    return res


def scaling_clean(res: dict) -> bool:
    clean = res.get("scaling_efficiency_clean", {})
    for v in clean.values():
        if v.get("pairs"):
            return True
    return False


def headline_clean(res: dict) -> bool:
    steals = res.get("headline_steal_pct")
    steals = steals if isinstance(steals, list) else [steals]
    probes = res.get("headline_probe_s", [[99, 99]])
    best_pass_ok = any(
        s is not None and s <= 1.0 and max(pr) <= 1.3 * PROBE_REF
        for s, pr in zip(steals, probes)
    )
    return best_pass_ok


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "scaling"
    out_path = os.path.join(REPO, f"HUNT_{mode}.json")
    attempt = 0
    while remaining() > 600:
        if not wait_quiet():
            break
        attempt += 1
        budget = min(2400.0, remaining() - 120)
        log(f"quiet window -> launching {mode} run #{attempt} "
            f"(budget {budget:.0f}s)")
        res = run_once(mode, budget)
        if res is None:
            continue
        ok = scaling_clean(res) if mode == "scaling" else headline_clean(res)
        with open(out_path + (".last" if not ok else ""), "w") as f:
            json.dump({"attempt": attempt, "clean": ok, "result": res}, f)
        log(f"run #{attempt}: clean={ok}")
        if ok:
            log(f"clean {mode} evidence written to {out_path}")
            return
    log("deadline/budget exhausted without a fully clean run")


if __name__ == "__main__":
    main()
