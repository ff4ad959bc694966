"""Benchmark harness (driver contract).

Runs every declared query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines to stdout, both of the
contract shape {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {...}, "sf": <float>}:

  1. the FULL line (per-query timing map) first,
  2. a SHORT tail-safe summary line last (queries collapsed to {"total": ...},
     plus n_queries/details pointers), so a capture that keeps only the head
     OR only the tail of stdout still parses one valid contract line.

The full per-query map is also written to bench_details.json next to this
file. Each query is timed end-to-end including the collect (what a user of
the reference's API observes: pipeline build + execution + result fetch);
each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the
MIN, so one-time first-touch costs and machine-load drift don't mask plan
regressions round-over-round. A query whose min would still trip the
regression gate (>1.5x prev AND >0.25s) is escalated to
$SPARK_GRAFT_BENCH_ESCALATED runs (default 5) before recording, so flags
are load-bearing (escalated queries are listed under "escalated").

Since r8 every timing is split into (analysis_sec, exec_sec): analysis =
DataFrame construction + Catalyst analysis (driver-side, data-volume-
independent, amortizes over plan reuse), exec = physical planning +
execution + fetch. The regression gate compares exec_sec only (vs the
previous details file's exec_sec when present), because sub-second rows
are dominated by the ~1 s analysis half, which is what made r7's
contention flags ambiguous.

Since r11 the bench is LOAD-AWARE (the r10 numbers were contaminated by
noisy-neighbor host load): a fixed CPU calibration probe (pinned
single-thread arithmetic loop + a 32-thread GIL-releasing numpy loop) runs
before the query loop, every $SPARK_GRAFT_BENCH_CAL_EVERY queries
(default 50), and after; a ~60 ms micro mark (min of 3 arithmetic
samples) additionally brackets EVERY query, because load waves shorter
than the probe cadence alias past the coarse probes (observed: a run
whose 5-min load average swung 0.3 → 18 → 0.3 between probe points
produced 21 phantom flags that read calibration-clean); /proc/loadavg and
/proc/stat (incl. steal) are snapshotted bracketing the run. All of it
lands in bench_details.json. A regression flag whose bracketing probes OR
micro marks drifted >20% vs the calibration baseline is demoted to
"regressed_contended" — n_regressed counts only calibration-clean flags,
so a nonzero gate means a plan regressed, not that the hypervisor had a
bad minute.

Since r12 two refinements close the gate's remaining false-positive and
false-negative paths (r11 verdict ask #2 + advice):

  1. ABSOLUTE calibration baseline: probe/micro drift is judged against a
     PERSISTED baseline — since r13 the min over the last
     BASELINE_WINDOW run-bests (an AGED ratchet: one anomalously fast
     probe, e.g. a turbo burst, poisons the yardstick for at most
     BASELINE_WINDOW runs instead of forever), not the within-run
     minimum. A uniformly-loaded run has ~no within-run drift, so its
     contaminated flags used to read calibration-clean; against the
     quiet-run baseline they annotate. The baseline carries a HOST
     fingerprint (CPU model + nproc); an inherited baseline from a
     different host (a details file copied from a faster machine would
     permanently demote every flag) is discarded automatically.
     SPARK_GRAFT_BENCH_CAL_RESET=1 discards the inherited baseline (use
     after a hardware change the fingerprint doesn't catch, e.g. a
     same-model host with different turbo behavior).
  2. SOLO RETRY: every calibration-clean flag is re-run once at the END
     of the sweep (host cooled, process state identical to a solo run),
     bracketed by its own micro marks and steal/io counters. The flag
     stays in n_regressed only if the retry is itself clean AND still
     trips the gate; a clean-but-fast retry demotes the flag to
     "regressed_unreproduced" (all three of r11's clean flags were such
     phantoms — each disproved by one idle re-run), and a contended retry
     demotes to "regressed_contended". Both runs' numbers ride on the
     flag, so a kept flag is twice-measured by construction.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# --- Load-aware calibration (r10 verdict ask #2) -------------------------
# The r10 bench was contaminated by external machine load (broad-spectrum
# 1.4-2.6x run-to-run variance on byte-identical, plan-pinned queries;
# disjoint flag sets across same-surface runs). The fix is to measure the
# MACHINE alongside the queries: a fixed CPU calibration probe runs before
# the loop, every CALIBRATE_EVERY queries, and after, plus /proc/loadavg +
# /proc/stat (incl. steal) snapshots bracketing the run. A regression flag
# whose bracketing probes drifted >20% from the run's best probe is
# demoted to "regressed_contended" (annotated, not trusted) — only
# calibration-clean flags count toward n_regressed.

CALIBRATE_EVERY = int(os.environ.get("SPARK_GRAFT_BENCH_CAL_EVERY", "50"))
CAL_DRIFT = float(os.environ.get("SPARK_GRAFT_BENCH_CAL_DRIFT", "1.2"))


def _probe_single_thread() -> float:
    """Seconds for a fixed pure-Python arithmetic loop (one core). Pure
    Python so the number tracks per-core effective speed (incl. hypervisor
    steal) and is independent of BLAS thread pools."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 1103515245 + 12345 + i) % 2147483648
    _ = x
    return time.perf_counter() - t0


def _probe_micro() -> float:
    """Per-query contention mark: min of 3 ~20 ms arithmetic samples
    (min damps one-off scheduler/GC spikes; sustained external load
    inflates all three). Cheap enough (~60 ms) to bracket EVERY query —
    the 50-query probe cadence alone aliases against load waves shorter
    than ~50 queries (observed: a run where the five-minute load average
    swung 0.3 → 18 → 0.3 between probe points, so heavily-contended
    queries sat between two clean probes and their phantom flags read as
    calibration-clean)."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(100_000):
            x = (x * 1103515245 + 12345 + i) % 2147483648
        _ = x
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return best


def _probe_multi_thread(n_threads: int = 32) -> float:
    """Seconds for the same fixed work fanned across n_threads GIL-releasing
    numpy ufunc loops — tracks whole-machine saturation (external load on
    ANY core shows up here even when the single-thread probe is clean)."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    arr = np.arange(400_000, dtype=np.float64)

    def _w(_i: int) -> float:
        s = 0.0
        for _ in range(10):
            s += float(np.sin(arr).sum())
        return s

    t0 = time.perf_counter()
    with ThreadPoolExecutor(n_threads) as ex:
        list(ex.map(_w, range(n_threads)))
    return time.perf_counter() - t0


def _calibration_probe(at: int) -> dict:
    """One calibration sample: {'at': query index it precedes, 'st_sec':
    single-thread probe, 'mt_sec': 32-thread probe}."""
    return {
        "at": at,
        "st_sec": round(_probe_single_thread(), 4),
        "mt_sec": round(_probe_multi_thread(), 4),
    }


STEAL_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "0.05"))
IO_STALL_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_IO_STALL_MAX", "0.05"))


def _stall_counters() -> tuple[int, int, int]:
    """(steal_jiffies, total_jiffies, io_stall_us) — cumulative counters for
    per-query deltas. Steal is THE in-VM signal for hypervisor-neighbor CPU
    denial (a 3% run-average steal can hide 90% bursts lasting a couple of
    minutes — exactly the shape that slowed untouched queries 3-36x while
    the run-level averages looked clean); the io PSI total catches storage-
    backend stalls the CPU counters can't see."""
    steal = total = io_us = 0
    try:
        vals = [int(v) for v in open("/proc/stat").readline().split()[1:9]]
        total = sum(vals)
        steal = vals[7]
    except (OSError, ValueError, IndexError):
        pass
    try:
        for line in open("/proc/pressure/io"):
            if line.startswith("some"):
                io_us = int(line.rsplit("total=", 1)[1])
                break
    except (OSError, ValueError, IndexError):
        pass
    return steal, total, io_us


def _host_snapshot() -> dict:
    """Point-in-time /proc/loadavg + /proc/stat cpu jiffies (incl. steal) —
    lets a reader reconstruct external load over the run from the committed
    details file alone."""
    snap: dict = {}
    try:
        snap["loadavg"] = [float(v) for v in open("/proc/loadavg").read().split()[:3]]
    except (OSError, ValueError):
        pass
    try:
        cpu = open("/proc/stat").readline().split()
        fields = [
            "user", "nice", "system", "idle",
            "iowait", "irq", "softirq", "steal",
        ]
        snap["cpu_jiffies"] = dict(zip(fields, (int(v) for v in cpu[1:9])))
    except (OSError, ValueError, IndexError):
        pass
    return snap


def _previous_round_timings(sf: float) -> tuple[str, dict[str, float]] | None:
    """(label, per-query timings) of the PREVIOUS bench run, read from the
    bench_details.json this run is about to overwrite. (The driver's
    BENCH_r{N}.json records only the tail-safe summary line — queries
    collapsed to {"total": ...} — so the details file is the only per-query
    history that survives between rounds.)"""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_details.json"
    )
    try:
        with open(path) as f:
            rec = json.load(f)
        queries = rec.get("queries")
        if (
            isinstance(queries, dict)
            and len(queries) > 1
            and abs(float(rec.get("sf", -1)) - sf) < 1e-9
        ):
            total = rec.get("value")
            ex = rec.get("exec_sec")
            return (
                f"bench_details.json (previous run, total={total})",
                {k: float(v) for k, v in queries.items()},
                {k: float(v) for k, v in ex.items()} if isinstance(ex, dict) else None,
            )
    except Exception:  # noqa: BLE001 — absent/malformed history is just skipped
        pass
    return None


# How many run-best calibration marks the aged ratchet keeps: the baseline
# is the min over this window, so a single anomalous probe (turbo burst,
# clock skew) stops poisoning the drift gate after BASELINE_WINDOW runs.
BASELINE_WINDOW = 8


def _host_fingerprint() -> str:
    """Cheap host identity for the calibration baseline: CPU model + nproc.
    A bench_details.json inherited from a faster machine must not set this
    machine's yardstick (r12 advice) — the fingerprint catches the
    copied-file / re-imaged-host case; SPARK_GRAFT_BENCH_CAL_RESET covers
    same-model hardware changes the fingerprint can't see."""
    model = ""
    try:
        for line in open("/proc/cpuinfo"):
            if line.lower().startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    return f"{model}|nproc={os.cpu_count()}"


def _previous_baseline(path: str | None = None) -> dict | None:
    """Persisted calibration baseline state — the last BASELINE_WINDOW
    run-best (st_sec, micro_sec) marks — from the previous
    bench_details.json. Judging probe drift against this ABSOLUTE baseline
    instead of the within-run minimum closes both failure modes of the
    within-run comparison (r11 advice): a uniformly-loaded run shows ~no
    internal drift so its contaminated flags read clean, and a run on a
    host with routine steal demotes everything. A baseline recorded on a
    DIFFERENT host (fingerprint mismatch) is ignored wholesale — an
    inherited faster-machine yardstick would demote every future flag to
    contended/unreproduced and silently disable the gate (r12 advice).
    SPARK_GRAFT_BENCH_CAL_RESET discards the inherited baseline after a
    hardware change the fingerprint doesn't catch."""
    if os.environ.get("SPARK_GRAFT_BENCH_CAL_RESET"):
        return None
    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_details.json"
        )
    try:
        with open(path) as f:
            rec = json.load(f)
        b = rec.get("calibration", {}).get("baseline")
        if isinstance(b, dict) and b.get("st_sec") and b.get("micro_sec"):
            stored_host = b.get("host")
            if stored_host is not None and stored_host != _host_fingerprint():
                print(
                    f"# calibration baseline ignored: recorded on a different"
                    f" host ({stored_host!r})",
                    file=sys.stderr,
                )
                return None
            recent_st = [
                float(v) for v in b.get("recent_st", [b["st_sec"]])
            ][-BASELINE_WINDOW:]
            recent_micro = [
                float(v) for v in b.get("recent_micro", [b["micro_sec"]])
            ][-BASELINE_WINDOW:]
            return {
                "st_sec": min(recent_st),
                "micro_sec": min(recent_micro),
                "recent_st": recent_st,
                "recent_micro": recent_micro,
            }
    except Exception:  # noqa: BLE001 — absent/malformed history is just skipped
        pass
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entry_mod
    from hybrid_vector_search_spark.session import get_spark

    spark = get_spark("hvs-bench")
    # absorb one-time session costs so per-query numbers measure the queries:
    # JVM/codegen warmup plus the Python worker pool (reused across queries,
    # spark.python.worker.reuse) that the Arrow-batched kernels run on
    spark.range(1).count()
    import pandas as _pd

    spark.range(256).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    # N_RUNS timed runs per query, report the min: first-touch costs (parquet
    # footer reads, codegen compile, scheduler warm-up) are one-time per
    # deployment, not per-query — and the min is robust to the ~1.2× machine
    # load drift observed between rounds, so a reported regression is a plan
    # regression, not noise.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Noise control (r6 verdict ask #8): a query whose min-of-n_runs still
    # lands in the regression-flag range gets escalated to n_escalated total
    # runs BEFORE its number is recorded, so a flagged row means the plan
    # regressed in all five attempts, not that the machine hiccuped thrice.
    n_escalated = max(n_runs, int(os.environ.get("SPARK_GRAFT_BENCH_ESCALATED", "5")))
    prev = _previous_round_timings(sf)
    prev_exec = prev[2] if prev else None
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    escalated: list[str] = []
    # Fault isolation: one broken query must never zero out the round's bench
    # (BENCH_r03 was rc=1/no numbers because a single query threw). A failed
    # query is recorded in "errors", excluded from the timing total, and the
    # contract lines still print.
    analysis_s: dict[str, float] = {}
    exec_s: dict[str, float] = {}
    steal_frac: dict[str, float] = {}
    io_stall_frac: dict[str, float] = {}
    queries = entry_mod.queries()
    # Dev-loop filter: SPARK_GRAFT_BENCH_ONLY="a,b,c" restricts the sweep
    # to the named queries (unset — the driver's case — runs everything).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = {n.strip() for n in only.split(",") if n.strip()}
        queries = {k: v for k, v in queries.items() if k in names}
    # Untimed warm-up of the first declared query (r9 forensics): session
    # one-time costs the generic warmups above don't reach — first parquet
    # footer touch, Catalyst rule-class loading, first real codegen — used
    # to land in whatever query sat at dict position 1 (+2.4 s of analysis
    # on bson_roundtrip the round it moved there). One full untimed
    # build+collect pays them before any timing starts.
    try:
        first_name, first_fn = next(iter(queries.items()))
        first_fn(spark, sf_dir).collect()
    except StopIteration:
        pass
    except Exception as exc:  # noqa: BLE001 — warm-up must never kill the bench
        print(f"# warmup {first_name}: ERROR {exc}", file=sys.stderr)
    host_before = _host_snapshot()
    probes: list[dict] = [_calibration_probe(0)]
    # per-query index of the probe taken BEFORE it (the bracketing probe
    # AFTER it is the next entry in `probes`); micro marks bracket every
    # single query the same way
    probe_before: dict[str, int] = {}
    micro_before: dict[str, int] = {}
    micros: list[float] = [round(_probe_micro(), 5)]
    for qi, (name, fn) in enumerate(queries.items()):
        if qi > 0 and qi % CALIBRATE_EVERY == 0:
            probes.append(_calibration_probe(qi))
            print(
                f"# calibration@{qi}: st {probes[-1]['st_sec']:.4f}s"
                f" mt {probes[-1]['mt_sec']:.4f}s",
                file=sys.stderr,
            )
        probe_before[name] = len(probes) - 1
        if qi > 0:
            micros.append(round(_probe_micro(), 5))
        micro_before[name] = len(micros) - 1
        best, best_ana, best_exec, rows = None, None, None, []

        def _timed_run():
            """(end_to_end, analysis, exec) for one fresh build+collect.

            Analysis = DataFrame construction (py4j plan assembly) + Catalyst
            analysis (forced via .schema); exec = physical planning +
            execution + fetch. Sub-second queries are dominated by the
            analysis half (~1 s of driver-side work independent of data
            volume — why the ANN reports are artifacts.prepared plans),
            which is per-PLAN cost that amortizes over reuse on a real
            deployment; splitting the two makes the regression gate compare
            the part that scales with data (r7 verdict ask #5)."""
            nonlocal rows
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            _ = df.schema  # forces Catalyst analysis, no jobs
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            return t2 - t0, t1 - t0, t2 - t1

        def _would_flag(t_exec: float) -> bool:
            # gate on the EXEC half when the previous round recorded it;
            # fall back to end-to-end for history written before the split
            pe = (prev_exec or {}).get(name) if prev else None
            p = pe if pe is not None else (prev[1].get(name) if prev else None)
            return p is not None and p > 0 and t_exec > 1.5 * p and t_exec - p > 0.25

        stall0 = _stall_counters()
        wall0 = time.perf_counter()
        try:
            for _ in range(n_runs):
                dt, ana, ex = _timed_run()
                if best is None or dt < best:
                    best = dt
                best_ana = ana if best_ana is None or ana < best_ana else best_ana
                best_exec = ex if best_exec is None or ex < best_exec else best_exec
            if _would_flag(best_exec if prev_exec else best):
                escalated.append(name)
                for _ in range(n_escalated - n_runs):
                    dt, ana, ex = _timed_run()
                    best = dt if dt < best else best
                    best_ana = ana if ana < best_ana else best_ana
                    best_exec = ex if ex < best_exec else best_exec
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        stall1 = _stall_counters()
        wall = time.perf_counter() - wall0
        d_total = stall1[1] - stall0[1]
        steal_frac[name] = round((stall1[0] - stall0[0]) / d_total, 4) if d_total > 0 else 0.0
        io_stall_frac[name] = (
            round((stall1[2] - stall0[2]) / (wall * 1e6), 4) if wall > 0 else 0.0
        )
        timings[name] = round(best, 3)
        analysis_s[name] = round(best_ana, 3)
        exec_s[name] = round(best_exec, 3)
        # Free py4j handles promptly: iterative queries localCheckpoint
        # per round, and those JVM-side blocks are only released when the
        # Python DataFrame objects are collected. Without this, ~190
        # queries of accumulated checkpoint RDDs tax the block manager and
        # late-position queries measure the process's fatigue, not their
        # plan (r8: four rows that moved from early to late dict positions
        # flagged 2-8x while solo-fresh they were at level).
        import gc

        gc.collect()
        print(
            f"# {name}: {timings[name]:.3f}s (ana {analysis_s[name]:.3f}"
            f" + exec {exec_s[name]:.3f}, {len(rows)} rows)",
            file=sys.stderr,
        )

    micros.append(round(_probe_micro(), 5))
    probes.append(_calibration_probe(len(queries)))
    host_after = _host_snapshot()

    # Absolute calibration baseline (r11 advice, aged per r12 advice): the
    # min over the last BASELINE_WINDOW run-best marks — drift is judged
    # against a known-quiet yardstick even when the whole run was
    # uniformly loaded (within-run drift ~1.0 in that case), and a single
    # anomalously fast historical probe ages out of the window instead of
    # ratcheting the gate shut forever.
    base_prev = _previous_baseline()
    run_best_st = min(p["st_sec"] for p in probes)
    run_best_micro = min(micros)
    recent_st = (
        (base_prev["recent_st"] if base_prev else []) + [round(run_best_st, 4)]
    )[-BASELINE_WINDOW:]
    recent_micro = (
        (base_prev["recent_micro"] if base_prev else [])
        + [round(run_best_micro, 5)]
    )[-BASELINE_WINDOW:]
    baseline_st = min(recent_st)
    baseline_micro = min(recent_micro)

    def _contention(name: str) -> tuple[float | None, float | None]:
        """(probe_drift, micro_drift) of the marks bracketing this query's
        execution vs the ABSOLUTE calibration baseline: the coarse
        every-CALIBRATE_EVERY probes (low-noise, but load waves shorter
        than the cadence alias past them) and the per-query micro marks
        (fine-grained, noisier — judged against a looser threshold)."""
        pd = md = None
        i = probe_before.get(name)
        if i is not None and probes and baseline_st > 0:
            around = [probes[i]["st_sec"]]
            if i + 1 < len(probes):
                around.append(probes[i + 1]["st_sec"])
            pd = round(max(around) / baseline_st, 3)
        j = micro_before.get(name)
        if j is not None and micros and baseline_micro > 0:
            maround = [micros[j]]
            if j + 1 < len(micros):
                maround.append(micros[j + 1])
            md = round(max(maround) / baseline_micro, 3)
        return pd, md

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "total_declared_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "analysis_sec": analysis_s,
        "exec_sec": exec_s,
        "sf": sf,
        "runs_per_query": n_runs,
        "calibration": {
            "probes": probes,
            "micro_marks": micros,
            "micro_before": micro_before,
            "steal_frac": steal_frac,
            "io_stall_frac": io_stall_frac,
            # ratcheting min — persisted so the NEXT run judges drift
            # against the best this machine has ever measured, not its own
            # (possibly uniformly-loaded) within-run minimum
            "baseline": {
                "st_sec": round(baseline_st, 4),
                "micro_sec": round(baseline_micro, 5),
                "inherited": base_prev is not None,
                "host": _host_fingerprint(),
                "recent_st": recent_st,
                "recent_micro": recent_micro,
            },
            "drift_threshold": CAL_DRIFT,
            "micro_drift_threshold": 2.0,
            "steal_max": STEAL_MAX,
            "io_stall_max": IO_STALL_MAX,
            "host_before": host_before,
            "host_after": host_after,
        },
    }
    if errors:
        summary["errors"] = errors
    if escalated:
        summary["escalated"] = escalated
    # Per-query regression surface: carry the PREVIOUS round's recorded
    # timing (latest BENCH_r*.json with a parseable per-query map at the
    # same sf) so a per-query delta is one file-read away instead of
    # cross-round archaeology.
    if prev:
        summary["prev"] = {
            "source": prev[0],
            "queries": {k: prev[1][k] for k in timings if k in prev[1]},
        }
        # Regression gate (r5 verdict ask #8, exec-only since r8 per r7 ask
        # #5): flag any query slower than 1.5x its previous recorded time
        # AND >0.25s absolute delta. Compared on the EXEC half when the
        # previous details file recorded one (analysis time is per-plan
        # driver work that amortizes on reuse and jitters with py4j load —
        # it made r7's flags ambiguous); end-to-end only for pre-split
        # history.
        if prev_exec:
            regressed = {
                k: {"now": exec_s[k], "prev": prev_exec[k], "basis": "exec"}
                for k in exec_s
                if k in prev_exec
                and prev_exec[k] > 0
                and exec_s[k] > 1.5 * prev_exec[k]
                and exec_s[k] - prev_exec[k] > 0.25
            }
        else:
            regressed = {
                k: {"now": timings[k], "prev": prev[1][k], "basis": "end_to_end"}
                for k in timings
                if k in prev[1]
                and prev[1][k] > 0
                and timings[k] > 1.5 * prev[1][k]
                and timings[k] - prev[1][k] > 0.25
            }
        # Calibration-drift annotation (r10 verdict ask #2): a flag is
        # demoted to "contended" (annotated, not trusted) when ANY of the
        # independent load signals tripped around/during its execution:
        # coarse probe drift > CAL_DRIFT, per-query micro-mark drift > 2x
        # (noisier marks, looser bound), steal fraction during the query's
        # own window > STEAL_MAX (hypervisor-neighbor bursts — the
        # mechanism behind the r10 contamination: 3% run-average steal
        # hiding near-total bursts), or io PSI stall > IO_STALL_MAX of the
        # query's wall (storage-backend waves). n_regressed counts only
        # flags clean on ALL signals.
        clean: dict[str, dict] = {}
        contended: dict[str, dict] = {}
        for k, v in regressed.items():
            pd, md = _contention(k)
            v["cal_drift"] = pd
            v["micro_drift"] = md
            v["steal_frac"] = steal_frac.get(k)
            v["io_stall_frac"] = io_stall_frac.get(k)
            is_contended = (
                (pd is not None and pd > CAL_DRIFT)
                or (md is not None and md > 2.0)
                or (v["steal_frac"] is not None and v["steal_frac"] > STEAL_MAX)
                or (v["io_stall_frac"] is not None and v["io_stall_frac"] > IO_STALL_MAX)
            )
            (contended if is_contended else clean)[k] = v
        # Solo retry (r11 verdict ask #2): each calibration-clean flag is
        # re-measured once HERE, after the full sweep — the host has
        # cooled, accumulated py4j state was gc'd, and the query runs
        # alone, i.e. the exact conditions under which all three of r11's
        # clean flags were manually disproved. The retry is bracketed by
        # its own micro marks and steal/io counters so a contended retry
        # can't silently re-confirm (or kill) a flag: retry contended →
        # "regressed_contended"; retry clean and still past the gate →
        # the flag STAYS (now twice-measured); retry clean and fast →
        # "regressed_unreproduced". A retry that errors keeps the flag.
        unreproduced: dict[str, dict] = {}
        if clean:
            import gc as _gc

            for k in list(clean):
                v = clean.pop(k)
                _gc.collect()
                m0 = _probe_micro()
                s0 = _stall_counters()
                w0 = time.perf_counter()
                r_exec = None
                r_e2e = None
                try:
                    for _ in range(2):
                        t0 = time.perf_counter()
                        df = queries[k](spark, sf_dir)
                        _ = df.schema
                        t1 = time.perf_counter()
                        df.collect()
                        t2 = time.perf_counter()
                        ex = t2 - t1
                        r_exec = ex if r_exec is None or ex < r_exec else r_exec
                        e2e = t2 - t0
                        r_e2e = e2e if r_e2e is None or e2e < r_e2e else r_e2e
                except Exception as exc:  # noqa: BLE001 — keep the flag, note why
                    v["retry_error"] = f"{type(exc).__name__}: {exc}"[:200]
                    clean[k] = v
                    continue
                s1 = _stall_counters()
                r_wall = time.perf_counter() - w0
                m1 = _probe_micro()
                d_tot = s1[1] - s0[1]
                rr = {
                    "exec": round(r_exec, 3),
                    "end_to_end": round(r_e2e, 3),
                    "micro_drift": (
                        round(max(m0, m1) / baseline_micro, 3)
                        if baseline_micro > 0
                        else None
                    ),
                    "steal_frac": (
                        round((s1[0] - s0[0]) / d_tot, 4) if d_tot > 0 else 0.0
                    ),
                    "io_stall_frac": (
                        round((s1[2] - s0[2]) / (r_wall * 1e6), 4)
                        if r_wall > 0
                        else 0.0
                    ),
                }
                v["retry"] = rr
                retry_contended = (
                    (rr["micro_drift"] is not None and rr["micro_drift"] > 2.0)
                    or rr["steal_frac"] > STEAL_MAX
                    or rr["io_stall_frac"] > IO_STALL_MAX
                )
                # compare the retry ON THE FLAG'S BASIS (r12 advice): a
                # pre-split history file records end-to-end times, so an
                # exec-only retry would systematically under-measure and
                # demote genuine regressions to unreproduced
                p = v["prev"]
                now_retry = (
                    rr["exec"] if v.get("basis") == "exec" else rr["end_to_end"]
                )
                reproduced = now_retry > 1.5 * p and now_retry - p > 0.25
                if retry_contended:
                    v["retry_verdict"] = "contended"
                    contended[k] = v
                elif reproduced:
                    v["retry_verdict"] = "reproduced"
                    clean[k] = v
                else:
                    v["retry_verdict"] = "unreproduced"
                    unreproduced[k] = v
        summary["n_regressed"] = len(clean)
        if clean:
            summary["regressed"] = clean
        if contended:
            summary["regressed_contended"] = contended
        if unreproduced:
            summary["regressed_unreproduced"] = unreproduced
        for bucket, tag in (
            (clean, "REGRESSION"),
            (contended, "REGRESSION(contended)"),
            (unreproduced, "REGRESSION(unreproduced)"),
        ):
            for k, v in bucket.items():
                print(
                    f"# {tag} {k}: {v['prev']:.3f}s -> {v['now']:.3f}s"
                    f" (cal drift {v['cal_drift']})",
                    file=sys.stderr,
                )
    # Full details to a file (the per-query map is too long to trust to a
    # tail-truncating stdout capture — BENCH_r01 lost its headline that way).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_details.json"), "w") as f:
        json.dump(summary, f, indent=1)
    # Full contract line first; then a SHORT summary line LAST so a capture
    # that keeps only the tail of stdout still gets a parseable JSON line.
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "metric": "total_declared_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": {"total": total},
                "sf": sf,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "n_regressed": summary.get("n_regressed", 0),
                "n_regressed_contended": len(summary.get("regressed_contended", {})),
                "n_regressed_unreproduced": len(
                    summary.get("regressed_unreproduced", {})
                ),
                "cal_st_best_sec": min(p["st_sec"] for p in probes),
                "cal_st_worst_sec": max(p["st_sec"] for p in probes),
                "analysis_total_sec": round(sum(analysis_s.values()), 3),
                "exec_total_sec": round(sum(exec_s.values()), 3),
                "details": "bench_details.json",
            }
        )
    )


if __name__ == "__main__":
    main()
