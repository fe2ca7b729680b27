#!/usr/bin/env python
"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {<top-25 slowest only>}, "sf": ..., ...}

The driver captures only ~4 KB of stdout, so the printed line carries the
total + the slowest 25 queries; the FULL per-query table (all timings, all
errors, run counts) is written to BENCH_LOCAL.json at the repo root.

Timing protocol (BASELINE.md): wall-clock around a noop-sink forcing of the
result, after one warm-up forcing. Budget mode: every query gets warm-up +
one timed run; the top-$SPARK_GRAFT_BENCH_TOPK (default 20) costliest get
median-of-$SPARK_GRAFT_BENCH_RUNS (default 3). WHERE the extra runs happen
matters: a previous BENCH_LOCAL.json names the expected top-k so their
extra runs execute INLINE at their natural position in the pass — an
end-of-session refinement phase measures accumulated session state, not
the query (observed: string_funcs median 7.7s from late re-runs vs 0.2s
honest). Queries that newly enter the top-k (no prior file, or fresh
regressions) still get a tail refinement pass within the budget; raw
per-run lists land in BENCH_LOCAL.json so any artifact is auditable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from grocery_store_sales_forecasting_etl_pipeline_spark import plans
from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
TOPK = int(os.environ.get("SPARK_GRAFT_BENCH_TOPK", "20"))
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "780"))
SUMMARY_QUERIES = 25  # how many per-query timings fit the printed line
# headline set override; None = bench everything registered
HEADLINE = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",") if os.environ.get(
    "SPARK_GRAFT_BENCH_QUERIES"
) else None
# Subset runs write to a SIDE file: BENCH_LOCAL.json carries the last
# FULL-registry table and seeds the next full run's inline top-k
# refinement — a 3-query debugging run must not clobber those seeds.
LOCAL_OUT = REPO / ("BENCH_LOCAL_SUBSET.json" if HEADLINE else "BENCH_LOCAL.json")
_SEED_IN = REPO / "BENCH_LOCAL.json"  # top-k seeds always from the full table


def _sf_from_dir(d: str) -> float:
    name = Path(d).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> None:
    """Materialize EVERY output column via the noop v2 sink. count() is
    NOT a valid forcing action for a benchmark: Catalyst prunes columns
    count() doesn't need, silently skipping output-projection work — at
    sf10 this hid a long-overflow crash in weekly_revenue_acf behind a
    1.5s "timing" while the honest run computes (and then threw) in the
    pruned expressions. The noop sink consumes all columns and discards
    rows executor-side (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def _gc_hygiene(spark) -> None:
    """Long-session hygiene, OUTSIDE any timed window: drop py4j refs and
    force a driver GC so ContextCleaner reclaims accumulated shuffle /
    broadcast state (see session.py periodicGC note; without this the tail
    of a full-registry run measured 5-15x inflated)."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _timed_force(spark, build, sf_dir: str) -> float:
    t0 = time.perf_counter()
    _force(build(spark, sf_dir))
    return time.perf_counter() - t0


def _load_indicator() -> dict:
    """Machine-tenancy snapshot recorded with every bench table
    (BASELINE.md r11 anchor protocol): cross-round totals have swung
    ±29% with zero code cause, so every number needs the load context
    it was measured under. loadavg is the box-wide signal; java_procs
    counts OTHER JVMs (a concurrent Spark session inflates timings
    3-20x — r5/r8 learnings); steal_s/user_s are the box-wide
    cumulative /proc/stat counters in seconds — the r11 judge's ask:
    the start→end STEAL DELTA is the direct hypervisor-preemption
    measure (r11's contaminated 32-core run had cumulative steal
    exceeding user time), so per-round deltas can be load-adjudicated
    instead of argued from loadavg alone."""
    ind: dict = {}
    try:
        la = os.getloadavg()
        ind["loadavg"] = [round(x, 2) for x in la]
    except OSError:
        pass
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()  # "cpu  user nice sys idle iowait irq softirq steal ..."
        hz = os.sysconf("SC_CLK_TCK") or 100
        ind["user_s"] = round(int(parts[1]) / hz, 1)
        ind["steal_s"] = round(int(parts[8]) / hz, 1)
    except (OSError, IndexError, ValueError):
        pass
    try:
        me = os.getpid()
        n = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        n += 1
            except OSError:
                continue
        ind["java_procs"] = n
    except OSError:
        pass
    return ind


def main() -> None:
    # BEFORE session creation: java_procs here counts pre-existing
    # tenant JVMs (0 = quiet box); the end snapshot includes this
    # bench's own JVM (+1 expected).
    load_start = _load_indicator()
    spark = get_spark(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    names = HEADLINE or sorted(plans.REGISTRY)
    t_start = time.perf_counter()

    # expected top-k from the previous run, for INLINE refinement
    prior_top: set[str] = set()
    try:
        prior = json.loads(_SEED_IN.read_text())["queries"]
        prior_top = set(sorted(prior, key=prior.get, reverse=True)[:TOPK])
    except (OSError, ValueError, KeyError, TypeError):
        pass

    # ---- pass 1: warm-up + timed forcings for EVERY query (expected
    # top-k get their N_RUNS inline, right here, in pass order) ----
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        if name not in plans.REGISTRY:
            continue
        build = plans.wrapped_build(name)  # the shipped surface
        # inline refinement is EXTRA work and must respect the budget:
        # the baseline warm-up + single timed run always happens (that
        # wall is the driver-proven ~15 min envelope), but once the
        # budget is spent the expected-top-k degrade to 1 run instead of
        # risking a harness timeout that would lose the summary line
        over_budget = time.perf_counter() - t_start > BUDGET_S
        n_runs = N_RUNS if (name in prior_top and not over_budget) else 1
        try:
            _force(build(spark, SF_DIR))  # warm-up (JIT + file-listing cache)
            runs[name] = [
                _timed_force(spark, build, SF_DIR) for _ in range(n_runs)
            ]
        except Exception as exc:  # one failing query must not lose the run
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        if (i + 1) % 20 == 0:
            _gc_hygiene(spark)

    # ---- pass 2: tail refinement only for NEW top-k entrants ----
    by_cost = sorted(runs, key=lambda n: runs[n][0], reverse=True)
    refined: list[str] = [n for n in runs if len(runs[n]) >= N_RUNS]
    for name in by_cost[:TOPK]:
        if len(runs[name]) >= N_RUNS:
            continue
        if time.perf_counter() - t_start > BUDGET_S:
            break
        build = plans.wrapped_build(name)
        try:
            for _ in range(N_RUNS - 1):
                runs[name].append(_timed_force(spark, build, SF_DIR))
            refined.append(name)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        _gc_hygiene(spark)

    timings = {n: round(statistics.median(ts), 4) for n, ts in runs.items()}
    total = round(sum(timings.values()), 4)
    sf = _sf_from_dir(SF_DIR)

    full = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": dict(sorted(timings.items())),
        # per-entry run count: a runs=1 number is a single un-medianed
        # forcing in a loaded sweep — cross-round deltas on those entries
        # are sweep noise until re-measured solo (BASELINE.md protocol)
        "runs_count": {n: len(ts) for n, ts in sorted(runs.items())},
        "protocol": f"top{N_RUNS}/rest1",
        "runs_per_query": {"refined_top": N_RUNS, "rest": 1},
        "refined_queries": sorted(refined),
        # how many queries actually got N_RUNS: once the budget is spent
        # the protocol's top-k fall back to one run each
        "n_refined": len(refined),
        "runs_raw": {
            n: [round(t, 4) for t in ts] for n, ts in runs.items() if len(ts) > 1
        },
        "errors": errors,
        "wall_s": round(time.perf_counter() - t_start, 1),
        "load_start": load_start,
        "load_end": _load_indicator(),
    }
    LOCAL_OUT.write_text(json.dumps(full, indent=1) + "\n")

    # ONE compact line for the driver's ~4 KB stdout capture: total over
    # ALL queries, per-query detail only for the slowest SUMMARY_QUERIES.
    top = {n: timings[n] for n in by_cost[:SUMMARY_QUERIES] if n in timings}
    summary = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": top,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "protocol": f"top{N_RUNS}/rest1",
        "runs": {"top": N_RUNS, "rest": 1},
        "n_refined": len(refined),
        "load": {
            "start": load_start,
            "end": full["load_end"],
            # box-wide CPU stolen by the hypervisor DURING this bench:
            # the load-adjudication number for cross-round deltas
            "steal_delta_s": round(
                full["load_end"].get("steal_s", 0.0)
                - load_start.get("steal_s", 0.0),
                1,
            ),
        },
        "full_results": LOCAL_OUT.name,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
