#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Workloads, their frozen query lists
and their input parameters are in ``perfbench/workloads.json``; the
expected query outputs are in ``perfbench/fingerprints.json``.

One run:

1. makes its inputs: the seeded parquet tables (cached under
   ``.perfbench_work/data``) or a fresh set of seeded pipeline CSVs;
2. starts a ``local[4]`` session (a new JVM) through
   ``session.get_spark``; ``setup_s`` is that launch;
3. runs a cold pass over the workload's operations, checks the outputs
   of that pass, then runs the workload's ``warm_passes``, and more
   until ``--seconds`` have passed since the warm passes began. The seed
   shuffles the query order of every pass. One closed-loop client: each
   operation starts when the previous one returned;
4. with ``--trace 1``, traces the cold pass and every second warm pass
   after a warm-up pass, and reports per-layer metrics instead of
   end-to-end ones. End-to-end metrics come only from untraced runs.

Every run writes a ledger (per-operation records, load context and, when
traced, spans and per-layer metrics) under ``.perfbench_work/results``;
``perfbench/ledger_diff.py`` compares two of them. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PKG = "grocery_store_sales_forecasting_etl_pipeline_spark"
MASTER = "local[4]"
SLOTS = 4
CLK_TCK = os.sysconf("SC_CLK_TCK")

# Per-layer metrics printed with --trace 1: (name, unit). Times are
# reported on every workload and are never zero; a layer a workload does
# not reach reads as a zero share or count.
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("exec.s", "s"),
    ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("trace.overhead_s", "s"),
    ("plans.build_share", "ratio"),
    ("plans.build_py_share", "ratio"),
    ("plans.build_job_share", "ratio"),
    ("plans.boundary_share", "ratio"),
    ("catalyst.share", "ratio"),
    ("exec.share", "ratio"),
    ("exec.slot_busy_ratio", "ratio"),
    ("ml.fit_share", "ratio"),
    ("pipeline.bronze_share", "ratio"),
    ("pipeline.silver_share", "ratio"),
    ("pipeline.gold_share", "ratio"),
    ("pipeline.quality_share", "ratio"),
    ("sources.ingest_share", "ratio"),
    ("sources.upsert_share", "ratio"),
    ("sources.write_amplification", "ratio"),
    ("plans.build_jobs", "count"),
    ("plans.checkpoints", "count"),
    ("sizing.gate_decisions", "count"),
    ("sizing.hints_kept", "count"),
    ("sizing.hints_dropped", "count"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.failed_tasks", "count"),
    ("ml.fit_stages", "count"),
    ("sources.rows_delivered", "count"),
    ("sources.rows_quarantined", "count"),
    ("sources.rows_written", "count"),
    ("exec.input_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.output_bytes", "B"),
)
# layer seconds whose share of the operation wall time is reported
SHARES = {
    "plans.build_share": "plans.build_s",
    "plans.build_py_share": "plans.build_py_s",
    "plans.build_job_share": "plans.build_job_s",
    "plans.boundary_share": "plans.boundary_s",
    "catalyst.share": "catalyst.s",
    "exec.share": "exec.s",
    "ml.fit_share": "ml.fit_s",
    "pipeline.bronze_share": "pipeline.bronze_s",
    "pipeline.silver_share": "pipeline.silver_s",
    "pipeline.gold_share": "pipeline.gold_s",
    "pipeline.quality_share": "pipeline.quality_s",
    "sources.ingest_share": "sources.ingest_s",
    "sources.upsert_share": "sources.upsert_s",
}


# -- load context --------------------------------------------------------------


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _java_pids() -> set[int]:
    pids = set()
    for entry in Path("/proc").iterdir():
        if entry.name.isdigit():
            with contextlib.suppress(OSError):
                if (entry / "comm").read_text().strip() == "java":
                    pids.add(int(entry.name))
    return pids


def _peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class LoadContext:
    """Steal time, load average and other JVMs around one run, so that an
    outlier can be explained from the ledger without a rerun."""

    def __init__(self):
        self.steal0 = _steal_s()
        self.load0 = _loadavg()
        self.jvms0 = len(_java_pids())
        self.own_jvm = -1

    def finish(self) -> dict:
        return {
            "steal_delta_s": _steal_s() - self.steal0,
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": _loadavg(),
            "other_jvms_start": self.jvms0,
            "other_jvms_end": len(_java_pids() - {self.own_jvm}),
        }


# -- session -----------------------------------------------------------------


def _launch(warehouse: Path):
    from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER, warehouse_dir=str(warehouse))
    return spark, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    gw = spark.sparkContext._gateway
    try:
        spark.stop()
        gw.shutdown()
    finally:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except Exception:
            gw.proc.kill()
            gw.proc.wait()


# -- helpers -------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` with at
    least ten samples above it, never below the median."""
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    q = max(0.5, (n - 10) / n)
    s = sorted(xs)
    k = q * (n - 1)
    lo = math.floor(k)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo), 100 * q, n


def _more_passes(warm: list, wl: dict, start: float, args) -> bool:
    """Run the workload's fixed number of warm passes, then more until
    ``--seconds`` have passed since the warm passes began. In a traced run
    the first warm pass only warms up and the passes after it alternate
    traced and untraced (at least one of each), so the two are compared
    equally warm."""
    passes = max(wl["warm_passes"], 2) + 1 if args.trace else wl["warm_passes"]
    return len(warm) < passes or time.perf_counter() - start < args.seconds


def _pass_totals(ops: list[dict]) -> dict[str, float]:
    """Per-layer totals over one traced pass, with shares of its wall time."""
    keys = {k for op in ops for k in op.get("layers", {})}
    tot = {k: sum(op["layers"].get(k, 0) for op in ops) for k in keys}
    wall = sum(op["wall_s"] for op in ops)
    tot["catalyst.s"] = (
        tot.get("catalyst.analysis_ms", 0)
        + tot.get("catalyst.optimization_ms", 0)
        + tot.get("catalyst.planning_ms", 0)
    ) / 1000.0
    for share, key in SHARES.items():
        tot[share] = tot.get(key, 0.0) / wall if wall else 0.0
    exec_s = tot.get("exec.s", 0.0)
    tot["exec.slot_busy_ratio"] = (
        tot.get("exec.executor_run_ms", 0) / (exec_s * 1000 * SLOTS) if exec_s else 0.0
    )
    delivered = tot.get("sources.rows_delivered", 0)
    tot["sources.write_amplification"] = (
        tot.get("sources.rows_written", 0) / delivered if delivered else 0.0
    )
    tot["wall_s"] = wall
    return tot


# -- query workloads -------------------------------------------------------------


def _query_layers(tracer, rec: dict, analysis_ms: int) -> dict[str, float]:
    from tracing import covered_s, jobs_within, span_s, stage_totals

    jobs = tracer.new_jobs()
    op = tracer.op
    spans = tracer.op_spans(op)
    events = [e for e in tracer.events if e.get("op") == op]
    phases = [p for p in tracer.plan_phases if p["op"] == op]
    build_jobs = jobs_within(jobs, spans, "plans.build")
    build_s = span_s(spans, "plans.build")
    build_job_s = covered_s(build_jobs)
    exec_s = span_s(spans, "exec")
    ml_jobs = jobs_within(jobs, spans, "ml.fit")
    layers = {
        "plans.build_s": build_s,
        "plans.raw_build_s": span_s(spans, "plans.raw_build"),
        "plans.boundary_s": build_s - span_s(spans, "plans.raw_build"),
        "plans.build_jobs": len(build_jobs),
        "plans.build_job_s": build_job_s,
        "plans.build_py_s": build_s - build_job_s,
        "plans.checkpoints": sum(
            1 for e in events if e["kind"] == "checkpoint" and "plans.build" in e["where"]
        ),
        "sizing.gate_decisions": sum(1 for e in events if e["kind"] == "gate"),
        "sizing.hints_kept": sum(1 for e in events if e["kind"] == "hint" and e["kept"]),
        "sizing.hints_dropped": sum(1 for e in events if e["kind"] == "hint" and not e["kept"]),
        "catalyst.analysis_ms": analysis_ms + sum(p.get("analysis", 0) for p in phases),
        "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in phases),
        "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases),
        "exec.s": exec_s,
        **stage_totals(jobs_within(jobs, spans, "exec")),
        "ml.fit_s": span_s(spans, "ml.fit"),
        "ml.fit_stages": sum(len(j["stages"]) for j in ml_jobs),
    }
    rec["coverage"] = (build_s + exec_s) / rec["wall_s"]
    rec["decisions"] = [e for e in events if e["kind"] in ("gate", "hint")]
    return layers


def _run_query(spark, plans, name: str, sf_dir: str, tracer) -> tuple[dict, object]:
    traced = tracer is not None and tracer.active
    span = tracer.span if traced else (lambda _name: contextlib.nullcontext())
    if tracer is not None:
        tracer.begin_op(name)
    query = plans.REGISTRY[name]
    raw = query.build
    if traced:

        def timed_build(*args, **kwargs):
            with tracer.span("plans.raw_build"):
                return raw(*args, **kwargs)

        query.build = timed_build
    rec: dict = {"name": name}
    df = None
    analysis_ms = 0
    t0 = time.perf_counter()
    try:
        with span("op"):
            with span("plans.build"):
                df = plans.wrapped_build(name)(spark, sf_dir)
            t1 = time.perf_counter()
            # PySpark analyzes each frame as it is built; read that phase
            # off the built frame, outside the timed operation
            analysis_ms = tracer.analysis_ms(df) if traced else 0
            t1b = time.perf_counter()
            with span("exec"):
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1b, wall_s=t2 - t0 - (t1b - t1))
    except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
        rec.update(error=f"{type(exc).__name__}: {exc}"[:500], wall_s=time.perf_counter() - t0)
        df = None
    finally:
        query.build = raw
    if traced:
        rec["layers"] = _query_layers(tracer, rec, analysis_ms)
    return rec, df


def run_queries(spark, wl: dict, sf_dir: Path, args, tracer, expected: dict) -> dict:
    from fingerprint import fingerprint

    from grocery_store_sales_forecasting_etl_pipeline_spark import plans

    rng = random.Random(args.seed)
    names = list(wl["queries"])

    def one_pass(traced: bool, keep: bool):
        if tracer is not None:
            tracer.set_active(traced)
        order = list(names)
        rng.shuffle(order)
        recs, kept = [], {}
        for name in order:
            rec, df = _run_query(spark, plans, name, str(sf_dir), tracer)
            rec["traced"] = traced
            recs.append(rec)
            if keep and df is not None:
                kept[name] = df
        if tracer is not None:
            tracer.set_active(False)
        return recs, kept

    cold, kept = one_pass(traced=tracer is not None, keep=True)

    # output check, outside the timed passes: the frames the cold pass forced
    checks = []
    for name in names:
        want = expected.get(name)
        if name not in kept or want is None:
            checks.append({"name": name, "ok": False, "detail": "no result or no fingerprint"})
            continue
        try:
            got = fingerprint(kept[name].toPandas(), rows_only="hash" not in want)
            checks.append({"name": name, "ok": got == want, "got": got, "want": want})
        except Exception as exc:  # noqa: BLE001 — counted as a failed check
            checks.append({"name": name, "ok": False, "detail": f"{type(exc).__name__}: {exc}"[:500]})
    kept.clear()

    warm: list[list[dict]] = []
    start = time.perf_counter()
    while _more_passes(warm, wl, start, args):
        recs, _ = one_pass(traced=tracer is not None and len(warm) % 2 == 1, keep=False)
        warm.append(recs)
    return {"cold": cold, "warm": warm, "checks": checks}


# -- pipeline workload ---------------------------------------------------------


def _table_counts(spark) -> dict[str, int]:
    return {
        "bronze": spark.table("raw.transactions").count(),
        "silver": spark.table("processed.sales_cleaned").count(),
        "gold": spark.table("analytics.sales_forecast_features").count(),
        "quarantined": spark.table("logs.quarantine").count(),
    }


def _pipeline_layers(tracer, results: dict, rec: dict) -> dict[str, float]:
    from tracing import covered_s, jobs_within, span_s, stage_totals

    jobs = tracer.new_jobs()
    op = tracer.op
    spans = tracer.op_spans(op)
    events = [e for e in tracer.events if e.get("op") == op]
    phases = [p for p in tracer.plan_phases if p["op"] == op]
    rows = [e for e in events if e["kind"] == "rows"]
    ml_jobs = jobs_within(jobs, spans, "ml.fit")
    layers = {
        **{f"pipeline.{k}_s": v.seconds for k, v in results.items()},
        "sources.ingest_s": span_s(spans, "sources.ingest"),
        "sources.upsert_s": span_s(spans, "sources.upsert"),
        "sources.rows_delivered": rec["rows_delivered"],
        "sources.rows_quarantined": sum(e["quarantined"] for e in rows),
        "sources.rows_written": sum(e["written"] for e in rows),
        "sizing.gate_decisions": sum(1 for e in events if e["kind"] == "gate"),
        "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in phases),
        "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in phases),
        "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases),
        # the forcing calls are inside run_all: exec is the wall its jobs cover
        "exec.s": covered_s(jobs),
        **stage_totals(jobs),
        "ml.fit_s": span_s(spans, "ml.fit"),
        "ml.fit_stages": sum(len(j["stages"]) for j in ml_jobs),
    }
    rec["coverage"] = sum(v.seconds for v in results.values()) / rec["wall_s"]
    return layers


def run_pipeline(spark, wl: dict, src: Path, args, tracer) -> dict:
    from medallion_data import generate

    from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import orchestrator

    gen = wl["generator"]
    deliveries = generate(
        src,
        seed=args.seed,
        start=dt.date.fromisoformat(gen["start"]),
        history_days=gen["history_days"],
        daily_batches=gen["daily_batches"],
    )

    def one(label: str, traced: bool, expected: dict, delivered: int, **kw) -> dict:
        if tracer is not None:
            tracer.set_active(traced)
            tracer.begin_op(label)
        rec: dict = {"name": label, "traced": traced, "rows_delivered": delivered}
        results: dict = {}
        t0 = time.perf_counter()
        try:
            orchestrator.run_all(spark, str(src), results=results, **wl["run_all"], **kw)
            rec["wall_s"] = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed batch is a failed operation
            rec.update(wall_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:500])
        if tracer is not None:
            if traced:
                rec["layers"] = _pipeline_layers(tracer, results, rec)
            tracer.set_active(False)
        rec["stages"] = {k: v.seconds for k, v in results.items()}
        if "error" not in rec:
            got = _table_counts(spark)
            rec["check"] = {"ok": got == expected, "got": got, "want": expected}
        return rec

    cold = [
        one(
            "backfill",
            tracer is not None,
            deliveries.expected_backfill,
            deliveries.rows_backfill,
        )
    ]
    warm: list[list[dict]] = []
    start = time.perf_counter()
    for i, day in enumerate(deliveries.days):
        if not _more_passes(warm, wl, start, args):
            break
        rec = one(
            f"daily {day.isoformat()}",
            tracer is not None and len(warm) % 2 == 1,
            deliveries.expected_after_day[i],
            deliveries.rows_delivered[i],
            mode="incremental",
            batch_date=day,
        )
        warm.append([rec])
    return {"cold": cold, "warm": warm, "checks": []}


# -- reporting -----------------------------------------------------------------


def _failures(result: dict) -> tuple[int, int]:
    """(attempted, failed) over every operation and every output check.
    An exception, a wrong output and a failed quality gate each fail one
    operation."""
    ops = result["cold"] + [op for p in result["warm"] for op in p]
    attempted = len(ops) + len(result["checks"])
    failed = sum(1 for op in ops if "error" in op or not op.get("check", {"ok": True})["ok"])
    failed += sum(1 for c in result["checks"] if not c["ok"])
    return attempted, failed


def end_to_end(result: dict, setup: float) -> tuple[dict, dict]:
    """End-to-end metrics (with --trace 0) and the ledger-only extras."""
    warm_walls = [sum(op["wall_s"] for op in p) for p in result["warm"]]
    per_op = [op["wall_s"] for p in result["warm"] for op in p]
    tail_v, tail_q, tail_n = tail(per_op)
    metrics = {
        "setup_s": (setup, "s"),
        "cold_pass_s": (sum(op["wall_s"] for op in result["cold"]), "s"),
        "warm_pass_s": (_median(warm_walls), "s"),
        # median over every warm execution of every operation
        "query_p50_s": (_median(per_op), "s"),
    }
    # Recorded, not bounded: with under 20 warm executions a run leaves no
    # percentile above the median with ten samples beyond it.
    return metrics, {"query_tail_s": tail_v, "query_tail_percentile": tail_q, "warm_ops": tail_n}


def per_layer(result: dict, setup: float) -> tuple[dict, dict]:
    untraced = [sum(op["wall_s"] for op in p) for p in result["warm"][1:] if not p[0]["traced"]]
    traced_passes = [p for p in result["warm"] if p[0]["traced"]]
    totals = [_pass_totals(p) for p in traced_passes]
    units = dict(LAYER_METRICS)
    metrics = {}
    for name, unit in LAYER_METRICS:
        if name == "session.start_s":
            value = setup
        elif name == "trace.overhead_s":
            value = _median([t["wall_s"] for t in totals]) - _median(untraced)
        else:
            value = _median([t.get(name, 0.0) for t in totals])
        metrics[name] = (value, units[name])
    # top-level spans must cover each traced operation's wall time within 5%
    traced_ops = result["cold"] + [op for p in traced_passes for op in p]
    uncovered = [op["name"] for op in traced_ops if op.get("coverage", 1.0) < 0.95]
    return metrics, {
        "traced_pass_totals": totals,
        "untraced_pass_walls": untraced,
        "coverage_below_95pct": uncovered,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    load = LoadContext()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(run_dir / "tmp")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    spark = None
    try:
        expected: dict = {}
        if wl["kind"] == "queries":
            from datagen import ensure

            data = spec["data"]
            sf_dir = ensure(WORK, data["seed"], data["scale"])
            # data-derived oracles read this directory at import time
            os.environ["SPARK_GRAFT_ORACLE_DIR"] = str(sf_dir)
            expected = json.loads((HERE / "fingerprints.json").read_text())["queries"]
            from grocery_store_sales_forecasting_etl_pipeline_spark import plans  # noqa: F401
        else:
            from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import (  # noqa: F401
                orchestrator,
            )

        spark, setup = _launch(run_dir / "warehouse")
        load.own_jvm = spark.sparkContext._gateway.proc.pid

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        try:
            if wl["kind"] == "queries":
                result = run_queries(spark, wl, sf_dir, args, tracer, expected)
            else:
                result = run_pipeline(spark, wl, run_dir / "src", args, tracer)
        finally:
            if tracer is not None:
                tracer.close()
        rss_mb = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = _failures(result)
    if args.trace:
        metrics, extra = per_layer(result, setup)
    else:
        metrics, extra = end_to_end(result, setup)
    ledger = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "load": load.finish(),
        "setup_s": setup,
        # recorded, not bounded: VmHWM varied 28-38% between seeds
        "peak_rss_mb": rss_mb,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        **extra,
        **result,
    }
    if tracer is not None:
        ledger.update(spans=tracer.spans, events=tracer.events, plan_phases=tracer.plan_phases)
    out_dir = WORK / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    path.write_text(json.dumps(ledger, indent=1, default=str))

    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.6f} {unit}")
    summary = {**ledger["load"], "peak_rss_mb": rss_mb, **extra}
    for key, value in summary.items():
        if isinstance(value, list):
            value = len(value)
        print(f"{key:32s} {value}")
    print(f"{'ledger':32s} {path.relative_to(ROOT)}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
