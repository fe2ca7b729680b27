"""Per-layer spans and counters, recorded from outside the package.

Nothing inside the package is instrumented. The tracer wraps the public
functions each layer exposes (the attribute the caller looks up is
replaced for the duration of the run and restored by ``close``) and reads
the rest from Spark itself:

- spans: name, start, end, parent span and operation id, kept in memory
  and written out with the run's ledger;
- Catalyst phase times from a ``QueryExecutionListener`` (a py4j
  callback; analysis, optimization and planning of every action);
- jobs and stage metrics from the driver's ``AppStatusStore``, read
  after each operation once the listener bus has drained.

Jobs are attributed to a span by their submission time, so a layer's job
count and job time come from the same clock as its span.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

PKG = "grocery_store_sales_forecasting_etl_pipeline_spark"
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "outputBytes",
)


class _PlanningListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        self.tracer._phases(func_name, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self.tracer._phases(func_name, qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans, events and Spark job metrics for one traced run.

    ``active`` switches recording on and off between passes; the wrappers
    stay installed and cost one attribute check while it is off."""

    def __init__(self, spark: SparkSession):
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        self._jsession = spark._jsparkSession
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._status = sc.statusTracker()
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._seen_jobs = set(self._status.getJobIdsForGroup(None))
        ensure_callback_server_started(sc._gateway)
        self._listener = _PlanningListener(self)
        self._listening = False
        self._patches: list[tuple[object, str, object]] = []
        self.active = False
        self.op = -1
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self.plan_phases: list[dict] = []
        self._stack: list[int] = []

    # -- recording ---------------------------------------------------------

    def set_active(self, on: bool) -> None:
        self.active = on
        if on != self._listening:
            manager = self._jsession.listenerManager()
            (manager.register if on else manager.unregister)(self._listener)
            self._listening = on

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent, "op": self.op}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def begin_op(self, label: str) -> None:
        """Start operation ``label``; jobs that ran before it (untraced
        passes, output checks) are never attributed to it."""
        self.op += 1
        if self.active:
            self._bus.waitUntilEmpty(60_000)
            self._seen_jobs |= set(self._status.getJobIdsForGroup(None))
            self.events.append({"kind": "op", "op": self.op, "label": label})

    def event(self, kind: str, **fields) -> None:
        if self.active:
            where = [self.spans[i]["name"] for i in self._stack]
            self.events.append({"kind": kind, "op": self.op, "where": where, **fields})

    def _phases(self, func_name: str, qe) -> None:
        try:
            phases = _phase_ms(qe)
        except Exception as exc:  # noqa: BLE001 — a lost sample must not kill the bus thread
            print(f"perfbench: planning phases unavailable: {exc}", file=sys.stderr)
            return
        self.plan_phases.append({"op": self.op, "action": func_name, **phases})

    def analysis_ms(self, df) -> int:
        """Analysis time recorded on a built DataFrame's own plan."""
        return _phase_ms(df._jdf.queryExecution()).get("analysis", 0)

    # -- wrapping public functions ------------------------------------------

    def wrap(self, owner, attr: str, span_name: str | None = None, on_call=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records ``span_name``
        around the call and passes ``(args, kwargs, result)`` to
        ``on_call``; ``close`` restores the original."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            if span_name is None:
                out = orig(*args, **kwargs)
            else:
                with tracer.span(span_name):
                    out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_everywhere(self, module, attr: str, **kw) -> None:
        """``wrap`` the function in its home module and under every name a
        package module imported it as (``gated_broadcast as _gbcast``)."""
        orig = getattr(module, attr)
        bindings = [
            (m, name)
            for mod_name, m in list(sys.modules.items())
            if mod_name.startswith(PKG)
            for name, value in list(vars(m).items())
            if value is orig
        ]
        for owner, name in bindings:
            self.wrap(owner, name, **kw)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from grocery_store_sales_forecasting_etl_pipeline_spark.ml import forecast
        from grocery_store_sales_forecasting_etl_pipeline_spark.operators import sizing
        from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze
        from grocery_store_sales_forecasting_etl_pipeline_spark.sources import (
            csv_ingest,
            maintenance,
        )

        def gate(args, kwargs, out):
            params = dict(zip(("site", "bytes_seen", "shape"), args), **kwargs)
            self.event("gate", **params)

        def hint(args, kwargs, out):
            caller = sys._getframe(2)  # the plan module that asked for the hint
            site = f"{caller.f_code.co_filename.rsplit('/', 1)[-1]}:{caller.f_lineno}"
            df = args[0] if args else kwargs["df"]
            self.event("hint", site=site, kept=out is not df)

        def rows(mode):
            def on_call(args, kwargs, out):
                self.event(
                    "rows",
                    mode=mode,
                    written=sum(v[0] for v in out.values()),
                    quarantined=sum(v[1] for v in out.values()),
                )

            return on_call

        self.wrap_everywhere(sizing, "record_gate", on_call=gate)
        self.wrap_everywhere(sizing, "gated_broadcast", on_call=hint)
        self.wrap_everywhere(csv_ingest, "ingest_csv", span_name="sources.ingest")
        self.wrap_everywhere(csv_ingest, "prepare_clean", span_name="sources.ingest")
        self.wrap_everywhere(maintenance, "partition_upsert", span_name="sources.upsert")
        self.wrap_everywhere(maintenance, "merge_upsert", span_name="sources.upsert")
        self.wrap(bronze, "run", on_call=rows("full"))
        self.wrap(bronze, "run_incremental", on_call=rows("incremental"))
        self.wrap_everywhere(forecast, "train_predict_global", span_name="ml.fit")
        for method in CHECKPOINT_METHODS:
            self.wrap(
                ClassicDataFrame,
                method,
                on_call=lambda a, k, o, m=method: self.event("checkpoint", method=m),
            )

    def close(self) -> None:
        self.set_active(False)
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark job metrics ---------------------------------------------------

    def new_jobs(self) -> list[dict]:
        """Jobs started since the last call, each with its executed stages'
        metrics. Waits for the listener bus first, so the status store and
        the planning listener have seen every event of the operation."""
        self._bus.waitUntilEmpty(60_000)
        ids = set(self._status.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= ids
        jobs, stages = [], {}
        for jid in sorted(ids):
            data = json.loads(self._json.writeValueAsString(self._store.job(jid)))
            job = {
                "id": jid,
                "submitted": data.get("submissionTime") or 0,
                "completed": data.get("completionTime") or 0,
                "status": data.get("status"),
                "stages": [],
            }
            for sid in data.get("stageIds", []):
                if sid not in stages:
                    try:
                        stage = json.loads(
                            self._json.writeValueAsString(self._store.lastStageAttempt(sid))
                        )
                    except Exception:  # noqa: BLE001 — evicted from the store
                        continue
                    stages[sid] = stage
                    if stage.get("status") in ("COMPLETE", "FAILED"):
                        job["stages"].append(
                            {"id": sid, **{f: stage.get(f, 0) or 0 for f in STAGE_FIELDS}}
                        )
            jobs.append(job)
        return jobs

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def _phase_ms(qe) -> dict[str, int]:
    """Catalyst phase durations (ms) from a QueryExecution's tracker."""
    text = qe.tracker().phases().toString()
    return {m[1]: int(m[3]) - int(m[2]) for m in _PHASE.finditer(text)}


def span_s(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def jobs_within(jobs: list[dict], spans: list[dict], name: str) -> list[dict]:
    """Jobs submitted inside any span called ``name``."""
    windows = [(s["start"] * 1000 - 1, s["end"] * 1000 + 1) for s in spans if s["name"] == name]
    return [j for j in jobs if any(lo <= j["submitted"] <= hi for lo, hi in windows)]


def covered_s(jobs: list[dict]) -> float:
    """Wall time covered by the union of the jobs' run intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted((j["submitted"], j["completed"]) for j in jobs if j["completed"]):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total / 1000.0


def stage_totals(jobs: list[dict]) -> dict[str, float]:
    """exec.* counters over the distinct executed stages of ``jobs``."""
    stages = {s["id"]: s for j in jobs for s in j["stages"]}.values()
    tot = {f: sum(s[f] for s in stages) for f in STAGE_FIELDS}
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": tot["numTasks"],
        "exec.failed_tasks": tot["numFailedTasks"],
        "exec.executor_run_ms": tot["executorRunTime"],
        "exec.executor_cpu_ms": tot["executorCpuTime"] / 1e6,
        "exec.gc_ms": tot["jvmGcTime"],
        "exec.input_bytes": tot["inputBytes"],
        "exec.shuffle_read_bytes": tot["shuffleReadBytes"],
        "exec.shuffle_write_bytes": tot["shuffleWriteBytes"],
        "exec.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
        "exec.output_bytes": tot["outputBytes"],
    }
