"""Per-layer tracing for a ``--trace 1`` run.

Layers are timed from outside the engine: the public functions of
``sources.io``, ``materialize`` and ``streaming.streams`` are replaced by
wrappers that pass arguments and results through unchanged and, while
the tracer is active, append a span to an in-memory list.  Spark
execution is read from the status store per job group, and streaming
progress from a Python ``StreamingQueryListener``.  Nothing is written
until the run ends.

The op modules bind ``load_table``, ``register_views``, ``spread`` and
``memo_checkpoint`` by name at import, so ``install`` must run before
``registry.load_all_ops()``.  ``streams.drain`` is looked up as a module
global at call time and is wrapped, with the listener added, only when
the traced passes start.  During the run's timed window the tracer is
inactive: the wrappers call straight through and record nothing, so
that window measures the same work as an untraced run.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import statistics
import time
import traceback
from collections.abc import Callable
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.progress: list[dict[str, Any]] = []
        #: Whether wrappers and listener record anything.
        self.active = True
        #: Where the run is: pass ("warm" or "traced<k>"), op and sink
        #: ("pandas" or "noop") of the execution.
        self.ctx: dict[str, Any] = {"pass": "setup", "op": None, "sink": None}

    def span(self, layer: str, started: float, seconds: float, **extra: Any) -> None:
        self.spans.append(
            {"layer": layer, **self.ctx, "t": started, "s": seconds, **extra}
        )

    def wrap(
        self,
        module: Any,
        name: str,
        layer: str,
        before: Callable[[inspect.BoundArguments], dict] | None = None,
        after: Callable[[inspect.BoundArguments, Any], dict] | None = None,
    ) -> None:
        """Replace ``module.name`` by a wrapper that records one span per
        call; ``before`` and ``after`` add fields to it from the arguments
        (before the call) and from the result."""
        original = getattr(module, name)
        signature = inspect.signature(original)

        @functools.wraps(original)
        def traced(*args: Any, **kwargs: Any) -> Any:
            if not self.active:
                return original(*args, **kwargs)
            bound = signature.bind(*args, **kwargs)
            pre = before(bound) if before else {}
            started = time.perf_counter()
            result = None
            try:
                result = original(*args, **kwargs)
                return result
            finally:
                seconds = time.perf_counter() - started
                post = after(bound, result) if after else {}
                self.span(layer, started, seconds, **pre, **post)

        setattr(module, name, traced)

    def install(self, io: Any, materialize: Any) -> None:
        self.wrap(io, "load_table", "io.load_table")
        self.wrap(io, "register_views", "io.register_views")
        self.wrap(
            io,
            "spread",
            "io.spread",
            after=lambda b, out: {
                "repartitioned": out is not None and out is not b.arguments["df"]
            },
        )

        def memo_hit(b: inspect.BoundArguments) -> dict:
            spark, key = b.arguments["spark"], b.arguments["key"]
            full_key = (spark.sparkContext.applicationId, *key)
            return {"hit": full_key in materialize._cache}  # noqa: SLF001

        self.wrap(materialize, "memo_checkpoint", "materialize", before=memo_hit)

    def install_streams(self, spark: Any, streams: Any) -> None:
        self.wrap(streams, "drain", "streams.drain")
        spark.streams.addListener(_ProgressListener(self))


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onQueryStarted(self, event: Any) -> None:
        pass

    def onQueryProgress(self, event: Any) -> None:
        if not self.tracer.active:
            return
        p = event.progress
        self.tracer.progress.append(
            {
                **self.tracer.ctx,
                "query": str(p.id),
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event: Any) -> None:
        pass

    def onQueryTerminated(self, event: Any) -> None:
        pass


def flush_listeners(spark: Any) -> None:
    """Block until every queued Spark listener event is delivered, so job,
    stage and streaming-progress records of the last execution exist."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def group_stats(spark: Any, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    jvm = sc._jvm  # noqa: SLF001
    no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("stages", "tasks", "single_task_stages", "task_cpu_s", "shuffle_bytes",
         "spill_bytes"),
        0,
    )
    out["jobs"] = len(jobs)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            d = attempts.apply(i)
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["single_task_stages"] += d.numTasks() == 1
            out["task_cpu_s"] += d.executorCpuTime() / 1e9
            out["shuffle_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out


#: The traced passes of a ``--trace 1`` run and the order in which each
#: runs an op's two sinks.  Whichever execution of an op comes second is
#: faster, so every op is measured once in each order and its two
#: executions per sink are averaged.
SINK_ORDERS = (("pandas", "noop"), ("noop", "pandas"))


def _traced_sink(run: Any, name: str, sink: str, label: str, n: int) -> dict[str, float]:
    """Build a fresh DataFrame for op ``name`` and run it into ``sink``:
    ``pandas`` (toPandas, what a user gets) or ``noop`` (the same plan
    executed with no transfer, then planned again for the census)."""
    from shared_solar_data_warehouse_spark.plans.inspect import (
        explain_formatted,
        operator_counts,
    )

    spark, tracer = run.spark, run.tracer
    sc = spark.sparkContext
    tracer.ctx = {"pass": label, "op": name, "sink": sink}
    build_group, sink_group = f"usagebench-b{n}{sink}", f"usagebench-x{n}{sink}"
    sc.setJobGroup(build_group, name)
    started = time.perf_counter()
    df = run.registry[name].builder(spark, run.sf_dir)
    out: dict[str, float] = {f"{sink}_build_s": time.perf_counter() - started}
    sc.setJobGroup(sink_group, name)
    started = time.perf_counter()
    if sink == "pandas":
        out["rows"] = len(df.toPandas())
        run.rows[name].add(out["rows"])
    else:
        df.write.format("noop").mode("overwrite").save()
    out[f"{sink}_s"] = time.perf_counter() - started
    sc.setLocalProperty("spark.jobGroup.id", None)
    if sink == "noop":
        started = time.perf_counter()
        counts = operator_counts(explain_formatted(df))
        out["plan_s"] = time.perf_counter() - started
        out["exchanges"] = counts["Exchange"]
        out["broadcast_joins"] = (
            counts["BroadcastHashJoin"] + counts["BroadcastNestedLoopJoin"]
        )
    flush_listeners(spark)
    if sink == "pandas":
        out["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(build_group))
        out.update(group_stats(spark, sink_group))
    return out


def _outermost(spans: list[dict]) -> list[dict]:
    """Drop spans nested inside another span of the list (a memo
    artifact whose build reads another memo artifact)."""
    kept: list[dict] = []
    for s in sorted(spans, key=lambda s: (s["t"], -s["s"])):
        if kept and s["t"] + s["s"] <= kept[-1]["t"] + kept[-1]["s"]:
            continue
        kept.append(s)
    return kept


def traced_window(run: Any, samples: list[tuple[str, float]]):
    """The traced passes, one per entry of ``SINK_ORDERS``.

    Each op execution runs twice, each time on a freshly built
    DataFrame: once into toPandas and once into the noop sink.  Layer
    metrics come from the toPandas executions; the noop ones only give
    ``exec.noop_s`` and the plan census.  Every per-op figure is the mean
    of the op's executions in the two passes, and the metrics are the sum
    over ops, so they describe one pass; the memo builds are per run
    (they happen in the first warm pass).

    ``tracing.overhead`` compares one pass of toPandas executions with
    tracing on against the same pass untraced: the sum over ops of the
    op's median latency in this run's window (``samples``, recorded with
    the tracer inactive), over the sum of the op's builder call plus
    toPandas in the first traced pass, where, as in the window, each
    execution follows another op's.  Below 1 means tracing slowed the
    executions down.

    Returns (metrics, per-op detail, attempted, failed)."""
    from shared_solar_data_warehouse_spark.streaming import streams

    tracer = run.tracer
    tracer.install_streams(run.spark, streams)
    tracer.active = True
    recs: dict[str, list[dict[str, float]]] = {}
    attempted = failed = 0
    for k, sinks in enumerate(SINK_ORDERS, start=1):
        for name in run.next_order():
            rec: dict[str, float] = {"pass": k}
            attempted += 1
            try:
                for sink in sinks:
                    rec.update(_traced_sink(run, name, sink, f"traced{k}", attempted))
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
                failed += 1
                run.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            recs.setdefault(name, []).append(rec)
    tracer.active = False

    per_op = {
        name: {f: sum(r[f] for r in rs) / len(rs) for f in rs[0] if f != "pass"}
        for name, rs in sorted(recs.items())
    }

    def total(field: str) -> float:
        return sum(op.get(field, 0) for op in per_op.values())

    first = {
        name: r["pandas_build_s"] + r["pandas_s"]
        for name, rs in recs.items() for r in rs if r["pass"] == 1
    }
    untraced: dict[str, list[float]] = {}
    for name, latency in samples:
        untraced.setdefault(name, []).append(latency)
    untraced_s = sum(statistics.median(untraced[name]) for name in first if name in untraced)
    npass = len(SINK_ORDERS)
    timed = [
        s for s in tracer.spans if s["pass"].startswith("traced") and s["sink"] == "pandas"
    ]

    def spans(layer: str) -> list[dict]:
        return [s for s in timed if s["layer"] == layer]

    def span_s(layer: str) -> float:
        return sum(s["s"] for s in spans(layer)) / npass

    memo = spans("materialize")
    builds = _outermost(
        [s for s in tracer.spans if s["layer"] == "materialize" and not s["hit"]]
    )
    progress = [
        p for p in tracer.progress if p["pass"].startswith("traced") and p["sink"] == "pandas"
    ]
    peak_state: dict[str, int] = {}
    for p in progress:
        peak_state[p["query"]] = max(peak_state.get(p["query"], 0), p["state_rows"])
    metrics = {
        "operators.build_s": (total("pandas_build_s"), "s"),
        "operators.build_jobs": (total("build_jobs"), "count"),
        "io.load_table.calls": (len(spans("io.load_table")) / npass, "count"),
        "io.load_table_s": (span_s("io.load_table"), "s"),
        "io.register_views_s": (span_s("io.register_views"), "s"),
        "io.spread.calls": (len(spans("io.spread")) / npass, "count"),
        "io.spread.repartitioned": (
            sum(s["repartitioned"] for s in spans("io.spread")) / npass, "count"
        ),
        "materialize.calls": (len(memo) / npass, "count"),
        "materialize.builds": (len(builds), "count"),
        "materialize.hit_ratio": (
            sum(s["hit"] for s in memo) / len(memo) if memo else 1.0, "ratio"
        ),
        "materialize.build_s": (sum(s["s"] for s in builds), "s"),
        "streams.drain_s": (span_s("streams.drain"), "s"),
        "streams.batches": (len(progress) / npass, "count"),
        "streams.input_rows": (sum(p["input_rows"] for p in progress) / npass, "count"),
        "streams.state_rows": (sum(peak_state.values()) / npass, "count"),
        "plans.plan_s": (total("plan_s"), "s"),
        "plans.exchanges": (total("exchanges"), "count"),
        "plans.broadcast_joins": (total("broadcast_joins"), "count"),
        "exec.jobs": (total("jobs"), "count"),
        "exec.stages": (total("stages"), "count"),
        "exec.tasks": (total("tasks"), "count"),
        "exec.single_task_stages": (total("single_task_stages"), "count"),
        "exec.task_cpu_s": (total("task_cpu_s"), "s"),
        "exec.shuffle_bytes": (total("shuffle_bytes"), "bytes"),
        "exec.spill_bytes": (total("spill_bytes"), "bytes"),
        "exec.noop_s": (total("noop_s"), "s"),
        "fetch.topandas_s": (total("pandas_s"), "s"),
        "fetch.rows": (total("rows"), "count"),
        "fetch.transfer_s": (total("pandas_s") - total("noop_s"), "s"),
        "tracing.overhead": (
            untraced_s / sum(first.values()) if first else 0.0, "ratio"
        ),
    }
    return metrics, per_op, attempted, failed


def write_trace(tracer: Tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": tracer.spans, "progress": tracer.progress}, fh)
