"""Closed-loop usage-analytics benchmark of the registry's operators.

Run from the repository root:

    python3 usagebench/run.py --workload report --seed 1 --seconds 8 --trace 0

One client runs a workload's registry ops back to back on
``local[<cpus>]``.  An execution calls ``REGISTRY[name].builder(spark,
sf_dir)`` and pulls the whole result into Python with ``toPandas()``.
The seed only permutes the op order within each pass.

Phases of one invocation:

1. set-up: session start, ``load_all_ops``, two untimed warm passes (the
   first also builds every ``memo_checkpoint`` artifact the ops read);
2. the timed window: ``--seconds`` worth of whole passes, as a fixed
   pass count from the workload's nominal pass time;
3. with ``--trace 1``, two more passes in which every execution is
   traced layer by layer (the tracer records nothing during the window);
4. the untimed check: every op is run once more through the oracle
   mirror (``mirror.run_op``) and must hash-match DuckDB, and every
   timed execution's row count must equal the oracle's;
5. shutdown: the session is stopped, the gateway JVM reaped, and every
   other descendant process waited for.

Stdout ends with two JSON lines: a ``record`` with every metric, the
run's settings and per-op detail, then the result line
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  A
traced run also writes its spans to ``usagebench/.run/traces/``.
"""

from __future__ import annotations

import time

_STARTED = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")
PACKAGE = "shared_solar_data_warehouse_spark"

import proctree  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

#: Driver JVM heap.  ``get_session`` defaults to 16g, more than a small
#: host has; the fixtures here need far less.
DRIVER_MEM = "3g"

#: Untimed passes in set-up.  The JVM is still warming during the second
#: pass over the ops: on a 4-vCPU host a timed first pass ran 25-35%
#: slower than the later ones and set the latency tail.
WARM_PASSES = 2

#: Latency percentile reported as ``latency_tail_s``.
TAIL_PERCENTILE = 90

#: End-to-end metrics in the result line of an untraced run; all seven
#: are in the record.  ``fail_ratio`` and ``wrong_results`` are 0 on a
#: healthy run and reach the result line as ``failed`` and ``correct``.
#: ``cpu_s_per_op`` moved by up to 26% between identical runs on a 4-vCPU
#: host with CPU steal, more than a regression bound can absorb.
REPORTED = ("setup_s", "ops_per_s", "latency_p50_s", "latency_tail_s")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Smoke-test overrides: a subset of the workload's ops, another scale.
    ap.add_argument("--ops", default=None, help="comma-separated subset of ops")
    ap.add_argument("--sf", default=None, help="scale factor, e.g. 0.001")
    return ap.parse_args(argv)


def pass_orders(ops: tuple[str, ...], seed: int):
    """Yield the op order of each pass; only this depends on the seed."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(ops, len(ops))


def pin_environment(work_dir: str) -> dict[str, str]:
    """Host sizing and scratch locations for the session to be started.

    Every file Spark, the JVM and Python write goes under ``work_dir``;
    the returned confs are passed to ``get_session`` as ``extra_confs``.
    """
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    for path in (tmp, local):
        os.makedirs(path, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # The JVM that spark-submit runs first to assemble the command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def redirect_scratch(io, work_dir: str) -> None:
    """Point the sink and stream scratch directories, which the package
    keeps under /tmp, into ``work_dir``.  Same layout, other root; must
    run before the op modules import ``scratch_dir``."""

    def scratch_dir(sf_dir: str, op_name: str) -> str:
        base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        path = os.path.join(work_dir, "scratch", base, op_name)
        os.makedirs(path, exist_ok=True)
        return path

    io.scratch_dir = scratch_dir


def stop_session(spark) -> list[int]:
    """Stop Spark and wait for the whole process tree to exit.

    ``spark.stop()`` leaves the gateway JVM running and the gateway JVM
    exits only on EOF on its stdin, so the pipe is closed before waiting.
    Returns the PIDs that had to be killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return proctree.reap_descendants()


class Run:
    def __init__(self, args: argparse.Namespace, workload: Workload, work_dir: str):
        self.args = args
        self.workload = workload
        self.sf_dir = workload.sf_dir
        self.ops = workload.ops
        self.work_dir = work_dir
        self.orders = pass_orders(self.ops, args.seed)
        self.order_log: list[list[str]] = []
        self.rows: dict[str, set[int]] = defaultdict(set)
        self.errors: list[str] = []
        self.tracer = None
        self.spark = None
        self.registry: dict = {}

    # -- executions -------------------------------------------------------

    def next_order(self) -> list[str]:
        order = next(self.orders)
        self.order_log.append(order)
        return order

    def execute(self, name: str) -> float | None:
        """One op execution: builder call plus toPandas.  Returns the
        latency, or None if it failed."""
        started = time.perf_counter()
        try:
            frame = self.registry[name].builder(self.spark, self.sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        latency = time.perf_counter() - started
        self.rows[name].add(len(frame))
        return latency

    def window(self, seconds: float) -> tuple[float, list, int]:
        """The timed passes.  Returns the window length, the (op, latency)
        samples and the failure count."""
        samples, failed = [], 0
        started = time.perf_counter()
        for _ in range(self.workload.passes(seconds)):
            for name in self.next_order():
                latency = self.execute(name)
                if latency is None:
                    failed += 1
                else:
                    samples.append((name, latency))
        return time.perf_counter() - started, samples, failed

    # -- phases -----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        extra_confs = pin_environment(self.work_dir)
        from shared_solar_data_warehouse_spark import materialize
        from shared_solar_data_warehouse_spark.sources import io

        redirect_scratch(io, self.work_dir)
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install(io, materialize)
        from shared_solar_data_warehouse_spark.registry import load_all_ops
        from shared_solar_data_warehouse_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session("usagebench", extra_confs)
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        self.registry = load_all_ops()
        load_s = time.perf_counter() - t
        if self.tracer:
            self.tracer.ctx = {"pass": "warm", "op": None, "sink": "pandas"}
        warm_failed = 0
        for _ in range(WARM_PASSES):
            for name in self.next_order():
                if self.tracer:
                    self.tracer.ctx["op"] = name
                warm_failed += self.execute(name) is None
        if self.tracer:
            self.tracer.active = False
        return {
            "setup_s": time.perf_counter() - _STARTED,
            "session.start_s": start_s,
            "registry.load_all_ops_s": load_s,
            "warm_failed": warm_failed,
        }

    def check(self) -> tuple[int, dict[str, dict]]:
        """Untimed oracle check; returns (wrong_results, per-op detail)."""
        from shared_solar_data_warehouse_spark import mirror

        con = mirror.duck_connect(self.sf_dir)
        detail, wrong = {}, 0
        for name in self.ops:
            op = self.registry[name]
            res = mirror.run_op(self.spark, con, name, op.builder, op.oracle, self.sf_dir)
            rows = sorted(self.rows[name])
            ok = res["status"] == "PASS" and rows == [res.get("oracle_rows")]
            wrong += not ok
            detail[name] = {
                "status": res["status"],
                "oracle_rows": res.get("oracle_rows"),
                "timed_rows": rows,
                **({"error": res["error"][:300]} if "error" in res else {}),
            }
        con.close()
        return wrong, detail


def end_to_end(setup_s: float, window_s: float, samples: list, failed: int,
               cpu_s: float, wrong: int) -> tuple[dict, dict]:
    """The seven user-visible metrics of the untraced window.  The tail is
    the 90th latency percentile: a window holds 8 to 24 samples, too few
    for a percentile above the median to have ten samples beyond it."""
    latencies = sorted(lat for _, lat in samples)
    tail = statistics.quantiles(latencies, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(samples) / window_s, "ops/s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
        "latency_tail_s": (tail, "s"),
        "cpu_s_per_op": (cpu_s / len(samples), "s"),
        "fail_ratio": (failed / (len(samples) + failed), "ratio"),
        "wrong_results": (wrong, "count"),
    }
    tail_info = {
        "percentile": TAIL_PERCENTILE,
        "samples": len(latencies),
        "beyond": sum(lat > tail for lat in latencies),
    }
    return metrics, tail_info


def as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if args.ops:
        workload = dataclasses.replace(workload, ops=tuple(args.ops.split(",")))
    if args.sf:
        workload = dataclasses.replace(workload, sf=args.sf)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(workload.sf_dir):
        print(f"usagebench: {PACKAGE}/ or {workload.sf_dir} missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    proctree.become_subreaper()
    # A terminated run still stops Spark and reaps its processes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work_dir = os.path.join(RUN_DIR, f"w{os.getpid()}")
    run = Run(args, workload, work_dir)
    layers = None
    try:
        setup = run.setup()
        cpu0 = proctree.tree_cpu_s()
        window_s, samples, window_failed = run.window(args.seconds)
        cpu_s = proctree.tree_cpu_s() - cpu0
        attempted, failed = len(samples) + window_failed, window_failed
        if run.tracer and samples:
            from tracing import traced_window

            layers, layer_ops, traced_attempted, traced_failed = traced_window(run, samples)
            attempted += traced_attempted
            failed += traced_failed
        check_started = time.perf_counter()
        wrong, checked = run.check()
        check_s = time.perf_counter() - check_started
        peak_rss_mb = proctree.tree_peak_rss_mb()
    finally:
        started = time.perf_counter()
        killed = stop_session(run.spark)
        stop_s = time.perf_counter() - started
        shutil.rmtree(work_dir, ignore_errors=True)
    if not samples:
        print(f"usagebench: every timed execution failed: {run.errors[:3]}", file=sys.stderr)
        return 1

    import duckdb
    import pyspark

    metrics, tail_info = end_to_end(
        setup["setup_s"], window_s, samples, window_failed, cpu_s, wrong
    )
    per_op = defaultdict(list)
    for name, lat in samples:
        per_op[name].append(lat)
    record = {
        "workload": workload.name,
        "sf": float(workload.sf),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "ops": list(workload.ops),
        "pass_orders": run.order_log,
        "passes": workload.passes(args.seconds),
        "window_s": window_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "total_s": time.perf_counter() - _STARTED,
        "warm_failed": setup["warm_failed"],
        "latency_tail": tail_info,
        "op_latencies_s": dict(sorted(per_op.items())),
        "check": checked,
        "errors": run.errors[:20],
        "killed_at_exit": killed,
        "end_to_end": as_json(metrics),
    }
    if layers is not None:
        layers["session.start_s"] = (setup["session.start_s"], "s")
        layers["session.stop_s"] = (stop_s, "s")
        layers["session.peak_rss_mb"] = (peak_rss_mb, "MiB")
        layers["registry.load_all_ops_s"] = (setup["registry.load_all_ops_s"], "s")
        record["per_layer"] = as_json(layers)
        record["per_op_layers"] = layer_ops
        trace_file = os.path.join(
            RUN_DIR, "traces", f"{workload.name}-seed{args.seed}-{os.getpid()}.json"
        )
        from tracing import write_trace

        write_trace(run.tracer, trace_file)
        record["trace_file"] = os.path.relpath(trace_file, ROOT)
    print(json.dumps({"record": record}))

    if args.trace:
        reported = record["per_layer"]
    else:
        reported = {k: record["end_to_end"][k] for k in REPORTED}
    result = {
        "correct": wrong == 0 and failed == 0 and setup["warm_failed"] == 0
        and not killed,
        "attempted": attempted,
        "failed": failed,
        "metrics": reported,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
