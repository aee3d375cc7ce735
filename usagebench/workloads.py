"""The benchmark's workloads: which registry ops run, at which scale.

Every op listed here has oracle SQL, so each result is hash-checked
against DuckDB after the timed window.  The fixture directories under
``fixtures/`` are byte copies of the warehouse's seed-42 test tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

#: Usage reports.  At sf0.01 Spark execution is most of each op's
#: latency and the builder a small share, but that execution is mostly
#: per-job cost (short jobs of one-task stages), not scan volume.
REPORT_OPS = (
    "sql_tpch_q1",
    "sql_tpch_q18",
    "agg_rollup",
    "join_multikey",
    "ts_tariff_billing",
    "flagship_revenue_by_nation",
)

#: Builder-heavy ops: an iterative Python loop over memoized artifacts,
#: a streaming drain with state stores and a partitioned parquet sink;
#: plus a grouped pandas UDF, whose time is in the Python workers.
PIPELINE_OPS = (
    "graph_pagerank",
    "stream_stream_join",
    "sink_parquet_partitioned",
    "udf_pandas_grouped_agg",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    ops: tuple[str, ...]
    #: Nominal seconds of one warm pass on a 4-vCPU host.  ``--seconds``
    #: becomes a fixed number of passes through it, so every run does the
    #: same work: a window that ended on the clock would hold an extra,
    #: better-warmed pass on a quiet host and amplify host noise.
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))

    @property
    def sf_dir(self) -> str:
        return os.path.join(FIXTURES, f"sf{self.sf}")


WORKLOADS = {
    w.name: w
    for w in (
        Workload("report", "0.01", REPORT_OPS, pass_s=3.6),
        Workload("pipeline", "0.01", PIPELINE_OPS, pass_s=5.6),
    )
}
