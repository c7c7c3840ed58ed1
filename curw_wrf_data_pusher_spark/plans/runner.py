"""Orchestration parity (SURVEY §2.12, §3): one driver entry per
reference entry point, config-JSON compatible, zero process boundaries.

Reference: ``wrf_data_pusher.py`` forks a process pool over WRF systems
(:479-486), shells out to gen_rfields per system (:337-340) and to four
hybrid scripts at the end (:488-494), accumulating errors into an email
dict.  Here each run is ONE Spark application: systems are column
values, the "scripts" are function calls, and the run report is a
structured dict returned to the caller.

Per-run cache lifecycle: the grid is decoded, lag-diffed and hashed
once per call, not once per Spark action.
- ``interval_grid(grid)`` is persisted for the whole run.  The push
  plan and the rfields plan both build the same fragment, so Spark's
  cache manager substitutes the cached frame into each of them.
- The pushed ``fact`` (with its ``time_date`` partition column) and
  ``runs`` are persisted across the two upserts: the touched-partition
  collect and the staging writes read them instead of re-running the
  sha256 series-id projection.
- ``fact`` and ``runs`` are released as soon as the push step ends,
  because rfields does not read them; the interval grid is released
  when the call returns.  Every path — success, a failed step, the
  emptiness guard — leaves the cache manager as it found it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.upsert import upsert_parquet
from .config import WrfConfig
from .rfields import build_rfields
from .wrf_push import interval_grid, push_wrf_grid


@dataclass
class RunReport:
    """Structured replacement for the reference's email_content dict
    (wrf_data_pusher.py:33,507-512)."""

    steps: list[dict] = field(default_factory=list)

    def record(self, step: str, ok: bool, detail: str = "", **metrics):
        self.steps.append(
            {"step": step, "ok": ok, "detail": detail, **metrics,
             "at": time.strftime("%Y-%m-%d %H:%M:%S")}
        )

    @property
    def ok(self) -> bool:
        return all(s["ok"] for s in self.steps)


def run_wrf_push(
    spark: SparkSession,
    cfg: WrfConfig,
    grid: DataFrame,
    store_dir: str,
    stations: DataFrame | None = None,
    rfield_dir: str | None = None,
    systems: list[str] | None = None,
) -> RunReport:
    """E1 (+E2 when rfield_dir given) for one run, all systems at once.

    ``grid``: long-format grid rows (from read_wrf_grid /
    read_wrf_grid_parquet), possibly many systems/files.
    ``systems``: restrict to these WRF systems — the sequential
    single-system variant (wrf_data_pusher_seq.py) is just this filter,
    which prunes the lake partition when wrf_system is a partition
    column."""
    report = RunReport()
    if systems is not None:
        grid = grid.filter(F.col("wrf_system").isin(list(systems)))
    # the run's cached frames, released newest first: fact and runs
    # are built on top of the interval grid
    cached: list[DataFrame] = []
    try:
        try:
            # created inside the step: a grid that cannot be diffed is
            # a failed push step, not an unhandled exception
            cached.append(interval_grid(grid).persist())
            fact, runs = push_wrf_grid(grid, cfg, stations=stations)
            # Partition the fact store by the date prefix of `time`: a
            # pure function of the (tms_id, time) key, so the
            # partition-scoped merge is sound — each daily push touches
            # only its own date directories, untouched dates are never
            # read or rewritten.
            fact = fact.withColumn(
                "time_date", F.substring("time", 1, 10)
            ).persist()
            runs = runs.persist()
            cached += [fact, runs]
            n_fact = upsert_parquet(
                spark, fact, os.path.join(store_dir, "fcst_data"),
                keys=["tms_id", "time"],
                partition_cols=["time_date"],
            )
            n_runs = upsert_parquet(
                spark, runs, os.path.join(store_dir, "run"), keys=["tms_id"]
            )
            # A4 emptiness guard: the reference aborts with "timeseries
            # is empty" (wrf_data_pusher.py:200-204) — an empty push is
            # a failed step, not a silent success
            if n_fact == 0:
                report.record("push", False, detail="timeseries is empty")
                return report
            report.record("push", True, rows=n_fact, series=n_runs)
        except Exception as exc:
            report.record("push", False, detail=f"{type(exc).__name__}: {exc}")
            return report
        # rfields reads only the interval grid
        while len(cached) > 1:
            cached.pop().unpersist()

        if rfield_dir is not None:
            try:
                files = build_rfields(grid, rfield_dir)
                report.record(
                    "rfields", True,
                    files=sum(len(v) for v in files.values()),
                )
            except Exception as exc:
                report.record(
                    "rfields", False, detail=f"{type(exc).__name__}: {exc}"
                )
        return report
    finally:
        while cached:
            cached.pop().unpersist()
