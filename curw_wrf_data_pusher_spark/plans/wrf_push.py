"""E1 — the daily grid push (SURVEY §3-E1; wrf_data_pusher.py:143-342
re-expressed as one DataFrame plan).

Reference lifecycle: read NetCDF → diff cumulative rainfall → per-cell
Python loops building rows → per-row MySQL get-or-create + upsert.
Spark shape: one declarative plan, zero process boundaries:

    grid(long) → window lag-diff → round/tz scalars → station join →
    tms_id hash projection → (fact rows, run metadata)

The reference's per-row station/tms get-or-create round-trips collapse
into (a) a broadcast join against the station dim and (b) a pure
sha256 projection (ids are content-addressed, so no coordination is
needed to mint them — race-free at any parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import series_hash_id, source_name, station_name
from ..functions.numeric import round_coord, round_value
from ..functions.timeutils import decode_xtime, format_minute, utc_to_lk
from ..operators.diff import adjacent_diff
from .config import WrfConfig


def interval_grid(grid: DataFrame) -> DataFrame:
    """A1: cumulative → per-interval rain (``diff_value``), per grid
    cell, in time order.  The one lag-diff both E1 (push) and E2
    (rfields) read: built by this single helper, the two plans share
    an identical fragment, so a frame persisted by the caller
    (``plans.runner``) is substituted into both by Spark's cache
    manager and the decode and the window shuffle run once.

    The shuffle key (system, file, y, x) is high-cardinality and
    uniform — no skew at any scale; AQE coalesces the tiny tail
    partitions."""
    return adjacent_diff(
        grid,
        series_cols=["wrf_system", "source_file", "y", "x"],
        order_col="t_idx",
        value_col="rainnc_cum",
        out_col="diff_value",
    )


def push_wrf_grid(
    grid: DataFrame,
    cfg: WrfConfig,
    stations: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Transform a long-format cumulative grid into upsert-ready fact
    rows and run metadata.

    grid: GRID_SCHEMA rows (see sources.netcdf) — may span multiple
    wrf_systems/files; everything is processed in one plan.
    stations: optional station dim (station_id, name); when given, the
    known id is attached via broadcast join (wrf_data_pusher.py:222,447),
    else ids stay null (sink-side get-or-create fills them).

    Returns (fact, runs):
    - fact: (tms_id, time, fgt, value) at minute precision LK time,
      value rounded 3 dp — row shape wrf_data_pusher.py:262-268.
    - runs: one row per series — tms_id, sim_tag, station name/coords,
      source, start/end (run table, wrf_data_pusher.py:239-248).
    """
    diffed = interval_grid(grid)

    lat6 = F.format_string("%.6f", round_coord(F.col("latitude")))
    lon6 = F.format_string("%.6f", round_coord(F.col("longitude")))
    src = source_name(cfg.model, F.col("wrf_system"))

    enriched = diffed.select(
        "wrf_system",
        lat6.alias("lat_s"),
        lon6.alias("lon_s"),
        station_name(F.col("latitude"), F.col("longitude")).alias("station"),
        src.alias("source"),
        # P7: epoch + minutes → UTC instant → +05:30 local, minute form
        format_minute(
            utc_to_lk(decode_xtime(F.col("epoch_str"), F.col("xtime_min")))
        ).alias("time"),
        format_minute(utc_to_lk(F.col("fgt_utc"))).alias("fgt"),
        round_value(F.col("diff_value")).alias("value"),
    )

    tms_id = series_hash_id(
        F.lit(cfg.effective_sim_tag),
        F.col("lat_s"),
        F.col("lon_s"),
        F.col("source"),
        F.lit(cfg.version),
        F.lit(cfg.variable),
        F.lit(cfg.unit),
        F.lit(cfg.unit_type),
    )
    enriched = enriched.withColumn("tms_id", tms_id)

    if stations is not None:
        enriched = enriched.join(
            F.broadcast(stations.select(
                F.col("name").alias("station"),
                F.col("station_id"),
            )),
            on="station",
            how="left",
        )
    else:
        enriched = enriched.withColumn("station_id", F.lit(None).cast("long"))

    fact = enriched.select("tms_id", "time", "fgt", "value")

    runs = enriched.groupBy(
        "tms_id", "station", "station_id", "source", "lat_s", "lon_s"
    ).agg(
        F.min("time").alias("start_date"),
        F.max("time").alias("end_date"),
        F.max("fgt").alias("fgt"),
    ).select(
        "tms_id",
        F.lit(cfg.effective_sim_tag).alias("sim_tag"),
        "station", "station_id", "source",
        F.col("lat_s").cast("double").alias("latitude"),
        F.col("lon_s").cast("double").alias("longitude"),
        "start_date", "end_date", "fgt",
    )
    return fact, runs
