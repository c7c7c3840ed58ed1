"""E2 — per-timestep rain-field file generation (SURVEY §3-E2;
gen_rfields.py:113-229 re-expressed).

Reference: per timestep, unpivot the diffed grid, sort by (lon, lat),
write a values .txt; once per run write xy.csv; also emit the
Kelani-basin subset.  Spark shape: ONE DataFrame for all timesteps —
the per-timestep loop becomes a partitioned ordered write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round_coord, round_value
from ..functions.timeutils import decode_xtime, format_minute, utc_to_lk
from ..sinks.rfield_files import write_rfield_files
from ..sources.netcdf import KELANI_EXTENT
from .wrf_push import interval_grid


def build_rfields(
    grid: DataFrame,
    out_dir: str,
    file_prefix: str = "rfield",
    kelani_subset: bool = True,
) -> dict[str, list[str]]:
    """Diff the cumulative grid and emit ordered rfield files.

    Returns {'d03': [...paths...], 'kelani': [...]} (kelani only when
    requested, matching create_d03_rfields vs create_d01_rfields —
    gen_rfields.py:113-229 vs :232-334)."""
    diffed = interval_grid(grid).select(
        "wrf_system",
        format_minute(
            utc_to_lk(decode_xtime(F.col("epoch_str"), F.col("xtime_min")))
        ).alias("time"),
        round_coord(F.col("longitude")).alias("longitude"),
        round_coord(F.col("latitude")).alias("latitude"),
        round_value(F.col("diff_value")).alias("value"),
    )

    # one file per (system, timestep) — the reference runs gen_rfields
    # once per WRF system (wrf_data_pusher.py:337-340)
    groups = ["wrf_system", "time"]
    out: dict[str, list[str]] = {}
    out["d03"] = write_rfield_files(
        diffed, os.path.join(out_dir, "d03"),
        group_cols=groups, file_prefix=file_prefix,
    )
    if kelani_subset:
        kelani = diffed.filter(
            F.col("longitude").between(
                KELANI_EXTENT["lon_min"], KELANI_EXTENT["lon_max"]
            )
            & F.col("latitude").between(
                KELANI_EXTENT["lat_min"], KELANI_EXTENT["lat_max"]
            )
        )
        out["kelani"] = write_rfield_files(
            kelani, os.path.join(out_dir, "kelani"),
            group_cols=groups, file_prefix=file_prefix,
        )
    return out
