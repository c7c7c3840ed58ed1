"""Session-independence gate.

The external harness builds its own vanilla SparkSession — no
nanosAsLong, host-default timezone.  Round-1 lost 19 CORRECTNESS rows
because ``load_table`` silently depended on confs set only in our
session factory (session.py).  These tests strip those confs from the
live session and assert every registry entry still runs and still
matches its oracle, i.e. the registered callables are self-sufficient
(queries/registry.py pin_session + the defensive set in
sources/lake.py load_table).
"""

from __future__ import annotations

import pytest

from curw_wrf_data_pusher_spark.queries import ORACLES, QUERIES

from .oracle_harness import compare, duckdb_connection

#: the round-1 env-fail set: every query that touches events.parquet
#: (TIMESTAMP NANOS) or formats timestamps as strings.
_SENTINELS = [
    "p7_timestamp_shift",   # nanos scan + date_format
    "w1_lag_diff",          # nanos scan, the defining A1 operator
    "wrf_e1_push_rows",     # flagship E1 pipeline
    "s10_window_resample",  # tumbling window on ts
    "w4_sessionize",        # interval arithmetic on ts
]


@pytest.fixture()
def vanilla_confs(spark):
    """Temporarily strip the factory confs the driver's session lacks,
    and skew the session timezone away from UTC."""
    saved_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Colombo")
    yield spark
    if saved_nanos is not None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", saved_nanos)
    spark.conf.set("spark.sql.session.timeZone", saved_tz)


@pytest.mark.parametrize("name", _SENTINELS)
def test_query_survives_vanilla_session(vanilla_confs, sf_dir, name):
    spark = vanilla_confs
    con = duckdb_connection(sf_dir)
    res = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert res["rows_match"], f"{name}: rows {res['rows']}"
    assert res["hash_match"], f"{name}: hash mismatch under vanilla session"


def test_registered_callable_pins_confs(vanilla_confs, sf_dir):
    """After invoking any registered query, the session confs are
    pinned — proving the wrapper (not test-suite ordering) fixes the
    environment."""
    spark = vanilla_confs
    QUERIES["p6_station_names"](spark, sf_dir)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_default_driver_memory_fits_the_machine(tmp_path):
    """The default heap is 16g capped at a share of MemTotal, so on a
    small box cached frames spill instead of the JVM outgrowing RAM."""
    from curw_wrf_data_pusher_spark.session import (
        DRIVER_MEM_FRACTION,
        MAX_DRIVER_MEM_MB,
        _default_driver_memory,
    )

    def with_total(gb: int) -> str:
        p = tmp_path / f"meminfo_{gb}"
        p.write_text(f"MemTotal:       {gb * 1024 * 1024} kB\nMemFree: 1 kB\n")
        return _default_driver_memory(str(p))

    assert with_total(15) == f"{int(15 * 1024 * DRIVER_MEM_FRACTION)}m"
    assert with_total(256) == f"{MAX_DRIVER_MEM_MB}m"
    assert _default_driver_memory(str(tmp_path / "absent")) == "16384m"
