"""Unit tests for JDBC option/SQL construction, maintenance sinks, and
the orchestration runner."""

from __future__ import annotations

import os
import tarfile
import time

import pytest
from pyspark.sql import functions as F

from curw_wrf_data_pusher_spark.plans.runner import RunReport, run_wrf_push
from curw_wrf_data_pusher_spark.sinks.maintenance import (
    archive_dir,
    retention_delete,
)
from curw_wrf_data_pusher_spark.sinks.upsert import build_mysql_upsert_sql
from curw_wrf_data_pusher_spark.sources.jdbc import (
    active_stations_query,
    jdbc_options,
    read_dim,
)

from .test_wrf_pipeline import CFG
from .wrf_fixture import EPOCH_STR, FGT_UTC, make_grid_pdf


def test_mysql_upsert_sql_shape():
    sql = build_mysql_upsert_sql(
        "fcst_data", ["tms_id", "time", "fgt", "value"], ["fgt", "value"]
    )
    assert sql == (
        "INSERT INTO fcst_data (tms_id, time, fgt, value) "
        "VALUES (%s, %s, %s, %s) "
        "ON DUPLICATE KEY UPDATE fgt=VALUES(fgt), value=VALUES(value)"
    )


def test_jdbc_options_partitioned_scan():
    opts = jdbc_options(
        "jdbc:mysql://host/db", "fcst_data", "u", "p",
        partition={"column": "station_id", "lowerBound": 0,
                   "upperBound": 16038, "numPartitions": 32},
    )
    assert opts["dbtable"] == "fcst_data"
    assert opts["partitionColumn"] == "station_id"
    assert opts["numPartitions"] == "32"
    q = jdbc_options("u", "SELECT 1", "u", "p", is_query=True)
    assert "query" in q and "dbtable" not in q


def test_jdbc_partitioned_read_roundtrip(spark, tmp_path):
    """REAL JDBC integration: write a dim to an embedded Derby database
    (the JDBC engine Spark ships), then read it back through read_dim
    with a 4-way range partitioning — the scan must split into 4 input
    partitions (one range-predicate query each) and return identical
    rows.  This is the S3/S4 scale path: a big dim scan must never be a
    single JDBC task."""
    import pandas as pd

    url = f"jdbc:derby:{tmp_path}/dimdb;create=true"
    pdf = pd.DataFrame(
        {"id": list(range(100)), "name": [f"s{i}" for i in range(100)]}
    )
    # Derby folds unquoted identifiers to upper case and scopes tables
    # by a schema named after the user — write unqualified (default APP
    # schema), read back as user APP.
    spark.createDataFrame(pdf).write.format("jdbc").option(
        "url", url
    ).option("dbtable", "STATIONS").save()
    out = read_dim(
        spark, url, "STATIONS", "APP", "",
        partition={"column": "id", "lowerBound": 0,
                   "upperBound": 100, "numPartitions": 4},
    )
    assert out.rdd.getNumPartitions() == 4
    got = sorted((r["id"], r["name"]) for r in out.collect())
    assert got == sorted(zip(pdf["id"], pdf["name"]))


def test_active_stations_query_is_filter_pushdown():
    q = active_stations_query(days=7)
    assert "INTERVAL 7 DAY" in q and "stored" not in q.lower()


def test_archive_and_retention(tmp_path):
    src = tmp_path / "rfields"
    src.mkdir()
    (src / "a.txt").write_text("1\n")
    tar_path = archive_dir(str(src), str(tmp_path / "out" / "rfields.tar.gz"))
    with tarfile.open(tar_path) as t:
        assert "rfields/a.txt" in t.getnames()

    old = tmp_path / "lake" / "old.nc"
    new = tmp_path / "lake" / "new.nc"
    old.parent.mkdir()
    old.write_text("x")
    new.write_text("y")
    os.utime(old, (time.time() - 100 * 86400,) * 2)
    removed = retention_delete(str(tmp_path / "lake"), max_age_days=90)
    assert [os.path.basename(p) for p in removed] == ["old.nc"]
    assert new.exists() and not old.exists()


def test_runner_end_to_end_and_error_capture(spark, tmp_path):
    grid = (
        spark.createDataFrame(make_grid_pdf())
        .withColumn("source_file", F.lit("fixture.nc"))
        .withColumn("fgt_utc", F.lit(FGT_UTC).cast("timestamp"))
        .withColumn("epoch_str", F.lit(EPOCH_STR))
    )
    report = run_wrf_push(
        spark, CFG, grid, str(tmp_path / "store"),
        rfield_dir=str(tmp_path / "rf"),
    )
    assert report.ok
    steps = {s["step"]: s for s in report.steps}
    assert steps["push"]["rows"] == 2 * 12 * 6 * 5
    assert steps["push"]["series"] == 2 * 6 * 5
    assert steps["rfields"]["files"] == 2 * (2 * 12)  # d03 + kelani

    # error capture: a grid missing required columns must produce a
    # failed step, not an unhandled exception
    bad = spark.range(3)
    report2 = run_wrf_push(spark, CFG, bad, str(tmp_path / "store2"))
    assert not report2.ok
    assert "push" == report2.steps[0]["step"]
    assert report2.steps[0]["detail"]


def _write_fixture_nc(base) -> int:
    """The runner fixture grid as one classic .nc per system, in
    ``<base>/<system>/`` so the reader recovers the system from the
    path.  Returns the file count."""
    import numpy as np

    from curw_wrf_data_pusher_spark.sources.netcdf3 import NetCDF3Writer

    from .wrf_fixture import H, SYSTEMS, T, W

    pdf = make_grid_pdf()
    for system in SYSTEMS:
        g = pdf[pdf["wrf_system"] == system].sort_values(["t_idx", "y", "x"])
        os.makedirs(base / system)
        w = NetCDF3Writer(str(base / system / "d03_RAINNC.nc"))
        w.createDimension("Time", None)
        w.createDimension("south_north", H)
        w.createDimension("west_east", W)
        xt = w.createVariable("XTIME", "i8", ("Time",))
        xt[:] = 15 * (np.arange(T, dtype="i8") + 1)
        xt.description = f"minutes since {EPOCH_STR}"
        for name, col in (("XLAT", "latitude"), ("XLONG", "longitude"),
                          ("RAINNC", "rainnc_cum")):
            v = w.createVariable(
                name, "f4", ("Time", "south_north", "west_east")
            )
            v[:] = g[col].to_numpy("f4").reshape(T, H, W)
        w.close()
    return len(SYSTEMS)


def test_runner_decodes_once_and_releases_its_cache(spark, tmp_path):
    """One run_wrf_push decodes each (file, slab) once, although the
    push and rfields steps run about seven Spark actions over the
    grid; and every path — success, a failed push step, the emptiness
    guard — leaves the cache manager empty."""
    from curw_wrf_data_pusher_spark.sources.netcdf import (
        GRID_SCHEMA,
        _default_open_dataset,
        read_wrf_grid_split,
    )

    n_files, splits = _write_fixture_nc(tmp_path / "nc"), 3
    opens = spark.sparkContext.accumulator(0)
    open_dataset = _default_open_dataset()

    def counting_open(content):
        opens.add(1)
        return open_dataset(content)

    def read():
        return read_wrf_grid_split(
            spark, str(tmp_path / "nc"), splits_per_file=splits,
            open_dataset=counting_open,
        )

    # one pass = one action over a fresh read: every (file, slab) task
    # opens its file twice (the time-axis probe, then the slab decode)
    read().write.format("noop").mode("overwrite").save()
    one_pass = opens.value
    assert one_pass == 2 * n_files * splits

    spark.catalog.clearCache()
    opens.value = 0
    report = run_wrf_push(
        spark, CFG, read(), str(tmp_path / "store"),
        rfield_dir=str(tmp_path / "rf"),
    )
    assert report.ok, report.steps
    steps = {s["step"]: s for s in report.steps}
    # the same figures as test_runner_end_to_end_and_error_capture
    assert steps["push"]["rows"] == 2 * 12 * 6 * 5
    assert steps["push"]["series"] == 2 * 6 * 5
    assert steps["rfields"]["files"] == 2 * (2 * 12)
    assert opens.value == one_pass, "the grid was decoded more than once"
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()

    bad = run_wrf_push(spark, CFG, spark.range(3), str(tmp_path / "s2"))
    assert [s["step"] for s in bad.steps] == ["push"] and not bad.ok
    assert cache.isEmpty()

    # the emptiness guard fires when an empty grid meets an existing
    # store (into a fresh store the first write itself fails)
    empty = spark.createDataFrame([], GRID_SCHEMA)
    guard = run_wrf_push(spark, CFG, empty, str(tmp_path / "store"))
    assert guard.steps[0]["detail"] == "timeseries is empty"
    assert cache.isEmpty()


def test_runner_seq_variant_single_system(spark, tmp_path):
    grid = (
        spark.createDataFrame(make_grid_pdf())
        .withColumn("source_file", F.lit("fixture.nc"))
        .withColumn("fgt_utc", F.lit(FGT_UTC).cast("timestamp"))
        .withColumn("epoch_str", F.lit(EPOCH_STR))
    )
    report = run_wrf_push(
        spark, CFG, grid, str(tmp_path / "store"), systems=["A"]
    )
    assert report.ok
    assert report.steps[0]["rows"] == 12 * 6 * 5  # one system only


def test_upsert_jdbc_real_database_roundtrip(spark, tmp_path):
    """Run the actual foreachPartition sink against a real database
    (SQLite dialect): insert, then re-push with changed values — the
    conflict path must update, concurrent partitions must serialize
    via the retry wrapper."""
    import sqlite3

    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_jdbc

    db = str(tmp_path / "store.db")
    with sqlite3.connect(db) as c:
        c.execute(
            "CREATE TABLE fcst_data (tms_id TEXT, time TEXT, fgt TEXT, "
            "value REAL, PRIMARY KEY (tms_id, time))"
        )

    rows1 = [(f"s{i % 5}", f"t{i}", "f1", float(i)) for i in range(200)]
    df1 = spark.createDataFrame(
        rows1, "tms_id string, time string, fgt string, value double"
    ).repartition(8)

    def connect():
        import sqlite3 as sq

        return sq.connect(db, timeout=60)

    upsert_jdbc(
        df1, connect, "fcst_data", key_columns=["tms_id", "time"],
        batch_size=32, retries=3, retry_wait_s=0.2, dialect="sqlite",
    )
    with sqlite3.connect(db) as c:
        n, fgts = c.execute(
            "SELECT count(*), group_concat(DISTINCT fgt) FROM fcst_data"
        ).fetchone()
    assert n == 200 and fgts == "f1"

    # re-push same keys with new fgt and shifted values → updated, not
    # duplicated (the reference's whole-file re-push)
    rows2 = [(k, t, "f2", v + 0.5) for k, t, _, v in rows1]
    df2 = spark.createDataFrame(
        rows2, "tms_id string, time string, fgt string, value double"
    ).repartition(8)
    upsert_jdbc(
        df2, connect, "fcst_data", key_columns=["tms_id", "time"],
        batch_size=32, retries=3, retry_wait_s=0.2, dialect="sqlite",
    )
    with sqlite3.connect(db) as c:
        n, fgts, v = c.execute(
            "SELECT count(*), group_concat(DISTINCT fgt), sum(value) "
            "FROM fcst_data"
        ).fetchone()
    assert n == 200 and fgts == "f2"
    assert v == sum(r[3] for r in rows2)


def _partition_state(store: str, part: str) -> dict[str, bytes]:
    """filename → bytes for every data file under one partition dir."""
    d = os.path.join(store, part)
    out = {}
    for f in sorted(os.listdir(d)):
        if f.startswith(("part-", ".part-")) and not f.endswith(".crc"):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
    return out


def test_upsert_parquet_partition_scoped(spark, tmp_path):
    """The 100 TB merge path: an upsert touching partition d1 must leave
    partition d2's files byte-identical (never read, never rewritten)."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", 1.0), ("s1", "t2", "d1", 2.0),
         ("s2", "t1", "d2", 3.0), ("s2", "t2", "d2", 4.0)],
        "tms_id string, time string, run_date string, value double",
    )
    n0 = upsert_parquet(
        spark, base, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n0 == 4
    before_d2 = _partition_state(store, "run_date=d2")
    assert before_d2  # the partition exists and has data files

    # touch ONLY d1: replace (s1,t1) and add (s3,t9)
    push = spark.createDataFrame(
        [("s1", "t1", "d1", 10.0), ("s3", "t9", "d1", 9.0)],
        "tms_id string, time string, run_date string, value double",
    )
    n1 = upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n1 == 3  # kept (s1,t2) + two incoming rows

    after_d2 = _partition_state(store, "run_date=d2")
    assert after_d2 == before_d2  # untouched partition: bytes unchanged

    got = {
        (r["tms_id"], r["time"]): (r["run_date"], r["value"])
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        ("s1", "t1"): ("d1", 10.0), ("s1", "t2"): ("d1", 2.0),
        ("s3", "t9"): ("d1", 9.0),
        ("s2", "t1"): ("d2", 3.0), ("s2", "t2"): ("d2", 4.0),
    }

    # idempotence: re-pushing the same rows changes nothing
    n2 = upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n2 == n1
    assert spark.read.parquet(store).count() == 5


def test_upsert_parquet_flat_store_migrates_not_corrupts(spark, tmp_path):
    """A partition-scoped upsert against a store written FLAT (by the
    earlier unpartitioned path) must NOT dynamic-overwrite partition
    dirs beside the flat files (duplicate keys, silent corruption).
    The layout probe routes it to the full-store merge, which also
    migrates the store to the partitioned layout."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "flat_store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", 1.0), ("s2", "t1", "d2", 3.0)],
        "tms_id string, time string, run_date string, value double",
    )
    # flat write: no partition columns
    assert upsert_parquet(spark, base, store, keys=["tms_id", "time"]) == 2
    assert any(
        f.startswith("part-") for f in os.listdir(store)
    )  # flat data files at the root

    push = spark.createDataFrame(
        [("s1", "t1", "d1", 10.0), ("s3", "t9", "d1", 9.0)],
        "tms_id string, time string, run_date string, value double",
    )
    upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    got = {
        (r["tms_id"], r["time"]): (r["run_date"], r["value"])
        for r in spark.read.parquet(store).collect()
    }
    # no duplicate keys, replaced row replaced, unrelated row kept
    assert got == {
        ("s1", "t1"): ("d1", 10.0),
        ("s3", "t9"): ("d1", 9.0),
        ("s2", "t1"): ("d2", 3.0),
    }
    # store migrated to the partitioned layout: subsequent pushes take
    # the scoped path
    assert any(f.startswith("run_date=") for f in os.listdir(store))
    assert not any(f.startswith("part-") for f in os.listdir(store))


def test_upsert_parquet_swap_is_rename(spark, tmp_path):
    """Unpartitioned form: the staging swap must not leave .staging or
    .old residue and must preserve merge semantics."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "swap_store")
    df1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double"
    )
    df2 = spark.createDataFrame(
        [("b", 20.0), ("c", 3.0)], "k string, v double"
    )
    assert upsert_parquet(spark, df1, store, keys=["k"]) == 2
    assert upsert_parquet(spark, df2, store, keys=["k"]) == 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(store).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0}
    assert not os.path.exists(store + ".staging")
    assert not os.path.exists(store + ".old")


def test_load_table_memo_sees_rewritten_files(spark, tmp_path):
    """The per-session load_table memo must not serve a stale plan
    handle when the parquet at the path is rewritten within one
    session (regenerated testdata): the memo key carries an
    (mtime, size) freshness token, so a rewrite is a cache miss."""
    from curw_wrf_data_pusher_spark.sources.lake import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")
    spark.range(3).selectExpr("id AS r_regionkey").coalesce(1).toPandas() \
        .to_parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 3
    # memo hit: identical call returns the same plan handle
    assert load_table(spark, sf_dir, "region") is load_table(
        spark, sf_dir, "region"
    )
    time.sleep(0.01)  # ensure a distinct mtime_ns on coarse filesystems
    spark.range(5).selectExpr("id AS r_regionkey").coalesce(1).toPandas() \
        .to_parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 5


# ---------------------------------------------------------------------------
# schema evolution (sources/lake.py::read_evolving / align_schema)


def test_read_evolving_merges_vintages_and_aligns(spark, tmp_path):
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import read_evolving

    lake = str(tmp_path / "lake")
    # vintage 1: (id int, v float)
    spark.createDataFrame([(1, 1.5), (2, 2.5)], "id int, v float") \
        .write.parquet(lake)
    # vintage 2: adds a string column AND widens v to double — beyond
    # what mergeSchema accepts (Spark refuses float/double merges);
    # the explicit-target read handles both per file
    spark.createDataFrame(
        [(3, 3.5, "x")], "id int, v double, tag string"
    ).write.mode("append").parquet(lake)

    target = T.StructType([
        T.StructField("id", T.LongType()),      # widened int -> long
        T.StructField("v", T.DoubleType()),     # widened float -> double
        T.StructField("tag", T.StringType()),   # added mid-history
        T.StructField("score", T.DoubleType()),  # not written yet
    ])
    out = read_evolving(spark, lake, target)
    assert [f.name for f in out.schema.fields] == [
        "id", "v", "tag", "score"
    ]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].tag is None and rows[1].score is None
    assert rows[3].tag == "x"
    assert abs(rows[2].v - 2.5) < 1e-9
    assert out.schema["id"].dataType.simpleString() == "bigint"


def test_align_schema_rejects_incompatible_drift(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import align_schema

    df = spark.createDataFrame([(1, "oops")], "id int, v string")
    target = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    with _pytest.raises(ValueError, match="column 'v'"):
        align_schema(df, target)
    # narrowing long -> int is also refused
    df2 = spark.createDataFrame([(1,)], "n long")
    t2 = T.StructType([T.StructField("n", T.IntegerType())])
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df2, t2)


def test_align_schema_refuses_integral_to_float(spark):
    """Round-8 advisor fix: FloatType must not accept integral
    sources — casting long→float silently loses up to 40 bits
    (2**60+1 → 1.15e18), violating the lossless-widening contract.
    long→double stays allowed as the conventional SQL promotion."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import align_schema

    df = spark.createDataFrame([(2**60 + 1,)], "n long")
    t_float = T.StructType([T.StructField("n", T.FloatType())])
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df, t_float)
    # int → float is equally refused (int doesn't fit a 24-bit mantissa)
    df_i = spark.createDataFrame([(1,)], "n int")
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df_i, t_float)
    # the accepted promotions still work
    t_double = T.StructType([T.StructField("n", T.DoubleType())])
    assert align_schema(df, t_double).schema["n"].dataType == T.DoubleType()
    t_long = T.StructType([T.StructField("n", T.LongType())])
    assert align_schema(df_i, t_long).collect()[0].n == 1


def test_read_evolving_cast_reconcile_covers_long_to_double(
    spark, tmp_path
):
    """long→double is an align_schema cast promotion but NOT a parquet
    reader widening: the fast reader path fails at execution on a
    long-vintage file under a double target, and reconcile='cast'
    (mergeSchema + align_schema) is the documented transition-window
    escape hatch."""
    import pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import read_evolving

    lake = str(tmp_path / "lake")
    spark.createDataFrame([(1, 10)], "id long, v long").write.parquet(
        f"{lake}/part=a"
    )
    spark.createDataFrame([(2, 2.5)], "id long, v double").write.parquet(
        f"{lake}/part=b"
    )
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    with pytest.raises(Exception):  # reader widening lacks long→double
        read_evolving(spark, lake, target).collect()
    out = read_evolving(spark, lake, target, reconcile="cast")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "double",
    ]
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, 10.0), (2, 2.5)}


def test_plan_compaction_reports_leaf_dirs(spark, tmp_path):
    from curw_wrf_data_pusher_spark.sinks.maintenance import (
        compact_small_files,
        plan_compaction,
    )

    lake = str(tmp_path / "lake")
    # partition a: fragmented (8 files); partition b: already compact
    spark.range(2000).selectExpr("id", "id * 2 AS v").repartition(8) \
        .write.parquet(f"{lake}/day=a")
    spark.range(2000).selectExpr("id", "id * 2 AS v").coalesce(1) \
        .write.parquet(f"{lake}/day=b")

    plan = plan_compaction(lake, target_file_bytes=1 << 30)
    by_path = {r["path"]: r for r in plan}
    a = by_path[f"{lake}/day=a"]
    b = by_path[f"{lake}/day=b"]
    assert a["n_files"] == 8 and a["needs_compaction"]
    assert b["n_files"] == 1 and not b["needs_compaction"]
    # worst-first ordering
    assert plan[0]["path"] == a["path"]

    # acting on the plan clears the flag (and only the flagged dir)
    compact_small_files(spark, a["path"], target_file_bytes=1 << 30)
    plan2 = {r["path"]: r for r in plan_compaction(
        lake, target_file_bytes=1 << 30)}
    assert not plan2[a["path"]]["needs_compaction"]
    assert plan2[a["path"]]["n_files"] == 1
