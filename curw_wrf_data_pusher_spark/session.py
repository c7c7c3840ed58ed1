"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen so
the same plan scales on a multi-executor cluster: AQE on (runtime join
re-planning, partition coalescing, skew-join splitting), Arrow on (all
pandas-UDF paths are batch-vectorized), session timezone pinned to UTC
(the reference applies the +05:30 Asia/Colombo shift explicitly per
value — wrf_data_pusher.py:75-76 — so the engine must not also apply an
implicit session shift).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: the default driver heap: 16g, but never more than this share of the
#: machine's RAM — in local mode the driver JVM holds every executor's
#: cache, and a heap sized past physical memory swaps (or is killed)
#: where a smaller one spills cached blocks to disk
MAX_DRIVER_MEM_MB = 16 * 1024
DRIVER_MEM_FRACTION = 0.5


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset:
    16g capped at ``DRIVER_MEM_FRACTION`` of MemTotal (16g where
    ``/proc/meminfo`` is unavailable)."""
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_MB}m"
    cap_mb = int(total_kb / 1024 * DRIVER_MEM_FRACTION)
    return f"{min(MAX_DRIVER_MEM_MB, cap_mb)}m"


def get_spark(
    app_name: str = "curw_wrf_data_pusher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster set it (or rely on AQE coalescing) to ~2-3× total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects
        # natively; read as long and convert in sources.lake.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any cloudpickled function defined in this package (stateful
    streaming UDFs, mapInPandas readers) must be importable on the
    worker side; on a real cluster — or a driver launched from a CWD
    outside the repo — the package isn't on the workers' sys.path.
    A zip added once per session fixes both."""
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "curw_wrf_data_pusher_spark")
    zip_path = os.path.join(
        spark._jvm.System.getProperty("java.io.tmpdir") or "/tmp",
        f"curw_wrf_data_pusher_spark-{os.getpid()}.zip",
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for dirpath, _, names in os.walk(pkg):
                for name in names:
                    if not name.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
