"""SparkSession factory with scale-oriented defaults.

The same builder settings are intended for a 1000-executor cluster; only
``master``/core counts are local-test artifacts. Key choices:

- AQE on (coalesce shuffle partitions, skew-join splitting, dynamic join
  selection) so plans re-optimize at runtime at any scale.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- ``nanosAsLong`` so parquet storing ns-precision timestamps is readable
  (the shipped fixtures store µs); the catalog converts to timestamp_ntz
  (see catalog.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable confs every query needs for deterministic results,
# applied defensively in catalog.load_table too (the verification driver
# owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # ns-precision parquet timestamps surface as long (ns since epoch);
    # catalog.load_table converts to timestamp_ntz at µs precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # UTC everywhere: makes tz-aware <-> ntz casts and date_format
    # deterministic regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # 16 MB scan splits: the fixture tables are single parquet files,
    # and the 128 MB default gives a 110 MB file ONE split — every
    # pure-scan query then runs on one core (the r7 sf1 sweep measured
    # 10-25x wall for 10x data across the scalar/aggregate scan
    # family). Driver-SF files are <= 11 MB, so their plans keep a
    # single split either way. At 100 TB the knob is sized to executor
    # memory instead — see SCALE.md; the principle (splits ~ row
    # groups, not whole files) is the same.
    "spark.sql.files.maxPartitionBytes": "16m",
    # NOTE: a global adaptive.coalescePartitions.initialPartitionNum=192
    # was tried for the wide wedge-join stages and REJECTED: it fixed
    # q_graph_triangles (48 s -> ~10 s) but regressed q_dedup_near 7.9 s
    # -> 50 s and taxed every cheap query. Wide-intermediate operators
    # instead pin their own shuffle width with explicit repartition()
    # (see q_graph_triangles).
}


def get_spark(
    app_name: str = "nosql-triple-store-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs; on a
    real cluster, leave unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Long many-query sessions churn localCheckpoint / shuffle /
        # broadcast blocks whose unpersist rides ContextCleaner — which
        # only forces a driver GC every 30 MINUTES by default (the
        # spark.cleaner.periodicGC.interval default, left in place).
        # Round 11 set it to 5min as a dead-broadcast backstop; round
        # 12 removed that (VERDICT r11 #2): a timer-driven GC lands its
        # soft-ref-clearing pause inside RANDOM timed queries (the
        # round-11 driver bench's q_tpch_q5 1.83 s outlier; this
        # session's baseline showed scattered multi-second spreads,
        # e.g. q_stream_sliding spread 11.6 s). Block hygiene is now
        # fully deterministic and outside timed regions: bench.py /
        # profile_queries.py unpersist per-query checkpoint blocks
        # after each timed run and drive a System.gc() between queries
        # every N queries to reap dead broadcasts.
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the runtime-settable confs to an externally-created session
    and ship this package to the executors."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of this package so executor Python workers can
    unpickle by-reference functions (mapInPandas / applyInPandasWithState
    kernels). Required whenever the driver process imports the package
    from a path the workers don't share — which is exactly the cluster
    deployment model (spark-submit --py-files); local pytest runs mask
    the issue because workers inherit the repo cwd."""
    if getattr(spark, "_nts_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{os.getpid()}_ship.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # pragma: no cover - e.g. Connect-only sessions
        pass
    spark._nts_pkg_shipped = True
