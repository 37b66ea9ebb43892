"""Table loader over the driver's parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. One parquet each under an ``sf_dir``.

Scale notes (100 TB): loading stays a plain parquet scan so Catalyst keeps
predicate pushdown / column pruning / partition pruning. The only transform
applied at load time is a cheap projection fixing the events ``ts`` column
(ns-long -> timestamp_ntz @ µs), which Catalyst folds into the scan's
projection; it does not block pushdown of ``ts`` range predicates expressed
on the converted column (they stay as filters over a deterministic
expression evaluated inside the scan stage, still pruning row groups via
``event_id``/partition stats where present).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions a planner should always broadcast in joins.
BROADCAST_TABLES = {"region", "nation"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types for determinism.

    The shipped fixtures store events.ts as INT64 TIMESTAMP(MICROS),
    which Spark reads natively. The bigint branch handles files that
    store nanoseconds instead: Spark cannot map INT64 TIMESTAMP(NANOS),
    so with ``nanosAsLong`` it reads as long, and we convert to
    timestamp_ntz truncated to µs — exactly matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` so differential oracles compare equal.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div (not float div): ns epochs exceed double's 53-bit
        # mantissa, so a float path would corrupt low-order µs digits.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
