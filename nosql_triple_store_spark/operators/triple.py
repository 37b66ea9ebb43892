"""Triple-store semantics layer: reference-parity operators R1–R9.

The reference models a distributed LWW-register map keyed (subject,
predicate) (SURVEY §1.1). The driver's ``events`` table stands in:
(user_id, event_type) ≈ (subject, predicate), (value/props, ts) ≈ the LWW
(object, timestamp) register (FIXTURES.md §2).

Reference lineage per query (file:line in /root/reference):
- point scan: SQLite3DBConnector.py:29-46 fetch_rows_related_to_subject
- range routing/pruning: MasterServer.py:59-63 SHARDING, :77-87 getShardID
- keyed upsert: SQLite3DBConnector.py:48-119 update_or_add_subject_predicate
- LWW merge: SQLite3DBConnector.py:134-180 mergeSelf;
  MasterServer.py:106-115 merge_updates, :384-432 /merge_2_servers/
- changelog: SQLite3DBConnector.py:182-198 remoteMergeLocalUpdates

Every query here is a pure DataFrame plan: Catalyst pushes the filters to
the parquet scan (replacing the reference's getShardID routing with
partition/row-group pruning) and the LWW aggregates get map-side partial
aggregation (see functions/lww.py for the scale argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.lww import latest_by_key, lww_merge
from ..registry import register

# Shared DuckDB-side normalization: CAST to TIMESTAMP truncates an
# ns-precision events.ts to µs (the shipped fixtures already store µs),
# matching the Spark-side conversion in catalog.load_table.
E_CTE = (
    "WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,"
    " event_type, value, props FROM events)"
)

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@register(
    "q_point_lookup",
    oracle=f"{E_CTE} SELECT event_id, ts, user_id, event_type, value, props "
    "FROM e WHERE user_id = 7",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: point scan by subject — all rows for one key.

    Scan with an equality predicate; Catalyst pushes it into the parquet
    reader (PushedFilters) so only row groups whose user_id min/max straddle
    7 are read. On a table bucketed/partitioned by user_id this prunes to
    one partition — the Spark replacement for getShardID routing.
    """
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("user_id") == 7).select(*_EVENT_COLS)


@register(
    "q_pattern_filter",
    oracle=f"{E_CTE} SELECT event_id, ts, user_id, event_type, value, props "
    "FROM e WHERE event_type = 'purchase' "
    "AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'",
)
def q_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R5: triple-pattern + range predicate (conjunctive pushdown)."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= F.lit("2024-01-10").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-20").cast("timestamp_ntz"))
    ).select(*_EVENT_COLS)


@register(
    "q_range_prune",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
    "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1996-07-01'",
)
def q_range_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/R20: range-shard scan — the reference's offline sort-partition
    (notebook cells 1,4) becomes repartitionByRange layout + min/max
    row-group skipping; the query is a pushed range predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    )


@register(
    "q_shard_assign",
    oracle="SELECT c_custkey // 500 AS shard_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_customers, "
    "MIN(c_custkey) AS lo_custkey, MAX(c_custkey) AS hi_custkey "
    "FROM customer GROUP BY 1",
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/R18: range-bucket shard assignment + per-shard stats.

    The reference's SHARDING dict (MasterServer.py:59-63) as a derived
    column; at scale this is the expression you'd repartitionByRange on.
    """
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.withColumn("shard_id", F.expr("c_custkey div 500"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("lo_custkey"),
            F.max("c_custkey").alias("hi_custkey"),
        )
    )


_LWW_LATEST_ORACLE = f"""
{E_CTE},
ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e)
SELECT user_id, event_type, event_id, ts, value FROM ranked WHERE rn = 1
"""


@register("q_lww_latest", oracle=_LWW_LATEST_ORACLE)
def q_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R3 read view: current LWW register state = newest row per key.

    max_by aggregate (partial+final hash agg) rather than window/row_number:
    one shuffle, map-side combine, no per-partition sort — the formulation
    that survives 100 TB. Ties broken by event_id DESC (the reference's
    strict `>` compare leaves ties arbitrary; we need hash-stable output).
    """
    events = load_table(spark, sf_dir, "events")
    return latest_by_key(
        events,
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value"],
    )


_LWW_MERGE_ORACLE = f"""
{E_CTE},
delta AS (
  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
         value * 2 AS value
  FROM e WHERE event_type = 'purchase'),
unioned AS (
  SELECT event_id, ts, user_id, event_type, value FROM e
  UNION ALL SELECT * FROM delta),
ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM unioned)
SELECT user_id, event_type, event_id, ts, value FROM ranked WHERE rn = 1
"""


@register("q_lww_merge", oracle=_LWW_MERGE_ORACLE)
def q_lww_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/R8/R9: anti-entropy merge of base + a delta batch.

    The reference's pairwise /merge_2_servers/ orchestration collapses to
    unionByName + one LWW aggregate; commutativity/associativity (verified
    in tests/test_lww_properties.py) is what lets N replicas merge in any
    order — the same property report.pdf §5.3 asserts informally.
    """
    events = load_table(spark, sf_dir, "events")
    delta = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
    )
    base = events.select("event_id", "ts", "user_id", "event_type", "value")
    return lww_merge(
        base,
        [delta],
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value"],
    )


@register(
    "q_changelog_count",
    oracle=f"{E_CTE} SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_changes "
    "FROM e WHERE ts > TIMESTAMP '2024-01-25' GROUP BY user_id",
)
def q_changelog_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4/R11: delta extraction — per-key changelog volume past a cutoff.

    The reference's in-memory updateModifications dict becomes a filtered
    aggregate over the event log; filter pushes to the scan, count gets
    map-side combine.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("ts") > F.lit("2024-01-25").cast("timestamp_ntz"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_changes"))
    )


_UPSERT_ORACLE = f"""
{E_CTE},
state AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e),
p AS (
  SELECT user_id, MAX(ts) AS mx, MAX(value) AS mv,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e WHERE event_type = 'purchase' GROUP BY user_id),
updates AS (
  SELECT user_id, 'purchase' AS event_type, CAST(-1 AS BIGINT) AS event_id,
         mx + INTERVAL 1 HOUR AS ts, mv + 1.0 AS value, 1 AS priority
  FROM p
  UNION ALL
  SELECT user_id, 'purchase_total', CAST(-2 AS BIGINT),
         mx + INTERVAL 1 HOUR, CAST(c AS DOUBLE), 1
  FROM p),
unioned AS (
  SELECT user_id, event_type, event_id, ts, value, 0 AS priority
  FROM state WHERE rn = 1
  UNION ALL
  SELECT user_id, event_type, event_id, ts, value, priority FROM updates),
ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY priority DESC, ts DESC, event_id DESC)
           AS rn
  FROM unioned)
SELECT user_id, event_type, event_id, ts, value FROM ranked WHERE rn = 1
"""


@register("q_upsert_result", oracle=_UPSERT_ORACLE)
def q_upsert_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 end-to-end: register state after applying an updates batch.

    MERGE INTO emulation as a *priority union*: base state at priority 0,
    updates at priority 1, then one max_by aggregate keyed (user_id,
    event_type) ordered (priority, ts, event_id). Updates win over base
    regardless of timestamp (true upsert), new keys insert. Unlike a
    full-outer join (which cannot broadcast and forces a sort-merge join),
    the priority union is a partial-aggregable shuffle — the shape that
    scales; with Delta/Iceberg this is literally MERGE INTO.
    Exercises both paths: 'purchase' keys overwrite, 'purchase_total' keys
    are new inserts.
    """
    events = load_table(spark, sf_dir, "events")
    state = latest_by_key(
        events,
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value"],
    ).withColumn("priority", F.lit(0))

    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("mx"),
            F.max("value").alias("mv"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    upd_overwrite = p.select(
        "user_id",
        F.lit("purchase").alias("event_type"),
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("mx") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        (F.col("mv") + F.lit(1.0)).alias("value"),
        F.lit(1).alias("priority"),
    )
    upd_insert = p.select(
        "user_id",
        F.lit("purchase_total").alias("event_type"),
        F.lit(-2).cast("long").alias("event_id"),
        (F.col("mx") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.col("c").cast("double").alias("value"),
        F.lit(1).alias("priority"),
    )
    unioned = state.select(
        "user_id", "event_type", "event_id", "ts", "value", "priority"
    ).unionByName(upd_overwrite).unionByName(upd_insert)
    return latest_by_key(
        unioned,
        keys=["user_id", "event_type"],
        order=["priority", "ts", "event_id"],
        payload=["event_id", "ts", "value"],
    )
