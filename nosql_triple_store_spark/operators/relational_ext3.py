"""Third extension batch: statistical aggregates, rank-distribution
windows, string edit distance, dictionary-encoded BGP execution."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.bgp import Var, compile_bgp, triples_view
from ..registry import register
from ..sources.dictionary import (
    DICTIONARY_SCHEMA,
    ENCODED_TRIPLES_SCHEMA,
    build_dictionary,
)
from .bgp_queries import STAR_ORACLE


@register("q_agg_approx_percentile", oracle=None)  # rows-only: sketch
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna summaries): the 100 TB
    percentile path — partial-aggregable sketches, no per-group sorted
    buffers. Rows-only (sketch boundaries are engine-specific);
    tests/test_approx.py bounds its error against the exact percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)), 4
        ).alias("median_qty_approx"),
        F.round(
            F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000)),
            4,
        ).alias("p99_price_approx"),
    )


@register(
    "q_agg_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
       ROUND(var_samp(l_discount), 6) AS var_disc,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments + correlation — single-pass partial-aggregable
    (both engines use numerically-stable merge formulas; rounding absorbs
    the last-ulp differences of their update orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
    )


@register(
    "q_window_rank_dist",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(percent_rank() OVER w, 6) AS pr,
       ROUND(cume_dist() OVER w, 6) AS cd,
       CAST(dense_rank() OVER w AS INT) AS dr
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def q_window_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank per customer — rank
    distributions are exact rational values (rank ratios), so rounding is
    cosmetic, not a float-order guard."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
    )


@register(
    "q_string_distance",
    oracle="""
WITH g AS (SELECT p_partkey, p_brand, p_size, p_name FROM part)
SELECT a.p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dist,
       ROUND(AVG(levenshtein(a.p_name, b.p_name)), 4) AS avg_dist
FROM g a JOIN g b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
  AND a.p_partkey < b.p_partkey
GROUP BY a.p_brand
""",
)
def q_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance over (brand, size)-blocked part-name pairs —
    fuzzy matching with a blocking key. The blocking key has FIXED
    cardinality, so enumerating ROW pairs is quadratic in rows (the r7
    sf1 sweep measured 28 s at 200k parts); rows first collapse to
    (brand, size, name) multiplicity groups — the name VOCABULARY is
    what's bounded — and the block join pairs distinct names once,
    weighting by c_a * c_b (equal-name pairs contribute C(c,2) at
    distance 0). Levenshtein runs once per distinct name pair instead
    of once per row pair; the weighted sums are exact integers in
    double, so the division matches the oracle's pair-enumerating AVG
    bit-for-bit."""
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy("p_brand", "p_size", "p_name").agg(
        F.count(F.lit(1)).alias("c")
    )
    a = g.select(
        "p_brand",
        F.col("p_size").alias("asz"),
        F.col("p_name").alias("an"),
        F.col("c").alias("ca"),
    )
    b = g.select(
        F.col("p_brand").alias("bb"),
        F.col("p_size").alias("bsz"),
        F.col("p_name").alias("bn"),
        F.col("c").alias("cb"),
    )
    cross = a.join(
        b,
        (a.p_brand == b.bb) & (a.asz == b.bsz) & (a.an < b.bn),
    ).select(
        "p_brand",
        F.levenshtein("an", "bn").cast("long").alias("d"),
        (F.col("ca") * F.col("cb")).alias("m"),
    )
    within = g.filter(F.col("c") >= 2).select(
        "p_brand",
        F.lit(0).cast("long").alias("d"),
        (F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("m"),
    )
    pairs = cross.unionByName(within)
    return pairs.groupBy("p_brand").agg(
        F.sum("m").alias("n_pairs"),
        F.min("d").alias("min_dist"),
        F.round(
            F.sum(F.col("d").cast("double") * F.col("m").cast("double"))
            / F.sum(F.col("m").cast("double")),
            4,
        ).alias("avg_dist"),
    )


@register(
    "q_unpivot",
    oracle="""
WITH m AS (
  SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
SELECT measure, ROUND(AVG(v), 4) AS avg_v, ROUND(MIN(v), 4) AS min_v,
       ROUND(MAX(v), 4) AS max_v, CAST(COUNT(*) AS BIGINT) AS n
FROM m GROUP BY measure
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide measure columns to (measure, value) rows, then
    one aggregate over all measures — the schema-normalization step for
    metric pipelines. Spark's unpivot is an Expand (no shuffle until the
    aggregate); the oracle states the same thing as a UNION ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "v",
    )
    return melted.groupBy("measure").agg(
        F.round(F.avg("v"), 4).alias("avg_v"),
        F.round(F.min("v"), 4).alias("min_v"),
        F.round(F.max("v"), 4).alias("max_v"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_sample_stratified",
    oracle="""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                     o_orderkey) AS rn
  FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn <= 2
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly 2 orders per customer, chosen by
    md5-of-key order — per-stratum quotas that are reproducible across
    engines/runs/cluster layouts (the property rand()-based sampling
    lacks). One window shuffle on the stratum key."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_join_nullsafe",
    oracle="""
WITH a AS (
  SELECT event_id, CASE WHEN value < 50 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_id < 300),
b AS (
  SELECT event_id, CASE WHEN value < 50 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_id >= 300 AND event_id < 600)
SELECT COALESCE(CAST(a.k AS VARCHAR), 'NULL') AS k_g,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1
""",
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other — the semantics regular equi-joins silently drop. Spark
    plans <=> as a hash join (null becomes a joinable value); bounded id
    slices keep the NULL-group cross product small."""
    events = load_table(spark, sf_dir, "events")
    k = F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("user_id"))
    a = events.filter(F.col("event_id") < 300).select(
        F.col("event_id").alias("a_id"), k.alias("ak")
    )
    b = events.filter(
        (F.col("event_id") >= 300) & (F.col("event_id") < 600)
    ).select(F.col("event_id").alias("b_id"), k.alias("bk"))
    joined = a.join(b, a.ak.eqNullSafe(b.bk))
    return joined.groupBy(
        F.coalesce(F.col("ak").cast("string"), F.lit("NULL")).alias("k_g")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


_ENC_STORE_DIRS: dict[str, tuple[str, str]] = {}
# check-then-build guard (ADVICE r5): same two-thread overwrite-while-
# reading race relational_ext55 fixes with its _CACHE_LOCK
_ENC_STORE_LOCK = threading.Lock()


def encoded_store(spark: SparkSession, sf_dir: str):
    """The dictionary-encoded triple store as scratch parquet, built
    ONCE per process — the on-disk layout every serious RDF engine
    keeps (S2RDF/RDF-3X store encoded triples + the dictionary; the
    encode pass and the xxhash64 collision check are load-time ETL, not
    per-query work). Returns (dictionary_df, encoded_triples_df), both
    columnar scans after first use; bench.py builds this in its layout
    phase like the co-purchase/shingle tables.

    Once built, a call submits ZERO Spark jobs: both directories are
    read with their declared schemas (DICTIONARY_SCHEMA,
    ENCODED_TRIPLES_SCHEMA, shared with the writer in
    sources/dictionary.py), so no parquet footer is inferred per query.
    The build checks both frames against those declarations before
    writing, so a drifted writer fails there instead of being
    re-inferred here."""
    with _ENC_STORE_LOCK:
        _encoded_store_build(spark, sf_dir)
    out_d, out_e = _ENC_STORE_DIRS[sf_dir]
    return (
        spark.read.schema(DICTIONARY_SCHEMA).parquet(out_d),
        spark.read.schema(ENCODED_TRIPLES_SCHEMA).parquet(out_e),
    )


def _encoded_store_build(spark: SparkSession, sf_dir: str) -> None:
    if sf_dir not in _ENC_STORE_DIRS:
        from ..scratch import check_declared, scratch_dir

        out_d = scratch_dir("bgp_dict", sf_dir)
        out_e = scratch_dir("bgp_enc", sf_dir)
        t = triples_view(spark, sf_dir)
        dictionary = build_dictionary(t, ids="hash")
        check_declared(dictionary, DICTIONARY_SCHEMA)
        dictionary.write.mode("overwrite").parquet(out_d)
        d = spark.read.schema(DICTIONARY_SCHEMA).parquet(out_d)
        enc = (
            t.join(
                F.broadcast(
                    d.select(
                        F.col("term").alias("s"),
                        F.col("term_id").alias("s_id"),
                    )
                ),
                "s",
            )
            .join(
                F.broadcast(
                    d.select(
                        F.col("term").alias("p"),
                        F.col("term_id").alias("p_id"),
                    )
                ),
                "p",
            )
            .join(
                F.broadcast(
                    d.select(
                        F.col("term").alias("o"),
                        F.col("term_id").alias("o_id"),
                    )
                ),
                "o",
            )
            .select(
                F.col("s_id").alias("s"),
                F.col("p_id").alias("p"),
                F.col("o_id").alias("o"),
            )
        )
        check_declared(enc, ENCODED_TRIPLES_SCHEMA)
        enc.write.mode("overwrite").parquet(out_e)
        _ENC_STORE_DIRS[sf_dir] = (out_d, out_e)


@register("q_bgp_star_encoded", oracle=STAR_ORACLE)
def q_bgp_star_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_bgp_star pattern executed over DICTIONARY-ENCODED triples:
    the materialized encoded store (encoded_store — dictionary + long
    triples as scratch parquet, built once like a real RDF engine's
    load ETL), the BGP compiled against the encoded relation (pattern
    constants looked up in the dictionary), variable bindings decoded
    back to strings — the full S2RDF execution pipeline, same oracle
    as the string-space query. The joins in the pattern run on 8-byte
    longs; only the (small) final result pays string decode."""
    d, enc = encoded_store(spark, sf_dir)
    const = {
        r["term"]: r["term_id"]
        for r in d.filter(
            F.col("term").isin("inSegment", "BUILDING", "inNation")
        ).collect()
    }
    bound = compile_bgp(
        enc,
        [
            (Var("c"), const["inSegment"], const["BUILDING"]),
            (Var("c"), const["inNation"], Var("n")),
        ],
    )
    dec_c = d.select(F.col("term_id").alias("c"), F.col("term").alias("c_str"))
    dec_n = d.select(F.col("term_id").alias("n"), F.col("term").alias("n_str"))
    return (
        bound.join(F.broadcast(dec_c), "c")
        .join(F.broadcast(dec_n), "n")
        .select(F.col("c_str").alias("c"), F.col("n_str").alias("n"))
    )
