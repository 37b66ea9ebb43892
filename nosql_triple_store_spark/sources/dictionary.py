"""Dictionary encoding for triple terms (S2RDF §4 / every serious RDF
engine): long IRI/literal strings become integer ids, shrinking shuffle
and storage width for the self-join-heavy BGP workload — joins on 8-byte
longs instead of variable-width strings.

Two id schemes:
- 'dense': contiguous ids 1..N by sorted term. Scale-safe two-pass
  assignment (no global-sort single-partition window): range-partition
  the distinct terms by term, count per partition, prefix-compose the
  counts into broadcast offsets (a P-row aggregate, P = number of
  partitions), then id = per-partition row_number + partition offset.
  Range-partitioner boundary placement only moves WHERE a term sits,
  never its global rank, so ids are identical to the naive
  row_number-over-global-sort regardless of sampling.
- 'hash': xxhash64(term) — embarrassingly parallel, no sort, stable under
  dictionary growth; 64-bit collisions are checked and rejected loudly
  (birthday bound: ~50% at 5e9 terms, so verification is mandatory, not
  paranoia).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    start: int = 1,
    n_parts: int | None = None,
) -> DataFrame:
    """Scale-safe dense-rank id assignment: ids start..start+N-1 by
    sorted `col`, WITHOUT a single-partition global window over the N
    data rows. Two passes: range-partition by `col` (the partitioner
    guarantees partition i's values all sort before partition i+1's,
    so spark_partition_id is monotone in value order), count per
    partition, prefix-compose the P counts into broadcast offsets (the
    only global window left is over P rows, P = partition count), then
    id = per-partition row_number + partition offset. Range-partitioner
    boundary sampling only moves WHERE a value sits, never its global
    rank, so the result is identical to row_number-over-global-sort.

    Input must be distinct on `col` (dense-RANK semantics otherwise
    differ); callers pass .distinct() frames.
    """
    if n_parts is None:
        n_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    t = df.repartitionByRange(n_parts, col).withColumn(
        "__pid", F.spark_partition_id()
    )
    counts = t.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_local = Window.partitionBy("__pid").orderBy(col)
    return (
        t.join(F.broadcast(offsets), "__pid")
        .select(
            (
                F.row_number().over(w_local)
                + F.col("__off")
                + F.lit(start - 1)
            )
            .cast("long")
            .alias(id_col),
            *[c for c in df.columns],
        )
    )


# The encoded store's on-disk layout, declared once: build_dictionary
# writes DICTIONARY_SCHEMA, the encoded store (relational_ext3.
# encoded_store) writes ENCODED_TRIPLES_SCHEMA, and its readers pass
# both to spark.read.schema, so no query pays a footer-inference job
# to rediscover them.
DICTIONARY_SCHEMA = "term_id long, term string"
ENCODED_TRIPLES_SCHEMA = "s long, p long, o long"


def build_dictionary(
    triples: DataFrame, ids: str = "dense", n_parts: int | None = None
) -> DataFrame:
    """(term_id long, term string) over all distinct s/p/o terms."""
    terms = (
        triples.select(F.col("s").alias("term"))
        .union(triples.select("p"))
        .union(triples.select("o"))
        .distinct()
    )
    if ids == "dense":
        return assign_dense_ids(
            terms, "term", id_col="term_id", start=1, n_parts=n_parts
        ).select("term_id", "term")
    if ids == "hash":
        d = terms.select(F.xxhash64("term").alias("term_id"), "term")
        collisions = (
            d.groupBy("term_id").count().filter(F.col("count") > 1).count()
        )
        if collisions:
            raise RuntimeError(
                f"{collisions} xxhash64 collisions in dictionary; "
                "use ids='dense'"
            )
        return d
    raise ValueError(f"unknown id scheme: {ids!r}")


def encode_triples(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """(s,p,o) strings -> (s_id, p_id, o_id) longs via three dictionary
    joins. The dictionary is broadcast when small; at scale, sort both
    sides by term once and the three joins share the shuffle."""
    d = dictionary
    out = triples
    for col in ("s", "p", "o"):
        dd = d.select(
            F.col("term").alias(col), F.col("term_id").alias(f"{col}_id")
        )
        out = out.join(F.broadcast(dd), col, "inner")
    return out.select("s_id", "p_id", "o_id")


def decode_triples(encoded: DataFrame, dictionary: DataFrame) -> DataFrame:
    d = dictionary
    out = encoded
    for col in ("s", "p", "o"):
        dd = d.select(
            F.col("term_id").alias(f"{col}_id"), F.col("term").alias(col)
        )
        out = out.join(F.broadcast(dd), f"{col}_id", "inner")
    return out.select("s", "p", "o")
