"""Skew mitigation for hot keys at 100 TB: the salted equi-join.

AQE splits skewed join partitions on its own; :func:`salted_join` is
the manual fallback for the cases it cannot reach.  Skewed algebraic
aggregations (sum/count) need no salting — Spark's partial aggregation
already spreads a hot key before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.functions.exact import dec
from heatmap_spark.sources.tables import load_table


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """Skewed equi-join without AQE: fact rows get a deterministic salt,
    the (small) dim side is replicated across all ``n_salts`` salt
    values, and the join runs on (key, salt) — a hot fact key's rows
    land on ``n_salts`` different reducers instead of one.

    Result is identical to ``fact.join(dim, key)``; only the physical
    row distribution changes.  At 100 TB this is the manual fallback
    when AQE's skew-join split can't help (e.g. the skew is in a
    grouping that follows the join, or the dim is too big to broadcast
    but small enough to replicate xN).  The salt is derived from the
    fact row's own columns (xxhash64), never rand() — task retries must
    re-salt identically or shuffle retries lose/duplicate rows.
    """
    fact_cols = [F.col(c) for c in fact.columns]
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact_cols), F.lit(n_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(salted_dim, [key, "__salt"]).drop("__salt")


def salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query for the salted-join pattern: per-nation discounted
    revenue through a lineitem⋈supplier equi-join executed salted.

    The result is definitionally identical to the unsalted join (the
    oracle is the plain SQL join — that equality IS the correctness
    claim), while the physical plan spreads any hot supplier key across
    8 reducers.  Decimal-exact revenue keeps the value hash
    partition-order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    one = F.lit(1).cast("decimal(12,4)")
    revenue = F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
    return (
        salted_join(li, sup, "l_suppkey", n_salts=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            revenue.cast("decimal(18,6)").cast("double").alias("revenue"),
        )
    )
