"""Parquet table loading for the driver-generated fixtures (TESTDATA.md).

Production sources for the reference were Cassandra / CosmosDB
(reference heatmap.py:131-147); those connectors are config, not engine
code — see ``heatmap_spark.sources.connectors``.  Tests and the bench
read the deterministic parquet fixtures.

Like the reference's typed Cassandra tables, every fixture table has a
schema known before the job starts: ``SCHEMAS`` declares it, column for
column what Spark's parquet inference returns, so ``load_table`` builds
its DataFrame without a schema-inference Spark job.  A declared schema
reads a column missing from the file as nulls, so
``tests/test_sources.py`` pins each declaration to the fixtures.  The
one per-file choice — the type of the events ``ts`` column — is read
from the parquet footer on the driver (:func:`events_schema`).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT,"
        " p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    # ``ts`` as the micros fixtures store it; events_schema substitutes
    # the type the file at hand actually stores
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ts_type(path: str) -> str:
    """Spark type of the ``ts`` column of the parquet file (or first
    data file of the directory) at ``path``, from its footer alone:
    BIGINT for TIMESTAMP(NANOS) (read under nanosAsLong), TIMESTAMP_NTZ
    for a timestamp not adjusted to UTC — what inference returns for
    both — and TIMESTAMP otherwise (UTC-adjusted or INT96)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        data = [f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "_."]
        path = os.path.join(path, min(data))
    schema = pq.ParquetFile(path).schema
    col = schema.column(schema.names.index("ts"))
    lt = json.loads(col.logical_type.to_json()) if col.physical_type == "INT64" else {}
    if lt.get("Type") != "Timestamp":
        return "TIMESTAMP"
    if lt["timeUnit"] == "nanoseconds":
        return "BIGINT"
    return "TIMESTAMP" if lt["isAdjustedToUTC"] else "TIMESTAMP_NTZ"


def events_schema(spark: SparkSession, path: str) -> str:
    """Declared read schema of the events parquet at ``path``.

    Some driver-generated events fixtures store TIMESTAMP(NANOS), which
    Spark's parquet reader rejects; others store plain micros.  The
    footer decides: nanos are read as BIGINT with nanosAsLong on (set
    here, with the UTC session zone :func:`normalize_events` needs),
    and :func:`normalize_events` truncates them to micros."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return SCHEMAS["events"].replace("ts TIMESTAMP_NTZ", f"ts {_ts_type(path)}")


def normalize_events(df: DataFrame) -> DataFrame:
    """Events read with :func:`events_schema`, ``ts`` as TIMESTAMP micros.

    A BIGINT ts is nanos → truncate to micros (the same truncation
    DuckDB applies reading ns into its us-precision TIMESTAMP, so oracle
    comparisons agree).  Streaming watermarks and epoch functions need
    TIMESTAMP (LTZ); with the session pinned to UTC the NTZ→LTZ cast is
    value-preserving, so batch results and the DuckDB oracle agree."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ts = F.col("ts")
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    return df.select(
        "event_id",
        ts.cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise ValueError(f"unknown table {name!r}; known: {TABLES}")
    # Fixture timestamps are UTC instants and the DuckDB oracle compares
    # them TZ-naive; a non-UTC session would shift every date label and
    # collected timestamp.  Pin UTC here — the one choke point every
    # query loads through — so results are correct even when the caller
    # built the session without it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_events(spark.read.schema(events_schema(spark, path)).parquet(path))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_sf_view(df: DataFrame, base: str, sf_dir: str) -> str:
    """Register ``df`` under a temp-view name that ENCODES ``sf_dir``.

    Query functions that go through spark.sql need a view; a fixed view
    name is a race under concurrent queries against different scale
    dirs (thread B's createOrReplaceTempView can land between thread
    A's registration and A's spark.sql analysis, silently swapping A's
    data).  Encoding the dir in the name makes registration idempotent
    per (view, sf_dir) and concurrency-safe.  ``register_views`` keeps
    canonical fixture names for interactive use — single-dir sessions.
    """
    import hashlib as _hashlib
    import os as _os
    import re as _re

    # sanitized name + short hash of the ABSOLUTE dir: the hash keeps
    # the mapping injective (sanitization alone collides 'sf0.1' with
    # 'sf0_1', and relative vs absolute spellings of one dir), the
    # readable prefix keeps plans debuggable
    abs_dir = _os.path.abspath(sf_dir)
    digest = _hashlib.md5(abs_dir.encode()).hexdigest()[:8]
    name = (
        base
        + "_"
        + _re.sub(r"[^A-Za-z0-9]", "_", sf_dir).strip("_")
        + "_"
        + digest
    )
    df.createOrReplaceTempView(name)
    return name
