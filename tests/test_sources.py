"""Fixture table loading, Python DataSource and Kafka connector gating
(sources/)."""

import pytest

from heatmap_spark.sources.connectors import ConnectorUnavailable, read_kafka_stream
from heatmap_spark.sources.pydatasource import register


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_correct"])
def test_declared_schemas_equal_inferred(spark, sf, request):
    """Each declared fixture schema equals what parquet inference
    returns.  A declared schema reads a column missing from the file as
    nulls, so without this pin a fixture change would not fail."""
    import os

    from heatmap_spark.sources.tables import SCHEMAS, TABLES, events_schema

    sf_dir = request.getfixturevalue(sf)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert len(TABLES) == 10
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        declared = events_schema(spark, path) if name == "events" else SCHEMAS[name]
        got = spark.read.schema(declared).parquet(path).schema
        assert got == spark.read.parquet(path).schema, name


def test_nanos_events_load_like_their_micros_twin(spark, sf_smoke, tmp_path):
    """An events file storing TIMESTAMP(NANOS) loads through load_table
    to the same rows as its TIMESTAMP(MICROS) twin: nanos are truncated
    to micros, as DuckDB reads them.  So does a Spark-written events
    directory, whose footer stores ``ts`` as UTC-adjusted INT96."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from heatmap_spark.sources.tables import load_table

    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    us = ev.column("ts").cast(pa.timestamp("us"))
    # 789 ns below the next microsecond: truncation, not rounding
    ns = pa.array(
        us.cast(pa.int64()).to_numpy() * 1000 + np.int64(789), pa.timestamp("ns")
    )
    i = ev.schema.get_field_index("ts")
    for unit, ts in (("us", us), ("ns", ns)):
        (tmp_path / unit).mkdir()
        pq.write_table(ev.set_column(i, "ts", ts), str(tmp_path / unit / "events.parquet"))
    stored = pq.read_schema(str(tmp_path / "ns" / "events.parquet")).field("ts").type
    assert stored == pa.timestamp("ns")

    micros = load_table(spark, str(tmp_path / "us"), "events")
    nanos = load_table(spark, str(tmp_path / "ns"), "events")
    micros.write.parquet(str(tmp_path / "spark" / "events.parquet"))
    spark_dir = load_table(spark, str(tmp_path / "spark"), "events")
    want = sorted(micros.collect())
    assert len(want) == ev.num_rows
    for got in (nanos, spark_dir):
        assert got.schema == micros.schema
        assert sorted(got.collect()) == want


def test_synthetic_locations_datasource(spark):
    register(spark)
    df = (
        spark.read.format("synthetic_locations")
        .option("n_rows", "5000")
        .option("n_partitions", "8")
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    # deterministic: same derivation as sources/locations.py for any id
    row = df.where("event_id = 42").first()
    assert row.latitude == (42 * 104729) % 170000 / 1000.0 - 85.0
    assert row.longitude == (42 * 7919) % 360000 / 1000.0 - 180.0
    assert row.user_id == "u42" and row.source == "gps"
    assert df.where("event_id = 37").first().user_id == "x37"
    assert df.where("event_id = 22").first().user_id == "rt-22"
    assert df.where("event_id = 20").first().source == "background"
    # no dupes / no gaps across partition fences
    assert df.select("event_id").distinct().count() == 5000


def test_kafka_connector_gates_cleanly(spark):
    with pytest.raises(ConnectorUnavailable, match="kafka"):
        read_kafka_stream(spark, "localhost:9092", "events")


def test_python_stream_source_batches_and_replays(spark, tmp_path):
    """The SimpleDataSourceStreamReader face: two availableNow batches
    emit exactly the first 2*batch_rows synthetic rows, identical to
    the batch reader's first slice (deterministic replayable source)."""
    from pyspark.sql import functions as F

    from heatmap_spark.sources import pydatasource

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("synthetic_locations")
        .option("batch_rows", "500")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pystream_probe")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("pystream_probe")
    n = got.count()
    assert n >= 500  # at least the first batch before availableNow drained
    batch = (
        spark.read.format("synthetic_locations")
        .option("n_rows", str(n))
        .load()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    assert got.agg(F.min("event_id")).collect()[0][0] == 1


def test_lakehouse_sinks_gate_cleanly(spark, tmp_path):
    import pytest

    from heatmap_spark.sources.connectors import (
        ConnectorUnavailable,
        write_delta,
        write_iceberg,
    )

    df = spark.range(3)
    with pytest.raises(ConnectorUnavailable, match="delta"):
        write_delta(df, str(tmp_path / "delta"))
    with pytest.raises(ConnectorUnavailable, match="iceberg"):
        write_iceberg(df, "nocat.db.t")


def test_parameterized_sql(spark):
    """Named-parameter spark.sql (Spark 4 API): literals bind safely,
    no string interpolation."""
    got = spark.sql(
        "SELECT :lo + id AS v FROM range(:n) ORDER BY v",
        args={"lo": 100, "n": 3},
    ).collect()
    assert [r.v for r in got] == [100, 101, 102]


def test_jdbc_source_gates_cleanly(spark):
    import pytest

    from heatmap_spark.sources.connectors import ConnectorUnavailable, read_jdbc

    with pytest.raises(ConnectorUnavailable, match="jdbc"):
        read_jdbc(
            spark,
            "jdbc:postgresql://nowhere:5432/db",
            "events",
            partition_column="event_id",
            lower_bound=0,
            upper_bound=1000,
        )


def test_register_sf_view_name_is_injective(spark, sf_smoke):
    """Dirs that sanitize to the same identifier (punctuation vs
    underscore, relative vs absolute spellings) must get DISTINCT view
    names — the short path-hash suffix keeps the mapping injective."""
    from heatmap_spark.sources.tables import load_table, register_sf_view

    df = load_table(spark, sf_smoke, "region")
    n1 = register_sf_view(df, "__hs_inj", "/root/testdata/sf0.001")
    n2 = register_sf_view(df, "__hs_inj", "/root/testdata/sf0_001")
    n3 = register_sf_view(df, "__hs_inj", "/root/testdata/../testdata/sf0.001")
    assert n1 != n2
    # same dir through a different relative spelling → same ABS path
    # hash, but the readable prefix differs; both resolve and are usable
    assert spark.sql(f"SELECT count(*) FROM {n3}").collect()[0][0] >= 1


def test_lakehouse_writers_gate_cleanly(spark, tmp_path):
    """Delta/Iceberg jars are absent in this container: the writers
    must raise the typed ConnectorUnavailable, never a raw classpath
    stack, and leave no partial output."""
    import os

    import pytest

    from heatmap_spark.sources.connectors import (
        ConnectorUnavailable,
        write_delta,
        write_iceberg,
    )

    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
    target = str(tmp_path / "delta_out")
    with pytest.raises(ConnectorUnavailable):
        write_delta(df, target)
    assert not os.path.exists(os.path.join(target, "_delta_log"))
    with pytest.raises(ConnectorUnavailable):
        write_iceberg(df, "local.db.t")


def test_avro_io_gates_cleanly(spark, tmp_path):
    """spark-avro is an external module: absent here, both directions
    must raise the uniform ConnectorUnavailable (never a raw
    ClassNotFound), exactly like the Kafka/Delta gates.  If the module
    ever lands, the second branch round-trips instead."""
    from heatmap_spark.sources.connectors import read_avro, write_avro

    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
    try:
        write_avro(df, str(tmp_path / "a"))
    except ConnectorUnavailable as e:
        assert "avro" in str(e)
        with pytest.raises(ConnectorUnavailable, match="avro"):
            read_avro(spark, str(tmp_path / "a"))
        return
    got = read_avro(spark, str(tmp_path / "a"))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
