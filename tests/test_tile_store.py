"""Streaming tile store: multi-batch merge == batch pyramid; replay guard."""

from pyspark.sql import functions as F

from heatmap_spark.operators.pyramid import build_pyramid
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.streaming.tile_store import (
    _read_marker,
    merge_delta_into_store,
    read_tile_store,
    stream_pyramid_to_store,
)

ZOOMS = dict(min_zoom=8, max_zoom=12)


def test_streamed_store_equals_batch_pyramid(spark, sf_smoke, tmp_path):
    """Default (auto) layout: min_zoom=8 >= BUCKET_ZOOM routes to the
    bucket-PARTITIONED store; read_tile_store reads it transparently."""
    from heatmap_spark.streaming.tile_store import _live_buckets, _read_bucket_marker

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_store(stream, store, ckpt, **ZOOMS)
    q.awaitTermination(timeout=300)

    assert _read_marker(store) == (-1, -1), "auto layout must be partitioned"
    live = _live_buckets(store)
    assert live, "expected live buckets"
    assert max(_read_bucket_marker(store, k)[1] for k in live) >= 2, (
        "expected one merge per input file"
    )

    got = read_tile_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    # visits are sums of 1.0 weights — integer-valued doubles, exact
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_streamed_flat_store_equals_batch_pyramid(spark, sf_smoke, tmp_path):
    """layout='flat' keeps the whole-store versioned path working."""
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_store(stream, store, ckpt, layout="flat", **ZOOMS)
    q.awaitTermination(timeout=300)

    version, last_batch = _read_marker(store)
    assert last_batch >= 2, "expected one merge per input file"
    assert version == last_batch

    got = read_tile_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_replayed_batch_is_skipped(spark, sf_smoke, tmp_path):
    store = str(tmp_path / "store")
    delta = build_pyramid(load_locations(spark, sf_smoke), mode="explode", **ZOOMS)
    assert merge_delta_into_store(spark, delta, store, batch_id=0)
    v1 = _read_marker(store)
    total1 = read_tile_store(spark, store).agg(F.sum("visits")).first()[0]
    # crash-replay of the same micro-batch: must be a no-op
    assert not merge_delta_into_store(spark, delta, store, batch_id=0)
    assert _read_marker(store) == v1
    assert read_tile_store(spark, store).agg(F.sum("visits")).first()[0] == total1
    # the next batch does merge, doubling every tile's count
    assert merge_delta_into_store(spark, delta, store, batch_id=1)
    total2 = read_tile_store(spark, store).agg(F.sum("visits")).first()[0]
    assert total2 == 2 * total1


def test_partitioned_store_equals_batch_and_prunes(spark, sf_smoke, tmp_path):
    """Partitioned store: multi-batch merge equals the one-shot batch
    pyramid; a localized second batch rewrites ONLY its touched
    buckets; replay is a per-bucket no-op; bucket-list reads prune."""
    from heatmap_spark.streaming.tile_store import (
        _live_buckets,
        _read_bucket_marker,
        merge_delta_into_partitioned_store,
        read_partitioned_store,
        spatial_bucket,
    )

    store = str(tmp_path / "pstore")
    loc = load_locations(spark, sf_smoke)
    # batch 0: everything; batch 1: a localized slice (one small bbox)
    b0 = loc
    b1 = loc.where(
        (F.col("latitude").between(10.0, 45.0))
        & (F.col("longitude").between(0.0, 45.0))
    )
    assert b1.count() > 0
    d0 = build_pyramid(b0, mode="explode", **ZOOMS)
    d1 = build_pyramid(b1, mode="explode", **ZOOMS)

    assert merge_delta_into_partitioned_store(spark, d0, store, batch_id=0) > 0
    markers_before = {k: _read_bucket_marker(store, k) for k in _live_buckets(store)}
    touched1 = {r.b for r in d1.select(spatial_bucket().alias("b")).distinct().collect()}
    assert 0 < len(touched1) < len(markers_before), "batch 1 must be localized"

    n1 = merge_delta_into_partitioned_store(spark, d1, store, batch_id=1)
    assert n1 == len(touched1)
    for k, before in markers_before.items():
        after = _read_bucket_marker(store, k)
        if k in touched1:
            assert after == (before[0] + 1, 1)
        else:
            assert after == before, f"untouched bucket {k} was rewritten"

    # replay of batch 1: no bucket advances
    assert merge_delta_into_partitioned_store(spark, d1, store, batch_id=1) == 0

    got = read_partitioned_store(spark, store)
    from heatmap_spark.operators.pyramid import pyramid_merge

    want = pyramid_merge(build_pyramid(b0, mode="explode", **ZOOMS), d1)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # pruned read: only the requested buckets' rows come back
    some = sorted(touched1)[:1]
    pruned = read_partitioned_store(spark, store, buckets=some)
    assert pruned.select(spatial_bucket().alias("b")).distinct().collect() == [
        pruned.sparkSession.createDataFrame([(some[0],)], "b int").collect()[0]
    ]


def test_partitioned_streaming_face_equals_batch(spark, sf_smoke, tmp_path):
    from heatmap_spark.streaming.tile_store import (
        read_partitioned_store,
        stream_pyramid_to_partitioned_store,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "pstore")
    ckpt = str(tmp_path / "ckpt")
    loc = load_locations(spark, sf_smoke)
    loc.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(loc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pyramid_to_partitioned_store(stream, store, ckpt, **ZOOMS)
    q.awaitTermination(timeout=300)
    got = read_partitioned_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_vacuum_keeps_latest_versions_readable(spark, sf_smoke, tmp_path):
    """After several merges, vacuum removes superseded version dirs and
    orphaned staging, keeps the latest per bucket, and reads are
    unchanged."""
    import os

    from heatmap_spark.streaming.tile_store import (
        _live_buckets,
        _read_bucket_marker,
        merge_delta_into_partitioned_store,
        read_partitioned_store,
        vacuum_partitioned_store,
    )

    store = str(tmp_path / "pstore")
    delta = build_pyramid(load_locations(spark, sf_smoke), mode="explode", **ZOOMS)
    for b in range(3):
        merge_delta_into_partitioned_store(spark, delta, store, batch_id=b)
    os.makedirs(os.path.join(store, "_staging_99"), exist_ok=True)  # orphan
    before = read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0]

    # Default staging-age guard: a FRESH staging dir (possibly a live
    # merge) must survive a vacuum.
    vacuum_partitioned_store(store, keep=1)
    assert os.path.exists(os.path.join(store, "_staging_99"))
    # Explicit age=0 reclaims genuinely orphaned staging.
    removed = vacuum_partitioned_store(store, keep=1, staging_age_s=0)
    assert removed > 0
    assert not os.path.exists(os.path.join(store, "_staging_99"))
    for k in _live_buckets(store):
        latest, _ = _read_bucket_marker(store, k)
        vdirs = [d for d in os.listdir(os.path.join(store, f"bucket={k}")) if d.startswith("v=")]
        assert vdirs == [f"v={latest}"]
    after = read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0]
    assert after == before


def test_fs_layer_handles_scheme_qualified_uris(spark, tmp_path):
    """The Hadoop-FS metadata layer must treat a scheme-qualified URI
    (file:/...) exactly like a bare path — markers, listing, atomic
    overwrite-rename, mtime, recursive delete — since production
    stores are hdfs://s3a:// URIs, never driver-local paths."""
    from heatmap_spark.streaming.logstore import _Fs, _join

    base = "file:" + str(tmp_path / "fsprobe")
    fs = _Fs(spark)
    fs.mkdirs(_join(base, "d1"))
    assert fs.is_dir(_join(base, "d1"))
    marker = _join(base, "_LATEST")
    fs.write_text_atomic(marker, "3:7")
    assert fs.exists(marker)
    assert fs.read_text(marker) == "3:7"
    fs.write_text_atomic(marker, "4:9")  # overwrite must be atomic, not fail
    assert fs.read_text(marker) == "4:9"
    assert fs.mtime(marker) is not None
    assert fs.mtime(_join(base, "nope")) is None
    assert sorted(fs.list_names(base)) == ["_LATEST", "d1"]
    assert fs.list_names(_join(base, "missing")) == []
    fs.rename(_join(base, "d1"), _join(base, "d2"))
    assert fs.is_dir(_join(base, "d2")) and not fs.exists(_join(base, "d1"))
    fs.delete(base)
    assert not fs.exists(base)


def test_point_resultset_read_matches_batch(spark, sf_smoke, tmp_path):
    """Serving read: one (user_group, timespan, parent tile) fetched
    from the partitioned store equals the batch resultsets row; the
    scan opens only the parent's coarse cell(s)."""
    from heatmap_spark.operators.pyramid import resultsets
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_resultset,
    )

    store = str(tmp_path / "pstore")
    pyr = build_pyramid(load_locations(spark, sf_smoke), mode="explode", **ZOOMS)
    merge_delta_into_partitioned_store(spark, pyr, store, batch_id=0)

    want_all = resultsets(pyr.where(F.col("zoom") == 12), 5)
    # a couple of distinct keys, including the aggregate group
    picks = (
        want_all.select("user_group", "timespan", "rs_tile_id")
        .orderBy("user_group", "rs_tile_id")
        .limit(3)
        .collect()
    )
    assert picks
    for p in picks:
        got = read_resultset(
            spark, store, p["user_group"], p["timespan"], p["rs_tile_id"]
        )
        want = want_all.where(
            (F.col("user_group") == p["user_group"])
            & (F.col("timespan") == p["timespan"])
            & (F.col("rs_tile_id") == p["rs_tile_id"])
        )
        assert got.count() == 1
        # map columns disallow set ops — compare via deterministic JSON
        ser = lambda df: df.select(
            "user_group", "timespan", "rs_tile_id", F.to_json("heatmap").alias("j")
        )
        assert ser(got).exceptAll(ser(want)).isEmpty()
        assert ser(want).exceptAll(ser(got)).isEmpty()
    # absent key → empty, not an error
    assert (
        read_resultset(spark, store, "no-such-group", "alltime", "7_1_1").count()
        == 0
    )


def test_partitioned_store_retraction_and_full_cancellation(spark, sf_smoke, tmp_path):
    """Retraction deltas (negated visits, drop_zeros) make the store
    equal rebuild-without-slice; retracting EVERYTHING commits empty
    (schema-bearing) bucket versions and the read returns zero tiles;
    replaying the retraction batch is a no-op."""
    from pyspark.sql import functions as F

    from heatmap_spark.operators import pyramid as P
    from heatmap_spark.sources.locations import load_locations
    from heatmap_spark.streaming.tile_store import (
        merge_delta_into_partitioned_store,
        read_partitioned_store,
    )

    loc = load_locations(spark, sf_smoke)
    store = str(tmp_path / "s")
    full = P.build_pyramid(loc, mode="explode", min_zoom=8, max_zoom=10)
    merge_delta_into_partitioned_store(spark, full, store, batch_id=0)

    sel = F.substring(F.md5("user_id"), 1, 1) <= "3"
    retract = P.build_pyramid(
        loc.where(sel), mode="explode", min_zoom=8, max_zoom=10
    ).withColumn("visits", -F.col("visits"))
    n = merge_delta_into_partitioned_store(
        spark, retract, store, batch_id=1, drop_zeros=True
    )
    assert n > 0
    got = read_partitioned_store(spark, store)
    want = P.build_pyramid(loc.where(~sel), mode="explode", min_zoom=8, max_zoom=10)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # replay is a no-op
    assert (
        merge_delta_into_partitioned_store(
            spark, retract, store, batch_id=1, drop_zeros=True
        )
        == 0
    )

    # total cancellation: retract everything that remains
    retract_all = read_partitioned_store(spark, store).withColumn(
        "visits", -F.col("visits")
    )
    merge_delta_into_partitioned_store(
        spark, retract_all, store, batch_id=2, drop_zeros=True
    )
    final = read_partitioned_store(spark, store)
    assert final is not None and final.count() == 0
