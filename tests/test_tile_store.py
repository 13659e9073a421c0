"""Streaming tile store: multi-batch merge == batch pyramid; replay and
crash-replay guards; point reads open only their own bucket's marker and
run one Spark job."""

import pytest
from pyspark.sql import functions as F

from heatmap_spark.operators.pyramid import build_pyramid
from heatmap_spark.sources.locations import load_locations
from heatmap_spark.streaming.logstore import _Fs
from heatmap_spark.streaming.tile_store import (
    BUCKET_ZOOM,
    _committed,
    merge_delta_into_partitioned_store,
    read_partitioned_store,
    read_resultset,
    spatial_bucket,
    stream_pyramid_to_partitioned_store,
)

ZOOMS = dict(min_zoom=8, max_zoom=12)


def _few_bucket_delta(spark, sf_dir, n=3):
    """The smoke pyramid cut to its first ``n`` spatial buckets — keeps
    each merge at a few buckets instead of the ~250 the globe spans —
    checkpointed so the merges and checks below build it once."""
    delta = build_pyramid(load_locations(spark, sf_dir), mode="explode", **ZOOMS)
    few = [
        r.b
        for r in delta.select(spatial_bucket().alias("b"))
        .distinct()
        .orderBy("b")
        .limit(n)
        .collect()
    ]
    return delta.where(spatial_bucket().isin(few)).localCheckpoint(), few


def _same(a, b):
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_streamed_store_equals_batch_pyramid(spark, sf_smoke, tmp_path):
    """The stream driver merges one micro-batch per input file; the
    store then equals the one-shot batch pyramid."""
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
    q = stream_pyramid_to_partitioned_store(stream, store, ckpt, **ZOOMS)
    q.awaitTermination(timeout=300)

    live = _committed(store)
    assert live, "expected committed buckets"
    assert max(batch for _, batch in live.values()) >= 2, (
        "expected one merge per input file"
    )

    got = read_partitioned_store(spark, store)
    want = build_pyramid(spark.read.parquet(src), mode="explode", **ZOOMS)
    # visits are sums of 1.0 weights — integer-valued doubles, exact
    assert _same(got, want)


def test_replayed_batch_is_skipped(spark, sf_smoke, tmp_path, monkeypatch):
    """A replayed batch is a no-op; a batch that crashed between two
    buckets' marker swaps re-merges only the buckets it had not
    committed, and the store then equals a clean two-batch store."""
    import os

    store = str(tmp_path / "store")
    delta, few = _few_bucket_delta(spark, sf_smoke)
    assert len(few) == 3
    assert merge_delta_into_partitioned_store(spark, delta, store, batch_id=0) == 3
    v1 = _committed(store)
    total1 = read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0]
    # crash-replay of the same micro-batch: must be a no-op
    assert merge_delta_into_partitioned_store(spark, delta, store, batch_id=0) == 0
    assert _committed(store) == v1
    assert read_partitioned_store(spark, store).agg(F.sum("visits")).first()[0] == total1

    # batch 1 dies on the second bucket's marker swap: the first bucket
    # is committed, the second's v=1 is an orphan, staging is left over
    swap = _Fs.write_text_atomic
    calls = []

    def dies_on_second(self, path, text):
        calls.append(path)
        if len(calls) == 2:
            raise OSError("injected crash before the marker swap")
        swap(self, path, text)

    monkeypatch.setattr(_Fs, "write_text_atomic", dies_on_second)
    with pytest.raises(OSError, match="injected crash"):
        merge_delta_into_partitioned_store(spark, delta, store, batch_id=1)
    monkeypatch.undo()
    first, second = few[0], few[1]
    assert _committed(store) == {first: (1, 1), second: (0, 0), few[2]: (0, 0)}
    assert os.path.isdir(os.path.join(store, f"bucket={second}", "v=1"))
    assert os.path.isdir(os.path.join(store, "_staging_1"))

    # the replay commits the two remaining buckets, and every tile's
    # count is doubled exactly once
    assert merge_delta_into_partitioned_store(spark, delta, store, batch_id=1) == 2
    assert _committed(store) == {k: (1, 1) for k in few}
    got = read_partitioned_store(spark, store)
    assert got.agg(F.sum("visits")).first()[0] == 2 * total1
    assert _same(got, delta.withColumn("visits", 2 * F.col("visits")))


def test_point_read_opens_only_its_own_marker(spark, sf_smoke, tmp_path, monkeypatch):
    """read_resultset resolves only the requested bucket's marker: no
    store listing, at most one exists and one read per bucket."""
    store = str(tmp_path / "store")
    delta, _ = _few_bucket_delta(spark, sf_smoke)
    merge_delta_into_partitioned_store(spark, delta, store, batch_id=0)
    t = delta.where(F.col("zoom") == 12).orderBy("user_group", "timespan", "row", "col").first()
    rs_tile_id = f"7_{t.row >> 5}_{t.col >> 5}"

    calls = {"exists": 0, "read_text": 0, "list_names": 0}
    for name in calls:
        def counted(self, path, _name=name, _orig=getattr(_Fs, name)):
            calls[_name] += 1
            return _orig(self, path)

        monkeypatch.setattr(_Fs, name, counted)
    df = read_resultset(spark, store, t.user_group, t.timespan, rs_tile_id)
    monkeypatch.undo()
    assert calls == {"exists": 1, "read_text": 1, "list_names": 0}, calls
    assert df.count() == 1


def test_point_read_is_one_spark_job(spark, sf_smoke, tmp_path):
    """A point read at z >= BUCKET_ZOOM runs exactly one Spark job: the
    store schema is declared (no inference job) and the one result-set
    key is packaged without an exchange.  Jobs are counted as the delta
    of the highest started job id."""
    store = str(tmp_path / "store")
    delta, _ = _few_bucket_delta(spark, sf_smoke)
    merge_delta_into_partitioned_store(spark, delta, store, batch_id=0)
    t = delta.where(F.col("zoom") == 12).orderBy("user_group", "timespan", "row", "col").first()
    rs_tile_id = f"7_{t.row >> 5}_{t.col >> 5}"
    assert 7 >= BUCKET_ZOOM

    def max_job_id():
        return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)

    j0 = max_job_id()
    rows = read_resultset(spark, store, t.user_group, t.timespan, rs_tile_id).collect()
    assert max_job_id() - j0 == 1
    assert len(rows) == 1 and rows[0].rs_tile_id == rs_tile_id


def test_partitioned_store_equals_batch_and_prunes(spark, sf_smoke, tmp_path):
    """Partitioned store: multi-batch merge equals the one-shot batch
    pyramid; a localized second batch rewrites ONLY its touched
    buckets; replay is a per-bucket no-op; bucket-list reads prune."""
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
    markers_before = _committed(store)
    touched1 = {r.b for r in d1.select(spatial_bucket().alias("b")).distinct().collect()}
    assert 0 < len(touched1) < len(markers_before), "batch 1 must be localized"

    n1 = merge_delta_into_partitioned_store(spark, d1, store, batch_id=1)
    assert n1 == len(touched1)
    markers_after = _committed(store)
    for k, before in markers_before.items():
        after = markers_after[k]
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


def test_vacuum_keeps_latest_versions_readable(spark, sf_smoke, tmp_path):
    """After several merges, vacuum removes superseded version dirs and
    orphaned staging, keeps the latest per bucket, and reads are
    unchanged."""
    import os

    from heatmap_spark.streaming.tile_store import vacuum_partitioned_store

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
    for k, (latest, _) in _committed(store).items():
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
