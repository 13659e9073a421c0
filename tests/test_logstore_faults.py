"""Fault injection against every LogStore-backed store.

Each store's ingest and compaction run on tiny inputs while a crash is
injected at one step of the shared protocol (streaming/logstore.py):

* after the batch's dirs are written but before ``_LATEST`` swaps —
  the batch must stay invisible, and a retry must commit it;
* after ``<grain>_base/v=n+1`` is written but before its marker —
  readers keep the old base ``v=n``;
* mid-GC, after the base marker — the un-deleted ≤folded partials are
  never double-counted, and the next compaction deletes them and
  reports 0 partials folded;
* a replayed batch id returns False and rewrites nothing;
* an ingest between two compactions sees the same history as an
  uncompacted store.

Every check compares the store's ``accumulated()`` grain, the value the
serve paths are built on.  Two batches are ingested once per store into
a template that each case copies.
"""

import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest

from heatmap_spark.streaming import (
    ann_store,
    cms,
    crawl,
    drift,
    entity_store,
    geofence,
    graph_store,
    hll,
    joinview,
    kll_store,
    kmv,
    logstore,
    passages,
    vocab,
)
from heatmap_spark.streaming.logstore import (
    _committed_batches,
    _join,
    _read_last_batch,
)


class Crash(RuntimeError):
    pass


def _docs(spark, b):
    shared = "the quick brown fox jumps over the lazy dog by the river bank"
    rows = [
        (b * 10 + i, f"{shared} batch {b} doc {i} word{b}{i} extra{i % 2}")
        for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _events(spark, b):
    rows = [(t, f"u{(b * 7 + i) % 11}") for t in ("view", "click") for i in range(6)]
    return spark.createDataFrame(rows, "event_type string, user_id string")


def _labeled(spark, b):
    rows = [
        (t, i % 2, float((b * 5 + i) % 7))
        for t in ("view", "click")
        for i in range(8)
    ]
    return spark.createDataFrame(rows, "event_type string, is_a int, value double")


def _locations(spark, b):
    rows = [(f"u{(b + i) % 3}", -20.0 + i + b, 0.5 * i) for i in range(4)]
    rows.append(("u9", 150.0, -80.0))  # inside no fence
    return spark.createDataFrame(rows, "user_id string, longitude double, latitude double")


def _records(spark, b):
    rows = [
        (b * 10 + 1, "Acme Corp", 1, "AUTO", 100.0 + b, f"src{b}"),
        (b * 10 + 2, "Acme Corq", 1, "AUTO", 100.5, f"src{b}"),
        (b * 10 + 3, f"Other{b}", 2, "BUILD", 50.0 * b, f"src{b}"),
    ]
    return spark.createDataFrame(
        rows,
        "rec_id bigint, name string, nation int, segment string, "
        "bal double, source string",
    )


def _vectors(spark, b, n=16, dim=8):
    rows = [
        (b * n + i, [math.sin((b * n + i) * 1.3 + j * 0.7) + 0.1 * j for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, vec array<double>")


def _join_view(spark, path, b):
    left = spark.createDataFrame(
        [(b * 3 + i, f"l{b}{i}") for i in range(3)], "okey long, l_attr string"
    )
    right = spark.createDataFrame(
        [(i * 2, f"r{b}{i}") for i in range(4)], "okey long, r_attr string"
    )
    return joinview.merge_batch_into_join_view(spark, path, b, left, right, ["okey"])


@dataclass(frozen=True)
class Spec:
    store: logstore.LogStore
    ingest: Callable  # (spark, store_path, batch_id) -> bool
    drop: tuple = ()  # columns left out of the comparison


SPECS = {
    "hll": Spec(
        hll._REGS,
        lambda s, p, b: hll.merge_batch_into_hll_store(s, _events(s, b), p, b),
    ),
    "cms": Spec(
        cms._CELLS,
        lambda s, p, b: cms.merge_batch_into_cms_store(s, _docs(s, b), p, b),
    ),
    "kmv": Spec(
        kmv._store(kmv._KMV_K),
        lambda s, p, b: kmv.merge_batch_into_kmv_store(s, _events(s, b), p, b),
    ),
    "drift": Spec(
        drift._VALS,
        lambda s, p, b: drift.merge_batch_into_drift_store(s, _labeled(s, b), p, b),
    ),
    "vocab": Spec(
        vocab._VOCAB,
        lambda s, p, b: vocab.merge_batch_into_vocab_store(s, _docs(s, b), p, b),
    ),
    "geofence": Spec(
        geofence._HITS,
        lambda s, p, b: geofence.merge_batch_into_geofence_store(
            s, _locations(s, b), p, b
        ),
    ),
    "passages": Spec(
        passages._DF,
        lambda s, p, b: passages.merge_batch_into_passage_store(s, _docs(s, b), p, b),
    ),
    # KLL sketch binaries depend on merge order; the exact side-channels
    # (counts, min, max) must still match bit for bit
    "kll": Spec(
        kll_store._SK,
        lambda s, p, b: kll_store.merge_batch_into_kll_store(s, _labeled(s, b), p, b),
        drop=("sk_a", "sk_b"),
    ),
    "joinview": Spec(joinview._VIEW, _join_view),
    "crawl": Spec(
        crawl._POSTINGS,
        lambda s, p, b: crawl.merge_batch_into_lsh_store(s, _docs(s, b), p, b),
    ),
    "entity": Spec(
        entity_store._RECORDS,
        lambda s, p, b: entity_store.merge_batch_into_entity_store(
            s, _records(s, b), p, b
        ),
    ),
    "ann": Spec(
        ann_store._CODES,
        lambda s, p, b: ann_store.merge_batch_into_ann_store(
            s, _vectors(s, b), p, b, n_buckets=2, m=2, k=4, dim=8
        ),
    ),
    "graph": Spec(
        graph_store._EDGES,
        lambda s, p, b: graph_store.merge_batch_into_graph_store(
            s, _vectors(s, b), p, b, degree=4, branch=4, reps=2
        ),
    ),
}

_TEMPLATES: dict[str, str] = {}


@pytest.fixture(params=sorted(SPECS))
def case(request, spark, tmp_path_factory, tmp_path):
    """(spec, path of a fresh copy of the store with batches 0 and 1)."""
    name = request.param
    spec = SPECS[name]
    if name not in _TEMPLATES:
        tpl = str(tmp_path_factory.mktemp(f"tpl_{name}") / "store")
        for b in (0, 1):
            assert spec.ingest(spark, tpl, b) is True
        _TEMPLATES[name] = tpl
    path = str(tmp_path / "store")
    shutil.copytree(_TEMPLATES[name], path)
    return spec, path


def _read(spark, spec, path):
    acc = spec.store.accumulated(spark, path)
    cols = sorted(c for c in acc.columns if c not in spec.drop)
    return sorted(tuple(r) for r in acc.select(*cols).collect())


def _listing(path):
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), path), st.st_mtime_ns))
    return sorted(out)


def _crash_on(monkeypatch, method, should_crash):
    orig = getattr(logstore._Fs, method)

    def crashing(self, p, *args):
        if should_crash(p):
            raise Crash(p)
        return orig(self, p, *args)

    monkeypatch.setattr(logstore._Fs, method, crashing)


def test_crash_before_marker_is_invisible(spark, case, monkeypatch):
    spec, path = case
    before = _read(spark, spec, path)
    marker = _join(path, "_LATEST")
    with monkeypatch.context() as m:
        _crash_on(m, "write_text_atomic", lambda p: p == marker)
        with pytest.raises(Crash):
            spec.ingest(spark, path, 2)
    assert os.path.isdir(_join(path, spec.store.grain, "batch=2")), "partial landed"
    assert _read_last_batch(path) == 1
    assert _read(spark, spec, path) == before
    # the retry rewrites the uncommitted dirs and commits the batch
    assert spec.ingest(spark, path, 2) is True
    assert _read_last_batch(path) == 2


def test_crash_before_base_marker_keeps_old_base(spark, case, monkeypatch):
    spec, path = case
    assert spec.store.compact(spark, path) == 2  # old base: v=0, folded 1
    assert spec.ingest(spark, path, 2) is True
    before = _read(spark, spec, path)
    base_marker = _join(path, f"{spec.store.grain}_base", "_LATEST")
    with monkeypatch.context() as m:
        _crash_on(m, "write_text_atomic", lambda p: p == base_marker)
        with pytest.raises(Crash):
            spec.store.compact(spark, path)
    # v=1 landed without its marker: readers follow the marker to v=0
    assert os.path.isdir(_join(path, f"{spec.store.grain}_base", "v=1"))
    _, ver, folded = spec.store.base(spark, path)
    assert (ver, folded) == (0, 1)
    assert len(_committed_batches(path, spec.store.grain)) == 1
    assert _read(spark, spec, path) == before
    assert spec.store.compact(spark, path) == 1
    assert _read(spark, spec, path) == before


def test_crash_mid_gc_never_double_counts(spark, case, monkeypatch):
    spec, path = case
    before = _read(spark, spec, path)
    deleted = []

    def crash_after_first(p):
        deleted.append(p)
        return len(deleted) > 1

    with monkeypatch.context() as m:
        _crash_on(m, "delete", crash_after_first)
        with pytest.raises(Crash):
            spec.store.compact(spark, path)
    _, ver, folded = spec.store.base(spark, path)
    assert (ver, folded) == (0, 1)
    assert len(_committed_batches(path, spec.store.grain)) == 1, "one straggler"
    assert _read(spark, spec, path) == before
    # only the straggler is left: nothing folds, the GC finishes
    assert spec.store.compact(spark, path) == 0
    assert _committed_batches(path, spec.store.grain) == []
    assert _read(spark, spec, path) == before


def test_replayed_batch_is_a_noop(spark, case):
    spec, path = case
    before, files = _read(spark, spec, path), _listing(path)
    assert spec.ingest(spark, path, 1) is False
    assert _listing(path) == files
    assert _read(spark, spec, path) == before


def test_ingest_between_compactions(spark, case, tmp_path):
    spec, path = case
    plain = str(tmp_path / "plain")
    shutil.copytree(path, plain)
    before = _read(spark, spec, path)
    assert spec.store.compact(spark, path) == 2
    assert _read(spark, spec, path) == before
    # batch 2 lands on a compacted store exactly as on an uncompacted one
    assert spec.ingest(spark, path, 2) is True
    assert spec.ingest(spark, plain, 2) is True
    want = _read(spark, spec, plain)
    assert _read(spark, spec, path) == want
    assert spec.store.compact(spark, path) == 1
    assert _read(spark, spec, path) == want
    assert spec.store.compact(spark, path) == 0
