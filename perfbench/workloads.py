"""The four benchmark workloads.

Each workload is a closed loop with one client: the next unit of work
starts when the previous one returns.  A workload writes its inputs
during set-up (``generate``), runs untimed on it once (``warmup``), then
runs timed ``unit``s.  It checks the last outputs with DuckDB outside
the timed region (``check``).

Calls into the program go through ``Ctx.call``, which records a span
per call when the run is traced; the layer names are the repository's
modules (session, sources, api, queries, tile_store, plans).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from meter import Tracer, dir_bytes, force_plan

# Batch inputs are written as this many part files, so the scan stage
# runs as parallel tasks the way a multi-file dataset does; one file
# would be one task on one core.
INPUT_PARTS = 8

# roles tie a span to the per-layer metric it feeds
LOAD, BUILD, PLAN, SINK, READ, VACUUM = "load", "build", "plan", "sink", "read", "vacuum"


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    corrupt: bool = False
    workload: "Workload | None" = None
    extra: dict[str, float] = field(default_factory=dict)  # summed per-layer counts

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def call(self, layer: str, role: str, name: str, fn, *args, **kwargs):
        with self.tracer.span(layer, name, role=role):
            return fn(*args, **kwargs)

    def plan(self, df) -> None:
        """Traced runs force the physical plan before each sink call."""
        if self.traced:
            self.call("plans", PLAN, "physical_plan", force_plan, df)

    def add(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + value

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _footer_rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _drop_last_row(path: str) -> None:
    """Corrupt a sink output: rewrite its first non-empty part file
    without its last row."""
    for f in _parquet_files(path):
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(0, t.num_rows - 1), f)
            return


class Workload:
    name = ""
    why = ""
    rows_per_unit = 0  # input rows behind one latency sample
    ops_per_unit = 1  # operations one unit performs, for error_rate
    check_per_op = False  # check items are operations (else: one unit's output)

    def generate(self, ctx: Ctx, out: str) -> dict:
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        """Untimed work on the real input before the measured loop: one
        unit, which pays code generation.

        Units are sized so that one is enough.  Measured on a 4-core box
        from session start, heatmap_batch units of 100k points took 20,
        6.9, 5.9, 5.1 s and of 200k points 23, 9.4, 9.0, 8.9 s; units of
        50k points took 10-14 s, then about 4 s, and were still falling
        after 40 s, so short units measured after a short warm-up
        differed by up to 40% between runs."""
        self.unit(ctx, 0)

    def unit(self, ctx: Ctx, i: int) -> list[float]:
        """One unit of work; returns the latency sample(s) it produced."""
        raise NotImplementedError

    def check(self, ctx: Ctx) -> tuple[int, int]:
        """(items compared, items wrong) for the outputs the run left."""
        raise NotImplementedError

    def output_mb(self, ctx: Ctx) -> float:
        return 0.0


class SinkPipeline(Workload):
    """A batch pipeline that ends in a parquet sink: one unit runs it
    once into a fresh output directory; the check reads the last one."""

    def _run(self, ctx: Ctx, out: str) -> None:
        raise NotImplementedError

    def _check(self) -> tuple[int, int]:
        raise NotImplementedError

    def unit(self, ctx, i):
        self.out = ctx.path("out", str(i))
        _rm(ctx.path("out", str(i - 1)))
        t = time.perf_counter()
        self._run(ctx, self.out)
        dt = time.perf_counter() - t
        if ctx.traced:
            files = _parquet_files(self.out)
            ctx.add("api.save.output_rows", _footer_rows(files))
            ctx.add("api.save.output_files", len(files))
        return [dt]

    def check(self, ctx):
        if ctx.corrupt:
            _drop_last_row(self.out)
        return self._check()

    def output_mb(self, ctx):
        return dir_bytes(self.out) / 2**20


# ---------------------------------------------------------------------------


class HeatmapBatch(SinkPipeline):
    """Input: clustered GPS points (48 cities, Zipf popularity, 0.05°
    spread, 2% scattered worldwide, 5% background rows, ~100 points
    per user, user ids in the x…/rt-…/u… classes).  One unit is the
    reference dataflow end to end."""

    name = "heatmap_batch"
    why = (
        "work-dominated reference dataflow: pyramid aggregation, its shuffle and the "
        "parquet sink; bypasses text operators and the tile store"
    )

    def __init__(self, scale: float):
        self.n_points = max(2000, int(100_000 * scale))
        self.rows_per_unit = self.n_points

    def generate(self, ctx, out):
        rng = np.random.default_rng(ctx.seed)
        city = gen.cities()
        table = gen.locations(rng, self.n_points, city)
        self.input = os.path.join(out, "locations")
        gen.write(table, self.input, INPUT_PARTS)
        return {"points": self.n_points, "hotspot_share_top5": round(gen.hotspot_share(table, city), 3)}

    def _run(self, ctx, out):
        from heatmap_spark.api import Heatmap

        b = ctx.call("sources", LOAD, "Heatmap.from_parquet", Heatmap(ctx.spark).from_parquet, self.input)
        b = ctx.call("api", BUILD, "pyramid", b.pyramid)
        b = ctx.call("api", BUILD, "resultsets", b.resultsets)
        b = ctx.call("api", BUILD, "table", b.table)
        ctx.plan(b.df())
        ctx.call("api", SINK, "save", b.save, out, mode="overwrite")

    def _check(self):
        return checks.heatmap_table(os.path.join(self.input, "*.parquet"), self.out)


class CurationBatch(SinkPipeline):
    """Input: 80-token documents that pass every Gopher rule, every 13th
    a re-cased, re-punctuated copy of its predecessor, doc_id % 97 == 0
    as the held-out benchmark set.  One unit is the Corpus chain end to
    end."""

    name = "curation_batch"
    why = (
        "string and array heavy curation chain: shingle explode, LSH self-join, semi and "
        "anti joins; bypasses tile math and the store"
    )

    def __init__(self, scale: float):
        self.n_docs = max(500, int(10_000 * scale))
        self.rows_per_unit = self.n_docs

    def generate(self, ctx, out):
        corpus = gen.documents(np.random.default_rng(ctx.seed), self.n_docs)
        self.expected = corpus.expected_kept
        self.input = os.path.join(out, "documents")
        gen.write(corpus.table, self.input, INPUT_PARTS)
        return {
            "documents": self.n_docs,
            "expected_kept": corpus.expected_kept,
            "benchmark_docs": corpus.n_bench,
            "contaminated": corpus.n_contaminated,
            "near_dups_removed": corpus.n_dup_removed,
        }

    def _run(self, ctx, out):
        from heatmap_spark.api import Corpus

        c = ctx.call("sources", LOAD, "Corpus.from_parquet", Corpus(ctx.spark).from_parquet, self.input)
        c = ctx.call("api", BUILD, "quality_filter", c.quality_filter)
        c = ctx.call("api", BUILD, "repetition_filter", c.repetition_filter)
        c = ctx.call("api", BUILD, "decontaminate", c.decontaminate)
        c = ctx.call("api", BUILD, "dedup", c.dedup, "minhash")
        c = ctx.call("api", BUILD, "split", c.split)
        ctx.plan(c.df())
        ctx.call("api", SINK, "save", c.save, out)

    def _check(self):
        return 1, int(checks.rows_in(self.out) != self.expected)


class TileStoreIngestServe(Workload):
    """Input: 3 localized batches, each around three cities of its own
    plus the most popular city (so later merges meet buckets earlier
    batches wrote).  One unit is one store life cycle from empty: per
    batch, build the delta pyramid, merge it into the partitioned store,
    then serve point reads of result sets the batch touched; after the
    last batch, vacuum superseded versions.  Each batch step is a
    latency sample: with the whole cycle as one sample, run medians were
    28% apart (quartile distance over median, ten runs) on a 4-core
    box, some cycles taking a third longer than the rest."""

    name = "tile_store_ingest_serve"
    why = (
        "the only workload with writes beside reads plus background clean-up: merges, "
        "pruned point reads and vacuum of the partitioned tile store"
    )
    n_batches = 3
    reads_per_batch = 2
    ops_per_unit = n_batches * (1 + reads_per_batch) + 1  # merges, reads, the vacuum
    check_per_op = True

    def __init__(self, scale: float):
        self.points = max(1000, int(5_000 * scale))
        self.rows_per_unit = self.points

    def generate(self, ctx, out):
        rng = np.random.default_rng(ctx.seed)
        batches = gen.store_batches(rng, self.n_batches, self.points)
        self.batch_paths = []
        for b, t in enumerate(batches):
            p = os.path.join(out, f"batch-{b}.parquet")
            gen.write(t, p)
            self.batch_paths.append(p)
        self.reads = [self._pick_reads(rng, t, b * self.reads_per_batch, self.reads_per_batch)
                      for b, t in enumerate(batches)]
        return {"batches": self.n_batches, "points_per_batch": self.points,
                "reads_per_batch": self.reads_per_batch}

    # Result-set zooms of the point reads, in order.  They are the same
    # for every seed: a read's cost grows with its result set, which
    # grows as the zoom falls.
    READ_ZOOMS = (4, 12, 8, 16, 6, 10)

    @classmethod
    def _pick_reads(cls, rng, table, first, n) -> list[tuple[str, int, int, int]]:
        """Result sets this batch touched: the parents of sampled points at
        the next ``n`` zooms of READ_ZOOMS from position ``first`` (one
        store bucket each), alternately for the 'all' group and, for an
        ordinary user, the user's own group."""
        keep = np.flatnonzero(table["source"].to_numpy(zero_copy_only=False) != "background")
        lat = table["latitude"].to_numpy()
        lon = table["longitude"].to_numpy()
        users = table["user_id"].to_numpy(zero_copy_only=False)
        out = []
        for k, j in enumerate(rng.choice(keep, n, replace=False)):
            z = cls.READ_ZOOMS[(first + k) % len(cls.READ_ZOOMS)]
            u = str(users[j])
            ug = u if (k % 2 and u.startswith("u")) else "all"
            r, c = checks.parent_tile(float(lat[j]), float(lon[j]), z)
            out.append((ug, z, r, c))
        return out

    def _step(self, ctx, store, b, src, reads, last) -> None:
        from heatmap_spark.api import Heatmap
        from heatmap_spark.streaming.tile_store import (
            merge_delta_into_partitioned_store,
            read_resultset,
            vacuum_partitioned_store,
        )

        h = ctx.call("sources", LOAD, "Heatmap.from_parquet", Heatmap(ctx.spark).from_parquet, src)
        h = ctx.call("api", BUILD, "pyramid", h.pyramid)
        delta = h.df()
        ctx.plan(delta)
        if ctx.traced:
            before = _versions(store)
        committed = ctx.call(
            "tile_store", SINK, "merge_delta_into_partitioned_store",
            merge_delta_into_partitioned_store, ctx.spark, delta, store, b,
        )
        if ctx.traced:
            self._merge_stats(ctx, store, before, committed, delta)
        for ug, z, r, c in reads:
            with ctx.tracer.span("tile_store", "read_resultset", role=READ):
                df = read_resultset(ctx.spark, store, ug, "alltime", f"{z}_{r}_{c}")
                rows = df.collect()
            if ctx.traced:
                ctx.add("tile_store.read_files", len(df.inputFiles()))
            self.served.append((b, (ug, z, r, c), dict(rows[0]["heatmap"]) if rows else {}))
        if last:
            if ctx.traced:
                ctx.add("tile_store.disk_mb_before_vacuum", dir_bytes(store) / 2**20)
            removed = ctx.call("tile_store", VACUUM, "vacuum_partitioned_store",
                               vacuum_partitioned_store, store)
            if ctx.traced:
                ctx.add("tile_store.vacuum_dirs_removed", removed)

    def _merge_stats(self, ctx, store, before, committed, delta) -> None:
        """Write path counters of one merge, read from the store directory:
        bytes it added and the rows of the bucket versions it wrote per
        row of the delta pyramid (write amplification)."""
        new_files = [f for v in _versions(store).keys() - before.keys() for f in _parquet_files(v)]
        written = _footer_rows(new_files)
        ctx.add("tile_store.buckets_committed", committed)
        ctx.add("tile_store.bytes_written", sum(os.path.getsize(f) for f in new_files))
        ctx.add("tile_store.rows_written", written)
        ctx.add("tile_store.delta_rows", delta.count())

    def unit(self, ctx, i):
        # a fresh path per cycle: Spark caches file listings by path
        _rm(ctx.path("store", str(i - 1)))
        self.store = ctx.path("store", str(i))
        self.served = []  # the check compares the reads of the last cycle
        samples = []
        for b, src in enumerate(self.batch_paths):
            t = time.perf_counter()
            self._step(ctx, self.store, b, src, self.reads[b], b == self.n_batches - 1)
            samples.append(time.perf_counter() - t)
        return samples

    def check(self, ctx):
        by_batch: dict[int, list] = {}
        for b, key, got in self.served:
            by_batch.setdefault(b, []).append((key, got))
        if ctx.corrupt:
            key, got = by_batch[0][0]
            by_batch[0][0] = (key, {**got, "0_0_0": 1.0})
        n = bad = 0
        for b, items in sorted(by_batch.items()):
            expected = checks.store_reads(self.batch_paths[: b + 1], [k for k, _ in items])
            for key, got in items:
                n += 1
                if expected[key] != got:
                    bad += 1
                    diff = {k for k in expected[key].keys() | got.keys()
                            if expected[key].get(k) != got.get(k)}
                    print(f"check: batch {b} read {key}: {len(diff)} tiles differ, e.g. "
                          f"{[(k, expected[key].get(k), got.get(k)) for k in sorted(diff)[:3]]}",
                          file=sys.stderr)
        return n, bad

    def output_mb(self, ctx):
        return dir_bytes(self.store) / 2**20


def _versions(store: str) -> dict[str, None]:
    """Bucket version directories of a partitioned store."""
    if not os.path.isdir(store):
        return {}
    return {
        os.path.join(store, d, v): None
        for d in os.listdir(store) if d.startswith("bucket=")
        for v in os.listdir(os.path.join(store, d)) if v.startswith("v=")
    }


class HeadlineQueries(Workload):
    """Input: a TPC-H-shaped fixture directory (the ten tables of
    ``sources.tables``) written from the seed.  A pass runs the
    registry's headline queries, each built and then run through the
    noop sink; one unit is two passes, each a latency sample.  With one
    pass per unit, run medians were 33% apart (quartile distance over
    median, ten runs) on a busy 4-core box."""

    name = "headline"
    why = (
        "build-dominated registry headline queries on a generated fixture: TPC-H joins, "
        "parquet schema inference, sessionize, kNN; the only user of the queries layer"
    )

    check_per_op = True

    def __init__(self, scale: float):
        self.sf = 0.002 * scale
        self.ops_per_unit = 2 * len(self._queries())

    def generate(self, ctx, out):
        self.sf_dir = os.path.join(out, "sf")
        counts = gen.fixture_dir(np.random.default_rng(ctx.seed), self.sf_dir, self.sf)
        self.rows_per_unit = sum(counts.values())
        return {"sf": self.sf, **{f"{k}_rows": v for k, v in counts.items()}}

    def _queries(self):
        from heatmap_spark.queries import headline_queries

        return headline_queries()

    def _cleanup(self, ctx) -> None:
        # drop caches and checkpoint blocks a query pinned, as the
        # headline harness does between queries
        ctx.spark.catalog.clearCache()
        jmap = ctx.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()

    def warmup(self, ctx):
        """One pass that writes every result to parquet: it warms the JVM
        and is the output the check compares with the oracles."""
        self.results = {}
        for name, fn in self._queries().items():
            out = ctx.path("results", name)
            fn(ctx.spark, self.sf_dir).write.mode("overwrite").parquet(out)
            self.results[name] = out
            self._cleanup(ctx)

    def unit(self, ctx, i):
        return [self._pass(ctx) for _ in range(2)]

    def _pass(self, ctx) -> float:
        t = time.perf_counter()
        for name, fn in self._queries().items():
            df = ctx.call("queries", BUILD, name, fn, ctx.spark, self.sf_dir)
            ctx.plan(df)
            ctx.call("queries", SINK, name, df.write.format("noop").mode("overwrite").save)
            self._cleanup(ctx)
        return time.perf_counter() - t

    def check(self, ctx):
        import duckdb

        from heatmap_spark.queries import REGISTRY
        from heatmap_spark.sources.tables import TABLES

        if ctx.corrupt:
            _drop_last_row(next(iter(self.results.values())))
        con = duckdb.connect()
        checks.fixture_views(con, self.sf_dir, list(TABLES))
        bad = 0
        for name, path in self.results.items():
            spec = REGISTRY[name]
            if spec.oracle:
                ok = checks.registry_query(con, spec.oracle, path)
            else:  # rows-only query: the result must not be empty
                ok = checks.rows_in(path) > 0
            bad += int(not ok)
        con.close()
        return len(self.results), bad


WORKLOADS = {w.name: w for w in (HeatmapBatch, CurationBatch, TileStoreIngestServe, HeadlineQueries)}
