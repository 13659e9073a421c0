"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical parquet.  The program under test receives only
the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# EN_STOPWORDS of heatmap_spark.operators.textops, restated so the
# generator does not import the program under test
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

TS_START = np.datetime64("2023-01-01T00:00:00", "us")
TWO_YEARS_US = np.int64(2 * 365 * 86400 * 1_000_000)


def write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One parquet file at ``path``, or with ``parts`` > 1 a directory of
    that many part files, as a multi-file dataset is laid out."""
    if parts == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


# ---------------------------------------------------------------------------
# GPS locations clustered around user home cities
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Cities:
    lat: np.ndarray
    lon: np.ndarray
    weight: np.ndarray  # popularity, sums to 1


def cities(n: int = 48) -> Cities:
    """City centres inside the Mercator domain; popularity is Zipf-like
    (rank^-1), so a few cities are hotspots.  The geography is the same
    for every seed: where cities lie sets how many distinct tiles the
    points cover, so a per-seed geography would change the work per
    run.  Seeds vary users, points and timestamps."""
    rng = np.random.default_rng(0)
    lat = rng.uniform(-55.0, 65.0, n)
    lon = rng.uniform(-179.0, 179.0, n)
    w = 1.0 / np.arange(1, n + 1)
    return Cities(lat, lon, w / w.sum())


def user_id(i: np.ndarray) -> np.ndarray:
    """The three user-id classes the pyramid's group rules tell apart:
    'x…' test users, 'rt-…' route users, 'u…' ordinary users."""
    s = i.astype(str)
    return np.where(i % 37 == 0, np.char.add("x", s),
                    np.where(i % 11 == 0, np.char.add("rt-", s), np.char.add("u", s)))


def locations(
    rng: np.random.Generator,
    n_points: int,
    city: Cities,
    city_ids: np.ndarray | None = None,
    points_per_user: int = 100,
    spread_deg: float = 0.05,
    scatter_frac: float = 0.02,
    background_frac: float = 0.05,
) -> pa.Table:
    """``n_points`` GPS fixes.  Each user lives in one home city (drawn
    by popularity from ``city_ids``, default all cities); a fix is the
    home centre plus Gaussian noise of ``spread_deg`` degrees, except a
    ``scatter_frac`` share placed uniformly on the globe.  A
    ``background_frac`` share carries source='background', which the
    pipeline drops.  Timestamps span two years."""
    ids = np.arange(len(city.lat)) if city_ids is None else np.asarray(city_ids)
    p = city.weight[ids] / city.weight[ids].sum()
    n_users = max(1, n_points // points_per_user)
    home = rng.choice(ids, size=n_users, p=p)
    users = rng.integers(0, n_users, n_points)
    c = home[users]
    lat = city.lat[c] + rng.normal(0.0, spread_deg, n_points)
    lon = city.lon[c] + rng.normal(0.0, spread_deg, n_points)
    scatter = rng.random(n_points) < scatter_frac
    lat[scatter] = rng.uniform(-80.0, 80.0, scatter.sum())
    lon[scatter] = rng.uniform(-179.9, 179.9, scatter.sum())
    ts = TS_START + rng.integers(0, TWO_YEARS_US, n_points).astype("timedelta64[us]")
    source = np.where(rng.random(n_points) < background_frac, "background", "gps")
    return pa.table(
        {
            "latitude": np.clip(lat, -85.0, 85.0),
            "longitude": np.clip(lon, -179.999, 179.999),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user_id(users + 1),
            "source": source,
        }
    )


def hotspot_share(table: pa.Table, city: Cities, top: int = 5, radius_deg: float = 0.5) -> float:
    """Share of fixes within ``radius_deg`` of the ``top`` most popular
    city centres — how much map-side partial aggregation can combine."""
    lat = table["latitude"].to_numpy()
    lon = table["longitude"].to_numpy()
    near = np.zeros(len(lat), bool)
    for k in np.argsort(-city.weight)[:top]:
        near |= (np.abs(lat - city.lat[k]) < radius_deg) & (np.abs(lon - city.lon[k]) < radius_deg)
    return float(near.mean())


# ---------------------------------------------------------------------------
# Quality-passing documents with planted near-duplicates
# ---------------------------------------------------------------------------

DUP_EVERY = 13  # doc i (i % 13 == 0, i > 0) re-cases doc i - 1
BENCH_EVERY = 97  # Corpus.decontaminate's default held-out set: doc_id % 97 == 0
WORDS_PER_DOC = 80
VOCAB = 4000


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        w = "".join(LETTERS[rng.integers(0, 26, k)])
        if w not in STOPWORDS:
            words.add(w)
    return np.array(sorted(words))


@dataclass(frozen=True)
class Documents:
    table: pa.Table
    expected_kept: int
    n_bench: int
    n_contaminated: int
    n_dup_removed: int


def documents(rng: np.random.Generator, n_docs: int) -> Documents:
    """``n_docs`` documents of 80 tokens that pass every Gopher rule:
    random content words of 4-9 letters with stop words at two fixed
    positions of every 8, so no two documents share a 3- or 5-token
    window except where planted.  Every 13th document is a near-duplicate
    of its predecessor: the same tokens with different casing and
    punctuation, so normalised shingles match exactly and MinHash-LSH
    finds every planted pair.

    ``expected_kept`` is what quality_filter → repetition_filter →
    decontaminate → dedup keeps: documents with doc_id % 97 == 0 are the
    benchmark set and are dropped, along with every document that
    shares a 5-token window with one (planted pairs, plus any
    accidental overlap, counted here); of each remaining planted pair
    the higher doc_id is dropped."""
    vocab = _vocab(rng, VOCAB)
    tok = rng.integers(0, VOCAB, (n_docs, WORDS_PER_DOC))
    stop_pos = np.array([p for p in range(WORDS_PER_DOC) if p % 8 in (3, 6)])
    stop = rng.integers(0, len(STOPWORDS), (n_docs, len(stop_pos)))
    # stop words get ids above the vocabulary so windows compare as ints
    tok[:, stop_pos] = VOCAB + stop
    ids = np.arange(n_docs)
    dup = (ids % DUP_EVERY == 0) & (ids > 0)
    tok[dup] = tok[np.flatnonzero(dup) - 1]

    words = np.concatenate([vocab, np.array(STOPWORDS)])
    texts = []
    for i in range(n_docs):
        w = words[tok[i]]
        if dup[i]:
            texts.append(" ".join(w).upper() + " !!")
        else:
            texts.append(" ".join(w) + ".")

    bench = ids % BENCH_EVERY == 0
    # 5-token windows as one int64 each (12 bits per token id)
    win = np.zeros((n_docs, WORDS_PER_DOC - 4), np.int64)
    for j in range(5):
        win = (win << 12) | tok[:, j : WORDS_PER_DOC - 4 + j]
    bench_windows = np.unique(win[bench])
    touches = np.isin(win, bench_windows).any(axis=1)
    contaminated = touches & ~bench
    remaining = ~bench & ~contaminated
    # dedup over what decontaminate left: a planted pair (i-1, i) with
    # both members remaining loses i
    dup_removed = dup & remaining & np.roll(remaining, 1)
    kept = remaining & ~dup_removed
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": np.full(n_docs, "en"),
        }
    )
    return Documents(
        table,
        int(kept.sum()),
        int(bench.sum()),
        int(contaminated.sum()),
        int(dup_removed.sum()),
    )


# ---------------------------------------------------------------------------
# Localized tile-store batches
# ---------------------------------------------------------------------------


def store_batches(rng: np.random.Generator, n_batches: int, points_per_batch: int) -> list[pa.Table]:
    """``n_batches`` batches, each around its own three cities plus the
    most popular one (shared by every batch, so later merges meet
    buckets an earlier batch wrote)."""
    city = cities(max(48, 3 * n_batches + 1))
    return [
        locations(rng, points_per_batch, city, city_ids=np.array([0, 3 * b + 1, 3 * b + 2, 3 * b + 3]),
                  scatter_frac=0.0)
        for b in range(n_batches)
    ]


# ---------------------------------------------------------------------------
# A TPC-H-shaped fixture directory for the registry's headline queries
# ---------------------------------------------------------------------------


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    start = np.datetime64("1995-01-01", "D")
    return (start + rng.integers(0, 6 * 365 + 200, n)).astype("datetime64[us]")


def fixture_dir(rng: np.random.Generator, path: str, sf: float) -> dict[str, int]:
    """The ten tables ``heatmap_spark.sources.tables.TABLES`` names, with
    the column names, types and value ranges of the repository's
    TPC-H-shaped fixtures, at scale factor ``sf`` (lineitem = 6M × sf
    rows).  Returns row counts per table."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": rng.choice(["small ring", "red widget", "blue bolt", "green gear"], n_part),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": money(1000.0, 500000.0, n_orders),
                "o_orderdate": pa.array(_dates(rng, n_orders), pa.timestamp("us")),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(900.0, 100000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": pa.array(_dates(rng, n_line), pa.timestamp("us")),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(10, n_events // 65), n_events), pa.int64()),
                "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
                "value": money(0.01, 500.0, n_events),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(
                    list(rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    }
    fixture_words = np.array(
        "the a of key agg row scan slow fast table value part hash merge batch spark line "
        "sort window order data column join small customer query big stream group filter "
        "vector".split()
    )
    n_words = rng.integers(10, 90, n_docs)
    text = [" ".join(rng.choice(fixture_words, k)) for k in n_words]
    # every 10th document repeats its predecessor, so the LSH finds pairs
    for i in range(10, n_docs, 10):
        text[i] = text[i - 1]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": text,
            "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    for name, t in tables.items():
        write(t, os.path.join(path, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
