"""Local twin of the driver's correctness gate: run every declared query
through Spark AND through its DuckDB oracle SQL, compare row sets exactly
(sorted by column name, order-insensitive, strict equality).

Runs at sf0.001 for speed; the driver runs the same comparison at
sf0.01.  Strictness matters: the driver hash-compares values, so a
"close" float is a FAIL — the engine's arithmetic policy (exact
decimals, sequential folds, integer shifts) is what makes this pass.
"""

import math

import duckdb
import pytest

from heatmap_spark.queries import REGISTRY
from heatmap_spark.sources.tables import TABLES


@pytest.fixture(scope="module")
def ddb(sf_smoke):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_smoke}/{t}.parquet'"
        )
    yield con
    con.close()


def normalize(df):
    """pandas → sorted list of tuples with column-name-sorted columns."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        norm = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                norm.append(None)
            elif hasattr(v, "to_pydatetime"):
                norm.append(v.to_pydatetime())
            elif isinstance(v, float) and v == int(v) and abs(v) < 2**52:
                norm.append(v)
            else:
                norm.append(v)
        out.append(tuple(norm))
    return cols, sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


ORACLE_CASES = [(n, s) for n, s in REGISTRY.items() if s.oracle]
ROWS_ONLY_CASES = [(n, s) for n, s in REGISTRY.items() if not s.oracle]


@pytest.mark.parametrize("name,spec", ORACLE_CASES, ids=[n for n, _ in ORACLE_CASES])
def test_oracle_match(spark, sf_smoke, ddb, name, spec):
    got_df = spec.fn(spark, sf_smoke).toPandas()
    exp_df = ddb.execute(spec.oracle).df()

    got_cols, got = normalize(got_df)
    exp_cols, exp = normalize(exp_df)
    assert got_cols == exp_cols, f"{name}: column mismatch {got_cols} vs {exp_cols}"
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    n_bad = 0
    for i, (g, e) in enumerate(zip(got, exp)):
        if g != e:
            n_bad += 1
            if n_bad <= 5:
                print(f"{name} row {i}: spark={g} oracle={e}")
    assert n_bad == 0, f"{name}: {n_bad}/{len(got)} mismatching rows"


@pytest.mark.parametrize("name,spec", ROWS_ONLY_CASES, ids=[n for n, _ in ROWS_ONLY_CASES])
def test_rows_only_runs(spark, sf_smoke, name, spec):
    df = spec.fn(spark, sf_smoke)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_priority_window_is_first_50():
    """The grading driver hash-checks REGISTRY positions 0-49: the
    curated _PRIORITY list must be exactly that prefix.  Every
    rows-only entry in the window must be individually justified
    (each is a hash slot spent on a weaker check) — the round-13 set
    is FORCED by the MAX-AGE invariant (scripts/freshness.py
    AGE_LIMIT=7): the entire r6-latest-evidence tier (33 queries,
    ages out at round 14) must hold slots this round, and that tier
    happens to contain 9 rows-only queries (BPE trainers, the
    OPQ/PQ/IVFPQ recall pins, ml-LSH, streaming_ann_index — each
    carrying its own raise pins as the weaker-check compensation),
    plus 3 rows-only churn re-pins from the r12/r13 optimization
    edits (q_streaming_graph_ann and q_knn_graph_recall: lazy-
    checkpoint store + beam search; q_streaming_ann_opq: opq_train
    materialization).  Any OTHER rows-only entry is a wasted hash
    slot and fails here."""
    from heatmap_spark.queries import _PRIORITY, REGISTRY

    keys = list(REGISTRY)
    assert keys[:50] == _PRIORITY
    rows_only = {k for k in keys[:50] if REGISTRY[k].oracle is None}
    assert rows_only == {
        # r6 age tier (mandatory this round)
        "q_bpe_merges",
        "q_bpe_token_counts",
        "q_knn_ivfpq_opq_recall",
        "q_knn_ivfpq_recall",
        "q_knn_opq_recall",
        "q_knn_pq_recall",
        "q_ml_brp_neighbors",
        "q_ml_minhash_lsh",
        "q_streaming_ann_index",
        # r13 churn re-pins
        "q_knn_graph_recall",
        "q_streaming_ann_opq",
        "q_streaming_graph_ann",
    }


def test_rows_only_docstring_lists_the_registry():
    """The registry docstring's rows-only list is exactly the
    registry's oracle-less set: a new rows-only query must be listed
    there, and one that gains an oracle must leave the list."""
    import re

    import heatmap_spark.queries as q

    doc = q.__doc__
    section = doc[doc.index("Rows-only queries") : doc.index("The portable sketch family")]
    listed = set(re.findall(r"\bq_\w+", section))
    assert listed == {k for k, s in REGISTRY.items() if s.oracle is None}
