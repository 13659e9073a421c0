"""Streaming tokenizer-health monitoring: BPE fertility drift under a
FROZEN merge list.

The vocabulary store (streaming/vocab.py) watches the raw token
distribution; this store watches the quantity a training pipeline
actually pays for — how many SUBWORD tokens the deployed tokenizer
spends per word.  A BPE tokenizer is a shipped artifact, frozen at
training time; when the crawl's language moves (new domains, new
scripts, spam), the frozen merges stop matching and words fragment
into more symbols — fertility (BPE tokens per word) rises and context
windows silently hold less text.  Each micro-batch is encoded through
the frozen merge list AT INGEST (map-only, O(batch)) and one metrics
row is appended to an immutable log:

* ``metrics/batch=<id>`` — (batch_id, n_docs, n_words, n_chars,
  n_bpe_tokens, n_frag_words, fertility, fertility_drift) where
  ``n_frag_words`` counts word occurrences fragmenting into ≥3
  symbols, ``fertility`` = n_bpe_tokens / n_words, and
  ``fertility_drift`` = fertility − fertility(all PRIOR batches
  pooled) — integer sums until the two final divisions, so the whole
  log is value-hash oracle-checkable.

Exactly-once: the ``_LATEST`` marker protocol of logstore.py, shared
with the passage/crawl/vocab stores — replay of a committed batch is a
no-op.
No compaction is needed: the log is one row per batch and the prior
state (two integer sums) is recovered from the log itself.

Oracle-checkability (the reason the merge application is fold-shaped):
applying one merge (l, r → l+r) to a symbol sequence rendered as a
DOUBLE-SPACE-joined string ``"␣␣s1␣␣s2␣␣"`` is exactly one
non-overlapping left-to-right ``replace('␣l␣␣r␣' → '␣l+r␣')`` —
boundary spaces make cross-symbol matches impossible, and the merged
symbol can never re-match within the same round (l+r ≠ l and
l+r ≠ r).  A frozen merge list therefore becomes a STATIC chain of
nested ``replace()`` calls that DuckDB evaluates with identical
semantics (equivalence property-tested against the fold in
tests/test_streaming_stores.py).

At 100 TB/day: encode is Arrow-batched mapInPandas fused into the
batch scan — no shuffle, no state reads proportional to history; the
per-batch reduction is one aggregate to five integers.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.streaming.logstore import (
    _committed_batches,
    commit_batch,
    foreach_batch,
)

# The frozen tokenizer artifact: a rank-ordered BPE merge list over
# lowercased alnum words + the </w> end-of-word sentinel (Sennrich et
# al. 2016 semantics, identical to operators/textops.bpe_encode_df).
# Data-independent by design — a production tokenizer is trained once
# and shipped, so the monitor treats it as a constant, which also
# keeps the DuckDB oracle a static SQL string at every scale tier.
FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("s", "</w>"),
    ("d", "</w>"), ("t", "</w>"), ("a", "n"), ("an", "d</w>"),
    ("i", "n"), ("in", "g"), ("ing", "</w>"), ("o", "n"),
    ("e", "r"), ("er", "</w>"), ("o", "f"), ("of", "</w>"),
    ("t", "o"), ("to", "</w>"), ("e", "n"), ("r", "e"),
    ("a", "t"), ("o", "r"), ("s", "t"), ("a", "r"),
    ("a", "l"), ("i", "t"), ("l", "e"), ("c", "h"),
    ("s", "h"), ("w", "h"), ("h", "e"), ("o", "u"),
    ("l", "l"), ("o", "o"), ("e", "s</w>"), ("y", "</w>"),
    ("m", "e"), ("b", "e"), ("h", "a"), ("le", "</w>"),
]

METRICS_SCHEMA = (
    "batch_id int, n_docs bigint, n_words bigint, n_chars bigint, "
    "n_bpe_tokens bigint, n_frag_words bigint, "
    "fertility double, fertility_drift double"
)

_DOC_SCHEMA = (
    "doc_id bigint, n_chars bigint, n_words bigint, "
    "n_bpe_tokens bigint, n_frag_words bigint"
)


def bpe_doc_metrics(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → per-doc (n_chars, n_words, n_bpe_tokens,
    n_frag_words) under the frozen merges.  Arrow-batched, map-only;
    the merge list rides the closure (a few hundred bytes)."""
    mlist = list(FROZEN_MERGES)  # closure-captured, pickled by value

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        splitter = re.compile("[^a-z0-9]+")

        def encode_word(w: str) -> int:
            syms = list(w) + ["</w>"]
            for left, right in mlist:
                merged = left + right
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = merged
                    else:
                        out.append(s)
                syms = out
            return len(syms)

        def doc(text: str) -> tuple[int, int, int, int]:
            words = [w for w in splitter.split((text or "").lower()) if w]
            toks = frag = 0
            for w in words:
                n = encode_word(w)
                toks += n
                frag += n >= 3
            return len(text or ""), len(words), toks, frag

        for pdf in batches:
            m = pdf["text"].map(doc)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_chars": m.map(lambda t: t[0]),
                    "n_words": m.map(lambda t: t[1]),
                    "n_bpe_tokens": m.map(lambda t: t[2]),
                    "n_frag_words": m.map(lambda t: t[3]),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(kern, _DOC_SCHEMA)


def _prior_totals(spark: SparkSession, store_path: str) -> tuple[int, int]:
    """(n_words, n_bpe_tokens) pooled over every committed batch —
    recovered from the metrics log itself (one tiny scan)."""
    dirs = _committed_batches(store_path, "metrics")
    if not dirs:
        return 0, 0
    row = (
        spark.read.parquet(*dirs)
        .agg(F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("t"))
        .first()
    )
    return int(row["w"] or 0), int(row["t"] or 0)


def merge_batch_into_bpe_store(
    spark: SparkSession, batch_docs: DataFrame, store_path: str, batch_id: int
) -> bool:
    """Ingest one micro-batch of (doc_id, text) rows: encode through
    the frozen merges, append the batch's metrics row (drift computed
    against all PRIOR batches pooled), commit the marker.  Returns
    False (no-op) on replay of a committed batch."""

    def write(dest):
        pw, pt = _prior_totals(spark, store_path)
        agg = bpe_doc_metrics(batch_docs).agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_frag_words").cast("bigint").alias("n_frag_words"),
        ).first()
        nd = int(agg["n_docs"] or 0)
        nw = int(agg["n_words"] or 0)
        nc = int(agg["n_chars"] or 0)
        nt = int(agg["n_bpe_tokens"] or 0)
        nf = int(agg["n_frag_words"] or 0)
        fert = round(nt / nw, 6) if nw else 0.0
        drift = round(nt / nw - pt / pw, 6) if nw and pw else 0.0
        spark.createDataFrame(
            [(batch_id, nd, nw, nc, nt, nf, fert, drift)], METRICS_SCHEMA
        ).write.mode("overwrite").parquet(dest("metrics"))

    return commit_batch(spark, store_path, batch_id, write)


def stream_bpe_drift(docs_stream: DataFrame, store_path: str, checkpoint_path: str):
    """Maintain the BPE-drift store from a (doc_id, text) stream via
    foreachBatch (availableNow trigger)."""
    return foreach_batch(
        docs_stream,
        checkpoint_path,
        lambda spark, df, b: merge_batch_into_bpe_store(spark, df, store_path, b),
    )


def read_bpe_drift(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed metrics log — one row per ingested batch."""
    dirs = _committed_batches(store_path, "metrics")
    if not dirs:
        return spark.createDataFrame([], METRICS_SCHEMA)
    return spark.read.parquet(*dirs)


def frozen_merge_replace_chain_sql(inner: str) -> str:
    """The DuckDB expression applying FROZEN_MERGES to ``inner`` (a SQL
    expression yielding the double-space-joined symbol string): one
    nested non-overlapping replace() per merge, in rank order —
    provably equivalent to the fold in :func:`bpe_doc_metrics` (see
    module docstring).  Shared by the q_streaming_bpe_drift oracle so
    both engines tokenize from the same constant."""
    expr = inner
    for left, right in FROZEN_MERGES:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left + right} ')"
    return expr
