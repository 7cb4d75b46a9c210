"""Deterministic sequence packing for LLM training data.

Training pipelines concatenate the token streams of shuffled documents and
split the result into fixed-length sequences ("contiguous packing", the
standard GPT-style data loader).  The packing layout must be a pure function
of the corpus — independent of partitioning, parallelism, and run — or
training becomes unreproducible.

This operator assigns every document its global token offset in a
deterministic md5-shuffled order (same portable hash convention as
operators/sampling.py splits), from which the covering sequence span is
closed-form:

    start_tok  = exclusive prefix sum of n_tokens in (md5 key, doc_id) order
    seq_first  = start_tok // seq_len,   off_first = start_tok % seq_len
    seq_last   = (start_tok + n_tokens - 1) // seq_len   (empty docs: seq_first)

Scale shape: two shuffles, the range shuffle and the window's exchange on
the partition id, plus an O(#partitions) sums job (the one-pass prefix sum
of plans/ordered.py::global_cumsum); token counting is the frozen
whole-stage-codegen token convention.  No global single-task window, no
driver-side corpus state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.plans.ordered import global_cumsum


def pack_documents(
    documents: DataFrame,
    seq_len: int = 2048,
    salt: str = "pack",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, key, n_tokens, start_tok, seq_first, off_first, seq_last):
    the deterministic packed layout of the corpus at ``seq_len`` tokens per
    training sequence.  ``key`` (the md5 shuffle bucket) is retained so the
    layout is auditable; drop it downstream if not needed."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    from graphina_spark.functions.textstats import token_count

    base = documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
        ).alias("key"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    laid = global_cumsum(
        base, order_cols=["key", "doc_id"], value_col="n_tokens",
        out_col="start_tok",
    )
    # integer `div`, not double `/`-then-cast: token offsets at 100 TB can
    # exceed double's exact-integer range
    return laid.select(
        "doc_id",
        "key",
        "n_tokens",
        "start_tok",
        F.expr(f"start_tok div {int(seq_len)}").alias("seq_first"),
        (F.col("start_tok") % seq_len).alias("off_first"),
        F.expr(
            f"greatest(start_tok + n_tokens - 1, start_tok) div {int(seq_len)}"
        ).alias("seq_last"),
    )
