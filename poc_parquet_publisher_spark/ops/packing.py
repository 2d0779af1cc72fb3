"""Sequence packing: assemble documents into fixed-token-budget training
sequences (the batch-assembly step between curation and tokenization in
an LLM data pipeline).

Packing is inherently sequential WITHIN a sequence but embarrassingly
parallel ACROSS packing domains, so the distributed shape is:

1. hash each doc into one of ``n_buckets`` packing buckets (pure
   function of the id -- stable under retries/rescale, like every
   sampling op in this package);
2. one shuffle groups each bucket;
3. a first-fit-decreasing greedy packer runs per bucket inside
   ``applyInPandas`` (Arrow-batched; only (id, n_tokens) crosses the
   Python boundary, never the text);
4. sequence ids are (bucket << 32) | local index -- globally unique
   without any coordination.

Bucket count is the parallelism knob: at 100 TB use >= cluster cores;
per-bucket state is just the open-bin capacity list. FFD wastes a few
percent of budget vs global optimal but is deterministic and local --
the standard trade every production packer makes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _toks


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Assign every doc to a training sequence of <= ``budget`` tokens.

    Returns (id, n_tokens, bucket, seq): one row per input doc, every
    doc assigned exactly once. A doc longer than the budget gets a
    sequence of its own (callers chunk or drop oversize docs upstream;
    flagging beats silently truncating). Deterministic: the packer
    sorts its bucket by (tokens desc, id) before first-fit, so the
    output is a pure function of the input set, independent of
    partitioning or arrival order.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    id_type = df.schema[id_col].dataType.simpleString()
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":pack"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % n_buckets
    ).cast("int")
    slim = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("n_tokens"),
        bucket.alias("bucket"),
    )
    out_schema = (
        f"{id_col} {id_type}, n_tokens long, bucket int, seq long"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        b = int(pdf["bucket"].iloc[0])
        remaining: list[int] = []  # open-bin capacities, index = local seq
        seqs: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            placed = None
            if n <= budget:
                for i, cap in enumerate(remaining):
                    if cap >= n:
                        placed = i
                        break
            if placed is None:
                placed = len(remaining)
                # oversize docs leave NEGATIVE capacity: the bin is
                # closed to everything, including zero-token docs, so
                # over-budget sequences stay singletons
                remaining.append(budget - n)
            else:
                remaining[placed] -= n
            seqs.append((b << 32) | placed)
        pdf["seq"] = pd.Series(seqs, dtype="int64")
        return pdf[[id_col, "n_tokens", "bucket", "seq"]]

    return slim.groupBy("bucket").applyInPandas(_pack, out_schema)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One-row packing efficiency summary: sequences, fill rate, spill.

    ``fill_rate`` counts only within-budget sequences (oversize
    singletons would inflate it past 1.0); ``n_oversize`` reports them.
    """
    per_seq = packed.groupBy("seq").agg(
        F.sum("n_tokens").alias("seq_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return per_seq.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.round(
            F.avg(
                F.when(
                    F.col("seq_tokens") <= budget,
                    F.col("seq_tokens") / F.lit(float(budget)),
                )
            ),
            4,
        ).alias("fill_rate"),
        F.sum(
            F.when(F.col("seq_tokens") > budget, 1).otherwise(0)
        ).alias("n_oversize"),
    )


def chunk_oversize(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Split oversize docs into budget-sized chunks BEFORE packing:
    (id, chunk_idx, n_tokens) with every chunk <= budget. Narrow
    (sequence + explode), no shuffle; feed the result to
    ``pack_sequences`` keyed on (id, chunk_idx).
    """
    n = F.col(token_col).cast("long")
    n_chunks = F.ceil(n / budget).cast("int")
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
                lambda i: F.least(
                    n - (i - 1) * budget, F.lit(budget).cast("long")
                ),
            )
        ).alias("chunk_idx", "n_tokens"),
    ).filter(F.col("n_tokens") > 0)


CHUNK_TOKENS = 64
STRIDE = 48


def chunk_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Split documents into overlapping token-window chunks -- the
    context-window preprocessing step (RAG indexing, long-doc training):
    chunk i covers tokens [i*stride, i*stride + chunk_tokens); the final
    window is shorter when the doc runs out; a doc shorter than one
    chunk yields exactly one chunk.

    Output: (id, chunk_idx, n_chunk_toks, chunk_text), one row per
    chunk. Pure integer arithmetic over the token array -- a narrow
    explode (sequence + slice + array_join), no shuffle, no Python, and
    bit-identical across engines (no floats anywhere).
    """
    toks_df = df.select(
        F.col(id_col),
        _toks(text_col).alias("__toks"),
    )
    toks = F.col("__toks")
    n = F.size(toks).cast("long")
    # 1 + ceil((n - chunk) / stride) starts, minimum 1
    n_starts = F.lit(1) + F.greatest(
        F.lit(0).cast("long"),
        F.ceil((n - CHUNK_TOKENS) / F.lit(STRIDE).cast("double")).cast("long"),
    )
    chunk = F.slice(toks, F.col("chunk_idx") * STRIDE + 1, CHUNK_TOKENS)
    return (
        toks_df.select(
            F.col(id_col),
            toks,
            F.explode(
                F.sequence(F.lit(0).cast("long"), n_starts - 1)
            ).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.size(chunk).cast("long").alias("n_chunk_toks"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_chunk_toks") > 0)
    )


def chunk_documents_oracle_sql() -> str:
    """DuckDB SQL mirroring ``chunk_documents`` (1-based inclusive list
    slicing; integer-only arithmetic keeps both engines bit-identical)."""
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
), s AS (
  SELECT doc_id, toks,
         unnest(range(0, 1 + greatest(0,
             CAST(ceil(CAST(n - {CHUNK_TOKENS} AS DOUBLE)
                       / {STRIDE}) AS BIGINT)))) AS chunk_idx
  FROM t
), c AS (
  SELECT doc_id, chunk_idx,
         toks[chunk_idx * {STRIDE} + 1 :
              chunk_idx * {STRIDE} + {CHUNK_TOKENS}] AS chunk
  FROM s
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
       array_to_string(chunk, ' ') AS chunk_text
FROM c WHERE len(chunk) > 0
ORDER BY doc_id, chunk_idx
"""
