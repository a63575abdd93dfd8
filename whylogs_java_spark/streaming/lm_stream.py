"""Streaming n-gram-LM quality scoring.

The streaming half of ``operators.text.lm_score``: an unbounded ingest
feed scored online against a STATIC language model trained once at query
start (the CCNet deployment shape — the LM trains on a trusted/reference
corpus; the firehose is what gets filtered).

LM scoring is per-document — a doc's score depends only on its own
n-grams and the fixed LM tables, never on other stream rows — so the
streaming treatment carries ZERO cross-batch state: each micro-batch runs
the exact batch scorer (same broadcast-join plan) and the union of
micro-batch reports equals the batch report over the same rows, under any
batch boundaries (the same argument as ``decontam_stream``).
``foreachBatch`` is the sanctioned shape for that.

The LM tables are built and CHECKPOINTED once at query start
(``build_ngram_lm`` checkpoints the vocabulary and the count
censuses); each micro-batch re-broadcasts the cached tables instead of
re-scanning the LM corpus.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.text import NgramLM, build_ngram_lm, lm_score_with


def lm_score_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    lm_df: DataFrame | None,
    on_batch: Callable[[DataFrame, int], None],
    vocab_size: int = 512,
    top_bigrams: int = 4096,
    alpha: float = 0.5,
    lm: NgramLM | None = None,
    checkpoint_dir: str | None = None,
    order: int = 2,
    top_trigrams: int = 16384,
    lambdas: tuple = (0.5, 0.3, 0.2),
):
    """Start a streaming query scoring each micro-batch against a static
    LM — bigram by default, the interpolated trigram tier with
    ``order=3`` (or pass a prebuilt :class:`NgramLM` as ``lm``; its own
    order then holds).

    ``on_batch(report_df, batch_id)`` receives the batch's per-doc report
    — (id, n_bigrams|n_trigrams, avg_logp, perplexity), the same schema
    as batch ``lm_score`` at that order — and owns the sink write.
    ``lm_df`` must be a static (non-streaming) DataFrame; pass a prebuilt
    ``lm`` to share one model across several queries.

    Returns the started ``StreamingQuery``.
    """
    if lm is None and lm_df is None:
        raise ValueError("provide lm_df (to train) or a prebuilt lm")
    if lm_df is not None and lm_df.isStreaming:
        raise ValueError("lm_df must be static — the LM corpus is not a stream")
    model = lm if lm is not None else build_ngram_lm(
        lm_df, text_col, order=order, vocab_size=vocab_size,
        top_bigrams=top_bigrams, top_trigrams=top_trigrams, alpha=alpha,
        lambdas=lambdas,
    )

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(lm_score_with(batch_df, text_col, id_col, model), batch_id)

    writer = stream_df.writeStream.foreachBatch(_handle).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
