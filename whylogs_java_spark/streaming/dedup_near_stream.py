"""Streaming NEAR-duplicate flagging: stateful MinHash-LSH band ownership.

The streaming twin of the batch MinHash-LSH candidate stage
(``operators.dedup``): as documents arrive, each is flagged against
everything seen BEFORE it — the online regime of a crawl pipeline that
must drop near-dups before they reach the training shard, without
re-running a batch join over the whole corpus.

Mechanics (the hashing is the batch pipeline's own affine family,
``operators.dedup._affine_parts`` / ``_affine_family``, so batch and stream
agree on signatures):

1. per doc: shingles → k minhashes → b band signatures. Minhashes fold
   as ``array_min`` over per-shingle hash ARRAYS (min over the multiset
   == min over the set, the batch pipeline's own invariant) — pure JVM
   expressions in the stream projection, no pre-aggregation, because a
   grouped agg would be a second stateful operator in the chain;
2. explode to (band_sig, doc_id) and group by band signature;
3. ``applyInPandasWithState`` keyed on (band, band_sig) — the SAME key
   the batch candidate stage equi-joins on — holds ONE tiny state row per
   seen signature: the first-arriving doc id (the band's owner). Later
   docs hitting the same signature emit (doc_id, dup_of=owner) candidate
   rows; owners emit nothing. Null-text rows are dropped before hashing,
   matching batch (whose shingle explode skips them) — without the filter
   every null-text doc would collapse onto one degenerate signature and
   be flagged against the first null doc, a pair batch never produces.

A doc colliding with earlier docs in ANY band is flagged (the LSH
OR-construction). Downstream either drops flagged docs outright
(candidate = near-dup, the high-recall crawl setting) or exact-verifies
the (doc, dup_of) pairs against a document store — verification needs
the texts, which is a point lookup, not a corpus join.

Scale: state is one (signature → owner id) entry per distinct band
signature, partitioned across executors by the group key — the same
order as the batch band table — and ``state_ttl`` switches on
processing-time eviction to bound it to a rolling horizon for endless
streams (dedup then only looks back ``state_ttl``, the standard
trade-off).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import (
    _affine_family,
    _affine_parts,
    _shingler,
    lsh_band_signatures,
)

OUT_SCHEMA = "doc_id long, dup_of long, band int"
_STATE_SCHEMA = "owner long"


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "dup_of": pd.Series([], dtype="int64"),
            "band": pd.Series([], dtype="int32"),
        }
    )


def _band_owner_factory(ttl_ms: int | None):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield _empty_out()
            return
        rows: list[tuple] = []
        owner = state.get[0] if state.exists else None
        for pdf in pdfs:
            # arrival order within a micro-batch is not meaningful; the
            # min doc id is the deterministic first-owner
            for doc_id, band in sorted(zip(pdf["doc_id"], pdf["band"])):
                if owner is None:
                    owner = int(doc_id)
                elif int(doc_id) != owner:
                    rows.append((int(doc_id), owner, int(band)))
        if owner is not None:
            state.update((owner,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield (
            pd.DataFrame(rows, columns=["doc_id", "dup_of", "band"])
            if rows
            else _empty_out()
        )

    return fn


def _affine_struct(shingle):
    """Both affine parts of one shingle, from one ``transform`` pass."""
    h1, h2 = _affine_parts(shingle)
    return F.struct(h1.alias("h1"), h2.alias("h2"))


def near_dup_flag_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Flag each arriving doc that LSH-collides with any EARLIER doc.

    Output stream: (doc_id, dup_of, band) — one row per (flagged doc,
    colliding band); ``dropDuplicates`` on doc_id downstream if only the
    flag matters. ``state_ttl_ms`` turns on processing-time state
    eviction for unbounded streams — after eviction a signature's next
    doc becomes its new owner (later dups flag against the new owner,
    never a ghost; pinned by the TTL pytest).

    TTL caveat: ProcessingTimeTimeout makes Spark schedule micro-batches
    continuously (that is how expired keys get evaluated), so pair it
    with a processing-time ``trigger`` — the default run-as-fast-as-
    possible trigger degenerates to a busy loop of empty batches, and
    ``processAllAvailable()`` (which waits for quiescence) never returns.
    """
    family = _affine_family(num_hashes)
    arr = _shingler(shingle_size, char_ngrams)(F.col(text_col))
    hashed = stream_df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.transform(arr, _affine_struct).alias("__h"),
    )
    mh = hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("__h", lambda p: h(p["h1"], p["h2"]))
            ).alias(f"mh{i}")
            for i, h in enumerate(family)
        ],
    )
    band_rows = lsh_band_signatures(mh, "doc_id", num_hashes, bands)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return band_rows.groupBy("band", "band_sig").applyInPandasWithState(
        _band_owner_factory(state_ttl_ms),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
