"""Seeded input generators and their ground truth.

Every input the library sees is a parquet file written here. Each op of a
run reads its own slice, generated from ``(seed, slice index)``, so no op
reads data an earlier op read and the same seed always gives the same
bytes-for-bytes inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NULL_STRINGS = ("NA", "null", "")
TAGS = ("us-east", "us-west", "eu", "apac")
INT_COLUMNS = ("i0", "i1", "i2")
# column order of a store_log batch; "tag" is the segment key, the rest
# are profiled
TABLE_COLUMNS = (
    "tag", "ts", "i0", "i1", "i2", "d0", "d1", "d2", "c0", "c1", "t0", "b0",
)
PROFILED_COLUMNS = TABLE_COLUMNS[1:]

SHINGLE_SIZE = 3
EDIT_RATES = (0.02, 0.05, 0.1, 0.2)
_TS0_US = 1_700_000_000_000_000
_WEEK_US = 7 * 86_400 * 1_000_000


def _rng(seed: int, slice_idx: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, slice_idx, stream])


def _vocab(n: int) -> list[str]:
    return [f"w{j}" for j in range(n)]


@dataclass
class TagTruth:
    rows: int = 0
    nulls: dict[str, int] = field(default_factory=dict)
    mins: dict[str, int] = field(default_factory=dict)
    maxs: dict[str, int] = field(default_factory=dict)

    def add(self, other: "TagTruth") -> None:
        self.rows += other.rows
        for c in INT_COLUMNS:
            self.nulls[c] = self.nulls.get(c, 0) + other.nulls.get(c, 0)
            if c in other.mins:
                self.mins[c] = min(self.mins.get(c, other.mins[c]), other.mins[c])
                self.maxs[c] = max(self.maxs.get(c, other.maxs[c]), other.maxs[c])


def table_batch(seed: int, slice_idx: int, rows: int, path: str) -> dict[str, TagTruth]:
    """One store_log batch: ``rows`` rows x 12 mixed columns, written as one
    parquet file with one row group (the shape a micro-batch writer emits).

    Doubles carry SQL NULL, NaN and +-Inf; categoricals carry the
    ``NULL_STRINGS``; the timestamp spans 7 days. Even batches use 3 of
    ``TAGS`` and odd ones all 4, so every run's ops see the same mix.
    Returns per-tag ground truth for the int columns.
    """
    rng = _rng(seed, slice_idx, 0)
    n_tags = 3 + slice_idx % 2
    tags = np.array(TAGS[:n_tags])
    tag_idx = rng.integers(0, n_tags, rows)
    cols: dict[str, pa.Array] = {"tag": pa.array(tags[tag_idx])}
    cols["ts"] = pa.array(
        (_TS0_US + rng.integers(0, _WEEK_US, rows)).astype("datetime64[us]")
    )
    ints = {
        "i0": (rng.integers(-(10**9), 10**9, rows), np.zeros(rows, bool)),
        "i1": (rng.integers(0, 10**6, rows), rng.random(rows) < 0.05),
        "i2": (rng.integers(0, 50, rows), rng.random(rows) < 0.01),
    }
    for name, (v, m) in ints.items():
        cols[name] = pa.array(v.astype(np.int64), mask=m)
    for name, v in (
        ("d0", rng.normal(0.0, 1000.0, rows)),
        ("d1", rng.lognormal(3.0, 1.5, rows)),
        ("d2", rng.random(rows)),
    ):
        r = rng.random(rows)
        v[r < 0.01] = np.nan
        v[(r >= 0.01) & (r < 0.015)] = np.inf
        v[(r >= 0.015) & (r < 0.02)] = -np.inf
        cols[name] = pa.array(v, mask=r > 0.97)
    cats = np.array([f"cat_{j}" for j in range(40)] + list(NULL_STRINGS))
    for name in ("c0", "c1"):
        cols[name] = pa.array(
            cats[rng.integers(0, len(cats), rows)], mask=rng.random(rows) < 0.03
        )
    vocab = _vocab(3000)
    pool_idx = rng.integers(0, len(vocab), (2000, 12))
    pool_len = rng.integers(1, 13, 2000)
    pool = np.array(
        [" ".join(vocab[k] for k in pool_idx[i, : pool_len[i]]) for i in range(2000)]
    )
    cols["t0"] = pa.array(pool[rng.integers(0, 2000, rows)], mask=rng.random(rows) < 0.02)
    cols["b0"] = pa.array(rng.random(rows) < 0.3, mask=rng.random(rows) < 0.02)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)

    truth: dict[str, TagTruth] = {}
    for t in range(n_tags):
        sel = tag_idx == t
        tt = TagTruth(rows=int(sel.sum()))
        for name, (v, m) in ints.items():
            live = v[sel & ~m]
            tt.nulls[name] = int((sel & m).sum())
            if live.size:
                tt.mins[name] = int(live.min())
                tt.maxs[name] = int(live.max())
        truth[str(tags[t])] = tt
    return truth


def shingles(text: str, size: int = SHINGLE_SIZE) -> set[str]:
    """Word shingles by the library's definition: split on single spaces,
    ``size``-word windows; a shorter text is one shingle."""
    words = text.split(" ")
    if len(words) < size:
        return {" ".join(words)}
    return {" ".join(words[i : i + size]) for i in range(len(words) - size + 1)}


def jaccard_parts(a: set[str], b: set[str]) -> tuple[int, int]:
    """(|a & b|, |a | b|) so callers can compare exactly."""
    inter = len(a & b)
    return inter, len(a) + len(b) - inter


@dataclass
class Corpus:
    texts: dict[int, str]
    # ids of each planted cluster: a source document and its copies
    clusters: list[list[int]]

    def planted_pairs(self, threshold: float) -> tuple[set[tuple[int, int]], int]:
        """(planted pairs id_a < id_b with exact Jaccard >= threshold,
        number of planted pairs)."""
        above: set[tuple[int, int]] = set()
        total = 0
        for group in self.clusters:
            sets = {i: shingles(self.texts[i]) for i in group}
            for x in range(len(group)):
                for y in range(x + 1, len(group)):
                    a, b = sorted((group[x], group[y]))
                    total += 1
                    inter, union = jaccard_parts(sets[a], sets[b])
                    if inter >= threshold * union:
                        above.add((a, b))
        return above, total


def corpus(seed: int, slice_idx: int, docs: int, path: str) -> Corpus:
    """A document slice over a Zipf(1.1) vocabulary of 20k words, 30-120
    words per document, written as one parquet file.

    One fifth of the documents are planted near-duplicates: copies of a
    source document with each word replaced at one of ``EDIT_RATES``. Word
    3-shingle Jaccard of a copy falls from ~0.9 (2% edits) to ~0.35 (20%),
    so the planted pairs straddle the 0.5 threshold.
    """
    rng = _rng(seed, slice_idx, 1)
    vocab = _vocab(20_000)
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 1.1)
    cdf /= cdf[-1]

    def zipf_words(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)

    n_copies = docs // 5
    n_src = docs - n_copies
    lengths = rng.integers(30, 121, n_src)
    bodies = np.split(zipf_words(int(lengths.sum())), np.cumsum(lengths)[:-1])
    sources = rng.integers(0, n_src, n_copies)
    rates = np.array(EDIT_RATES)[rng.integers(0, len(EDIT_RATES), n_copies)]
    for src, rate in zip(sources, rates):
        body = bodies[src].copy()
        hit = rng.random(body.size) < rate
        body[hit] = zipf_words(int(hit.sum()))
        bodies.append(body)
    order = rng.permutation(docs)
    base = slice_idx * 10_000_000
    ids = base + order  # ids[k] = id of bodies[k]
    words = np.array(vocab, dtype=object)
    texts = {int(ids[k]): " ".join(words[bodies[k]]) for k in range(docs)}

    members: dict[int, list[int]] = {}
    for k, src in enumerate(sources):
        members.setdefault(int(src), [int(ids[src])]).append(int(ids[n_src + k]))

    by_id = sorted(texts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(by_id, type=pa.int64()),
                "text": pa.array([texts[i] for i in by_id]),
            }
        ),
        path,
    )
    return Corpus(texts, list(members.values()))
