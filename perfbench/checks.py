"""Output checks built from the generators' ground truth.

Each check returns a list of error strings; an empty list means the op's
output is correct. They take plain Python rows, so they can be run on
deliberately corrupted output without Spark.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from perfbench.gen import (
    INT_COLUMNS,
    PROFILED_COLUMNS,
    Corpus,
    TagTruth,
    jaccard_parts,
    shingles,
)

TAG_KEY = "whylogs.tag.tag"


def check_store_log(rows: Iterable[Mapping], truth: Mapping[str, TagTruth]) -> list[str]:
    """Merged wire profile vs the batches appended so far.

    ``rows`` are ``read_profile_bin`` rows of the merged log. One message
    per distinct tag; per (tag, column): count equals the tag's rows; per
    (tag, int column): null count, min and max equal the generator's.
    """
    errors: list[str] = []
    msgs: dict[tuple, str] = {}
    seen: dict[tuple[str, str], Mapping] = {}
    for r in rows:
        tag = (r["tags"] or {}).get(TAG_KEY)
        key = (r["path"], r["msg_index"])
        if msgs.setdefault(key, tag) != tag:
            errors.append(f"message {key} mixes tags")
        if (tag, r["column_name"]) in seen:
            errors.append(f"column {r['column_name']} twice for tag {tag}")
        seen[(tag, r["column_name"])] = r
    tags_out = sorted(t for t in msgs.values() if t is not None)
    if len(msgs) != len(truth) or tags_out != sorted(truth):
        errors.append(f"messages for tags {tags_out}, expected one per {sorted(truth)}")
    for tag, tt in truth.items():
        for col in PROFILED_COLUMNS:
            r = seen.get((tag, col))
            if r is None:
                errors.append(f"missing column {col} for tag {tag}")
                continue
            if r["count"] != tt.rows:
                errors.append(f"{tag}/{col}: count {r['count']} != {tt.rows}")
        for col in INT_COLUMNS:
            r = seen.get((tag, col))
            if r is None:
                continue
            if r["null_count"] != tt.nulls[col]:
                errors.append(f"{tag}/{col}: nulls {r['null_count']} != {tt.nulls[col]}")
            if r["min"] != tt.mins.get(col) or r["max"] != tt.maxs.get(col):
                errors.append(
                    f"{tag}/{col}: min/max {r['min']}/{r['max']} != "
                    f"{tt.mins.get(col)}/{tt.maxs.get(col)}"
                )
    return errors


def check_dedup(
    pairs: Iterable[Mapping], corpus: Corpus, threshold: float
) -> list[str]:
    """Every returned pair is two distinct known documents whose word-shingle
    Jaccard, recomputed here, is at or above ``threshold`` and equals the
    reported value; no pair appears twice (in either order)."""
    errors: list[str] = []
    seen: set[tuple[int, int]] = set()
    cache: dict[int, set[str]] = {}
    for p in pairs:
        a, b = int(p["id_a"]), int(p["id_b"])
        key = (min(a, b), max(a, b))
        if a == b:
            errors.append(f"self pair {a}")
            continue
        if key in seen:
            errors.append(f"pair {key} twice")
            continue
        seen.add(key)
        if a not in corpus.texts or b not in corpus.texts:
            errors.append(f"pair {key} names an unknown document")
            continue
        for d in key:
            if d not in cache:
                cache[d] = shingles(corpus.texts[d])
        inter, union = jaccard_parts(cache[key[0]], cache[key[1]])
        if inter < threshold * union:
            errors.append(f"pair {key}: Jaccard {inter}/{union} below {threshold}")
        # the library reports Jaccard rounded to 6 decimals
        elif abs(float(p["jaccard"]) - inter / union) > 5e-7 + 1e-12:
            errors.append(f"pair {key}: reported {p['jaccard']} != {inter}/{union}")
    return errors


def dedup_recall(pairs: Iterable[Mapping], corpus: Corpus, threshold: float) -> float:
    """Share of planted pairs at or above ``threshold`` that were returned."""
    planted, _ = corpus.planted_pairs(threshold)
    if not planted:
        return 1.0
    found = {tuple(sorted((int(p["id_a"]), int(p["id_b"])))) for p in pairs}
    return len(found & planted) / len(planted)


def check_clusters(
    clusters: Iterable[Mapping], pairs: Iterable[Mapping], corpus: Corpus
) -> list[str]:
    """Every document of the slice appears once; its ``cluster_id`` is the
    smallest id of its connected component in the returned pairs (found
    here by union-find) and it is the survivor exactly when the two match."""
    parent = {d: d for d in corpus.texts}

    def root(d: int) -> int:
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for p in pairs:
        a, b = int(p["id_a"]), int(p["id_b"])
        if a in parent and b in parent:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    errors: list[str] = []
    seen: set[int] = set()
    for c in clusters:
        d = int(c["id"])
        if d not in parent:
            errors.append(f"cluster row for unknown document {d}")
            continue
        if d in seen:
            errors.append(f"document {d} twice")
            continue
        seen.add(d)
        want = root(d)
        if c["cluster_id"] != want:
            errors.append(f"document {d}: cluster {c['cluster_id']} != {want}")
        if bool(c["is_survivor"]) != (want == d):
            errors.append(f"document {d}: is_survivor {c['is_survivor']}")
    if len(seen) != len(parent):
        errors.append(f"{len(parent) - len(seen)} documents have no cluster row")
    return errors
