"""Property-based tests (hypothesis): profile statistics vs numpy on
adversarial value mixes, and merge associativity."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from whylogs_java_spark import (
    finalize_profile,
    merge_profile_atoms,
    profile,
    profile_atoms,
)

values = st.lists(
    st.one_of(
        st.none(),
        st.floats(
            min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
        ),
        # big tier (|x| >= 2^31): epoch-millis/micros/nanos and id-scale
        # magnitudes — drawn as offset+deviation so groups have the
        # tight relative spread where the raw-moment formula cancelled
        # catastrophically pre-r12 (the m2 tier must hold here)
        st.floats(
            min_value=1.6e18, max_value=1.8e18,
            allow_nan=False, allow_infinity=False,
        ),
        st.just(float("nan")),
        st.just(float("inf")),
        st.just(float("-inf")),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(values)
# pinned falsifiers (r11 judge + r12 audit) so the battery replays known
# failure modes instead of re-rolling random draws:
# 1. the r11 hypothesis find — epoch-millis magnitude, ~2.3e6 apart; the
#    raw-moment formula over double sum2_big kept only ~4 digits (84x
#    outside vtol)
@example(xs=[-999999999979.0, -999997706241.0])
# 2. epoch-nanos within seconds: x~1.7e18, deviations ~1e9 — raw moments
#    are pure noise there (ulp(x²) >> variance), clamped to 0 pre-fix
@example(xs=[1.7e18, 1.7e18 + 1.0e9, 1.7e18 + 2.5e9, 1.7e18 + 0.7e9])
# 3. tier mix: small values plus one big value must still engage the
#    stable path for the WHOLE group
@example(xs=[1.5, 2.25, None, 5.0e12, float("nan")])
def test_profile_stats_match_numpy(spark, xs):
    df = spark.createDataFrame([(float(x) if x is not None else None,) for x in xs], "x double")
    r = {row["column_name"]: row for row in profile(df).collect()}["x"]
    clean = np.array(
        [x for x in xs if x is not None and math.isfinite(x)], dtype=np.float64
    )
    assert r["count"] == len(xs)
    assert r["null_count"] == len(xs) - len(clean)
    assert r["n"] == len(clean)
    if len(clean):
        assert r["min"] == clean.min() and r["max"] == clean.max()
        # truth = math.fsum (exact rounding); tolerance combines the engine's
        # 1e-6/value fractional quantization (0.5e-6*n) with the inherent
        # float64 summation drift n*ulp(max|x|) — at |x|~1e12 numpy's own
        # pairwise sum is off by ~1e-4, so a fixed 1e-6 bound is unachievable
        maxabs = float(np.abs(clean).max())
        fsum = math.fsum(float(x) for x in clean)
        # summation drift: n roundings, each at most an ulp of the running
        # sum (bounded by ulp(n*max|x|) — not ulp(max|x|), which understates
        # the drift once partial sums exceed the max element's magnitude)
        tol = 5e-7 * len(clean) + 1e-6 + len(clean) * np.spacing(
            (maxabs or 1.0) * len(clean)
        )
        assert r["sum"] == pytest.approx(fsum, abs=tol)
        assert r["mean"] == pytest.approx(fsum / len(clean), abs=tol / len(clean) + 1e-6)
    if len(clean) > 1:
        mean = fsum / len(clean)
        var = math.fsum((float(x) - mean) ** 2 for x in clean) / (len(clean) - 1)
        maxdev = max(abs(float(x) - mean) for x in clean) or 1.0
        # each value's 0.5e-6 quantization + ulp-level drift perturbs a
        # squared deviation by ~2*maxdev*eps; n of them, over (n-1)
        vtol = 1e-4 + 2.0 * maxdev * (5e-7 + np.spacing(maxabs or 1.0)) * len(
            clean
        ) / (len(clean) - 1)
        assert r["variance"] == pytest.approx(var, rel=1e-6, abs=vtol)
    else:
        assert r["variance"] == (0.0 if len(clean) == 1 else None)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=3,
        max_size=40,
    )
)
def test_merge_split_invariance(spark, rows):
    """Profiling any 2-way split then merging equals profiling the whole —
    the central mergeability invariant (DatasetProfile.merge)."""
    df = spark.createDataFrame([(int(k), float(v)) for k, v in rows], "k int, v double")
    whole = {
        (r["k"], r["column_name"]): (r["count"], r["sum"], r["variance"])
        for r in profile(df, group_by=["k"]).collect()
    }
    a = profile_atoms(df.where("v >= 0"), group_by=["k"])
    b = profile_atoms(df.where("v < 0"), group_by=["k"])
    merged = finalize_profile(merge_profile_atoms(a.unionByName(b), ["k"]), ["k"])
    got = {
        (r["k"], r["column_name"]): (r["count"], r["sum"], r["variance"])
        for r in merged.collect()
    }
    assert got == whole


def test_merge_big_magnitude_variance_stable(spark):
    """Split/merge at epoch-nanos magnitude: the merged stable m2 (Chan
    re-based about the group min) must agree with the whole profile's
    single-pass variance — the regime where the raw-moment merge was pure
    noise pre-r12. The merge path's precision floor is reconstructing Σx
    from the double sum_big atom (rel error ~ n·x̄ / ((x̄−min)·2^53) ≈ 1e-7
    here), so the bound is 1e-5 relative, not ulp-level — vs a pre-fix
    error of ~1e0 relative (variance clamped to 0)."""
    base = 1.7e18
    rows = [(i % 3, base + (i * 1.3e9) % 7.1e10) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, v double")
    whole = {
        (r["k"], r["column_name"]): r
        for r in profile(df, group_by=["k"]).collect()
    }
    a = profile_atoms(df.where("v >= 1.7e18 + 3e10"), group_by=["k"])
    b = profile_atoms(df.where("v < 1.7e18 + 3e10"), group_by=["k"])
    merged = finalize_profile(merge_profile_atoms(a.unionByName(b), ["k"]), ["k"])
    for r in merged.collect():
        w = whole[(r["k"], r["column_name"])]
        assert (r["count"], r["n"], r["min"], r["max"]) == (
            w["count"], w["n"], w["min"], w["max"],
        )
        assert r["variance"] == pytest.approx(w["variance"], rel=1e-5)
        assert r["stddev"] == pytest.approx(w["stddev"], rel=1e-5)
        # sanity vs ground truth: numpy two-pass on the raw values
        import numpy as _np

        vals = _np.array([v for k, v in rows if k == r["k"]])
        assert r["variance"] == pytest.approx(
            float(_np.var(vals, ddof=1)), rel=1e-5
        )


# ---------------------------------------------------------------------------
# wire chunk packing (pure python, no Spark)
# ---------------------------------------------------------------------------

@given(
    st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=4000),
)
def test_greedy_chunk_packing_invariants(sizes, cap):
    from whylogs_java_spark.sources.protobuf import _greedy_chunks

    items = [bytes(n % 251 for _ in range(n)) for n in sizes]
    chunks = _greedy_chunks(items, cap)
    # order + content preserved exactly
    assert [i for c in chunks for i in c] == items
    for c in chunks:
        assert c  # no empty chunks
        # within cap unless a single oversized item
        assert len(c) == 1 or sum(len(i) for i in c) <= cap
    # maximality: no chunk could absorb its successor's head
    for a, b in zip(chunks, chunks[1:]):
        assert sum(len(i) for i in a) + len(b[0]) > cap


# small word alphabet => heavy cross-doc segment sharing, exercising the
# first-occurrence owner rule under collisions
_doc_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12).map(
        " ".join
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_doc_texts)
def test_segment_dedup_invariants(spark, texts):
    """On any corpus: every distinct segment is kept exactly once
    corpus-wide, kept+removed == segments per doc, and the kept text is a
    subsequence of the doc's own segments."""
    from whylogs_java_spark.operators.dedup import segment_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    seg_words = 3
    out = segment_dedup(df, "text", "doc_id", seg_words=seg_words).collect()

    def segs_of(t):
        ws = [w for w in t.split(" ") if w]
        if not ws:
            return [""]
        return [
            " ".join(ws[i : i + seg_words]) for i in range(0, len(ws), seg_words)
        ]

    all_segs = {}
    for i, t in rows:
        for s in segs_of(t):
            all_segs.setdefault(s, 0)
        # accumulate totals separately below
    n_distinct = len(all_segs)

    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {i for i, _ in rows}
    total_kept = 0
    for i, t in rows:
        segs = segs_of(t)
        r = by_id[i]
        assert r["n_segments"] == len(segs)
        assert r["n_kept"] + r["n_removed"] == len(segs)
        total_kept += r["n_kept"]
        kept_text = r["dedup_text"]
        # kept text must be reconstructible as a subsequence of the doc's segments
        remaining = kept_text
        for s in segs:
            if s and remaining.startswith(s):
                remaining = remaining[len(s):].lstrip(" ")
        assert remaining == ""
    # exactly one surviving copy per distinct segment, corpus-wide
    assert total_kept == n_distinct


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        min_size=1, max_size=25, unique=True,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    buckets=st.sampled_from([None, 3]),
)
def test_asof_join_matches_pandas_all_directions(
    spark, left, right, direction, buckets
):
    """asof_join (every direction, bucketed or not) == pandas merge_asof
    on arbitrary small frames; unique (k, ts) right rows keep the match
    deterministic without a tiebreak."""
    import pandas as pd

    from whylogs_java_spark.operators.joins import asof_join

    if direction == "nearest" and buckets:
        return  # unsupported combination (raises by contract)
    lpd = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        columns=["k", "ts", "lid"],
    )
    rpd = pd.DataFrame(right, columns=["k", "ts"])
    rpd["val"] = rpd["k"] * 1000 + rpd["ts"]
    expected = (
        pd.merge_asof(
            lpd.sort_values(["ts", "lid"]),
            rpd.sort_values("ts"),
            on="ts", by="k", direction=direction, suffixes=("", "_r"),
        )
        .set_index("lid")["val"]
        .to_dict()
    )
    out = asof_join(
        spark.createDataFrame(lpd),
        spark.createDataFrame(rpd),
        on="k", left_ts="ts", direction=direction, time_buckets=buckets,
    ).collect()
    assert len(out) == len(lpd)
    for row in out:
        exp, got = expected[row["lid"]], row["val_r"]
        if got is None:
            assert pd.isna(exp), (direction, buckets, dict(row))
        else:
            assert got == exp, (direction, buckets, dict(row))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    ),
    b=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    ),
)
def test_numeric_drift_psi_cdf_match_numpy(spark, a, b):
    """numeric_drift's PSI and CDF L-inf against an independent numpy
    reference implementing the same definition (fixed split bins,
    eps=1e-6 clamped proportions, running-sum binned CDFs evaluated at
    the bins present in either slice)."""
    from whylogs_java_spark.operators.drift import numeric_drift

    splits = [-50.0, 0.0, 50.0]
    dfa = spark.createDataFrame([(float(x),) for x in a], "value double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "value double")
    row = numeric_drift(dfa, dfb, "value", splits).collect()[0]

    def binv(x):
        return sum(1 for s in splits if x >= s)

    nb_bins = len(splits) + 1
    na = np.bincount([binv(x) for x in a], minlength=nb_bins).astype(float)
    nb = np.bincount([binv(x) for x in b], minlength=nb_bins).astype(float)
    pa, pb = na / na.sum(), nb / nb.sum()
    eps = 1e-6
    pac, pbc = np.maximum(pa, eps), np.maximum(pb, eps)
    present = (na + nb) > 0  # the engine's bin table holds only present bins
    psi = float(np.sum((pac - pbc) * (np.log(pac) - np.log(pbc)) * present))
    cum_a, cum_b = np.cumsum(na) / na.sum(), np.cumsum(nb) / nb.sum()
    linf = float(np.max(np.abs(cum_a - cum_b)[present]))

    assert row["count_a"] == len(a) and row["count_b"] == len(b)
    assert row["psi"] == pytest.approx(psi, abs=1e-9)
    assert row["cdf_linf"] == pytest.approx(linf, abs=1e-9)
    assert row["psi"] >= 0.0  # PSI is a nonnegative divergence


_vocab = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(_vocab, min_size=3, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_verify_matches_python_sets(spark, docs):
    """The exact verifier near_dup_pairs runs (per-doc shingle arrays)
    against brute-force Python set Jaccard over the same 3-word
    shingles: every given pair is scored, and each score matches
    exactly — pairs with no shared shingle included, at inter 0."""
    from whylogs_java_spark.operators.dedup import _jaccard_from_shingle_arrays

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    all_pairs = [
        (i, j) for i in range(len(docs)) for j in range(len(docs)) if i < j
    ]
    pairs = spark.createDataFrame(all_pairs, "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"], r["jaccard"])
        for r in _jaccard_from_shingle_arrays(
            df, pairs, "text", "doc_id", 3, False
        ).collect()
    }

    def shingles(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(ws) for i, ws in enumerate(docs)}
    assert set(got) == set(all_pairs)
    for i, j in all_pairs:
        inter = len(sets[i] & sets[j])
        union = len(sets[i] | sets[j])
        gi, ga, gb, gj = got[(i, j)]
        assert (gi, ga, gb) == (inter, len(sets[i]), len(sets[j]))
        assert gj == pytest.approx(round(inter / union, 6), abs=5e-7)


_span_corpora = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=14
    ),
    min_size=1,
    max_size=8,
)


def _spans_reference(docs: dict, gram: int):
    """Pure-python reference for duplicate_spans: census of overlapping
    gram tuples, duplicated positions, merged token-contiguous islands."""
    from collections import Counter

    census: Counter = Counter()
    for words in docs.values():
        for i in range(len(words) - gram + 1):
            census[tuple(words[i : i + gram])] += 1
    out = {}
    for did, words in docs.items():
        ivals = [
            (i, i + gram - 1)
            for i in range(len(words) - gram + 1)
            if census[tuple(words[i : i + gram])] >= 2
        ]
        spans = []
        for s, e in ivals:
            if spans and s <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((s, e))
        dup = sum(e - s + 1 for s, e in spans)
        out[did] = (
            len(words),
            len(spans),
            dup,
            max((e - s + 1 for s, e in spans), default=0),
        )
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_span_corpora)
def test_duplicate_spans_matches_reference(spark, corpora):
    from whylogs_java_spark.operators.dedup import duplicate_spans

    docs = {i: words for i, words in enumerate(corpora)}
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["total_tokens"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["longest_span"],
        )
        for r in duplicate_spans(df, "text", "doc_id", gram_words=3).collect()
    }
    assert got == _spans_reference(docs, 3)


def _r6(x: float) -> float:
    """Spark/DuckDB ROUND(x, 6): decimal HALF_UP on the shortest-repr
    decimal of the double (BigDecimal.valueOf semantics) — python's
    built-in round() is banker's and diverges on half-way cases."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


_tfidf_corpora = st.lists(
    st.lists(st.sampled_from(["u", "v", "w", "x", "y"]), min_size=1, max_size=10),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_tfidf_corpora)
def test_tfidf_matches_reference(spark, corpora):
    from collections import Counter

    from whylogs_java_spark.operators.text import tfidf_keywords

    docs = {i: w for i, w in enumerate(corpora)}
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["term"]): (
            r["term_count"], r["doc_tokens"], r["doc_freq"], r["score"]
        )
        for r in tfidf_keywords(df, "text", "doc_id", k=100).collect()
    }
    n = len(docs)
    dfreq = Counter(t for w in docs.values() for t in set(w))
    want = {}
    for i, w in docs.items():
        tf = Counter(w)
        for t, c in tf.items():
            score = _r6(
                (c / len(w)) * (math.log((n + 1) / (dfreq[t] + 1)) + 1.0)
            ) + 0.0
            want[(i, t)] = (c, len(w), dfreq[t], score)
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_tfidf_corpora)
def test_dsir_matches_reference(spark, corpora):
    """dsir_weights vs a pure-python replay (same md5 bucketing, same
    exact-integer atoms); the target slice is every even doc."""
    import hashlib

    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.sampling import dsir_weights

    B, a = 16, 1.0
    docs = {i: w for i, w in enumerate(corpora)}
    df = spark.createDataFrame(
        [(i, " ".join(w), i % 2) for i, w in docs.items()],
        "doc_id long, text string, par long",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_logratio"])
        for r in dsir_weights(
            df, "text", "doc_id", F.col("par") == 0, n_buckets=B
        ).collect()
    }

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % B

    t_b: dict = {}
    r_b: dict = {}
    for i, w in docs.items():
        for t in w:
            b = bucket(t)
            r_b[b] = r_b.get(b, 0) + 1
            if i % 2 == 0:
                t_b[b] = t_b.get(b, 0) + 1
    T = sum(t_b.values())
    R = sum(r_b.values())
    lr_i = {
        b: math.floor(
            _r6(
                math.log((t_b.get(b, 0) + a) / (T + a * B))
                - math.log((r_b[b] + a) / (R + a * B))
            )
            * 1_000_000
            + 0.5
        )
        for b in r_b
    }
    want = {}
    for i, w in docs.items():
        s = sum(lr_i[bucket(t)] for t in w)
        mm = s / len(w)
        want[i] = (
            len(w),
            math.copysign(math.floor(abs(mm) + 0.5), mm) / 1_000_000.0 + 0.0,
        )
    assert got == want


_winnow_texts = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=30), min_size=1, max_size=5
)


def _winnow_reference(text: str, k: int, w: int):
    import hashlib

    t = text.lower()
    n = len(t) - k + 1
    if n <= 0:
        return set()
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    ends = range(w - 1, n) if n >= w else [n - 1]
    out = set()
    for j in ends:
        lo = max(0, j - w + 1)
        sel = min(range(lo, j + 1), key=lambda i: (hs[i], -i))
        out.add((sel, hs[sel]))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_winnow_texts)
def test_winnow_fingerprints_match_reference(spark, texts):
    from whylogs_java_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got: dict = {}
    for r in winnow_fingerprints(df, "text", "doc_id", k=5, window=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["print_hash"]))
    want = {
        i: _winnow_reference(t, 5, 4)
        for i, t in enumerate(texts)
        if _winnow_reference(t, 5, 4)
    }
    assert got == want


# ---------------------------------------------------------------------------
# pack_assign vs a pure-python packer
# ---------------------------------------------------------------------------

texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["tok", "alpha", "beta", "gamma", "x"]),
        min_size=0, max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts_strategy, st.integers(min_value=1, max_value=16),
       st.integers(min_value=0, max_value=3))
def test_pack_assign_matches_python_packer(spark, texts, ctx, sep):
    from whylogs_java_spark.operators.text import pack_assign

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["token_offset"], r["first_context"],
            r["last_context"], r["n_contexts"],
        )
        for r in pack_assign(
            df, "text", "doc_id", context_len=ctx, sep_tokens=sep
        ).collect()
    }
    # pure-python reference: concat in id order with sep tokens between
    off = 0
    for i, t in sorted(rows):
        n = len([w for w in t.split(" ") if w])
        first = off // ctx
        last = (off + n - 1) // ctx if n > 0 else first
        spans = (last - first + 1) if n > 0 else 0
        assert got[i] == (n, off, first, last, spans), (i, t, ctx, sep)
        off += n + sep


# ---------------------------------------------------------------------------
# ngram_novelty vs pure-python set arithmetic
# ---------------------------------------------------------------------------

@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts_strategy, texts_strategy, st.integers(min_value=1, max_value=4))
def test_ngram_novelty_matches_python_sets(spark, ref_texts, cur_texts, n):
    from whylogs_java_spark.operators.decontam import ngram_novelty

    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    cur = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cur_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_seen"], r["n_novel"])
        for r in ngram_novelty(cur, "text", "doc_id", ref, n=n).collect()
    }

    def grams(t):
        w = [x for x in t.split(" ") if x]
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    ref_set = set().union(*(grams(t) for t in ref_texts)) if ref_texts else set()
    assert set(got) == set(range(len(cur_texts)))
    for i, t in enumerate(cur_texts):
        g = grams(t)
        assert got[i] == (len(g), len(g & ref_set), len(g - ref_set)), (i, t)


# ---------------------------------------------------------------------------
# blocklist_filter vs a pure-python regex twin
# ---------------------------------------------------------------------------

_BL_WORDS = ["alpha", "beta", "spark", "slow", "stream", "x1"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(_BL_WORDS + ["SPARK", "Beta"]),
                 min_size=0, max_size=10).map(" ".join),
        min_size=1, max_size=15,
    ),
    st.lists(st.sampled_from(["spark", "beta", "slow stream"]),
             min_size=1, max_size=3, unique=True),
)
def test_blocklist_filter_matches_python_re(spark, texts, terms):
    import re

    from whylogs_java_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_blocked"], r["n_blocked_terms"],
                      r["matched_terms"], r["blocked"])
        for r in blocklist_filter(df, "text", "doc_id", tuple(terms)).collect()
    }
    for i, t in enumerate(texts):
        low = t.lower()
        counts = {
            term: len(re.findall(r"\b" + re.escape(term) + r"\b", low))
            for term in (x.lower() for x in terms)
        }
        hits = sorted(k for k, v in counts.items() if v > 0)
        total = sum(counts.values())
        assert got[i] == (total, len(hits), ",".join(hits), total > 0), (
            i, t, terms,
        )


# ---------------------------------------------------------------------------
# leakage_safe_splits: cluster atomicity under random corpora
# ---------------------------------------------------------------------------

@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["tok", "alpha", "beta", "gamma", "delta"]),
                 min_size=4, max_size=12).map(" ".join),
        min_size=3, max_size=12, unique=True,
    ),
    st.integers(min_value=0, max_value=5),
)
def test_leakage_safe_splits_atomic_property(spark, texts, n_dups):
    """For ANY corpus and ANY planted duplicate set: every cluster maps
    to exactly one split, all rows are labeled, and verbatim duplicates
    always share their source's split."""
    from whylogs_java_spark.operators.pipeline import leakage_safe_splits

    rows = [(i, t) for i, t in enumerate(texts)]
    dup_of = {}
    for j in range(min(n_dups, len(texts))):
        did = 1000 + j
        rows.append((did, texts[j]))
        dup_of[did] = j
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in leakage_safe_splits(
            df, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4,
            shingle_size=2,
        ).collect()
    }
    assert set(out) == {r[0] for r in rows}  # every row labeled
    by_cluster: dict = {}
    for cid, split in out.values():
        by_cluster.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in by_cluster.values())
    for did, src in dup_of.items():
        # verbatim duplicate: identical shingle set -> jaccard 1 -> same
        # cluster -> same split, no exceptions
        assert out[did][0] == out[src][0], (did, src)
        assert out[did][1] == out[src][1], (did, src)


# ---------------------------------------------------------------------------
# band-join skew ceiling: hot buckets stay bounded under a stop-word regime
# ---------------------------------------------------------------------------

from hypothesis import strategies as _st  # noqa: E402

_skew_corpus = _st.integers(min_value=24, max_value=48).flatmap(
    lambda n_hot: _st.tuples(
        _st.just(n_hot),
        _st.integers(min_value=2, max_value=6),   # planted near-dup pairs
        _st.integers(min_value=0, max_value=3),   # random seed-ish salt
    )
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_skew_corpus)
def test_band_join_hot_bucket_cap(spark, cfg):
    """Skew hardening for the band-join family (the 100 TB claim's load-
    bearing bound): a degenerate corpus where a large block of documents
    shares EVERY band signature (exact copies — the stop-word/hot-bucket
    regime) must stay bounded once bucket_cap is set.

    Pins: (a) uncapped candidates include the full m*(m-1)/2 hot-block
    blow-up; (b) with bucket_cap < m the hot block contributes ZERO
    pairs while every planted near-dup pair outside the block is still
    found (recall preserved where it matters); (c) the capped candidate
    count obeys the ceiling sum_buckets(m_i^2) <= n_buckets * cap^2."""
    from whylogs_java_spark.operators.dedup import (
        lsh_band_signatures,
        _candidates_from_bands,
        minhash_signatures,
    )

    n_hot, n_pairs, salt = cfg
    rows = []
    hot_text = f"the same stop phrase repeated everywhere {salt}"
    for i in range(n_hot):
        rows.append((i, hot_text))
    # planted duplicate pairs: distinct vocabularies per pair, EXACT
    # copies — identical signatures share every band, so detection is
    # guaranteed (an edited pair's detection is probabilistic in the
    # banding and would make the test flaky)
    for p in range(n_pairs):
        base = " ".join(f"tok{p}x{j}" for j in range(12))
        rows.append((1000 + 2 * p, base))
        rows.append((1000 + 2 * p + 1, base))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "text", "doc_id", 16, 3)
    bands_df = lsh_band_signatures(sigs, "doc_id", 16, 4)

    uncapped = _candidates_from_bands(bands_df, "doc_id").collect()
    hot_pairs = {
        (r["id_a"], r["id_b"])
        for r in uncapped
        if r["id_a"] < n_hot and r["id_b"] < n_hot
    }
    assert len(hot_pairs) == n_hot * (n_hot - 1) // 2  # the blow-up is real

    cap = 16
    capped = _candidates_from_bands(bands_df, "doc_id", bucket_cap=cap).collect()
    capped_set = {(r["id_a"], r["id_b"]) for r in capped}
    # (b) hot block gone, planted pairs intact
    assert not any(a < n_hot and b < n_hot for a, b in capped_set)
    for p in range(n_pairs):
        assert (1000 + 2 * p, 1000 + 2 * p + 1) in capped_set
    # (c) the ceiling: every surviving bucket has <= cap members
    from pyspark.sql import functions as F

    sizes = (
        bands_df.groupBy("band", "band_sig")
        .count()
        .where(F.col("count") <= cap)
        .collect()
    )
    ceiling = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    assert len(capped_set) <= ceiling


def test_shingle_df_cap_drops_stop_shingle(spark):
    """The shingle-candidate twin of the skew ceiling: a stop shingle
    present in EVERY document must be excluded by df_cap, so documents
    sharing only boilerplate never pair; documents sharing rare content
    still do."""
    from whylogs_java_spark.operators.dedup import (
        shingle_candidate_pairs,
        shingle_sets,
    )

    stop = "the quick brown"
    rows = []
    for i in range(60):
        rows.append((i, f"{stop} doc{i}a doc{i}b doc{i}c"))
    # one genuine near-dup pair sharing a rare 3-shingle run
    rows.append((100, f"{stop} shared rare content here alpha"))
    rows.append((101, f"{stop} shared rare content here beta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_sets(df, "text", "doc_id", 3)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in shingle_candidate_pairs(sh, "doc_id", df_cap=50).collect()
    }
    assert (100, 101) in pairs
    # no pair exists solely through the stop shingle (present in all 62
    # docs > df_cap=50): every other doc's content shingles are unique
    assert all(a >= 100 for a, b in pairs)


def test_winnow_screen_ref_df_cap_drops_boilerplate(spark):
    """The screen-side skew ceiling: a boilerplate sentence shared by
    EVERY accepted doc must stop driving verdicts once ref_df_cap is
    set — a batch doc made only of boilerplate is no longer flagged,
    while a genuine copy of one accepted doc is still flagged with the
    right best_ref."""
    from whylogs_java_spark.operators.dedup import winnow_screen
    from whylogs_java_spark.streaming.winnow_stream import build_print_store

    boiler = "all rights reserved license text identical everywhere"
    ref_rows = [
        (i, f"{boiler} unique accepted content number {i} alpha beta")
        for i in range(40)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1, boiler),                 # boilerplate-only
            (2, ref_rows[7][1]),         # exact copy of accepted doc 7
            (3, "fresh novel content sharing nothing at all"),
        ],
        "doc_id long, text string",
    )
    prints = build_print_store(ref, "text", "doc_id", 5, 4).persist()
    try:
        uncapped = {
            r["doc_id"]: r
            for r in winnow_screen(
                batch, prints, "text", "doc_id", 5, 4, 2
            ).collect()
        }
        assert uncapped[1]["flagged"]  # boilerplate matches everything
        capped = {
            r["doc_id"]: r
            for r in winnow_screen(
                batch, prints, "text", "doc_id", 5, 4, 2, ref_df_cap=8
            ).collect()
        }
        assert not capped[1]["flagged"]  # boilerplate prints dropped
        assert capped[2]["flagged"] and capped[2]["best_ref"] == 7
        assert not capped[3]["flagged"]
    finally:
        prints.unpersist()


# ---------------------------------------------------------------------------
# r12 quota/budget + phrase operators vs pure-python twins
# ---------------------------------------------------------------------------

budget_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.floats(min_value=0, max_value=1,
                                       allow_nan=False, width=16)),
        st.one_of(st.none(), st.integers(min_value=-2, max_value=30)),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=budget_rows, budget=st.integers(min_value=0, max_value=200))
# boundary: a row whose cum lands EXACTLY on the budget stays in; NULL
# prefer sorts last; NULL/negative tokens are rejected rows
@example(rows=[(0.5, 10), (0.5, 10), (None, 5), (0.2, None), (0.2, -1)], budget=20)
# r12 review find: a zero-token row whose bucket OFFSET equals the
# budget must still be kept (the <-vs-<= prefilter bug), incl. budget=0
@example(rows=[(0.9, 20), (0.5, 0)], budget=20)
@example(rows=[(0.5, 0), (0.4, 0)], budget=0)
def test_token_budget_matches_python_greedy(spark, rows, budget):
    """token_budget_select (census ladder + within-bucket windows) == the
    pure-python single-pass greedy over (prefer DESC, id ASC)."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    data = [(i, q, t) for i, (q, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, q double, toks long")
    got = {r["id"]: r["cum_tokens"] for r in
           token_budget_select(df, "id", "toks", "q", budget).collect()}
    order = sorted(
        [(i, q, t) for i, q, t in data if t is not None and t >= 0],
        key=lambda r: (-(r[1] if r[1] is not None else float("-inf")), r[0]),
    )
    cum, want = 0, {}
    for i, q, t in order:
        cum += t
        if cum <= budget:
            want[i] = cum
    assert got == want


phrase_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="ab ", min_size=0, max_size=30),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=phrase_texts, plen=st.integers(min_value=1, max_value=3))
@example(texts=["a a a b a a", "", None, "b  a"], plen=2)
def test_phrase_counts_match_python_walk(spark, texts, plen):
    """phrase_counts (array-world chain walk) == a pure-python token
    walk, including overlapping starts, multi-space splits, NULL text,
    and phrases longer than the doc."""
    from whylogs_java_spark.operators.retrieval import phrase_counts

    words = ["a"] * plen if plen < 3 else ["a", "b", "a"][:plen]
    data = [(i, t) for i, t in enumerate(texts)]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(data, "id long, text string")
    got = {r["id"]: r["n"] for r in df.select(
        "id", phrase_counts(F.col("text"), words).alias("n")).collect()}
    want = {}
    for i, t in data:
        toks = [x for x in (t or "").lower().split(" ") if x]
        want[i] = sum(
            1 for s in range(len(toks) - len(words) + 1)
            if toks[s:s + len(words)] == words
        )
    assert got == want


# --- r12: BPE trainer vs a pure-python reference -------------------------

_bpe_words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=6),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_bpe_words)
def test_bpe_train_matches_python_reference_property(spark, words):
    """The distributed trainer replays the reference greedy-merge
    trajectory (count desc, left asc, right asc ties) on arbitrary
    small corpora — including heavy repetition and 1-char words."""
    from collections import Counter

    from tests.test_pipeline_ops import _py_bpe
    from whylogs_java_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(0, " ".join(words))], ["doc_id", "text"]
    )
    want = _py_bpe(Counter(words), 5)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=5).orderBy("step").collect()
    ]
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(train=_bpe_words, feed=_bpe_words)
# ambiguous-decomposition shape: the same merged string reachable via
# two paths — the regime where a NAIVE min-rank priority loop can
# diverge from training-order replay; the cursor loop must not
@example(
    train=["bc", "abc", "abc", "abcd", "ab", "ab", "ab"],
    feed=["abcd", "ab", "abc", "zabc"],
)
def test_bpe_apply_arrow_matches_expr_property(spark, train, feed):
    """r13: the Arrow encoder tier is bit-identical to the expression
    tier for ARBITRARY trained merge tables and feeds (unseen words,
    repeats, 1-char words) — the cursor-ordered replay loop's
    equivalence proof, exercised."""
    from collections import Counter

    from tests.test_pipeline_ops import _py_bpe
    from whylogs_java_spark.operators.tokenizer import bpe_apply

    merges = _py_bpe(Counter(train), 6)
    pairs = [(m[0], m[1], m[2]) for m in merges]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(feed)], ["doc_id", "text"]
    )
    key = lambda r: (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))  # noqa: E731
    expr = sorted(
        key(r)
        for r in bpe_apply(docs, "text", "doc_id", pairs, method="expr").collect()
    )
    arrow = sorted(
        key(r)
        for r in bpe_apply(docs, "text", "doc_id", pairs, method="arrow").collect()
    )
    assert arrow == expr


# --- r12: score_buckets vs numpy linear percentiles ----------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    )
)
def test_score_buckets_match_numpy_percentiles(spark, xs):
    """Tercile assignment agrees with numpy's linear-interpolation
    percentiles under the same round-6 cutoff rule — the exact-quantile
    contract the DuckDB oracle relies on."""
    import numpy as np

    from whylogs_java_spark.operators.sampling import score_buckets

    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], ["doc_id", "ppl"]
    )
    got = {r["doc_id"]: r["bucket"] for r in score_buckets(
        df, "doc_id", "ppl"
    ).collect()}
    c1 = round(float(np.percentile(xs, 100.0 / 3.0, method="linear")), 6)
    c2 = round(float(np.percentile(xs, 200.0 / 3.0, method="linear")), 6)
    for i, x in enumerate(xs):
        want = "head" if x <= c1 else ("middle" if x <= c2 else "tail")
        assert got[i] == want, (i, x, c1, c2)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_bpe_words)
def test_bpe_train_census_matches_python_reference_property(spark, words):
    """r14: the driver-census training tier replays the same reference
    trajectory as the distributed tier on arbitrary small corpora —
    the incremental pair-count maintenance and lazy-deletion heap
    argmax cannot diverge from rebuild-everything greedy."""
    from collections import Counter

    from tests.test_pipeline_ops import _py_bpe
    from whylogs_java_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(0, " ".join(words))], ["doc_id", "text"]
    )
    want = _py_bpe(Counter(words), 5)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(
            docs, "text", n_merges=5, method="census"
        ).orderBy("step").collect()
    ]
    assert got == want


_lm_docs = st.lists(
    st.lists(st.sampled_from("the cat dog sat ate a on mat zz".split()),
             min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(_lm_docs)
def test_lm_score3_kn_matches_python_reference_property(spark, texts):
    """r14: interpolated-KN scoring equals the pure-python reference
    (6-decimal contract) for arbitrary tiny corpora — truncation,
    unseen prefixes, empty docs, all-<unk> docs included."""
    from tests.test_pipeline_ops import _py_kn_score
    from whylogs_java_spark.operators.text import lm_score

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(vocab_size=5, top_bigrams=8, top_trigrams=6)
    got = {r["doc_id"]: (r["n_trigrams"], r["avg_logp"], r["perplexity"])
           for r in lm_score(
               docs, "text", "doc_id", order=3, smoothing="kn", **kw
           ).collect()}
    want = _py_kn_score(rows, rows, alpha=0.5, discount=0.75, **kw)
    assert got == want
