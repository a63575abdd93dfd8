"""Tests for the round-4 training-pipeline operators: repetition metrics,
deterministic sampling, containment dedup, PII scan, audio/video header
metadata, packing stats, compression ratio, and the streaming exact- and
near-dup operators plus the streaming wire-profile sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark.operators.dedup import containment_pairs, content_key, exact_dedup
from whylogs_java_spark.operators.sampling import hash_sample, stratified_sample_exact
from whylogs_java_spark.operators.text import repetition_metrics
from whylogs_java_spark.streaming.dedup_stream import dedup_stream


# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------

def test_repetition_metrics_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "only")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(df, "text", "doc_id").collect()}
    r1 = rows[1]
    assert r1["n_words"] == 4
    assert r1["distinct_word_frac"] == pytest.approx(0.5)
    assert r1["top_word_frac"] == pytest.approx(0.75)
    # bigrams: "a a", "a a", "a b" -> top 2/3
    assert r1["top_bigram_frac"] == pytest.approx(round(2 / 3, 6))
    r2 = rows[2]
    assert r2["distinct_word_frac"] == pytest.approx(1.0)
    assert r2["top_word_frac"] == pytest.approx(round(1 / 3, 6))
    # single word: no bigrams -> NULL
    assert rows[3]["n_words"] == 1 and rows[3]["top_bigram_frac"] is None


def test_repetition_metrics_multiple_spaces(spark):
    # empty tokens from double spaces are filtered (Java split semantics)
    df = spark.createDataFrame([(1, "a  a")], ["doc_id", "text"])
    r = repetition_metrics(df, "text", "doc_id").collect()[0]
    assert r["n_words"] == 2 and r["top_word_frac"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_stratified(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kw = dict(
        stratum_col="lang",
        fractions={"en": 0.5, "fr": 0.25},
        default_fraction=0.1,
    )
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", **kw).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(7), "doc_id", **kw).collect()
    }
    assert a == b  # partitioning-independent
    n = docs.count()
    assert 0 < len(a) < n
    # per-stratum rates land near their targets
    got = {
        r["lang"]: r["cnt"]
        for r in hash_sample(docs, "doc_id", **kw)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    tot = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    en_rate = got.get("en", 0) / tot["en"]
    assert 0.3 < en_rate < 0.7


def test_hash_sample_salt_changes_selection(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", fraction=0.3).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(docs, "doc_id", fraction=0.3, salt="v2").collect()
    }
    assert a != b


def test_stratified_sample_exact_counts(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = stratified_sample_exact(docs, "doc_id", ["lang"], k=5)
    per = {
        r["lang"]: r["cnt"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    tot = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for lang, n in tot.items():
        assert per.get(lang, 0) == min(5, n)
    # deterministic under repartition
    again = stratified_sample_exact(docs.repartition(5), "doc_id", ["lang"], k=5)
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in again.collect()
    }


# ---------------------------------------------------------------------------
# containment dedup
# ---------------------------------------------------------------------------

def test_containment_asymmetric_subset(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra1 extra2")], ["doc_id", "text"]
    )
    out = containment_pairs(df, "text", "doc_id", threshold=0.9).collect()
    assert len(out) == 1
    r = out[0]
    # every shingle of doc 1 appears in doc 2; the reverse does not hold
    assert r["containment_a"] == pytest.approx(1.0)
    assert r["containment_b"] < 1.0
    # symmetric jaccard would be inter/union < 0.9
    union = r["size_a"] + r["size_b"] - r["inter"]
    assert r["inter"] / union < 0.9


def test_containment_fragment_recall_by_candidate_mode(spark):
    # 10-word fragments quoted from every 20th doc: the containment
    # signal is ~1 on the fragment side, but symmetric Jaccard is tiny —
    # banded minhash candidates miss most fragments at ANY r, while
    # rare-shingle inverted-index candidates catch every one.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    frag = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 10)).alias("text"),
    )
    n_frag = frag.count()
    corpus = docs.unionByName(frag)

    def caught(**kw):
        p = containment_pairs(corpus, "text", "doc_id", threshold=0.9, **kw)
        return p.where(F.col("id_b") - F.col("id_a") == 200000).count()

    shingle = caught(candidates="shingle", df_cap=50)
    r4 = caught(candidates="bands", num_hashes=16, bands=4)
    r2 = caught(candidates="bands", num_hashes=16, bands=8)
    assert shingle == n_frag, f"inverted-index recall must be total: {shingle}/{n_frag}"
    # banded minhash misses a large share of fragments, and shortening the
    # bands (r=4 -> r=2) does not close the gap — collision probability
    # tracks symmetric Jaccard, which smallness keeps near zero
    assert r4 < n_frag * 0.7
    assert r2 < n_frag * 0.7
    assert r2 >= r4  # more, shorter bands can only add candidates here
    # pin the measured sf0.001 counts quoted in the containment_pairs
    # docstring so doc and behavior cannot drift apart
    if SF_DIR.endswith("sf0.001"):
        assert (shingle, r4, r2) == (25, 12, 14)


# ---------------------------------------------------------------------------
# streaming exact dedup
# ---------------------------------------------------------------------------

def test_dedup_stream_matches_batch_key_set(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # corpus with exact duplicates: re-append every 5th doc under a new id
    dup = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.unionByName(dup)
    src = str(tmp_path / "stream_src")
    corpus.write.parquet(src)

    stream = spark.readStream.schema(corpus.schema).parquet(src)
    q = (
        dedup_stream(stream, "text")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT text_key FROM dedup_out").collect()
    finally:
        q.stop()
    stream_keys = [r["text_key"] for r in got]
    batch_keys = {
        r["k"] for r in corpus.select(content_key(F.col("text")).alias("k")).collect()
    }
    # one surviving row per distinct key, same key set as batch
    assert len(stream_keys) == len(set(stream_keys)) == len(batch_keys)
    assert set(stream_keys) == batch_keys
    # and batch exact_dedup agrees on survivor count
    assert exact_dedup(corpus, "text", "doc_id").count() == len(batch_keys)


# ---------------------------------------------------------------------------
# PII scan
# ---------------------------------------------------------------------------

def test_pii_scan_counts(spark):
    from whylogs_java_spark.operators.text import pii_scan

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@corp.example.org thanks"),
            (2, "server at 192.168.1.17 answered"),
            (3, "call +1 (555) 867-5309 now"),
            (4, "order 12345678 shipped"),
            (5, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_scan(df, "text", "doc_id").collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["has_pii"]
    assert rows[2]["n_ipv4"] == 1 and rows[2]["has_pii"]
    assert rows[3]["n_phone"] == 1 and rows[3]["has_pii"]
    assert rows[4]["n_number_run"] == 1 and not rows[4]["has_pii"]
    assert not rows[5]["has_pii"]
    assert all(rows[5][f] == 0 for f in ("n_email", "n_ipv4", "n_phone", "n_number_run"))


# ---------------------------------------------------------------------------
# audio header metadata
# ---------------------------------------------------------------------------

def test_audio_header_meta_wav_walk(spark):
    from whylogs_java_spark.operators.multimodal import audio_header_meta

    import struct as _s

    def chunk(cid: bytes, payload: bytes) -> bytes:
        out = cid + _s.pack("<I", len(payload)) + payload
        return out + (b"\0" if len(payload) % 2 else b"")  # RIFF pad rule

    fmt = _s.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    # odd-sized LIST payload before fmt exercises the pad-to-even rule
    wav = (
        b"RIFF" + _s.pack("<I", 1000) + b"WAVE"
        + chunk(b"LIST", b"odd")
        + chunk(b"fmt ", fmt)
        + b"data" + _s.pack("<I", 88200)
    )
    rows = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"OggS not wav")),
         (3, bytearray(b"RIFF\x00\x00\x00\x00WAVE"))],  # no chunks at all
        "doc_id long, data binary",
    )
    got = {r["doc_id"]: r for r in audio_header_meta(rows, "data", "doc_id").collect()}
    r = got[1]
    assert r["format"] == "wav" and r["channels"] == 2
    assert r["sample_rate"] == 44100 and r["bits_per_sample"] == 16
    assert r["data_bytes"] == 88200 and r["duration_ms"] == 500
    assert got[2]["format"] == "unknown" and got[2]["channels"] is None
    # well-formed container but truncated before any chunk: wav, null fields
    assert got[3]["format"] == "wav" and got[3]["sample_rate"] is None


# ---------------------------------------------------------------------------
# streaming -> wire profiles -> merge == batch whole
# ---------------------------------------------------------------------------

def test_streaming_wire_sink_merges_to_batch_profile(spark, tmp_path):
    from whylogs_java_spark.sources.protobuf import (
        merge_profile_bins,
        read_profile_bin,
        write_profile_bin,
    )
    from whylogs_java_spark.streaming.wire_sink import wire_profile_batch_writer

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    src = str(tmp_path / "src")
    # several files so the stream sees multiple micro-batches
    docs.repartition(4).write.parquet(src)

    out_dir = str(tmp_path / "stream_profiles")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream
        .foreachBatch(
            wire_profile_batch_writer(
                out_dir, ["lang"], include_sketches=False, frequent_items_k=0
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    import glob

    files = sorted(glob.glob(f"{out_dir}/batch-*.bin"))
    assert len(files) >= 2  # incremental: more than one micro-batch profile

    merged = str(tmp_path / "merged.bin")
    merge_profile_bins(spark, files, merged)
    whole = str(tmp_path / "whole.bin")
    write_profile_bin(
        docs, whole, group_by=["lang"], include_sketches=False,
        frequent_items_k=0,
    )
    a = {
        (r["tags"]["whylogs.tag.lang"], r["column_name"]): r
        for r in read_profile_bin(spark, merged).collect()
    }
    b = {
        (r["tags"]["whylogs.tag.lang"], r["column_name"]): r
        for r in read_profile_bin(spark, whole).collect()
    }
    assert set(a) == set(b)
    for k in b:
        assert a[k]["count"] == b[k]["count"], k
        assert a[k]["null_count"] == b[k]["null_count"], k
        for f in ("min", "max", "sum", "mean", "variance"):
            av, bv = a[k][f], b[k][f]
            if bv is None:
                assert av is None, (k, f)
            else:
                # whole-file finalizers round to 6 decimals; the merge
                # recomputes from atoms at full precision
                assert av == pytest.approx(bv, rel=1e-9, abs=1e-6), (k, f)


# ---------------------------------------------------------------------------
# compression ratio
# ---------------------------------------------------------------------------

def test_compression_ratio_ordering(spark):
    from whylogs_java_spark.operators.text import compression_ratio

    import random

    rng = random.Random(7)
    repetitive = "spam " * 200
    natural = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from a warm windowsill and the rain taps gently on the glass "
    ) * 8
    noise = "".join(chr(rng.randint(33, 126)) for _ in range(1000))
    df = spark.createDataFrame(
        [(1, repetitive), (2, natural), (3, noise), (4, None), (5, "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in compression_ratio(df, "text", "doc_id").collect()}
    assert rows[1]["compression_ratio"] < rows[2]["compression_ratio"]
    assert rows[2]["compression_ratio"] < rows[3]["compression_ratio"]
    assert rows[3]["compression_ratio"] > 0.8  # noise is near-incompressible
    assert rows[1]["compression_ratio"] < 0.05
    assert rows[4]["zlib_bytes"] is None and rows[4]["compression_ratio"] is None
    assert rows[5]["raw_bytes"] == 0 and rows[5]["compression_ratio"] is None


def test_hash_sample_monotone_in_fraction(spark):
    # threshold construction => a larger fraction strictly supersets a
    # smaller one (stable sample growth — rows never churn out as the
    # rate increases)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s_small = {r["doc_id"] for r in hash_sample(docs, "doc_id", fraction=0.2).collect()}
    s_big = {r["doc_id"] for r in hash_sample(docs, "doc_id", fraction=0.5).collect()}
    assert s_small < s_big


# ---------------------------------------------------------------------------
# streaming near-dup flagging
# ---------------------------------------------------------------------------

def test_near_dup_flag_stream_matches_batch_band_groups(spark, tmp_path):
    from whylogs_java_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from whylogs_java_spark.streaming.dedup_near_stream import near_dup_flag_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    mut = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )

    # phase files: originals first, mutations arrive later
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    flagged_stream = near_dup_flag_stream(stream, "text", "doc_id")
    q = (
        flagged_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("near_flags")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM near_flags").collect()}
        mut.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id, dup_of FROM near_flags").collect()
    finally:
        q.stop()

    flagged = {r["doc_id"] for r in rows}
    # batch truth for phase 1 (single batch, min-id ownership): every doc
    # sharing a band signature with a smaller doc id gets flagged
    bands_df = lsh_band_signatures(
        minhash_signatures(docs, "text", "doc_id"), "doc_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_sig")
    batch_flagged = {
        r["doc_id"]
        for r in bands_df.withColumn("mn", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("mn"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert first == batch_flagged

    # phase 2: every mutation that batch-LSH pairs with its original is
    # flagged once it arrives (its bands are already owned)
    corpus = docs.unionByName(mut)
    cand = minhash_candidate_pairs(corpus, "text", "doc_id")
    expected_mut = {
        r["id_b"]
        for r in cand.where(
            (F.col("id_b") >= 100000) & (F.col("id_a") < 100000)
        ).collect()
    }
    assert expected_mut  # mutations do collide with their sources
    assert expected_mut <= flagged
    # every such mutation has at least one band owned by a PRE-EXISTING
    # doc (rows pointing at other mutations are fine — two mutations can
    # share a band only they hit, and the first then owns it)
    with_orig_owner = {
        r["doc_id"] for r in rows if r["doc_id"] >= 100000 and r["dup_of"] < 100000
    }
    assert expected_mut <= with_orig_owner


def test_near_dup_stream_ttl_evicts_and_rebinds_owner(spark, tmp_path):
    # TTL semantics: once a band owner's state is evicted, a later true
    # near-dup must be flagged against the NEW owner (the first doc after
    # eviction), never silently deduped against the evicted ghost.
    #
    # ProcessingTimeTimeout makes Spark schedule continuous empty
    # micro-batches to evaluate timeouts, so processAllAvailable() never
    # quiesces — the test drives batches via a processing-time trigger
    # and polls query progress / the sink instead.
    import time

    from whylogs_java_spark.streaming.dedup_near_stream import near_dup_flag_stream

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, text)], schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        near_dup_flag_stream(stream, "text", "doc_id", state_ttl_ms=20000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_flags")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        # 1 s trigger: throttles the continuous timeout batches (a fast
        # trigger churns the HDFS state store hard enough to race its
        # maintenance snapshots under a loaded suite session)
        .trigger(processingTime="1 second")
        .start()
    )

    def wait_for_data_batch(seen: set, deadline_s: float = 90.0) -> None:
        # block until a not-yet-seen batch with input rows completes
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if q.exception() is not None:
                raise AssertionError(f"query died: {q.exception()}")
            for p in q.recentProgress:
                if p["numInputRows"] > 0 and p["batchId"] not in seen:
                    seen.add(p["batchId"])
                    return
            time.sleep(0.2)
        raise AssertionError("no data-carrying micro-batch observed")

    def append(doc_id: int) -> None:
        spark.createDataFrame([(doc_id, text)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    seen: set = set()
    try:
        wait_for_data_batch(seen)  # doc 1 owns every band of `text`
        # let the 20 s TTL lapse; the continuous timeout batches evict
        # doc 1's state during the sleep. The TTL is set far above the
        # file-source discovery + trigger latency (seconds each) so docs
        # 2 and 3 reliably land within one TTL window of each other —
        # with a tight TTL, doc 2's state can itself expire before doc 3
        # is discovered and the test races its own eviction.
        time.sleep(25.0)
        # same text again: its bands are unowned now -> doc 2 becomes the
        # new owner and must NOT be flagged against the ghost of doc 1
        append(2)
        wait_for_data_batch(seen)
        # a third copy is flagged against the NEW owner
        append(3)
        wait_for_data_batch(seen)
        t0 = time.time()
        rows = []
        while time.time() - t0 < 90.0:
            rows = spark.sql("SELECT doc_id, dup_of FROM ttl_flags").collect()
            if any(r["doc_id"] == 3 for r in rows):
                break
            time.sleep(0.2)
    finally:
        q.stop()
    assert not [r for r in rows if r["doc_id"] == 2], f"ghost flag: {rows}"
    d3_owners = {r["dup_of"] for r in rows if r["doc_id"] == 3}
    assert d3_owners == {2}, f"doc 3 should rebind to owner 2: {rows}"


def test_near_dup_stream_drops_null_text_like_batch(spark, tmp_path):
    # batch shingle explode skips null-text docs, so the stream must too —
    # two null docs must not be flagged as near-dups of each other
    from whylogs_java_spark.streaming.dedup_near_stream import near_dup_flag_stream

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta epsilon")], schema
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        near_dup_flag_stream(stream, "text", "doc_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("null_flags")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM null_flags").collect()
    finally:
        q.stop()
    assert rows == [], f"null-text docs must produce no flags: {rows}"


# ---------------------------------------------------------------------------
# video container metadata
# ---------------------------------------------------------------------------

def test_video_container_meta_box_walk(spark):
    from whylogs_java_spark.operators.multimodal import video_container_meta

    import struct as _s

    def box(btype: bytes, payload: bytes) -> bytes:
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 512) + b"iso2avc1")
    good = ftyp + box(b"free", b"\0" * 16) + box(b"moov", b"\0" * 40) + box(b"mdat", b"\0" * 100)
    no_moov = ftyp + box(b"mdat", b"\0" * 50)
    # ISO BMFF size==0: box extends to end of file — legal and common for
    # a trailing mdat; it must be recorded, not treated as corruption
    eof_mdat = (
        ftyp
        + box(b"moov", b"\0" * 40)
        + _s.pack(">I", 0) + b"mdat" + b"\0" * 64
    )
    rows = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(no_moov)),
            (3, bytearray(b"RIFFxxxxWAVE")),
            (4, bytearray(eof_mdat)),
        ],
        "doc_id long, data binary",
    )
    got = {r["doc_id"]: r for r in video_container_meta(rows, "data", "doc_id").collect()}
    r = got[1]
    assert r["format"] == "mp4" and r["major_brand"] == "isom"
    assert r["minor_version"] == 512
    assert r["has_moov"] is True and r["has_mdat"] is True
    assert got[2]["format"] == "mp4" and got[2]["has_moov"] is False
    assert got[3]["format"] == "unknown" and got[3]["major_brand"] is None
    assert got[4]["has_moov"] is True and got[4]["has_mdat"] is True


# ---------------------------------------------------------------------------
# packing stats
# ---------------------------------------------------------------------------

def test_packing_stats_known_values(spark):
    from whylogs_java_spark.operators.text import packing_stats

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f"), (3, "a")], ["doc_id", "text"]
    )
    r = packing_stats(df, "text", "doc_id", context_len=4).collect()[0]
    assert r["n_docs"] == 3 and r["total_tokens"] == 10
    assert r["docs_over_context"] == 1          # the 6-token doc
    assert r["truncated_tokens"] == 2           # 6 - 4
    assert r["max_tokens"] == 6
    assert r["min_contexts"] == 3               # ceil(10/4)
    assert r["contexts_one_doc_each"] == 3


# ---------------------------------------------------------------------------
# split assignment / decontamination / segment dedup (round 5)
# ---------------------------------------------------------------------------


def test_assign_splits_total_and_frozen_under_growth(spark):
    """Every row gets a label; fractions land near spec; and growing the
    corpus never reassigns existing rows (the frozen-eval-set property)."""
    from whylogs_java_spark.operators.sampling import assign_splits

    base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = assign_splits(base, "doc_id").collect()
    assert all(r["split"] in ("train", "val", "test") for r in a)
    counts = {s: sum(1 for r in a if r["split"] == s) for s in ("train", "val", "test")}
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    assert 0.06 <= counts["val"] / 2000 <= 0.14
    assert 0.06 <= counts["test"] / 2000 <= 0.14

    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    b = {r["doc_id"]: r["split"] for r in assign_splits(grown, "doc_id").collect()}
    for r in a:
        assert b[r["doc_id"]] == r["split"]


def test_assign_splits_validates_fractions(spark):
    from whylogs_java_spark.operators.sampling import assign_splits

    df = spark.range(1).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        assign_splits(df, "doc_id", (("a", 0.5), ("b", 0.4)))
    with pytest.raises(ValueError):
        assign_splits(df, "doc_id", (("only", 1.0),))


def test_decontaminate_flags_planted_overlap(spark):
    """A doc quoting an eval 5-gram is flagged with the exact distinct-hit
    count; clean docs and sub-n docs are not."""
    from whylogs_java_spark.operators.decontam import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),  # contains eval grams
            (2, "one two three four five six seven eight"),  # clean
            (3, "too short"),  # < n words -> zero ngrams
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [("xx alpha beta gamma delta epsilon yy",)], ["text"]
    )
    out = {r["doc_id"]: r for r in decontaminate(
        corpus, "text", "doc_id", ev, n=5
    ).collect()}
    # eval text has 3 distinct 5-grams; doc 1 shares exactly one of them
    assert out[1]["n_hits"] == 1 and out[1]["contaminated"]
    assert out[1]["n_ngrams"] == 3
    assert out[2]["n_hits"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_ngrams"] == 0 and not out[3]["contaminated"]


def test_segment_dedup_first_occurrence_wins(spark):
    """Repeated segments keep only the (min doc, min pos) copy; docs are
    reassembled from kept segments in order."""
    from whylogs_java_spark.operators.dedup import segment_dedup

    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),          # owns a (pos 0) and b (pos 1)
            (2, f"{seg_b} {seg_c}"),          # loses b, keeps c
            (3, f"{seg_a} {seg_a}"),          # loses both copies of a
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(
        corpus, "text", "doc_id", seg_words=10
    ).collect()}
    assert out[1]["n_kept"] == 2 and out[1]["dedup_text"] == f"{seg_a} {seg_b}"
    assert out[2]["n_kept"] == 1 and out[2]["dedup_text"] == seg_c
    assert out[3]["n_kept"] == 0 and out[3]["dedup_text"] == ""
    assert out[3]["n_segments"] == 2 and out[3]["n_removed"] == 2


def test_segment_dedup_partial_tail_segment(spark):
    """The trailing partial segment is its own unit — identical tails
    dedup, distinct tails survive."""
    from whylogs_java_spark.operators.dedup import segment_dedup

    seg = " ".join(f"w{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(1, f"{seg} tail one"), (2, f"{seg} tail one"), (3, f"{seg} tail two")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(
        corpus, "text", "doc_id", seg_words=10
    ).collect()}
    assert out[1]["n_kept"] == 2          # owns seg and "tail one"
    assert out[2]["n_kept"] == 0
    assert out[3]["n_kept"] == 1 and out[3]["dedup_text"] == "tail two"


def test_decontam_stream_matches_batch_any_boundaries(spark, tmp_path):
    """Streaming decontamination == batch decontamination over the same
    rows, regardless of micro-batch boundaries (the operator is per-doc;
    foreachBatch runs the exact batch plan per batch)."""
    from whylogs_java_spark.operators.decontam import decontaminate
    from whylogs_java_spark.streaming.decontam_stream import decontam_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    src = str(tmp_path / "stream_src")
    # many small files -> several micro-batches with maxFilesPerTrigger
    docs.repartition(8).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 3
    ).parquet(src)
    collected: list = []
    batches: list = []

    def on_batch(report, batch_id):
        rows = report.collect()
        if rows:
            batches.append(batch_id)
            collected.extend(rows)

    q = decontam_stream(
        stream, "text", "doc_id", ev, on_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        # release the internally-built digest cache via the documented
        # handle (leaving it would also trip the persisted-RDD-count
        # assertion in test_near_dup_materialize_matches_lazy when the
        # two files share one session)
        q.decontam_grams.unpersist()

    batch_report = {
        r["doc_id"]: (r["n_ngrams"], r["n_hits"], r["contaminated"])
        for r in decontaminate(docs, "text", "doc_id", ev, n=5).collect()
    }
    stream_report = {
        r["doc_id"]: (r["n_ngrams"], r["n_hits"], r["contaminated"])
        for r in collected
    }
    assert len(collected) == len(stream_report)  # one row per doc overall
    assert stream_report == batch_report
    assert len(batches) > 1  # the parity genuinely spanned several batches
    assert any(v[2] for v in stream_report.values())  # planted hits found


def test_decontam_stream_rejects_streaming_eval(spark, tmp_path):
    from whylogs_java_spark.streaming.decontam_stream import decontam_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "s2")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    with pytest.raises(ValueError):
        decontam_stream(stream, "text", "doc_id", stream, lambda df, b: None)


def test_cross_dedup_pairs_only_cross_and_exact_is_one(spark):
    """Incremental dedup emits only ref×new pairs: the verbatim copy
    scores jaccard 1.0, the mutant passes threshold, the fresh doc and
    the intra-new duplicate pair are absent."""
    from whylogs_java_spark.operators.dedup import cross_dedup_pairs

    ref = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (101, "alpha beta gamma delta epsilon zeta eta theta"),  # copy of 1
            (102, "one two three four five six seven eight nine ten extra"),  # near 2
            (103, "totally different words here nothing shared at all"),  # fresh
            (104, "totally different words here nothing shared at all"),  # dup of 103 (intra-new)
        ],
        ["doc_id", "text"],
    )
    rows = cross_dedup_pairs(new, ref, "text", "doc_id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert set(got) == {(1, 101), (2, 102)}  # cross only; no 103/104 pair
    assert got[(1, 101)] == 1.0
    assert 0.5 <= got[(2, 102)] < 1.0


def test_minhash_store_probe_matches_unstored(spark, tmp_path):
    """A persisted signature store probe reproduces cross_dedup_pairs
    bit-for-bit, including when the store was built with non-default
    params (banded32 / char n-grams) the probe is never told — the
    probe reads construction params from {path}/meta, not arguments."""
    from whylogs_java_spark.operators.dedup import (
        build_minhash_store,
        cross_dedup_pairs,
        cross_dedup_stored,
    )

    ref = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (101, "alpha beta gamma delta epsilon zeta eta theta"),
            (102, "one two three four five six seven eight nine ten extra"),
            (103, "totally different words here nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    for kw in (
        {},
        {"char_ngrams": True, "hash_family": "banded32", "n_buckets": 4},
    ):
        path = str(tmp_path / f"store_{len(kw)}")
        build_minhash_store(ref, path, "text", "doc_id", **kw)
        pair_kw = {
            k: v for k, v in kw.items() if k in ("char_ngrams", "hash_family")
        }
        base = sorted(
            map(
                tuple,
                cross_dedup_pairs(
                    new, ref, "text", "doc_id", threshold=0.3, **pair_kw
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                cross_dedup_stored(
                    spark, path, new, "text", "doc_id", threshold=0.3
                ).collect(),
            )
        )
        assert got == base and len(got) >= 2


def test_quantize_stats_known_values(spark):
    """Hand-computed int8 table on a 2-dim corpus, including a constant
    dimension (scale 0, zero error) and an exactly-representable ramp."""
    from whylogs_java_spark.operators.quantize import quantize_stats

    # dim0: values 0..255 over 4 rows scaled -> vmin=0, vmax=255, scale=1.0
    # dim1: constant 7.0 -> scale 0, all errors 0
    rows = [(i, [float(v), 7.0]) for i, v in enumerate([0.0, 85.0, 170.0, 255.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["dim"]: r for r in quantize_stats(df, bits=8).collect()}
    d0, d1 = out[0], out[1]
    assert d0["n"] == 4 and d0["vmin"] == 0.0 and d0["vmax"] == 255.0
    assert d0["scale"] == 1.0
    # every value is an exact level -> zero reconstruction error
    assert d0["max_abs_err"] == 0.0 and d0["mean_abs_err"] == 0.0
    assert d1["scale"] == 0.0 and d1["max_abs_err"] == 0.0
    assert d1["mean_abs_err"] == 0.0


def test_quantize_stats_error_bound(spark):
    """Reconstruction error of affine int8 quantization is bounded by
    scale/2 per value on any corpus."""
    from whylogs_java_spark.operators.quantize import quantize_stats

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = quantize_stats(emb, bits=8).collect()
    assert len(rows) == len(emb.select("embedding").first()[0])
    for r in rows:
        # output scale/err are rounded to 6 dp, so allow that granularity
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        assert 0 <= r["mean_abs_err"] <= r["max_abs_err"] + 1e-6


def test_training_manifest_each_stage_engages(spark):
    """On a corpus with planted exact copies, near-dup mutants, eval
    contamination, and junk-quality docs, the composed pipeline drops
    each class for its own reason and labels every survivor."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.pipeline import training_manifest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    mutants = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    junk = spark.createDataFrame(
        [(900001, "too short"), (900002, " ".join(["w"] * 500))],
        ["doc_id", "text"],
    )
    corpus = docs.unionByName(copies).unionByName(mutants).unionByName(junk)
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    manifest = training_manifest(
        corpus, "text", "doc_id", ev,
        min_tokens=25, max_tokens=95,
        min_chars_per_token=3.5, max_chars_per_token=7.5,
    )
    ids = {r["doc_id"]: r["split"] for r in manifest.collect()}

    assert all(s in ("train", "val", "test") for s in ids.values())
    # exact copies lose to their min-id originals
    assert not any(i >= 200000 for i in ids)
    # near-dup mutants lose to their cluster's min-id originals
    assert not any(100000 <= i < 200000 for i in ids)
    # junk-quality docs are gated out
    assert 900001 not in ids and 900002 not in ids
    # eval-snippet source docs are decontaminated away
    assert not any(i % 20 == 0 for i in ids)
    # and plenty of clean originals survive with labels
    assert len(ids) > 100


# ---------------------------------------------------------------------------
# bigram-LM quality score
# ---------------------------------------------------------------------------

def test_lm_score_fluent_beats_gibberish(spark):
    from whylogs_java_spark.operators.text import lm_score

    common = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, common) for i in range(20)]
    rows.append((100, "zqx vbnk wplf zzz qqq turncoat blarp wix"))
    rows.append((101, "the cat sat on the mat"))
    rows.append((102, "one"))       # < 2 tokens: row kept, null scores
    rows.append((103, ""))          # empty: row kept
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_score(df, "text", "doc_id").collect()}
    assert len(out) == 24
    # corpus-typical text scores far lower perplexity than gibberish
    assert out[101]["perplexity"] < out[100]["perplexity"] / 2
    # short/empty docs keep their row with no score
    assert out[102]["n_bigrams"] == 0 and out[102]["avg_logp"] is None
    assert out[103]["n_bigrams"] == 0 and out[103]["perplexity"] is None
    # bigram count = tokens - 1
    assert out[101]["n_bigrams"] == 5


def test_lm_score3_fluent_beats_gibberish_margin_grows(spark):
    """The order=3 tier (JM-interpolated trigram) separates fluent from
    gibberish MORE than the bigram tier on the same corpus — the point
    of conditioning on two words of context (Wenzek et al. 2020's
    CCNet uses a 5-gram LM for exactly this) — and keeps the bigram
    tier's row contract (sub-order docs keep their row, null scores)."""
    from whylogs_java_spark.operators.text import lm_score

    # two symmetric sentence families: the crossover doc "john eats
    # pasta" is built ONLY from corpus-frequent bigrams (the bigram
    # tier scores it identically to the fluent doc by construction),
    # but its trigram never occurs — only 2-word context catches it
    rows = [(i, "john eats rice") for i in range(12)]
    rows += [(100 + i, "mary eats pasta") for i in range(12)]
    rows.append((200, "john eats rice"))    # fluent
    rows.append((201, "john eats pasta"))   # bigram-plausible crossover
    rows.append((202, "zqx vbnk wplf"))     # plain gibberish
    rows.append((203, "two tokens"))  # < 3 tokens: row kept, null scores
    rows.append((204, ""))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    o3 = {r["doc_id"]: r for r in lm_score(
        df, "text", "doc_id", order=3
    ).collect()}
    o2 = {r["doc_id"]: r for r in lm_score(df, "text", "doc_id").collect()}
    assert len(o3) == 29
    # both tiers: fluent beats gibberish
    assert o3[200]["perplexity"] < o3[202]["perplexity"]
    assert o2[200]["perplexity"] < o2[202]["perplexity"]
    # the crossover margin GROWS with the trigram tier: the bigram
    # tier is blind to it (symmetric bigram counts -> margin 1.0)
    m3 = o3[201]["perplexity"] / o3[200]["perplexity"]
    m2 = o2[201]["perplexity"] / o2[200]["perplexity"]
    assert abs(m2 - 1.0) < 1e-6
    assert m3 > m2 + 0.2
    # sub-order docs keep their row with no score; n = tokens - 2
    assert o3[203]["n_trigrams"] == 0 and o3[203]["avg_logp"] is None
    assert o3[204]["n_trigrams"] == 0 and o3[204]["perplexity"] is None
    assert o3[200]["n_trigrams"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="order"):
        lm_score(df, "text", "doc_id", order=4)
    with _pytest.raises(ValueError, match="lambdas"):
        lm_score(df, "text", "doc_id", order=3, lambdas=(0.9, 0.3, 0.2))


def test_lm_score3_partitioning_invariant(spark):
    """Trigram-tier determinism under repartition — exact top-k tables
    and total-order ties make the score partition-invariant."""
    from whylogs_java_spark.operators.text import lm_score

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    kw = dict(vocab_size=64, top_bigrams=256, top_trigrams=512, order=3)
    a = lm_score(d, "text", "doc_id", **kw)
    b = lm_score(d.repartition(13), "text", "doc_id", **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lm_score_partitioning_invariant(spark):
    from whylogs_java_spark.operators.text import lm_score

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    a = lm_score(d, "text", "doc_id", vocab_size=64, top_bigrams=256)
    b = lm_score(
        d.repartition(13), "text", "doc_id", vocab_size=64, top_bigrams=256
    )
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_lm_score_sampled_lm_scores_unseen_prefixes(spark):
    """An LM built from a sample must still score docs whose prefixes the
    sample never saw (pure add-alpha backoff), not drop their bigrams."""
    from whylogs_java_spark.operators.text import lm_score

    lm = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran")], ["doc_id", "text"]
    )
    score_me = spark.createDataFrame(
        [(10, "unseen tokens entirely"), (11, "the cat sat")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in lm_score(
            score_me, "text", "doc_id", vocab_size=16, lm_df=lm
        ).collect()
    }
    assert out[10]["n_bigrams"] == 2  # not dropped
    assert out[10]["avg_logp"] is not None
    assert out[11]["perplexity"] < out[10]["perplexity"]


# ---------------------------------------------------------------------------
# encoding-hygiene scan
# ---------------------------------------------------------------------------

def test_encoding_scan_counts_planted_artifacts(spark):
    from whylogs_java_spark.operators.text import encoding_scan

    rows = [
        (1, "plain ascii text"),
        (2, "caf\u00c3\u00a9 mojibake and \u00e2\u20ac\u2122curly"),
        (3, "lossy \ufffd\ufffd chars"),
        (4, "bell\u0007 and esc\u001b here"),
        (5, "zero\u200bwidth\u200c and bom\ufeff"),
        (6, "tab\tnewline\n are fine"),
        (7, ""),
        (8, "na\u00efve caf\u00e9 \u2014 clean real unicode"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in encoding_scan(df, "text", "doc_id").collect()}
    assert not out[1]["encoding_suspect"]
    assert out[2]["mojibake_hits"] == 2 and out[2]["encoding_suspect"]
    assert out[3]["replacement_chars"] == 2
    assert out[4]["control_chars"] == 2
    # \t and \n are NOT flagged as control contamination
    assert out[6]["control_chars"] == 0 and not out[6]["encoding_suspect"]
    assert out[5]["zero_width_chars"] == 3
    assert out[7]["n_chars"] == 0 and out[7]["non_ascii_frac"] is None
    # real accented unicode is non-ascii but NOT suspect
    assert not out[8]["encoding_suspect"]
    assert out[8]["non_ascii_frac"] > 0


# ---------------------------------------------------------------------------
# corpus-frequency boilerplate saturation
# ---------------------------------------------------------------------------

def test_boilerplate_stats_distinct_doc_frequency(spark):
    from whylogs_java_spark.operators.dedup import boilerplate_stats

    footer = "copyright acme corp all rights reserved click here to subscribe"
    uniq = "totally unique sentence number {} with its own special words"
    rows = []
    # 4 docs: unique body (1 segment) + shared footer (1 segment)
    for i in range(4):
        rows.append((i, uniq.format(i) + " " + footer))
    # a doc that repeats ITS OWN refrain 3x but shares nothing: internal
    # repetition is not corpus boilerplate (distinct-doc frequency)
    refrain = "my very own refrain repeated inside one single document only"
    rows.append((10, " ".join([refrain] * 3)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_stats(
            df, "text", "doc_id", seg_words=10, df_threshold=3
        ).collect()
    }
    for i in range(4):
        assert out[i]["n_segments"] == 2
        assert out[i]["boiler_segments"] == 1  # the footer, df=4 >= 3
        assert out[i]["boilerplate_fraction"] == pytest.approx(0.5)
        assert out[i]["max_seg_df"] == 4
    # internal repetition: df=1 per segment, nothing flagged
    assert out[10]["boiler_segments"] == 0
    assert out[10]["max_seg_df"] == 1


# ---------------------------------------------------------------------------
# streaming LM scoring
# ---------------------------------------------------------------------------

def test_lm_stream_matches_batch_any_boundaries(spark, tmp_path):
    """Streaming LM scoring == batch scoring with the same static LM over
    the same rows, regardless of micro-batch boundaries (per-doc operator;
    foreachBatch runs the exact batch scorer per batch)."""
    from whylogs_java_spark.operators.text import build_ngram_lm, lm_score_with
    from whylogs_java_spark.streaming.lm_stream import lm_score_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    lm_corpus = docs.where(F.col("doc_id") % 3 == 0)
    src = str(tmp_path / "lm_stream_src")
    docs.repartition(8).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 3
    ).parquet(src)
    collected: list = []
    batches: list = []

    def on_batch(report, batch_id):
        rows = report.collect()
        if rows:
            batches.append(batch_id)
            collected.extend(rows)

    q = lm_score_stream(
        stream, "text", "doc_id", lm_corpus, on_batch,
        vocab_size=128, top_bigrams=1024,
        checkpoint_dir=str(tmp_path / "lm_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    lm = build_ngram_lm(lm_corpus, "text", vocab_size=128, top_bigrams=1024)
    batch_report = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["perplexity"])
        for r in lm_score_with(docs, "text", "doc_id", lm).collect()
    }
    stream_report = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["perplexity"])
        for r in collected
    }
    assert len(collected) == len(stream_report)
    assert stream_report == batch_report
    assert len(batches) > 1


def test_lm_stream_trigram_tier_matches_batch(spark, tmp_path):
    """order=3 streaming LM scoring == batch lm_score_with against the
    same frozen order-3 NgramLM over the same rows (per-doc operator —
    the bigram-tier equivalence argument carries unchanged)."""
    from whylogs_java_spark.operators.text import build_ngram_lm, lm_score_with
    from whylogs_java_spark.streaming.lm_stream import lm_score_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).limit(150).localCheckpoint(eager=True)
    lm_corpus = docs.where(F.col("doc_id") % 3 == 0)
    src = str(tmp_path / "lm3_stream_src")
    docs.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    collected: list = []

    def on_batch(report, batch_id):
        collected.extend(report.collect())

    kw = dict(vocab_size=64, top_bigrams=256, top_trigrams=512)
    q = lm_score_stream(
        stream, "text", "doc_id", lm_corpus, on_batch,
        order=3, checkpoint_dir=str(tmp_path / "lm3_ckpt"), **kw,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    lm3 = build_ngram_lm(lm_corpus, "text", order=3, **kw)
    batch_report = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logp"], r["perplexity"])
        for r in lm_score_with(docs, "text", "doc_id", lm3).collect()
    }
    stream_report = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logp"], r["perplexity"])
        for r in collected
    }
    assert len(collected) == len(stream_report)
    assert stream_report == batch_report

    with pytest.raises(ValueError, match="order"):
        lm_score_stream(
            stream, "text", "doc_id", lm_corpus, on_batch, order=5
        )


def test_lm_stream_rejects_streaming_lm_corpus(spark, tmp_path):
    from whylogs_java_spark.streaming.lm_stream import lm_score_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "lm_s2")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    with pytest.raises(ValueError):
        lm_score_stream(stream, "text", "doc_id", stream, lambda df, b: None)


def test_lm_score_executed_plan_broadcast_and_scan_count(spark):
    """Pin lm_score's scale claims: every LM table reaches the scorer as a
    broadcast join (never a shuffled join), and the corpus parquet scan
    appears at most 4x in the executed plan (vocab pass, LM-bigram pass,
    scoring pass, plus the pruned doc_id row-preserving join) — a
    regression to per-consumer re-aggregation would multiply scans."""
    import re

    from whylogs_java_spark.operators.text import lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    out = lm_score(docs, "text", "doc_id", vocab_size=64, top_bigrams=256)
    out.collect()  # AQE finalizes the plan only after execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[0]
    n_scans = len(re.findall(r"FileScan parquet|Scan parquet", plan))
    assert n_scans <= 4, f"corpus re-scanned: {n_scans} parquet scans"
    # the count tables and vocab must come in as broadcasts; a sort-merge
    # join on prev/w would shuffle the exploded corpus
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_manifest_boilerplate_gate(spark):
    """The optional template-page gate drops docs whose corpus-repeated
    segment fraction exceeds the threshold, and ONLY engages when asked."""
    from whylogs_java_spark.operators.pipeline import training_manifest

    def words(prefix, n):
        return " ".join(f"{prefix}{i:02d}" for i in range(n))

    template = words("tmpl", 30)  # 30-word template shared by three docs
    rows = []
    for i, p in enumerate(("aaa", "bbb", "ccc")):
        # half unique, half template: J between any two ~ 1/3 < 0.5, so
        # near-dup dedup keeps all three; boilerplate fraction = 0.5
        rows.append((i, words(p, 30) + " " + template))
    rows.append((10, words("ddd", 30)))  # clean doc, no template
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ev = spark.createDataFrame([(0, words("zzz", 30)),], ["doc_id", "text"])

    base = {
        r["doc_id"]
        for r in training_manifest(
            docs, "text", "doc_id", ev, min_tokens=25, max_tokens=95
        ).collect()
    }
    assert base == {0, 1, 2, 10}  # gate off: template docs survive

    gated = {
        r["doc_id"]
        for r in training_manifest(
            docs, "text", "doc_id", ev, min_tokens=25, max_tokens=95,
            max_boilerplate_fraction=0.4, boiler_df_threshold=3,
        ).collect()
    }
    assert gated == {10}  # template-saturated docs dropped wholesale


def test_lm_stream_requires_model_or_corpus(spark, tmp_path):
    from whylogs_java_spark.streaming.lm_stream import lm_score_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "lm_s3")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    with pytest.raises(ValueError):
        lm_score_stream(stream, "text", "doc_id", None, lambda df, b: None)


# ---------------------------------------------------------------------------
# per-slice corpus report
# ---------------------------------------------------------------------------

def test_corpus_report_known_values(spark):
    from whylogs_java_spark.operators.report import corpus_report

    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "the cat sat on the mat and it is good", "A"),
        (2, "a dog ran in the park for it is fun", "A"),
        (3, "caf\u00c3\u00a9 mojibake page with some words inside it here", "B"),
        (4, template, "B"),
        (5, template, "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["source"]: r
        for r in corpus_report(
            df, "text", "doc_id", "source", boiler_df_threshold=2
        ).collect()
    }
    a, b = out["A"], out["B"]
    assert a["n_docs"] == 2 and b["n_docs"] == 3
    assert a["total_tokens"] == 20 and b["total_tokens"] == 29
    assert a["suspect_docs"] == 0 and b["suspect_docs"] == 1
    # docs 4 and 5 share their single 10-word segment (df=2): fraction 1.0
    # each; doc 3 is unique: 0 -> mean 2/3
    assert b["mean_boilerplate_frac"] == pytest.approx(round(2 / 3, 6))
    assert a["mean_boilerplate_frac"] == pytest.approx(0.0)
    assert 0.0 <= a["mean_quality"] <= 1.0


def test_projection_operators_are_streaming_native(spark, tmp_path):
    """encoding_scan / quality_metrics / token_counts are pure projections,
    so they apply DIRECTLY to a streaming DataFrame — no foreachBatch
    wrapper — and emit exactly the batch rows."""
    from whylogs_java_spark.operators.text import encoding_scan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "proj_stream")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    out = encoding_scan(stream, "text", "doc_id")
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("enc_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_chars"], r["encoding_suspect"])
        for r in spark.sql("SELECT * FROM enc_stream_out").collect()
    }
    want = {
        r["doc_id"]: (r["n_chars"], r["encoding_suspect"])
        for r in encoding_scan(docs, "text", "doc_id").collect()
    }
    assert got == want


def test_dedup_embedding_stream_matches_batch_buckets(spark, tmp_path):
    """Streaming embedding near-dup flags == batch banded_buckets min-id
    bucket groups on the same corpus (single batch: every non-owner of a
    shared (band, bucket) is flagged against the bucket's min id)."""
    from whylogs_java_spark.operators.similarity import banded_buckets
    from whylogs_java_spark.streaming.dedup_embedding_stream import (
        dedup_embedding_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    dim = len(corpus.select("embedding").first()[0])

    src = str(tmp_path / "emb_stream_src")
    corpus.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    flagged = dedup_embedding_stream(stream, dim=dim, planes=4, bands=2)
    q = (
        flagged.writeStream.outputMode("append")
        .format("memory")
        .queryName("emb_dedup_stream")
        .option("checkpointLocation", str(tmp_path / "emb_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["vec_id"], r["dup_of"], r["band"])
            for r in spark.sql("SELECT * FROM emb_dedup_stream").collect()
        }
    finally:
        q.stop()

    sig = banded_buckets(corpus, planes=4, bands=2).collect()
    groups = {}
    for r in sig:
        groups.setdefault((r["band"], r["bucket"]), []).append(r["vec_id"])
    want = set()
    for (band, _bucket), ids in groups.items():
        owner = min(ids)
        for i in ids:
            if i != owner:
                want.add((i, owner, band))
    assert got == want and len(want) > 0


def test_mixture_sample_rebalances_and_t1_is_bernoulli(spark):
    """T=1 keeps the natural mix (p_s = target for every stratum ==
    plain hash_sample); T=2 boosts underrepresented strata: the small
    stratum's keep RATE must exceed the large stratum's, and the row
    set is deterministic."""
    from whylogs_java_spark.operators.sampling import (
        hash_sample,
        mixture_sample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    # T=1: p_s = f for every stratum -> identical row set to the global
    # Bernoulli sampler at the same fraction
    t1 = {r["doc_id"] for r in mixture_sample(
        df, "doc_id", "src", temperature=1.0, target_fraction=0.4
    ).collect()}
    bern = {r["doc_id"] for r in hash_sample(df, "doc_id", fraction=0.4).collect()}
    assert t1 == bern

    got = mixture_sample(
        df, "doc_id", "src", temperature=2.0, target_fraction=0.4
    ).collect()
    again = mixture_sample(
        df, "doc_id", "src", temperature=2.0, target_fraction=0.4
    ).collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in again}
    kept = {"big": 0, "small": 0}
    for r in got:
        kept[r["src"]] += 1
    rate_big, rate_small = kept["big"] / 900, kept["small"] / 100
    assert rate_small > rate_big  # sqrt re-weighting lifts the small stratum
    # realized total is near (at or under) the target
    assert 0.25 <= len(got) / 1000 <= 0.45

    with pytest.raises(ValueError):
        mixture_sample(df, "doc_id", "src", temperature=0.0)
    with pytest.raises(ValueError):
        mixture_sample(df, "doc_id", "src", target_fraction=0.0)


def test_cluster_prototype_prune_ranks_and_counts(spark):
    """Single-cluster geometry: ranks follow distance-to-centroid and
    exactly floor(n * prune_frac) closest members are flagged."""
    from whylogs_java_spark.operators.cluster import cluster_prototype_prune

    # 8 points on a line; k=1 -> one cluster, centroid = mean
    rows = [(i, [float(i), 0.0]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_prototype_prune(emb, k=1, n_iter=1, prune_frac=0.25)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 8
    assert all(r["cluster_size"] == 8 for r in got.values())
    assert sum(1 for r in got.values() if r["is_pruned"]) == 2  # floor(8*.25)
    # the flagged members are the rank-1 and rank-2 closest
    flagged = {r["rank_close"] for r in got.values() if r["is_pruned"]}
    assert flagged == {1, 2}
    # ranks are distance-ordered: centroid is the mean (3.5, 0), so 3 and
    # 4 are the closest pair
    closest = sorted(got.values(), key=lambda r: r["rank_close"])[:2]
    assert {r["vec_id"] for r in closest} == {3, 4}


def test_chunk_documents_windows_and_tail(spark):
    """Known-values chunking: stride = chunk - overlap, shorter tail,
    zero-token docs produce no chunks, validation errors raised."""
    from whylogs_java_spark.operators.text import chunk_documents

    rows = [
        (1, "a b c d e f g"),   # 7 words
        (2, "x y"),             # shorter than one chunk
        (3, "   "),             # zero tokens -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=1)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    # doc 1: stride 3 -> starts 0,3,6 -> chunks of 4,4,1 tokens
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "d e f g")
    assert got[(1, 2)] == (1, "g")
    assert got[(2, 0)] == (2, "x y")
    assert not any(k[0] == 3 for k in got)
    assert len(got) == 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=0)
    with _pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_cluster_balanced_sample_exact_counts(spark):
    """Exactly min(per_cluster, |cluster|) picks per cluster, stable
    across calls, pick_rank contiguous from 1."""
    from whylogs_java_spark.operators.cluster import (
        cluster_balanced_sample,
        kmeans_assign,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sizes = {
        r["cluster"]: r["n"]
        for r in kmeans_assign(emb, k=4, n_iter=1)
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = cluster_balanced_sample(emb, k=4, per_cluster=5, n_iter=1).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r["pick_rank"])
    for c, n in sizes.items():
        assert sorted(by_cluster[c]) == list(range(1, min(5, n) + 1))
    again = cluster_balanced_sample(emb, k=4, per_cluster=5, n_iter=1).collect()
    assert {(r["vec_id"], r["pick_rank"]) for r in again} == {
        (r["vec_id"], r["pick_rank"]) for r in out
    }


def test_duplicate_spans_merges_overlapping_windows(spark):
    """Overlapping duplicated 3-gram windows merge into one maximal span;
    a document with no repeated gram reports zeros; a gram repeated
    WITHIN one document counts both occurrences."""
    from whylogs_java_spark.operators.dedup import duplicate_spans

    shared = "s0 s1 s2 s3 s4"          # 5 words => 3-grams at pos 0,1,2
    corpus = spark.createDataFrame(
        [
            (1, f"{shared} u1 u2 u3"),          # span [0,4] from shared
            (2, f"v1 v2 {shared}"),             # span [2,6]
            (3, "x0 x1 x2 x3 x4 x5 x6 x7"),     # unique: no dup span
            (4, "r0 r1 r2 q0 q1 r0 r1 r2 q2"),  # intra-doc repeat r0 r1 r2
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in duplicate_spans(
        corpus, "text", "doc_id", gram_words=3
    ).collect()}
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 5
    assert out[1]["longest_span"] == 5 and out[1]["total_tokens"] == 8
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 5
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["longest_span"] == 0 and out[3]["dup_fraction"] == 0.0
    # doc 4: "r0 r1 r2" occurs at pos 0 and pos 5 -> two 3-token spans
    assert out[4]["n_dup_spans"] == 2 and out[4]["dup_tokens"] == 6
    assert out[4]["longest_span"] == 3


def test_duplicate_spans_adjacent_windows_merge(spark):
    """Duplicated windows that touch end-to-end (next start == prev end
    + 1) merge into a single span — the gaps-and-islands rule counts
    token-contiguous coverage, not window overlap."""
    from whylogs_java_spark.operators.dedup import duplicate_spans

    a = "a0 a1 a2"
    b = "b0 b1 b2"
    corpus = spark.createDataFrame(
        [
            # doc 1: a at [0,2], b at [3,5] — adjacent dup windows
            (1, f"{a} {b}"),
            (2, f"{a} z0 z1 z2 {b}"),  # a at [0,2], b at [6,8]: gap
            (3, f"{a} y0 {b}"),        # provides the second occurrences
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in duplicate_spans(
        corpus, "text", "doc_id", gram_words=3
    ).collect()}
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 6
    assert out[2]["n_dup_spans"] == 2 and out[2]["dup_tokens"] == 6
    assert out[2]["longest_span"] == 3


def test_tfidf_keywords_rare_term_outranks_common(spark):
    """A corpus-wide stopword gets a lower TF-IDF score than a term
    unique to the document; top-k and tie-breaks are deterministic."""
    from whylogs_java_spark.operators.text import tfidf_keywords

    corpus = spark.createDataFrame(
        [
            (1, "the quark"),
            (2, "the lepton"),
            (3, "the boson"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_keywords(corpus, "text", "doc_id", k=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rows in by_doc.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2]
    # equal tf (1/2 each): smooth idf (ln(4/2)+1 vs ln(4/4)+1) decides
    top1 = {d: min(rows, key=lambda r: r["rank"])["term"] for d, rows in by_doc.items()}
    assert top1 == {1: "quark", 2: "lepton", 3: "boson"}
    # "the" appears in every doc -> doc_freq 3
    the_rows = [r for r in out if r["term"] == "the"]
    assert all(r["doc_freq"] == 3 for r in the_rows)


def test_dsir_weights_target_vocab_scores_higher(spark):
    """Documents made of target-slice vocabulary get a higher DSIR
    log-ratio than documents made of raw-only vocabulary; weight =
    exp(logratio)."""
    import math

    from whylogs_java_spark.operators.sampling import dsir_weights

    rows = [(i, "alpha beta alpha beta", "en") for i in range(8)]
    rows += [(100 + i, "zeta omega zeta omega", "xx") for i in range(8)]
    rows += [(200, "alpha beta alpha beta", "xx"),  # target-like raw doc
             (201, "zeta omega zeta omega", "xx")]
    corpus = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            corpus, "text", "doc_id", F.col("lang") == "en", n_buckets=64
        ).collect()
    }
    assert out[200]["dsir_logratio"] > out[201]["dsir_logratio"]
    for r in out.values():
        assert r["n_tokens"] == 4
        assert abs(r["dsir_weight"] - round(math.exp(r["dsir_logratio"]), 6)) < 1e-9
    # scores are a pure function of the doc's tokens: identical docs tie
    assert out[0]["dsir_logratio"] == out[200]["dsir_logratio"]


def test_knn_label_eval_majority_and_tiebreak(spark):
    """Majority vote predicts the dominant neighbor label; a split vote
    falls back to the best (lowest) neighbor rank."""
    from whylogs_java_spark.operators.similarity import knn_label_eval

    rows = [
        (10, [1.0, 0.0], "a"),
        (11, [0.99, 0.05], "a"),
        (12, [0.98, 0.02], "a"),
        (20, [0.0, 1.0], "b"),
        (21, [0.05, 0.99], "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {
        r["query_id"]: r
        for r in knn_label_eval(
            emb, query_pred=F.col("vec_id").isin([10, 20]), k=3
        ).collect()
    }
    # query 10: neighbors 11,12 (a,a) + one b -> majority a, correct
    assert out[10]["pred_label"] == "a" and out[10]["correct"]
    assert out[10]["n_votes"] == 2
    # query 20: neighbors 21 (b) + two a's -> majority a, WRONG
    assert out[20]["pred_label"] == "a" and not out[20]["correct"]
    # split-vote tie-break: k=2 for query 20 -> one b (rank 1), one a
    # (rank 2): n_votes tie, best_rank picks b
    out2 = {
        r["query_id"]: r
        for r in knn_label_eval(
            emb, query_pred=F.col("vec_id") == 20, k=2
        ).collect()
    }
    assert out2[20]["pred_label"] == "b" and out2[20]["correct"]


def test_ivf_stored_index_matches_in_memory_tier(spark, tmp_path):
    """build_ivf_index + ivf_topk_stored reproduces ivf_topk_exact
    bit-for-bit (same centroid sample, same probes, same exact
    cosines); the stored lists are partitioned by centroid_id."""
    import os

    from whylogs_java_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_exact,
        ivf_topk_stored,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    assert any(
        d.startswith("centroid_id=") for d in os.listdir(f"{path}/lists")
    )
    qids = [0, 1, 2, 3, 4]
    queries = emb.where(F.col("vec_id").isin(qids))
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk_stored(
            spark, path, queries, k=5, nprobe=3
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk_exact(
            emb, qids, k=5, nprobe=3, n_centroids=8
        ).collect()
    }
    assert got == want and len(got) > 0


def test_pii_redact_order_and_counts(spark):
    """Email redacts before phone so an address's digits never
    double-match; counts audit the placeholders actually written."""
    from whylogs_java_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 (555) 123-4567 or ping 10.1.2.3"),
            (3, "clean text only"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in pii_redact(docs, "text", "doc_id").collect()}
    assert out[1]["redacted_text"] == "mail <EMAIL> now"
    assert out[1]["n_redactions"] == 1
    assert out[2]["redacted_text"] == "call <PHONE> or ping <IPV4>"
    assert out[2]["n_redactions"] == 2
    assert out[3]["redacted_text"] == "clean text only"
    assert out[3]["n_redactions"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pii_redact(docs, "text", "doc_id", kinds=("email", "bogus"))


def test_pq_topk_recall_vs_brute_force(spark):
    """Flat PQ with exact refine: every refined cosine must equal the
    true cosine, and recall@10 against brute force stays above the
    sampled-codebook floor on the real embedding table."""
    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qids = [0, 1, 2, 3, 4]
    got = pq_topk(emb, qids, k=10, m=4, codebook_k=16, rerank=30).collect()
    true = cosine_topk(emb, qids, k=10).collect()
    true_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in true}
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, qids, k=10**6).collect()
    }
    for r in got:
        # refined scores are EXACT cosines (rerank only affects the cut)
        assert exact_all[(r["query_id"], r["neighbor_id"])] == r["cosine"]
    # the synthetic embedding table is pure noise (kNN label accuracy ==
    # chance), so 16-bit codes can't fully order 500 near-tied cosines —
    # the honest floor here is "well above the random baseline k/n"
    hits = sum(1 for r in got if (r["query_id"], r["neighbor_id"]) in true_cos)
    assert hits / len(true) >= 3 * 10 / 499, f"recall {hits}/{len(true)}"
    # m must divide the dimensionality
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_topk(emb, qids, m=7)


def test_pq_topk_high_recall_on_clustered_data(spark):
    """On data with real cluster structure (the regime PQ is built for)
    the sampled codebooks separate clusters and recall@5 is high."""
    import math

    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
    )

    # 5 well-separated direction clusters in 8-d, 20 members each, with
    # small deterministic within-cluster jitter
    rows = []
    for c in range(5):
        base = [0.0] * 8
        base[c] = 1.0
        base[(c + 3) % 8] = 0.5
        for i in range(20):
            jit = [
                b + 0.01 * math.sin(7 * c + 3 * i + d) for d, b in enumerate(base)
            ]
            rows.append((c * 100 + i, jit))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [0, 100, 200, 300, 400]
    got = pq_topk(emb, qids, k=5, m=4, codebook_k=8, rerank=15).collect()
    true = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qids, k=5).collect()
    }
    hits = sum(1 for r in got if (r["query_id"], r["neighbor_id"]) in true)
    assert hits / len(true) >= 0.8, f"recall {hits}/{len(true)}"


def test_quality_filter_learns_separable_classes(spark):
    """On a separable corpus the trained logistic filter orders target
    docs above junk, and training is deterministic across re-runs."""
    from whylogs_java_spark.operators.classifier import (
        logistic_quality_train,
        quality_filter,
    )

    rows = [(i, "the cat sat on the mat and it is fine today", "en")
            for i in range(20)]
    rows += [(100 + i, "99999 88888 !!!! 77777 $$$$ 66666", "xx")
             for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r["doc_id"]: r for r in quality_filter(
        docs, "text", "doc_id", F.col("lang") == "en", n_iter=3
    ).collect()}
    t = [out[i]["score"] for i in range(20)]
    j = [out[100 + i]["score"] for i in range(20)]
    assert min(t) > max(j)
    assert all(out[i]["is_target"] for i in range(20))
    assert not any(out[100 + i]["is_target"] for i in range(20))
    w1 = logistic_quality_train(docs, "text", "doc_id", F.col("lang") == "en")
    w2 = logistic_quality_train(docs, "text", "doc_id", F.col("lang") == "en")
    assert w1 == w2 and any(x != 0.0 for x in w1)


def test_pq_trained_codebooks_beat_sampled_on_clustered_data(spark):
    """Lloyd-trained per-subspace codebooks (pq_train_codebooks) recall
    at least matches the sampled-codebook tier on clustered data, and
    training is deterministic."""
    import math

    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
        pq_train_codebooks,
    )

    rows = []
    for c in range(5):
        base = [0.0] * 8
        base[c] = 1.0
        base[(c + 3) % 8] = 0.5
        for i in range(20):
            jit = [
                b + 0.02 * math.sin(11 * c + 5 * i + d)
                for d, b in enumerate(base)
            ]
            rows.append((c * 100 + i, jit))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [0, 100, 200, 300, 400]
    true = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qids, k=5).collect()
    }

    def recall(got):
        return sum(
            1 for r in got if (r["query_id"], r["neighbor_id"]) in true
        ) / len(true)

    cbs = pq_train_codebooks(emb, m=4, codebook_k=8, n_iter=2)
    assert cbs == pq_train_codebooks(emb, m=4, codebook_k=8, n_iter=2)
    r_trained = recall(
        pq_topk(emb, qids, k=5, rerank=15, codebooks=cbs).collect()
    )
    r_sampled = recall(
        pq_topk(emb, qids, k=5, m=4, codebook_k=8, rerank=15).collect()
    )
    assert r_trained >= r_sampled
    assert r_trained >= 0.8


def test_winnow_fingerprints_guarantee_and_short_docs(spark):
    """The winnowing guarantee: any shared substring of length >=
    k + window - 1 surfaces as a shared selected print; docs shorter
    than k yield no prints; short docs (< window grams) still select
    their minimum."""
    from whylogs_java_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared = "zqxjkvwpbf"  # 10 chars >= k + window - 1 = 8
    docs = spark.createDataFrame(
        [
            (1, f"aaa {shared} bbb"),
            (2, f"ccc {shared} ddd"),
            (3, "ab"),            # shorter than k: no grams, no prints
            (4, "abcdef"),        # 2 grams < window: partial window
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    by_doc: dict = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["print_hash"])
    assert by_doc[1] & by_doc[2], "guaranteed shared print missing"
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1
    pairs = winnow_pairs(
        docs, "text", "doc_id", k=5, window=4, min_shared=1, df_cap=10
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_knn_eval_ivf_matches_exact_on_probed_candidates(spark):
    """With nprobe == n_centroids (every list probed) the IVF eval's
    candidate set is the whole corpus, so it must reproduce the
    brute-force eval exactly."""
    from whylogs_java_spark.operators.similarity import (
        knn_label_eval,
        knn_label_eval_ivf,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    pred = F.col("vec_id") % 25 == 0
    exact = sorted(map(tuple, knn_label_eval(emb, pred, k=3).collect()))
    ivf_full = sorted(map(tuple, knn_label_eval_ivf(
        emb, pred, k=3, n_centroids=4, nprobe=4
    ).collect()))
    assert ivf_full == exact and len(exact) > 0


def test_winnow_stream_matches_batch_any_boundaries(spark, tmp_path):
    """Streaming winnow screen == batch winnow_screen over the same
    rows under arbitrary micro-batch boundaries (per-doc verdicts, zero
    cross-batch state)."""
    from whylogs_java_spark.operators.dedup import winnow_screen
    from whylogs_java_spark.streaming.winnow_stream import (
        build_print_store,
        winnow_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 3 == 0)
    newbies = docs.where(F.col("doc_id") % 3 != 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(
        # planted near-copies of store docs: must flag
        ref.limit(5).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
    )
    src = str(tmp_path / "wstream_src")
    newbies.repartition(6).write.parquet(src)

    store = build_print_store(ref, "text", "doc_id").persist()
    batch = {
        r["doc_id"]: tuple(r)
        for r in winnow_screen(newbies, store, "text", "doc_id").collect()
    }
    stream = spark.readStream.schema(newbies.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    got: dict = {}

    def on_batch(report, batch_id):
        for r in report.collect():
            got[r["doc_id"]] = tuple(r)

    q = winnow_stream(
        stream, ref, "text", "doc_id", on_batch,
        checkpoint_dir=str(tmp_path / "wckpt"), ref_prints=store,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        store.unpersist()
    assert got == batch and len(got) > 0
    # the planted near-copies are flagged against their store source
    for r in ref.limit(5).collect():
        rid = r["doc_id"]
        assert batch[rid + 200000][4] is True
        assert batch[rid + 200000][2] == rid


def test_contamination_report_attribution(spark):
    """Each eval item reports the distinct docs sharing its grams and
    the hit fraction; short eval items report zero grams."""
    from whylogs_java_spark.operators.decontam import contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "totally different words here now ok"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # 1 gram, in docs 1+2
            (11, "nothing matches this eval item x"),
            (12, "tiny"),                            # < n words: 0 grams
        ],
        ["eval_id", "text"],
    )
    out = {r["eval_id"]: r for r in contamination_report(
        corpus, "text", "doc_id", ev, "eval_id", n=5
    ).collect()}
    assert out[10]["n_grams"] == 1 and out[10]["n_grams_hit"] == 1
    assert out[10]["n_docs"] == 2 and out[10]["hit_fraction"] == 1.0
    assert out[11]["n_grams"] == 2 and out[11]["n_grams_hit"] == 0
    assert out[11]["n_docs"] == 0 and out[11]["hit_fraction"] == 0.0
    assert out[12]["n_grams"] == 0 and out[12]["hit_fraction"] == 0.0


def test_contamination_report_stream_matches_batch(spark, tmp_path):
    """Streaming per-eval-item attribution converges to the batch
    contamination_report over the same rows: counters are monotone, so
    the last (= max) emitted row per eval item equals the batch row;
    zero-hit items emit nothing by design."""
    from whylogs_java_spark.operators.decontam import contamination_report
    from whylogs_java_spark.streaming.decontam_stream import (
        contamination_report_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text"),
    )
    src = str(tmp_path / "attr_src")
    docs.repartition(8).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 3
    ).parquet(src)
    out = contamination_report_stream(
        stream, "text", "doc_id", ev, "eval_id"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attr_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        out.contamination_eval_grams.unpersist()
    got: dict = {}
    n_updates = 0
    for r in spark.sql("SELECT * FROM attr_stream").collect():
        n_updates += 1
        cur = got.get(r["eval_id"])
        key = (r["n_grams_hit"], r["n_docs"])
        if cur is None or key >= (cur["n_grams_hit"], cur["n_docs"]):
            got[r["eval_id"]] = r
    batch = {
        r["eval_id"]: r
        for r in contamination_report(
            docs, "text", "doc_id", ev, "eval_id", eval_text_col="text"
        ).collect()
        if r["n_grams_hit"] > 0
    }
    assert set(got) == set(batch)
    assert len(batch) > 0
    for eid, b in batch.items():
        s = got[eid]
        assert (
            s["n_grams"], s["n_grams_hit"], s["n_docs"], s["hit_fraction"]
        ) == (
            b["n_grams"], b["n_grams_hit"], b["n_docs"], b["hit_fraction"]
        ), eid


def test_minhash_store_append_equals_full_build(spark, tmp_path):
    """build(half A) + append(half B) probes bit-identically to
    build(A ∪ B) — the incremental-ingest loop never needs a rebuild."""
    from whylogs_java_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        cross_dedup_stored,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    batch = docs.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probe tail")).alias("text"),
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_minhash_store(half_a, inc, "text", "doc_id")
    append_minhash_store(half_b, inc, "text", "doc_id")
    build_minhash_store(docs, full, "text", "doc_id")
    got = sorted(
        map(
            tuple,
            cross_dedup_stored(spark, inc, batch, "text", "doc_id", 0.5).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            cross_dedup_stored(spark, full, batch, "text", "doc_id", 0.5).collect(),
        )
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# blocklist filter
# ---------------------------------------------------------------------------

def test_blocklist_filter_semantics(spark):
    """Whole-word boundaries, phrase terms, case-insensitivity, metachar
    escaping, counts, and the sorted hit list."""
    from whylogs_java_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "Spark and spark but not sparkle or SPARKLE"),
            (2, "a slow stream here and a slow stream there"),
            (3, "nothing objectionable"),
            (4, "x a.b y but not aXb"),
            (5, "spark meets a slow stream"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in blocklist_filter(
            df, "text", "doc_id", ("spark", "slow stream", "a.b")
        ).collect()
    }
    assert (out[1]["n_blocked"], out[1]["matched_terms"]) == (2, "spark")
    assert not out[1]["matched_terms"].count("sparkle")
    assert (out[2]["n_blocked"], out[2]["n_blocked_terms"]) == (2, 1)
    assert out[2]["matched_terms"] == "slow stream"
    assert (out[3]["n_blocked"], out[3]["blocked"], out[3]["matched_terms"]) == (
        0, False, ""
    )
    # escaped dot: literal "a.b" matches, "aXb" must not
    assert (out[4]["n_blocked"], out[4]["matched_terms"]) == (1, "a.b")
    assert out[5]["n_blocked_terms"] == 2
    assert out[5]["matched_terms"] == "slow stream,spark"  # sorted


def test_blocklist_filter_empty_terms_raises(spark):
    from whylogs_java_spark.operators.text import blocklist_filter

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    try:
        blocklist_filter(df, "text", "doc_id", ())
        assert False, "expected ValueError"
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# n-gram novelty
# ---------------------------------------------------------------------------

def test_ngram_novelty_semantics(spark):
    """Verbatim copy -> 0.0, disjoint doc -> 1.0, partial overlap in
    between, short doc -> NULL novelty; broadcast_ref tier identical."""
    from whylogs_java_spark.operators.decontam import ngram_novelty

    ref = spark.createDataFrame(
        [(100, "a b c d e f g h")], ["doc_id", "text"]
    )
    cur = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # verbatim: all 6 3-grams seen
            (2, "p q r s t u"),              # disjoint: all novel
            (3, "a b c d z z z"),            # grams abc,bcd seen; 3 novel
            (4, "x y"),                      # < n words: no grams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in ngram_novelty(cur, "text", "doc_id", ref, n=3).collect()
    }
    assert (out[1]["n_grams"], out[1]["n_novel"], out[1]["novelty"]) == (6, 0, 0.0)
    assert (out[2]["n_grams"], out[2]["n_seen"], out[2]["novelty"]) == (4, 0, 1.0)
    assert (out[3]["n_grams"], out[3]["n_seen"], out[3]["n_novel"]) == (5, 2, 3)
    assert out[3]["novelty"] == 0.6
    assert (out[4]["n_grams"], out[4]["novelty"]) == (0, None)
    fast = {
        r["doc_id"]: tuple(r)
        for r in ngram_novelty(
            cur, "text", "doc_id", ref, n=3, broadcast_ref=True
        ).collect()
    }
    assert fast == {k: tuple(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# leakage-safe splits
# ---------------------------------------------------------------------------

def test_leakage_safe_splits_cluster_atomicity(spark):
    """Every near-dup cluster lands in exactly ONE split; singletons
    degenerate to the plain per-id hash split."""
    from whylogs_java_spark.operators.pipeline import leakage_safe_splits
    from whylogs_java_spark.operators.sampling import assign_splits

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        )
    )
    rows = leakage_safe_splits(
        corpus, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4,
        shingle_size=3,
    ).collect()
    assert len(rows) == corpus.count()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # atomicity: one split label per cluster
    assert all(len(s) == 1 for s in by_cluster.values())
    # planted mutants actually clustered with their source
    multi = [c for c, _ in by_cluster.items()
             if sum(1 for r in rows if r["cluster_id"] == c) > 1]
    assert len(multi) > 0
    # singletons == plain per-id split (cluster_id is the doc's own id)
    singleton_ids = [
        r["doc_id"] for r in rows
        if r["cluster_id"] == r["doc_id"] and r["is_survivor"]
        and sum(1 for x in rows if x["cluster_id"] == r["doc_id"]) == 1
    ]
    plain = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            corpus.select("doc_id"), "doc_id"
        ).collect()
    }
    got = {r["doc_id"]: r["split"] for r in rows}
    for did in singleton_ids[:50]:
        assert got[did] == plain[did]


# ---------------------------------------------------------------------------
# streaming trained-quality scoring
# ---------------------------------------------------------------------------

def test_quality_score_stream_matches_batch(spark, tmp_path):
    """Streaming scoring with frozen weights == batch scoring over the
    same rows under any micro-batch boundaries (stateless projection)."""
    from whylogs_java_spark.operators.classifier import (
        logistic_quality_score,
        logistic_quality_train,
    )
    from whylogs_java_spark.streaming.classifier_stream import (
        quality_score_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    w = logistic_quality_train(
        docs, "text", "doc_id", (F.col("lang") == "en").cast("double"),
        n_iter=2,
    )
    src = str(tmp_path / "clf_stream_src")
    docs.repartition(8).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 3
    ).parquet(src)
    collected: list = []
    batches: list = []

    def on_batch(report, batch_id):
        rows = report.collect()
        if rows:
            batches.append(batch_id)
            collected.extend(rows)

    q = quality_score_stream(
        stream, "text", "doc_id", on_batch, weights=w,
        checkpoint_dir=str(tmp_path / "clf_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch = {
        r["doc_id"]: (r["score"], r["keep"])
        for r in logistic_quality_score(docs, "text", "doc_id", w).collect()
    }
    got = {r["doc_id"]: (r["score"], r["keep"]) for r in collected}
    assert len(collected) == len(got)
    assert got == batch
    assert len(batches) > 1


def test_quality_score_stream_validations(spark, tmp_path):
    from whylogs_java_spark.streaming.classifier_stream import (
        quality_score_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "clf_val_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    try:
        quality_score_stream(stream, "text", "doc_id", lambda d, b: None)
        assert False, "expected ValueError"
    except ValueError:
        pass
    try:
        quality_score_stream(
            stream, "text", "doc_id", lambda d, b: None, train_df=stream,
            train_label=F.lit(1.0),
        )
        assert False, "expected ValueError"
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# packing assignment
# ---------------------------------------------------------------------------

def test_pack_assign_known_values(spark):
    """ctx=4, sep=1: offsets, window spans, empty docs, stratum resets."""
    from whylogs_java_spark.operators.text import pack_assign

    df = spark.createDataFrame(
        [
            ("a", 1, "t1 t2 t3"),        # off 0, ctx 0..0
            ("a", 2, "t4 t5"),           # off 3+1=4, ctx 1..1
            ("a", 3, ""),                # off 4+2+1=7, empty: 0 contexts
            ("a", 4, "t6 t7 t8 t9 t10"), # off 7+0+1=8, ctx 2..3 (spans)
            ("b", 9, "u1"),              # new stratum: off 0
        ],
        ["lang", "doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in pack_assign(
            df, "text", "doc_id", context_len=4, strata=["lang"],
            sep_tokens=1,
        ).collect()
    }
    assert (rows[1]["token_offset"], rows[1]["first_context"],
            rows[1]["last_context"], rows[1]["n_contexts"]) == (0, 0, 0, 1)
    assert (rows[2]["token_offset"], rows[2]["first_context"]) == (4, 1)
    assert (rows[3]["n_tokens"], rows[3]["n_contexts"]) == (0, 0)
    assert (rows[4]["token_offset"], rows[4]["first_context"],
            rows[4]["last_context"], rows[4]["n_contexts"]) == (8, 2, 3, 2)
    assert (rows[9]["token_offset"], rows[9]["first_context"]) == (0, 0)


def test_pack_assign_total_consistency(spark):
    """Sum of per-doc tokens + separators == the final doc's end offset;
    max context id == ceil(stream length / ctx) - 1 (packing_stats'
    perfect-packing bound is met by construction per stratum)."""
    from whylogs_java_spark.operators.text import pack_assign

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = pack_assign(
        docs, "text", "doc_id", context_len=128, strata=["lang"],
        sep_tokens=0,
    )
    import math

    for lang_row in out.groupBy("lang").agg(
        F.sum("n_tokens").alias("tot"),
        F.max(F.col("token_offset") + F.col("n_tokens")).alias("end"),
        F.max("last_context").alias("maxctx"),
    ).collect():
        assert lang_row["tot"] == lang_row["end"]
        assert lang_row["maxctx"] == math.ceil(lang_row["tot"] / 128) - 1


# ---------------------------------------------------------------------------
# random projection
# ---------------------------------------------------------------------------

def test_rp_project_preserves_cosine_geometry(spark):
    """JL property on real embeddings at out_dim=32: cosine error is
    bounded on average, and planted near-dup pairs stay ranked above
    unrelated pairs in projected space; zero vectors project to zero;
    linearity in the input."""
    import math

    from whylogs_java_spark.operators.similarity import rp_project

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.limit(24).collect()}
    proj = {
        r["vec_id"]: [r[f"rp_{j}"] for j in range(32)]
        for r in rp_project(emb.limit(24), out_dim=32).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(y * y for y in b))
        return num / (da * db) if da > 0 and db > 0 else 0.0

    ids = sorted(vecs)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    mad = sum(
        abs(cos(vecs[a], vecs[b]) - cos(proj[a], proj[b])) for a, b in pairs
    ) / len(pairs)
    assert mad < 0.25, mad  # measured 0.14; JL bound headroom

    # planted structure: x vs x (cos 1.0) must beat x vs an unrelated y
    # in projected space for every x (identical vectors project
    # identically, so the dup side is exactly 1.0)
    for i in range(0, 20, 2):
        a, b = ids[i], ids[i + 1]
        assert cos(proj[a], proj[a]) > cos(proj[a], proj[b]) + 0.05

    # zero vector -> zero projection; -x -> -proj(x)
    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [1.0, -2.0, 3.0, 0.5, 0.0, 1.0, -1.0, 2.0]),
         (3, [-1.0, 2.0, -3.0, -0.5, 0.0, -1.0, 1.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: [r[f"rp_{j}"] for j in range(4)]
        for r in rp_project(df, out_dim=4).collect()
    }
    assert got[1] == [0.0, 0.0, 0.0, 0.0]
    assert got[3] == [-v for v in got[2]]


def test_rp_topk_degenerate_exactness_and_recall(spark):
    """rerank >= corpus reduces rp_topk to brute force exactly (the
    refine then re-ranks every candidate by exact cosine); at the
    production cut (rerank=32) recall@10 stays above a floor."""
    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        rp_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(emb, qids, k=10).collect()
    }
    full = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in rp_topk(emb, qids, k=10, out_dim=16, rerank=n, dim=64).collect()
    }
    assert full == exact

    got = rp_topk(emb, qids, k=10, out_dim=16, rerank=32, dim=64).collect()
    exact_sets: dict = {}
    for (q, _), (nb, _) in exact.items():
        exact_sets.setdefault(q, set()).add(nb)
    hit = tot = 0
    for r in got:
        tot += 1
        hit += r["neighbor_id"] in exact_sets[r["query_id"]]
    assert tot == 50
    # 16-of-64 dims is a lossy sketch: measured 0.48 at rerank=32
    assert hit / tot >= 0.4, hit / tot
    # widening the rerank cut must not lose recall
    got64 = rp_topk(emb, qids, k=10, out_dim=16, rerank=64, dim=64).collect()
    hit64 = sum(r["neighbor_id"] in exact_sets[r["query_id"]] for r in got64)
    assert hit64 >= hit


def test_dedup_threshold_report_monotone_and_counts(spark):
    """Counts are non-increasing in the threshold, exact duplicates
    survive every cut, and affected_frac uses the corpus size."""
    from whylogs_java_spark.operators.dedup import dedup_threshold_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
        )  # verbatim copies: jaccard exactly 1.0
    )
    n = corpus.count()
    rep = sorted(
        dedup_threshold_report(
            corpus, "text", "doc_id", thresholds=(0.5, 0.8, 1.0)
        ).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rep] == [0.5, 0.8, 1.0]
    for a, b in zip(rep, rep[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_docs"] >= b["n_docs"]
    exact_copies = docs.where(F.col("doc_id") % 7 == 0).count()
    top = rep[-1]
    assert top["n_pairs"] >= exact_copies  # verbatim pairs at 1.0
    assert top["n_corpus"] == n
    assert top["affected_frac"] == round(top["n_docs"] / n, 6)


# ---------------------------------------------------------------------------
# streaming packing
# ---------------------------------------------------------------------------

def test_pack_stream_matches_batch_under_ordered_ingest(spark, tmp_path):
    """Streaming pack == batch pack_assign when ids arrive in
    non-decreasing order across micro-batches (the ordered-ingest
    contract): two id-ordered files, one per trigger, state carries the
    running offsets across the batch boundary."""
    import os
    import time as _time

    from whylogs_java_spark.operators.text import pack_assign
    from whylogs_java_spark.streaming.pack_stream import pack_assign_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "lang", "doc_id", "text"
    )
    cut = 250
    src = tmp_path / "pack_src"
    lo = str(src / "f0.parquet")
    hi = str(src / "f1.parquet")
    docs.where(F.col("doc_id") < cut).coalesce(1).write.parquet(lo)
    docs.where(F.col("doc_id") >= cut).coalesce(1).write.parquet(hi)
    # FileStreamSource orders by modification time: pin lo before hi
    now = _time.time()
    for root, offset in ((lo, -120), (hi, -60)):
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                os.utime(p, (now + offset, now + offset))

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    out = pack_assign_stream(
        stream, "text", "doc_id", "lang", context_len=128, sep_tokens=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("pack_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pack_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    got = {
        r["doc_id"]: (
            r["stratum"], r["n_tokens"], r["token_offset"],
            r["first_context"], r["last_context"], r["n_contexts"],
        )
        for r in spark.sql("SELECT * FROM pack_stream").collect()
    }
    batch = {
        r["doc_id"]: (
            r["lang"], r["n_tokens"], r["token_offset"],
            r["first_context"], r["last_context"], r["n_contexts"],
        )
        for r in pack_assign(
            docs, "text", "doc_id", context_len=128, strata=["lang"],
            sep_tokens=1,
        ).collect()
    }
    assert n_batches >= 2  # the state actually crossed a boundary
    assert got == batch


def test_exact_dedup_prefer_survivor(spark):
    """prefer keeps the highest-scored duplicate (ties -> min id);
    default stays min-id; non-duplicates always survive."""
    from whylogs_java_spark.operators.dedup import (
        exact_dedup,
        exact_duplicate_groups,
    )

    df = spark.createDataFrame(
        [
            (1, "same text", 5.0),
            (2, "same text", 9.0),   # best copy
            (3, "same text", 9.0),   # tie with 2 -> 2 wins (min id)
            (4, "unique here", 1.0),
            (5, "Same  Text", 7.0),  # content_key canonicalizes: same group
        ],
        "doc_id long, text string, score double",
    )
    kept = sorted(
        r["doc_id"]
        for r in exact_dedup(df, "text", "doc_id", prefer=F.col("score")).collect()
    )
    assert kept == [2, 4]
    # default unchanged
    kept_min = sorted(
        r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect()
    )
    assert kept_min == [1, 4]
    g = {
        r["keep_id"]: r["n_docs"]
        for r in exact_duplicate_groups(
            df, "text", "doc_id", prefer=F.col("score")
        ).collect()
    }
    assert g[2] == 4


def test_novelty_stream_matches_batch(spark, tmp_path):
    """Streaming novelty == batch novelty over the same rows under any
    micro-batch boundaries (per-doc vs a fixed reference set)."""
    from whylogs_java_spark.operators.decontam import ngram_novelty
    from whylogs_java_spark.streaming.novelty_stream import novelty_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 3 == 0)
    cur = docs.where(F.col("doc_id") % 3 != 0)
    src = str(tmp_path / "nov_stream_src")
    cur.repartition(8).write.parquet(src)
    stream = spark.readStream.schema(cur.schema).option(
        "maxFilesPerTrigger", 3
    ).parquet(src)
    collected: list = []
    batches: list = []

    def on_batch(report, batch_id):
        rows = report.collect()
        if rows:
            batches.append(batch_id)
            collected.extend(rows)

    q = novelty_stream(
        stream, "text", "doc_id", ref, on_batch, n=5,
        checkpoint_dir=str(tmp_path / "nov_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch = {
        r["doc_id"]: tuple(r)[1:]
        for r in ngram_novelty(cur, "text", "doc_id", ref, n=5).collect()
    }
    got = {r["doc_id"]: tuple(r)[1:] for r in collected}
    assert len(collected) == len(got)
    assert got == batch
    assert len(batches) > 1

    # streaming reference refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        novelty_stream(stream, "text", "doc_id", stream, on_batch)


def test_training_manifest_v3_invariants(spark):
    """v3 composition: no blocked doc survives, each near-dup cluster
    contributes exactly its survivor, offsets are contiguous per split
    (tokens + separators), and every member of a mutant pair lands in
    one split (leakage-safety inherited)."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v3

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        )
    )
    out = training_manifest_v3(
        corpus, "text", "doc_id", ("table",), context_len=64, sep_tokens=1,
    )
    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    # gate: no surviving doc contains the blocked word
    blocked = {
        r["doc_id"]
        for r in corpus.where(
            F.lower("text").rlike(r"\btable\b")
        ).collect()
    }
    assert not (ids & blocked)
    # dedup: the vast majority of mutant/source pairs resolve to one
    # survivor (a short doc's +2-token mutant can legitimately fall
    # below jaccard 0.5 and stay a separate cluster)
    mutants = {r["doc_id"] for r in rows if r["doc_id"] >= 100000}
    both = sum(1 for m in mutants if (m - 100000) in ids)
    n_planted = corpus.where(F.col("doc_id") >= 100000).count()
    assert both <= 0.2 * n_planted, (both, n_planted)
    # packing: offsets contiguous per split
    by_split: dict = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r)
    assert set(by_split) <= {"train", "val", "test"}
    for split, rs in by_split.items():
        rs.sort(key=lambda r: r["doc_id"])
        off = 0
        for i, r in enumerate(rs):
            assert r["token_offset"] == off, (split, r["doc_id"])
            off += r["n_tokens"] + 1


def test_embedding_drift_stream_matches_batch(spark, tmp_path):
    """Each closed window's streamed drift row is bit-identical to
    batch embedding_drift(ref, that window's rows)."""
    from whylogs_java_spark.operators.drift import embedding_drift
    from whylogs_java_spark.streaming.embedding_drift_stream import (
        embedding_drift_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ref = emb.where(F.col("vec_id") % 3 == 0).select("embedding")
    cur = emb.where(F.col("vec_id") % 3 != 0).select(
        "vec_id", "embedding",
        (
            F.expr("timestamp '2024-01-01 00:00:00'")
            + F.make_interval(mins=(F.col("vec_id") / 80).cast("int") * 10)
        ).alias("ts"),
    )
    src = str(tmp_path / "edrift_src")
    # one id-window per file, files time-ordered (mod times pinned), so
    # the watermark never drops in-window rows as late
    import os
    import time as _time

    n_win = cur.agg(
        F.max((F.col("vec_id") / 80).cast("int"))
    ).first()[0] + 1
    now = _time.time()
    for wi in range(n_win):
        part = str(src and f"{src}/w{wi}.parquet")
        cur.where(
            ((F.col("vec_id") / 80).cast("int")) == wi
        ).coalesce(1).write.parquet(part)
        for dirpath, _, files in os.walk(part):
            for f in files:
                ts = now - 600 + wi * 10
                os.utime(os.path.join(dirpath, f), (ts, ts))
    stream = spark.readStream.schema(cur.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")
    collected: list = []

    def on_batch(report, batch_id):
        collected.extend(report.collect())

    q = embedding_drift_stream(
        stream, "ts", "embedding", ref, on_batch,
        window="10 minutes", watermark="0 seconds",
        checkpoint_dir=str(tmp_path / "edrift_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["window_start"]: r for r in collected}
    assert len(got) >= 2  # closed windows emitted (the last stays open)
    for ws, r in got.items():
        lo = int((ws.minute // 10) * 10)  # window index via the ts rule
        # reconstruct the window's vec_id slice from the synthesis rule
        win_idx = (ws - type(ws)(2024, 1, 1)).total_seconds() // 600
        slice_df = cur.where(
            ((F.col("vec_id") / 80).cast("int")) == int(win_idx)
        ).select("embedding")
        b = embedding_drift(ref, slice_df, "embedding").collect()[0]
        assert (
            r["n_ref"], r["n_cur"], r["cosine_means"], r["l2_means"],
            r["max_dim_shift"], r["mean_abs_shift"],
        ) == tuple(b), ws

    # streaming reference refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        embedding_drift_stream(stream, "ts", "embedding", stream, on_batch)


def test_gram_store_roundtrip_and_reuse(spark, tmp_path):
    """Store-backed decontam/novelty == from-scratch; n mismatch
    refused; digests distinct."""
    from whylogs_java_spark.operators.decontam import (
        build_gram_store,
        decontaminate,
        ngram_novelty,
        read_gram_store,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 4 == 0)
    cur = docs.where(F.col("doc_id") % 4 != 0)
    store = str(tmp_path / "gram_store")
    build_gram_store(ref, store, "text", n=5)

    grams = read_gram_store(spark, store, n=5)
    assert grams.count() == grams.distinct().count()

    from_df = {
        r["doc_id"]: tuple(r)[1:]
        for r in ngram_novelty(cur, "text", "doc_id", ref, n=5).collect()
    }
    from_store = {
        r["doc_id"]: tuple(r)[1:]
        for r in ngram_novelty(
            cur, "text", "doc_id", n=5, ref_grams=grams
        ).collect()
    }
    assert from_store == from_df

    d_df = {
        r["doc_id"]: tuple(r)[1:]
        for r in decontaminate(cur, "text", "doc_id", ref, n=5).collect()
    }
    d_store = {
        r["doc_id"]: tuple(r)[1:]
        for r in decontaminate(
            cur, "text", "doc_id", None, n=5, eval_grams=grams
        ).collect()
    }
    assert d_store == d_df

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_gram_store(spark, store, n=13)


def test_blocklist_stream_matches_batch(spark, tmp_path):
    """The streaming screen is literally the batch projection over a
    streaming source: row-identical reports, composable downstream."""
    from whylogs_java_spark.operators.text import blocklist_filter
    from whylogs_java_spark.streaming.blocklist_stream import (
        blocklist_screen_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "bl_stream_src")
    docs.repartition(5).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    out = blocklist_screen_stream(
        stream, "text", "doc_id", ("spark", "slow stream")
    ).where(F.col("blocked"))  # composes downstream as a plain filter
    q = (
        out.writeStream.format("memory")
        .queryName("bl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bl_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM bl_stream").collect()
    }
    batch = {
        r["doc_id"]: tuple(r)[1:]
        for r in blocklist_filter(
            docs, "text", "doc_id", ("spark", "slow stream")
        ).where(F.col("blocked")).collect()
    }
    assert got == batch and len(batch) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        blocklist_screen_stream(docs, "text", "doc_id", ("x",))


# ---------------------------------------------------------------------------
# r11 ADVICE fixes: NULL-safety in prefer/blocklist/pack + single-stream guard
# ---------------------------------------------------------------------------

def test_exact_dedup_prefer_null_score_loses(spark):
    """A NULL prefer score must never beat a scored copy (ADVICE r10):
    NULL coalesces to -inf, so the highest NON-NULL score survives;
    all-NULL groups fall back to min id."""
    from whylogs_java_spark.operators.dedup import (
        exact_dedup,
        exact_duplicate_groups,
    )

    df = spark.createDataFrame(
        [
            (1, "dup text", 5.0),
            (2, "dup text", None),   # NULL must lose to 5.0
            (3, "dup text", 2.0),
            (7, "all null grp", None),
            (8, "all null grp", None),  # all-NULL -> min id 7
        ],
        "doc_id long, text string, score double",
    )
    kept = sorted(
        r["doc_id"]
        for r in exact_dedup(
            df, "text", "doc_id", prefer=F.col("score")
        ).collect()
    )
    assert kept == [1, 7]
    g = {
        r["keep_id"]: r["n_docs"]
        for r in exact_duplicate_groups(
            df, "text", "doc_id", prefer=F.col("score")
        ).collect()
    }
    assert g == {1: 3, 7: 2}


def test_blocklist_filter_null_text(spark):
    """NULL text rows get n_blocked=0 / blocked=false (not NULL), so
    .where(~blocked) keeps them instead of silently dropping."""
    from whylogs_java_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        [(1, "a spam doc"), (2, None), (3, "clean")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_blocked"], r["blocked"], r["matched_terms"])
        for r in blocklist_filter(df, "text", "doc_id", ("spam",)).collect()
    }
    assert out[2] == (0, False, "")
    assert out[1][0] == 1 and out[1][1] is True
    kept = sorted(
        r["doc_id"]
        for r in blocklist_filter(df, "text", "doc_id", ("spam",))
        .where(~F.col("blocked"))
        .collect()
    )
    assert kept == [2, 3]


def test_pack_assign_null_text_is_empty_doc(spark):
    """NULL text behaves exactly like an empty doc: n_tokens=0,
    n_contexts=0, and SUM(n_tokens) no longer skips the row."""
    from whylogs_java_spark.operators.text import pack_assign

    df = spark.createDataFrame(
        [(1, "one two three"), (2, None), (3, "four five")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in pack_assign(
            df, "text", "doc_id", context_len=4, sep_tokens=1
        ).collect()
    }
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_contexts"] == 0
    # offsets unchanged vs an empty-string doc in the same slot
    df2 = spark.createDataFrame(
        [(1, "one two three"), (2, ""), (3, "four five")],
        "doc_id long, text string",
    )
    rows2 = {
        r["doc_id"]: r
        for r in pack_assign(
            df2, "text", "doc_id", context_len=4, sep_tokens=1
        ).collect()
    }
    for d in (1, 2, 3):
        assert tuple(rows[d]) == tuple(rows2[d])
    total = sum(r["n_tokens"] for r in rows.values())
    assert total == 5


def test_pack_assign_single_stream_guard(spark):
    """No-strata pack over more rows than the limit must raise unless
    the caller opts in with allow_single_stream=True."""
    import pytest as _pytest

    from whylogs_java_spark.operators.text import pack_assign

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b").alias("text")
    )
    with _pytest.raises(ValueError, match="single"):
        pack_assign(df, "text", "doc_id", single_stream_row_limit=5)
    # opt-in works, and strata skip the probe entirely
    assert (
        pack_assign(
            df, "text", "doc_id",
            single_stream_row_limit=5, allow_single_stream=True,
        ).count()
        == 10
    )
    assert (
        pack_assign(
            df.withColumn("lang", F.lit("en")),
            "text", "doc_id", strata=["lang"], single_stream_row_limit=5,
        ).count()
        == 10
    )


def test_compression_invariants_extremes(spark):
    """The bracket booleans hold on constructed extremes — empty, single
    char, highly repetitive, incompressible random ASCII, multi-byte
    UTF-8, >32KB (past the deflate window), and NULL text -> NULL
    verdicts."""
    import random

    from whylogs_java_spark.operators.text import compression_invariants

    rng = random.Random(7)
    rand_ascii = "".join(chr(rng.randint(33, 126)) for _ in range(50_000))
    texts = [
        (1, ""),
        (2, "a"),
        (3, "ab" * 60_000),          # repetitive, > 32KB window
        (4, rand_ascii),             # incompressible
        (5, "héllo wörld ünïcode " * 500),
        (6, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in compression_invariants(df, "text", "doc_id").collect()}
    for d in (1, 2, 3, 4, 5):
        r = rows[d]
        assert r["z_upper_ok"] and r["z_lower_ok"] and r["rep3_ok"] and r["rep3_gain_ok"], r
    assert rows[5]["raw_bytes"] > len("héllo wörld ünïcode " * 500)  # multi-byte
    n = rows[6]
    assert n["z_upper_ok"] is None and n["rep3_ok"] is None and n["rep3_gain_ok"] is None


# ---------------------------------------------------------------------------
# r12 quota / budget / vocab-coverage operators
# ---------------------------------------------------------------------------

def test_source_cap_rank_and_null_prefer(spark):
    """Cap binds per source; NULL prefer sorts LAST (never beats a scored
    row); ties break on the id; source_rank is the 1-based kept rank."""
    from whylogs_java_spark.operators.sampling import source_cap

    rows = [
        (1, "a", 0.8), (2, "a", 0.8), (3, "a", None), (4, "a", 0.9),
        (5, "b", None), (6, "b", None),
        (7, "c", 0.1),
    ]
    df = spark.createDataFrame(rows, "id long, src string, q double")
    got = {
        (r["id"], r["source_rank"])
        for r in source_cap(df, "id", "src", 2, "q").collect()
    }
    # a: 4 (0.9), then 1 (0.8, id<2); 3 (NULL) loses to every scored row
    # b: NULLs tie -> id order
    assert got == {(4, 1), (1, 2), (5, 1), (6, 2), (7, 1)}
    with pytest.raises(ValueError):
        source_cap(df, "id", "src", 0, "q")


def test_source_cap_plan_pushes_group_limit(spark):
    """The rank<=cap predicate must become a WindowGroupLimit with a
    Partial mode below the exchange — the property that bounds a hot
    source's shuffle input at cap x upstream-partitions rows."""
    from whylogs_java_spark.operators.sampling import source_cap

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("src"),
        (F.col("id") % 7).cast("double").alias("q"),
    )
    plan = (
        source_cap(df, "id", "src", 5, "q")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_token_budget_select_matches_global_greedy(spark):
    """The ladder + boundary-bucket plan must equal the single global
    cumulative-sum semantics, including: row kept iff cum INCLUDING it
    fits, NULL prefer last, NULL/negative token rows rejected."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    rows = [
        (1, 0.9, 10), (2, 0.9, 10), (3, 0.5, 25), (4, 0.5, 5),
        (5, None, 1), (6, 0.1, None), (7, 0.1, -3), (8, 1.0, 7),
    ]
    df = spark.createDataFrame(rows, "id long, q double, toks long")
    got = {r["id"]: r["cum_tokens"] for r in
           token_budget_select(df, "id", "toks", "q", 50).collect()}
    # order: 8(7) 1(17) 2(27) 3(52 X stop-at) 4(32? no — greedy PREFIX:)
    # global order is 8,1,2,3,4,5; cum 7,17,27,52,57,58 -> kept iff <=50
    assert got == {8: 7, 1: 17, 2: 27}
    # budget exactly at a row's cum keeps it
    got2 = {r["id"]: r["cum_tokens"] for r in
            token_budget_select(df, "id", "toks", "q", 52).collect()}
    assert got2 == {8: 7, 1: 17, 2: 27, 3: 52}
    # zero budget selects nothing; negative refused
    assert token_budget_select(df, "id", "toks", "q", 0).count() == 0
    with pytest.raises(ValueError):
        token_budget_select(df, "id", "toks", "q", -1)


def test_token_budget_continuous_score_guard(spark):
    """quantize bounds the ladder of a continuous score and matches the
    python greedy over the ROUNDED scores (ties ordered id-asc, the
    documented coarsening contract)."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") / 7.0).alias("q"),   # 200 distinct 'continuous' scores
        F.lit(3).cast("long").alias("toks"),
    )
    out = {r["id"]: r["cum_tokens"] for r in token_budget_select(
        df, "id", "toks", "q", 60, quantize=0
    ).collect()}
    rows = [(i, round(i / 7.0 + 1e-12), 3) for i in range(200)]
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, want = 0, {}
    for i, q, t in order:
        cum += t
        if cum <= 60:
            want[i] = cum
    assert out == want and len(out) == 20


def test_token_budget_constant_score_matches_brute_window(spark):
    """A CONSTANT score puts the whole corpus in one bucket: the kept
    rows still equal the brute global cumulative window."""
    from pyspark.sql import Window

    from whylogs_java_spark.operators.sampling import token_budget_select

    const = spark.range(500).select(
        F.col("id"), F.lit(1.0).alias("q"),
        (F.col("id") % 7 + 1).cast("long").alias("toks"),
    )
    got = token_budget_select(const, "id", "toks", "q", 900)
    w = Window.orderBy(F.col("q").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    brute = const.withColumn("cum_tokens", F.sum("toks").over(w)).where(
        F.col("cum_tokens") <= 900
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_token_budget_many_distinct_scores_match_brute_window(spark):
    """70,000 distinct scores with the default arguments: no refusal,
    and the kept rows equal the brute global SUM() OVER (ORDER BY q
    DESC, id) cut."""
    from pyspark.sql import Window

    from whylogs_java_spark.operators.sampling import token_budget_select

    n = 70_000
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 104729 % n) / float(n)).alias("q"),
        (F.col("id") * 7919 % 500 + 1).alias("toks"),
    )
    budget = df.agg(F.sum("toks")).first()[0] // 2
    got = token_budget_select(df, "id", "toks", "q", budget)
    w = Window.orderBy(F.col("q").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    brute = df.withColumn("cum_tokens", F.sum("toks").over(w)).where(
        F.col("cum_tokens") <= budget
    )
    assert got.count() > 0
    assert got.exceptAll(brute).isEmpty() and brute.exceptAll(got).isEmpty()


def test_token_budget_leaves_nothing_persisted(spark):
    """The plan is lazy: a call and an action over its output leave the
    session's persisted RDDs as they were."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    df = spark.range(2_000).select(
        F.col("id"),
        (F.col("id") % 13).cast("double").alias("q"),
        (F.col("id") % 11 + 1).alias("toks"),
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert token_budget_select(df, "id", "toks", "q", 5_000).collect()
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_token_budget_plan_has_no_global_sort(spark):
    """The corpus-side plan must not contain a global (non-partitioned)
    Sort or Window over the full input: the only unpartitioned window
    rides the per-value ladder, whose input is the tiny census agg."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 5).cast("double").alias("q"),
        (F.col("id") % 11 + 1).alias("toks"),
    )
    out = token_budget_select(df, "id", "toks", "q", 9_999)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no GLOBAL sort anywhere (a global SortExec prints "], true, 0" —
    # window sorts are per-partition, "], false, 0"): the corpus is
    # never totally ordered, and the ladder window's single partition
    # holds only the census aggregate (distinct q = 5 rows here)
    assert "], true, 0" not in plan, plan
    # the corpus side joins the broadcast ladder (the census agg runs
    # once at build time, materialized — r13 guard change)
    assert "BroadcastHashJoin" in plan
    # cross-check totals vs a brute single-window twin
    from pyspark.sql import Window
    w = Window.orderBy(F.col("q").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    brute = (
        df.withColumn("cum_tokens", F.sum("toks").over(w))
        .where(F.col("cum_tokens") <= 9_999)
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, brute.collect()))


def test_vocab_top_deterministic_boundary(spark):
    """Vocabulary ranking ties break token-ASC so the k-boundary is
    engine-reproducible."""
    from whylogs_java_spark.operators.text import vocab_top

    df = spark.createDataFrame(
        [(1, "b b a a c"), (2, "c d")], "doc_id long, text string"
    )
    got = [(r["token"], r["n"]) for r in vocab_top(df, "text", 3).collect()]
    # counts: a2 b2 c2 d1 -> top3 by (n desc, token asc) = a, b, c
    assert got == [("a", 2), ("b", 2), ("c", 2)]


def test_oov_stats_against_fixed_vocab(spark):
    from whylogs_java_spark.operators.text import oov_stats

    df = spark.createDataFrame(
        [(1, "The quick fox"), (2, ""), (3, None), (4, "the the zz")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            oov_stats(df, "text", "doc_id", ["THE", "fox"]).collect()}
    # vocab is lowercased both sides; tokens lowercased before the test
    assert (rows[1]["n_tokens"], rows[1]["n_oov"]) == (3, 1)
    assert rows[1]["oov_rate"] == pytest.approx(round(1 / 3, 6))
    assert (rows[2]["n_tokens"], rows[2]["n_oov"], rows[2]["oov_rate"]) == (0, 0, None)
    # NULL text is an empty doc (the blocklist/pack_assign convention)
    assert (rows[3]["n_tokens"], rows[3]["n_oov"], rows[3]["oov_rate"]) == (0, 0, None)
    assert (rows[4]["n_tokens"], rows[4]["n_oov"]) == (3, 1)


def test_phrase_stream_matches_batch(spark, tmp_path):
    """The streaming phrase screen is the batch projection over a
    streaming source: row-identical match reports."""
    from whylogs_java_spark.operators.retrieval import phrase_search
    from whylogs_java_spark.streaming.phrase_stream import (
        phrase_screen_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "ph_stream_src")
    docs.repartition(5).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    q = (
        phrase_screen_stream(stream, "text", "doc_id", "hash join")
        .writeStream.format("memory")
        .queryName("ph_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ph_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["n_matches"]
        for r in spark.sql("SELECT * FROM ph_stream").collect()
    }
    batch = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(docs, "text", "doc_id", "hash join").collect()
    }
    assert got == batch and len(batch) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        phrase_screen_stream(docs, "text", "doc_id", "x")


def test_decontaminate_spans_surgical_removal(spark):
    """Span-level decontamination removes exactly the contaminated token
    runs: overlapping grams merge to one span, disjoint leaks count
    separately, clean/short docs keep their full (normalized) text."""
    from whylogs_java_spark.operators.decontam import decontaminate_spans

    leak = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 2 shared 5-grams
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing tail"),
            (2, "one two three four five six seven eight"),  # clean
            (3, "too short"),
            (4, f"{leak} middle filler words here {leak}"),  # two spans
            (5, leak),  # fully contaminated
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(f"xx {leak} yy",)], ["text"])
    out = {r["doc_id"]: r for r in decontaminate_spans(
        corpus, "text", "doc_id", ev, n=5
    ).collect()}
    # the two overlapping 5-grams merge into ONE 6-token span
    assert out[1]["n_spans"] == 1 and out[1]["tokens_removed"] == 6
    assert out[1]["clean_text"] == "intro words trailing tail"
    assert out[1]["n_tokens"] == 10
    assert out[2]["n_spans"] == 0 and out[2]["tokens_removed"] == 0
    assert out[2]["clean_text"] == "one two three four five six seven eight"
    assert out[3]["n_spans"] == 0 and out[3]["clean_text"] == "too short"
    assert out[4]["n_spans"] == 2 and out[4]["tokens_removed"] == 12
    assert out[4]["clean_text"] == "middle filler words here"
    assert out[5]["n_spans"] == 1 and out[5]["tokens_removed"] == 6
    assert out[5]["clean_text"] == ""


def test_decontaminate_spans_gram_store_and_validation(spark, tmp_path):
    """decontaminate_spans accepts a persisted gram store's digest set
    (build-once screening) and refuses a call with neither eval side."""
    import pytest

    from whylogs_java_spark.operators.decontam import (
        build_gram_store,
        decontaminate_spans,
        read_gram_store,
    )

    leak = "p q r s t u"
    corpus = spark.createDataFrame(
        [(1, f"aa bb {leak} cc"), (2, "clean doc text here five six")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(leak,)], ["text"])
    p = str(tmp_path / "gstore")
    build_gram_store(ev, p, "text", n=5)
    direct = decontaminate_spans(corpus, "text", "doc_id", ev, n=5)
    stored = decontaminate_spans(
        corpus, "text", "doc_id", n=5,
        eval_grams=read_gram_store(spark, p, n=5),
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, stored.collect())
    )
    with pytest.raises(ValueError, match="eval_df"):
        decontaminate_spans(corpus, "text", "doc_id", n=5)


def test_score_buckets_global_terciles(spark):
    """Known 1..9 scores split into exact interpolated terciles; a NULL
    score keeps its row with a NULL bucket."""
    from whylogs_java_spark.operators.sampling import score_buckets

    rows = [(i, float(i)) for i in range(1, 10)] + [(99, None)]
    df = spark.createDataFrame(rows, ["doc_id", "ppl"])
    out = {r["doc_id"]: r["bucket"] for r in score_buckets(
        df, "doc_id", "ppl"
    ).collect()}
    # percentile(1..9, 1/3) = 3.666667, 2/3 -> 6.333333
    assert {k: v for k, v in out.items() if k != 99} == {
        1: "head", 2: "head", 3: "head",
        4: "middle", 5: "middle", 6: "middle",
        7: "tail", 8: "tail", 9: "tail",
    }
    assert out[99] is None


def test_score_buckets_per_stratum_and_validation(spark):
    """Cutoffs are computed per stratum (the CCNet per-language rule) —
    the same score lands in different buckets under different language
    distributions; bad labels/cuts are refused."""
    import pytest

    from whylogs_java_spark.operators.sampling import score_buckets

    rows = [("en", i, float(i)) for i in range(1, 10)] + [
        ("fr", 100 + i, float(100 + i)) for i in range(1, 10)
    ] + [("fr", 200, 5.0)]  # score 5: middle for en, head for fr
    df = spark.createDataFrame(rows, ["lang", "doc_id", "ppl"])
    out = {r["doc_id"]: r for r in score_buckets(
        df, "doc_id", "ppl", stratum_col="lang"
    ).collect()}
    assert out[5]["bucket"] == "middle"
    assert out[200]["bucket"] == "head"
    assert out[101]["bucket"] == "head" and out[109]["bucket"] == "tail"
    with pytest.raises(ValueError, match="labels"):
        score_buckets(df, "doc_id", "ppl", labels=("a", "b"))
    with pytest.raises(ValueError, match="ascending"):
        score_buckets(df, "doc_id", "ppl", cuts=(0.9, 0.1))
    with pytest.raises(ValueError, match="ascending"):
        score_buckets(df, "doc_id", "ppl", cuts=(0.0, 0.5))


def test_score_buckets_approx_tier_partitions(spark):
    """approx=True keeps the plan shape and still produces a total
    bucketing (every scored row gets some label)."""
    from whylogs_java_spark.operators.sampling import score_buckets

    df = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(200)], ["doc_id", "ppl"]
    )
    out = score_buckets(df, "doc_id", "ppl", approx=True).collect()
    assert len(out) == 200
    assert {r["bucket"] for r in out} <= {"head", "middle", "tail"}
    assert all(r["bucket"] is not None for r in out)


def _toy_emb(spark, n=40, dim=4):
    import math

    rows = [
        (i, [math.sin(i * (j + 1)) * 2.0 + (i % 3) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_model_store_roundtrip_bit_identical(spark, tmp_path):
    """build_kmeans_model + kmeans_assign_stored == kmeans_assign with
    the same params (train-once/assign-many parity), for BOTH the
    literal and join assignment paths; meta arity mismatch refuses."""
    import pytest

    from whylogs_java_spark.operators.cluster import (
        build_kmeans_model,
        kmeans_assign,
        kmeans_assign_stored,
        read_kmeans_model,
    )

    emb = _toy_emb(spark)
    p = str(tmp_path / "kmodel")
    build_kmeans_model(emb, p, k=4, n_iter=2)
    direct = kmeans_assign(emb, k=4, n_iter=2)
    stored = kmeans_assign_stored(spark, p, emb, k=4)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, stored.collect())
    )
    # join path over the same stored centroids is bit-identical too
    stored_join = kmeans_assign_stored(spark, p, emb, assign="join")
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, stored_join.collect())
    )
    cents = read_kmeans_model(spark, p)
    assert len(cents) == 4 and all(len(c) == 4 for c in cents)
    with pytest.raises(ValueError, match="k=4"):
        read_kmeans_model(spark, p, k=7)


def test_kmeans_model_store_scores_new_batch(spark, tmp_path):
    """A frozen model assigns vectors it never trained on (the
    incremental-ingest face): assignments are nearest-centroid exact."""
    from whylogs_java_spark.operators.cluster import (
        build_kmeans_model,
        kmeans_assign_stored,
        read_kmeans_model,
    )

    emb = _toy_emb(spark)
    p = str(tmp_path / "kmodel2")
    build_kmeans_model(emb, p, k=3, n_iter=1)
    cents = read_kmeans_model(spark, p)
    new = spark.createDataFrame(
        [(1000, [0.5, 0.5, 0.5, 0.5]), (1001, [9.0, 9.0, 9.0, 9.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in kmeans_assign_stored(
        spark, p, new
    ).collect()}

    def sq(v, c):
        return sum((a - b) ** 2 for a, b in zip(v, c))

    for vid, v in ((1000, [0.5] * 4), (1001, [9.0] * 4)):
        dists = [sq(v, c) for c in cents]
        want = min(range(len(dists)), key=lambda i: (dists[i], i))
        assert out[vid]["cluster"] == want
        assert abs(out[vid]["dist"] - round(dists[want], 6)) < 1e-9


def test_kmeans_assign_with_validation(spark):
    import pytest

    from whylogs_java_spark.operators.cluster import kmeans_assign_with

    emb = _toy_emb(spark, n=5)
    with pytest.raises(ValueError, match="non-empty"):
        kmeans_assign_with(emb, [])
    with pytest.raises(ValueError, match="assign mode"):
        kmeans_assign_with(emb, [[0.0] * 4], assign="nope")


def test_score_buckets_stream_matches_batch(spark, tmp_path):
    """Streaming tier assignment against frozen cutoffs == batch
    score_buckets_with over the same rows, any batch boundaries; a
    streaming cutoff table is refused."""
    import pytest as _pytest

    from whylogs_java_spark.operators.sampling import (
        score_buckets_with,
        score_cutoffs,
    )
    from whylogs_java_spark.streaming.score_stream import (
        score_buckets_stream,
    )

    rows = [("en", i, float((i * 7) % 23)) for i in range(60)] + [
        ("fr", 100 + i, float((i * 5) % 17)) for i in range(40)
    ] + [("en", 999, None)]
    scored = spark.createDataFrame(rows, "lang string, doc_id long, ppl double")
    cuts = score_cutoffs(scored, "ppl", "lang").localCheckpoint(eager=True)

    src = str(tmp_path / "sb_stream_src")
    scored.repartition(7).write.parquet(src)
    stream = spark.readStream.schema(scored.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    out = score_buckets_stream(stream, cuts, "doc_id", "ppl", "lang")
    q = (
        out.writeStream.format("memory")
        .queryName("sb_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sb_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM sb_stream").collect())
    )
    batch = sorted(
        map(
            tuple,
            score_buckets_with(scored, cuts, "doc_id", "ppl", "lang").collect(),
        )
    )
    assert got == batch and len(batch) == 101

    with _pytest.raises(ValueError, match="not streaming"):
        score_buckets_stream(scored, cuts, "doc_id", "ppl", "lang")
    with _pytest.raises(ValueError, match="STATIC"):
        score_buckets_stream(stream, stream, "doc_id", "ppl", "lang")


def test_score_buckets_with_unstratified_rejects_multirow_cutoffs(spark):
    """r12 advice: passing a STRATIFIED (multi-row) cutoff table with
    stratum_col=None would crossJoin-multiply every input row N-fold
    with conflicting buckets — refused loudly; the sanctioned one-row
    case still works."""
    import pytest as _pytest

    from whylogs_java_spark.operators.sampling import (
        score_buckets_with,
        score_cutoffs,
    )

    rows = [("en", i, float(i)) for i in range(30)] + [
        ("fr", 100 + i, float(i)) for i in range(30)
    ]
    scored = spark.createDataFrame(rows, "lang string, doc_id long, ppl double")
    strat_cuts = score_cutoffs(scored, "ppl", "lang")
    with _pytest.raises(ValueError, match="ONE-row"):
        score_buckets_with(scored, strat_cuts, "doc_id", "ppl")
    with _pytest.raises(ValueError, match="ONE-row"):
        score_buckets_with(
            scored, strat_cuts.limit(0), "doc_id", "ppl"
        )
    one = score_cutoffs(scored, "ppl")
    out = score_buckets_with(scored, one, "doc_id", "ppl")
    assert out.count() == 60 and out.where(F.col("bucket").isNull()).count() == 0


def test_decontam_spans_stream_matches_batch(spark, tmp_path):
    """Streaming surgical decontamination == batch decontaminate_spans
    over the same rows under any micro-batch boundaries."""
    from whylogs_java_spark.operators.decontam import decontaminate_spans
    from whylogs_java_spark.streaming.decontam_stream import (
        decontam_spans_stream,
    )

    leak = "alpha beta gamma delta epsilon zeta"
    rows = [(i, f"doc number {i} body {leak} tail words") for i in range(8)]
    rows += [(100 + i, f"clean document {i} with its own words") for i in range(7)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(f"xx {leak} yy",)], ["text"])

    src = str(tmp_path / "ds_stream_src")
    corpus.repartition(5).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    got = []
    q = decontam_spans_stream(
        stream, "text", "doc_id", ev,
        on_batch=lambda df, bid: got.extend(map(tuple, df.collect())),
        checkpoint_dir=str(tmp_path / "ds_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.decontam_grams.unpersist()
    batch = sorted(
        map(tuple, decontaminate_spans(corpus, "text", "doc_id", ev).collect())
    )
    assert sorted(got) == batch and len(batch) == 15
    # the planted leak really was excised in the streamed output
    cleaned = {t[0]: t[4] for t in got}
    assert cleaned[3] == "doc number 3 body tail words"


def test_c4_filter_line_rules(spark):
    """Each C4 rule gates its own line; the doc verdict needs min_lines
    survivors and no braces; NULL text behaves as empty."""
    from whylogs_java_spark.operators.text import c4_filter

    good = "this line has plenty of words and punctuation."
    docs = spark.createDataFrame(
        [
            (1, f"{good}\n{good}\n{good}"),                      # keeps 3
            (2, f"{good}\nno terminal punctuation here at all\n{good}"),
            (3, f"{good}\nshort line.\n{good}"),                 # <5 words
            (4, f"{good}\nthis has sneaky Lorem Ipsum inside it.\n{good}"),
            (5, f"{good}\nenable JAVASCRIPT to view this page.\n{good}"),
            (6, f"{good}\n{good}\nvar x = {{1}};\n{good}"),      # brace doc
            (7, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_filter(
        docs, "text", "doc_id"
    ).collect()}
    assert out[1]["n_kept"] == 3 and out[1]["keep"]
    assert out[1]["clean_text"] == f"{good}\n{good}\n{good}"
    for d in (2, 3, 4, 5):
        assert out[d]["n_kept"] == 2 and not out[d]["keep"], d
        assert out[d]["clean_text"] == f"{good}\n{good}"
    assert out[6]["n_kept"] == 3 and not out[6]["keep"]  # brace veto
    assert out[7]["n_lines"] == 1 and out[7]["n_kept"] == 0
    assert not out[7]["keep"] and out[7]["clean_text"] == ""
    # quote counts as terminal punctuation; question/exclamation too
    q = spark.createDataFrame(
        [(1, 'he said "five words right here!"\nis this five words long?')],
        "doc_id long, text string",
    )
    r = c4_filter(q, "text", "doc_id", min_lines=2).first()
    assert r["n_kept"] == 2 and r["keep"]


def test_c4_filter_params_and_validation(spark):
    import pytest

    from whylogs_java_spark.operators.text import c4_filter

    docs = spark.createDataFrame(
        [(1, "one two three.\nuno dos tres cuatro cinco seis.")],
        "doc_id long, text string",
    )
    out = c4_filter(
        docs, "text", "doc_id", min_words_per_line=3, min_lines=1,
        banned_substrings=(),
    ).first()
    assert out["n_kept"] == 2 and out["keep"]
    out2 = c4_filter(
        docs, "text", "doc_id", min_words_per_line=4, min_lines=2
    ).first()
    assert out2["n_kept"] == 1 and not out2["keep"]
    with pytest.raises(ValueError, match="min_words_per_line"):
        c4_filter(docs, "text", "doc_id", min_words_per_line=0)


def test_source_cap_stream_matches_batch_under_ordered_ingest(spark, tmp_path):
    """Streaming quota == batch source_cap (id order, no prefer) when
    ids arrive non-decreasing across micro-batches: the cap spans the
    batch boundary (state carries the admitted count), a source at
    quota stops emitting forever, and quota_rank == source_rank."""
    import os
    import time as _time

    from whylogs_java_spark.operators.sampling import source_cap
    from whylogs_java_spark.streaming.quota_stream import source_cap_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "source", "doc_id"
    )
    cut = 250
    src = tmp_path / "quota_src"
    lo = str(src / "f0.parquet")
    hi = str(src / "f1.parquet")
    docs.where(F.col("doc_id") < cut).coalesce(1).write.parquet(lo)
    docs.where(F.col("doc_id") >= cut).coalesce(1).write.parquet(hi)
    now = _time.time()
    for root, offset in ((lo, -120), (hi, -60)):
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                os.utime(p, (now + offset, now + offset))

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    out = source_cap_stream(stream, "doc_id", "source", cap=40)
    q = (
        out.writeStream.format("memory")
        .queryName("quota_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "quota_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["source"], r["quota_rank"])
        for r in spark.sql("SELECT * FROM quota_stream").collect()
    }
    batch = {
        r["doc_id"]: (r["source"], r["source_rank"])
        for r in source_cap(docs, "doc_id", "source", cap=40).collect()
    }
    assert got == batch and len(batch) > 0
    # every source saturated its quota or ran out of docs
    per_src = {}
    for s, rk in got.values():
        per_src[s] = max(per_src.get(s, 0), rk)
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for s, mx in per_src.items():
        assert mx == min(40, totals[s])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not streaming"):
        source_cap_stream(docs, "doc_id", "source", cap=40)
    with _pytest.raises(ValueError, match="cap"):
        source_cap_stream(stream, "doc_id", "source", cap=0)


def test_training_manifest_v5_invariants(spark):
    """v5 composition invariants: only head/middle tiers admitted,
    quota ranks contiguous per source, the token budget is a GLOBAL
    greedy over (perplexity ASC, id ASC) — cum_tokens reconstructs from
    the output itself — and tightening the budget yields a prefix of
    the looser selection."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v5

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    out = training_manifest_v5(
        docs, "text", "doc_id", ev, n=5, cap=15, token_budget=4000
    )
    rows = sorted(
        out.collect(), key=lambda r: (r["perplexity"], r["doc_id"])
    )
    assert rows and all(r["bucket"] in ("head", "middle") for r in rows)
    # cum_tokens is the running total in global greedy order, <= budget
    run = 0
    for r in rows:
        run += r["n_tokens"]
        assert r["cum_tokens"] == run <= 4000
    # per-source ranks contiguous from 1 within the PRE-budget quota;
    # post-budget they stay <= cap and strictly increasing per source
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["source_rank"])
    for ranks in per_src.values():
        assert all(1 <= x <= 15 for x in ranks)
    # a tighter budget selects a strict prefix of the looser run
    tight = training_manifest_v5(
        docs, "text", "doc_id", ev, n=5, cap=15, token_budget=2000
    ).collect()
    tight_ids = {r["doc_id"] for r in tight}
    loose_ids = {r["doc_id"] for r in rows}
    assert tight_ids < loose_ids
    prefix = {r["doc_id"] for r in rows if r["cum_tokens"] <= 2000}
    assert tight_ids == prefix


def test_source_cap_stream_ttl_resets_idle_source_quota(spark, tmp_path):
    """r12 verdict item: state_ttl bounds source_cap_stream state for
    unbounded key domains (per-URL misuse). Contract: after a source
    idles past the TTL its counter is EVICTED, so the quota becomes a
    rolling one — a post-idle arrival is admitted with rank 1 again.
    Also pins the knob's validation."""
    import time

    from whylogs_java_spark.streaming.quota_stream import source_cap_stream

    schema = "doc_id long, source string"
    src = str(tmp_path / "qsrc")
    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        source_cap_stream(stream, "doc_id", "source", cap=1,
                          state_ttl="20 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("quota_ttl")
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(processingTime="1 second")
        .start()
    )

    def wait_for_data_batch(seen: set, deadline_s: float = 90.0) -> None:
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if q.exception() is not None:
                raise AssertionError(f"query died: {q.exception()}")
            for p in q.recentProgress:
                if p["numInputRows"] > 0 and p["batchId"] not in seen:
                    seen.add(p["batchId"])
                    return
            time.sleep(0.2)
        raise AssertionError("no data-carrying micro-batch observed")

    def append(doc_id: int) -> None:
        spark.createDataFrame([(doc_id, "a")], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    seen: set = set()
    try:
        wait_for_data_batch(seen)   # doc 1 admitted, counter = cap
        append(2)                   # within TTL: cap reached -> rejected
        wait_for_data_batch(seen)
        # idle past the TTL: the continuous timeout batches evict the
        # 'a' counter during the sleep (margin over trigger/discovery
        # latency, same sizing as the near-dup TTL test)
        time.sleep(25.0)
        append(3)                   # fresh window -> admitted, rank 1
        wait_for_data_batch(seen)
        t0 = time.time()
        rows = []
        while time.time() - t0 < 90.0:
            rows = spark.sql(
                "SELECT doc_id, quota_rank FROM quota_ttl"
            ).collect()
            if any(r["doc_id"] == 3 for r in rows):
                break
            time.sleep(0.2)
    finally:
        q.stop()
    got = {r["doc_id"]: r["quota_rank"] for r in rows}
    assert got.get(1) == 1
    assert 2 not in got, f"doc 2 admitted past cap: {rows}"
    assert got.get(3) == 1, f"idle source did not reset: {rows}"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="state_ttl"):
        source_cap_stream(stream, "doc_id", "source", cap=1, state_ttl=0)


def _py_bpe(word_counts, n_merges):
    """Reference BPE trainer (pure python): wrapped-symbol census,
    greedy leftmost merges, (count desc, left asc, right asc) ties."""
    words = {tuple(list(w) + ["·"]): c for w, c in word_counts.items()}
    merges = []
    for step in range(n_merges):
        pc = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get(
                    (syms[i], syms[i + 1]), 0
                ) + c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, c))
        new = {}
        for syms, cnt in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new[k] = new.get(k, 0) + cnt
        words = new
    return merges


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer learns exactly the reference merge
    sequence (greedy leftmost, deterministic ties) on a known corpus."""
    from collections import Counter

    from whylogs_java_spark.operators.tokenizer import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "low lowest newest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    wc = Counter(w for t in texts for w in t.split())
    want = _py_bpe(wc, 10)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=10).orderBy("step").collect()
    ]
    assert got == want


def test_bpe_apply_tokenizes_with_learned_merges(spark):
    """bpe_apply replays merges in training order: trained-on words
    collapse to few subwords, unseen words fall back to chars, and the
    end-of-word marker rides the final symbol."""
    from whylogs_java_spark.operators.tokenizer import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(1, "banana banana banana band")], ["doc_id", "text"]
    )
    merges = bpe_train(docs, "text", n_merges=6)
    out = {r["doc_id"]: r for r in bpe_apply(
        spark.createDataFrame([(7, "banana zap")], ["doc_id", "text"]),
        "text", "doc_id", merges,
    ).collect()}
    toks = out[7]["tokens"]
    assert "".join(toks) == "banana·zap·"
    # 'banana' was trained on -> compressed well below char count
    cut = toks.index(next(t for t in toks if t.endswith("·")))
    assert cut + 1 <= 4
    # unseen 'zap' degrades to mostly single chars
    assert out[7]["n_tokens"] == len(toks)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, "text", n_merges=0)


def test_training_manifest_v4_invariants(spark):
    """v4 composition invariants over the sf0.001 corpus slice: only
    head/middle tiers admitted, per-source admission respects the cap
    with contiguous ranks, n_tokens counts the CLEANED stream, and the
    planted eval overlap really is excised before scoring."""
    from whylogs_java_spark.operators.decontam import decontaminate_spans
    from whylogs_java_spark.operators.pipeline import training_manifest_v4

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    out = training_manifest_v4(docs, "text", "doc_id", ev, n=5, cap=15)
    rows = out.collect()
    assert rows and all(r["bucket"] in ("head", "middle") for r in rows)
    per_src = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["source_rank"])
    for src, ranks in per_src.items():
        assert len(ranks) <= 15
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src
    cleaned = {
        r["doc_id"]: r["n_tokens"] - r["tokens_removed"]
        for r in decontaminate_spans(
            docs, "text", "doc_id", ev, n=5
        ).collect()
    }
    assert all(r["n_tokens"] == cleaned[r["doc_id"]] for r in rows)


def test_bpe_apply_stream_matches_batch(spark, tmp_path):
    """Streaming tokenization against a frozen merge table is
    row-identical to batch bpe_apply; streaming merges are refused."""
    import pytest as _pytest

    from whylogs_java_spark.operators.tokenizer import bpe_apply, bpe_train
    from whylogs_java_spark.streaming.tokenize_stream import bpe_apply_stream

    train = spark.createDataFrame(
        [(1, "banana banana band bans"), (2, "bandana banana")],
        "doc_id long, text string",
    )
    merges = bpe_train(train, "text", n_merges=6).localCheckpoint(eager=True)

    feed = spark.createDataFrame(
        [(i, ["banana splits", "band practice", "zap"][i % 3]) for i in range(9)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "tok_stream_src")
    feed.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(feed.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = bpe_apply_stream(stream, "text", "doc_id", merges)
    q = (
        out.writeStream.format("memory")
        .queryName("tok_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tok_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))
        for r in spark.sql("SELECT * FROM tok_stream").collect()
    )
    batch = sorted(
        (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))
        for r in bpe_apply(feed, "text", "doc_id", merges).collect()
    )
    assert got == batch and len(batch) == 9

    with _pytest.raises(ValueError, match="not streaming"):
        bpe_apply_stream(feed, "text", "doc_id", merges)


def _py_bpe_apply(text, merge_pairs, lowercase=True):
    """Reference encoder (pure python): literal ordered replay — for
    each merge IN TRAINING ORDER, one leftmost-non-overlapping pass per
    word. O(merges x len) by construction; the ground truth both
    bpe_apply tiers must reproduce."""
    if text is None:
        text = ""
    if lowercase:
        text = text.lower()
    toks = []
    for w in text.split(" "):
        if not w or "|" in w or "·" in w:
            continue
        syms = list(w) + ["·"]
        for left, right in merge_pairs:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


def test_bpe_apply_arrow_bit_identical_to_expr(spark):
    """The Arrow encoder tier is BIT-IDENTICAL to the expression tier
    on the same merge table (trained, so it exercises real multi-char
    merges), including null text, unseen words, and marker-carrying
    words that the census filter drops."""
    from whylogs_java_spark.operators.tokenizer import bpe_apply, bpe_train

    train = spark.createDataFrame(
        [(1, "banana banana band bans bandana lowest lower low low low"),
         (2, "newest newest newest widest widest banana")],
        "doc_id long, text string",
    )
    merges = bpe_train(train, "text", n_merges=24)
    feed = spark.createDataFrame(
        [
            (1, "banana splits lowest"),
            (2, None),
            (3, ""),
            (4, "zap  zap UNSEEN"),
            (5, "we|ird mark·er banana"),
            (6, "low low low newest"),
        ],
        "doc_id long, text string",
    )
    key = lambda r: (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))  # noqa: E731
    expr = sorted(
        key(r)
        for r in bpe_apply(feed, "text", "doc_id", merges, method="expr").collect()
    )
    arrow = sorted(
        key(r)
        for r in bpe_apply(feed, "text", "doc_id", merges, method="arrow").collect()
    )
    assert arrow == expr
    # both tiers match the pure-python ordered-replay reference too
    pairs = [(r["left"], r["right"]) for r in merges.orderBy("step").collect()]
    want = sorted(
        (i, len(t), tuple(t))
        for i, t in (
            (r["doc_id"], _py_bpe_apply(r["text"], pairs))
            for r in feed.collect()
        )
    )
    assert expr == want


def test_bpe_apply_arrow_production_merge_table(spark):
    """Production-vocabulary leg: a >=1k-merge table (trained by the
    pure-python reference trainer over a combinatorial corpus) applied
    via the Arrow tier matches the ordered-replay reference encoder —
    the scale the expression tier's chained-replace plan cannot carry."""
    from collections import Counter

    from whylogs_java_spark.operators.tokenizer import bpe_apply

    letters = "abcdefghijkl"
    words = [
        a + b + c
        for a in letters
        for b in letters
        for c in letters[:8]
    ]  # 1152 distinct words -> thousands of learnable pairs
    wc = Counter()
    for i, w in enumerate(words):
        wc[w] += (i % 7) + 1
    merges = _py_bpe(wc, 1200)
    assert len(merges) >= 1000  # the corpus really sustains 1k merges
    pairs = [(m[1], m[2]) for m in merges]

    feed = spark.createDataFrame(
        [
            (i, " ".join(words[i * 97 % len(words)] for _ in range(5)) + " zap")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], tuple(r["tokens"]))
        for r in bpe_apply(feed, "text", "doc_id", merges).collect()
    }
    for r in feed.collect():
        want = _py_bpe_apply(r["text"], pairs)
        assert got[r["doc_id"]] == (len(want), tuple(want))


def test_bpe_apply_tiering_and_plan_shape(spark):
    """auto tiers by merge count: <=64 stays the codegen expression
    projection, >64 routes to MapInPandas; both plans stay
    shuffle-free (one scan, zero Exchange), and malformed inputs are
    refused loudly."""
    import pytest as _pytest

    from whylogs_java_spark.operators.tokenizer import bpe_apply

    feed = spark.createDataFrame([(1, "ab ab cd")], "doc_id long, text string")
    small = [(i, "a", "b") for i in range(1)]
    big = [(i, f"s{i}", f"t{i}") for i in range(65)]

    p_small = (
        bpe_apply(feed, "text", "doc_id", small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    p_big = (
        bpe_apply(feed, "text", "doc_id", big)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in p_small
    assert "MapInPandas" in p_big
    assert "Exchange" not in p_small and "Exchange" not in p_big

    # forced tiers override the count heuristic
    assert "MapInPandas" in (
        bpe_apply(feed, "text", "doc_id", small, method="arrow")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in (
        bpe_apply(feed, "text", "doc_id", big, method="expr")
        ._jdf.queryExecution().executedPlan().toString()
    )

    with _pytest.raises(ValueError, match="method"):
        bpe_apply(feed, "text", "doc_id", small, method="fast")
    with _pytest.raises(ValueError, match="duplicate"):
        bpe_apply(
            feed, "text", "doc_id",
            [(0, "a", "b"), (1, "a", "b")], method="arrow",
        )


def test_bpe_apply_stream_arrow_tier_matches_batch(spark, tmp_path):
    """The streaming twin inherits the tiering: a production-sized
    merge table routes the stream through the Arrow encoder (still a
    stateless projection) and stays row-identical to batch."""
    from whylogs_java_spark.operators.tokenizer import bpe_apply
    from whylogs_java_spark.streaming.tokenize_stream import bpe_apply_stream

    # 70 distinct merges, >BPE_EXPR_MAX_MERGES so the arrow tier
    # engages; the first four actually fire on the feed text
    big = [(0, "a", "b"), (1, "c", "d"), (2, "e", "f"), (3, "g", "h")] + [
        (i + 4, f"q{i}", f"z{i}") for i in range(66)
    ]
    feed = spark.createDataFrame(
        [(i, ["abab cdcd", "efef ghgh", "aceg bdfh"][i % 3]) for i in range(6)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "tok_arrow_src")
    feed.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(feed.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = bpe_apply_stream(stream, "text", "doc_id", big)
    q = (
        out.writeStream.format("memory")
        .queryName("tok_arrow_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tok_arrow_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))
        for r in spark.sql("SELECT * FROM tok_arrow_stream").collect()
    )
    batch = sorted(
        (r["doc_id"], r["n_tokens"], tuple(r["tokens"]))
        for r in bpe_apply(feed, "text", "doc_id", big).collect()
    )
    assert got == batch and len(batch) == 6


def test_kmeans_model_meta_pins_actual_arity(spark, tmp_path):
    """A 3-vector corpus asked for k=8 yields a 3-centroid model; meta
    pins the ACTUAL arity, so k=3 validates and k=8 is refused."""
    import pytest

    from whylogs_java_spark.operators.cluster import (
        build_kmeans_model,
        read_kmeans_model,
    )

    emb = _toy_emb(spark, n=3)
    p = str(tmp_path / "ksmall")
    build_kmeans_model(emb, p, k=8, n_iter=1)
    cents = read_kmeans_model(spark, p, k=3)
    assert len(cents) == 3
    with pytest.raises(ValueError, match="k=3"):
        read_kmeans_model(spark, p, k=8)


def test_score_buckets_refuses_duplicate_cuts(spark):
    import pytest

    from whylogs_java_spark.operators.sampling import score_buckets

    df = spark.createDataFrame([(1, 1.0)], ["doc_id", "ppl"])
    with pytest.raises(ValueError, match="strictly ascending"):
        score_buckets(df, "doc_id", "ppl", cuts=(0.5, 0.5))


def test_source_cap_stream_string_ids_and_type_refusal(spark, tmp_path):
    """String ids flow through the quota gate unchanged (no lossy long
    cast); an unsupported id type is refused loudly up front."""
    import pytest

    from whylogs_java_spark.streaming.quota_stream import source_cap_stream

    feed = spark.createDataFrame(
        [(f"doc-{i:03d}", "srcA" if i % 2 else "srcB") for i in range(10)],
        "doc_id string, source string",
    )
    src = str(tmp_path / "qs_str_src")
    feed.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(feed.schema).parquet(src)
    out = source_cap_stream(stream, "doc_id", "source", cap=3)
    q = (
        out.writeStream.format("memory")
        .queryName("quota_str_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qs_str_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM quota_str_stream").collect()
    assert len(rows) == 6  # 3 per source
    assert all(isinstance(r["doc_id"], str) for r in rows)
    # id order within each source decides admission
    a = sorted(r["doc_id"] for r in rows if r["source"] == "srcA")
    assert a == ["doc-001", "doc-003", "doc-005"]

    bad = spark.readStream.schema("doc_id double, source string").parquet(src)
    with pytest.raises(ValueError, match="unsupported id type"):
        source_cap_stream(bad, "doc_id", "source", cap=3)


def test_bpe_train_census_bit_identical_to_distributed(spark):
    """The driver-census training tier learns EXACTLY the distributed
    tier's merge table (same pairs, same counts, same tie-breaks) on
    two differently-shaped corpora — the contract that lets auto-tier
    swap them freely."""
    from whylogs_java_spark.operators.tokenizer import bpe_train

    corpora = [
        [  # natural-ish text with Zipf repeats and tie candidates
            "low low low low low",
            "lower lower newest newest newest newest newest newest",
            "widest widest widest",
            "low lowest newest",
        ],
        [  # adversarial: overlapping runs, shared prefixes, unicode
            "aaaa aaa aa aaaa",
            "banana bandana band banana",
            "née née naïve naïve naïve",
            "xyxyxy xyxy xy xyxyxy",
        ],
    ]
    for texts in corpora:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        dist = [
            tuple(r)
            for r in bpe_train(docs, "text", n_merges=24, method="distributed")
            .orderBy("step")
            .collect()
        ]
        cens = [
            tuple(r)
            for r in bpe_train(docs, "text", n_merges=24, method="census")
            .orderBy("step")
            .collect()
        ]
        assert cens == dist and len(dist) >= 10


def test_bpe_train_census_production_merge_count(spark):
    """A >=1k-merge census-tier training run (the scale where the
    distributed tier would need thousands of Spark jobs) matches the
    pure-python rebuild-everything reference trainer merge-for-merge,
    and auto-tiering routes past BPE_DIST_MAX_MERGES to this tier."""
    from collections import Counter

    from whylogs_java_spark.operators.tokenizer import (
        BPE_DIST_MAX_MERGES,
        bpe_train,
    )

    letters = "abcdefghijkl"
    words = [a + b + c for a in letters for b in letters for c in letters[:8]]
    texts, wc = [], Counter()
    for i, w in enumerate(words):
        n = (i % 5) + 1
        wc[w] += n
        texts.append(" ".join([w] * n))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    want = _py_bpe(wc, 1200)
    assert len(want) >= 1000
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=1200).orderBy("step").collect()
    ]  # auto: 1200 > BPE_DIST_MAX_MERGES -> census tier
    assert 1200 > BPE_DIST_MAX_MERGES
    assert got == want


def test_bpe_train_census_row_guard(spark):
    """The census tier refuses loudly when the distinct-word census
    exceeds max_census_rows instead of silently collecting it."""
    import pytest as _pytest

    from whylogs_java_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    with _pytest.raises(ValueError, match="max_census_rows"):
        bpe_train(
            docs, "text", n_merges=4, method="census", max_census_rows=3
        )
    with _pytest.raises(ValueError, match="method"):
        bpe_train(docs, "text", n_merges=4, method="driver")


def test_token_budget_float_tokens_with_nonfinite(spark):
    """Float tokens_col with NaN/Inf: the tokens try_cast to long, so
    non-finite token counts land in the documented rejected-rows
    bucket (NULL tokens) instead of throwing the ANSI CAST_OVERFLOW.
    Kept rows keep their ORIGINAL float values; fractional counts
    truncate like SQL cast."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    rows = [
        (1, 0.9, 10.0), (2, 0.9, float("nan")), (3, 0.5, 25.0),
        (4, 0.5, 5.5), (5, 0.2, float("inf")), (6, 0.1, 3.0),
    ]
    df = spark.createDataFrame(rows, "id long, q double, toks double")

    def norm(rs):
        return sorted(
            (r["id"], r["q"], r["toks"], r["cum_tokens"]) for r in rs
        )

    # greedy over (q DESC, id): ids 1, 3, 4, 6 at cum 10, 35, 40, 43
    want = {0: [], 12: [1], 43: [1, 3, 4, 6], 10**15: [1, 3, 4, 6]}
    for budget, ids in want.items():
        got = norm(token_budget_select(
            df, "id", "toks", "q", budget
        ).collect())
        assert [r[0] for r in got] == ids, budget
    # non-finite rows are rejected everywhere; 5.5 truncates to 5
    kept = {r[0]: r for r in got}
    assert 2 not in kept and 5 not in kept
    assert kept[4][2] == 5.5 and kept[4][3] == 10 + 25 + 5


def test_parse_state_ttl_forms_and_errors():
    """The shared TTL parser accepts int ms and '<n> <unit>' with
    singular or plural units, and refuses malformed inputs with a
    message naming the accepted forms (not a bare KeyError)."""
    import pytest as _pytest
    from pyspark.sql.streaming.state import GroupStateTimeout

    from whylogs_java_spark.streaming._state import parse_state_ttl

    assert parse_state_ttl(None) == (None, GroupStateTimeout.NoTimeout)
    for s, ms in [
        (1500, 1500), ("30 seconds", 30_000), ("1 minute", 60_000),
        ("2 Hours", 7_200_000), ("1 second", 1000),
    ]:
        got_ms, to = parse_state_ttl(s)
        assert got_ms == ms
        assert to == GroupStateTimeout.ProcessingTimeTimeout
    for bad in ["30min", "1", "soon", "x seconds", "5 fortnights", 0, -3]:
        with _pytest.raises(ValueError, match="state_ttl"):
            parse_state_ttl(bad)


def _py_kn_score(corpus, docs, vocab_size=512, top_bigrams=4096,
                 top_trigrams=16384, alpha=0.5, discount=0.75):
    """Pure-python interpolated-KN reference (Chen & Goodman 1999),
    mirroring build_ngram_lm(order=3, smoothing='kn') + lm_score_with:
    top-V vocab, unk-mapping, top-T trigram truncation, continuation
    counts from the untruncated type censuses, add-alpha-floored
    continuation unigram."""
    import math
    from collections import Counter

    toks = {i: [t for t in txt.lower().split(" ") if t]
            for i, txt in corpus}
    uc = Counter(t for ts in toks.values() for t in ts)
    vocab = set(t for t, _ in sorted(
        uc.items(), key=lambda kv: (-kv[1], kv[0])
    )[:vocab_size])
    m = lambda t: t if t in vocab else "<unk>"  # noqa: E731
    bg = Counter()
    tg = Counter()
    for ts in toks.values():
        ms = [m(t) for t in ts]
        for x, y in zip(ms, ms[1:]):
            bg[(x, y)] += 1
        for x, y, z in zip(ms, ms[1:], ms[2:]):
            tg[(x, y, z)] += 1
    tg_kept = dict(sorted(
        tg.items(), key=lambda kv: (-kv[1], kv[0])
    )[:top_trigrams])
    cq, nt, npw, nmid, tv = Counter(), Counter(), Counter(), Counter(), Counter()
    for (u, v, w), c in tg.items():
        cq[(u, v)] += c
        nt[(u, v)] += 1
        npw[(v, w)] += 1
    for (v, w), c in npw.items():
        nmid[v] += c
        tv[v] += 1
    n1w = Counter()
    for (u, w) in bg:
        n1w[w] += 1
    n11 = len(bg)
    a, d = alpha, discount
    out = {}
    for i, txt in docs:
        ts = [m(t) for t in txt.lower().split(" ") if t]
        lnps = []
        for u, v, w in zip(ts, ts[1:], ts[2:]):
            p1 = (n1w.get(w, 0) + a) / (n11 + a * (vocab_size + 1))
            if nmid.get(v, 0) > 0:
                p2 = (max(npw.get((v, w), 0) - d, 0.0)
                      + d * tv.get(v, 0) * p1) / nmid[v]
            else:
                p2 = p1
            if cq.get((u, v), 0) > 0:
                p3 = (max(tg_kept.get((u, v, w), 0) - d, 0.0)
                      + d * nt.get((u, v), 0) * p2) / cq[(u, v)]
            else:
                p3 = p2
            lnps.append(math.log(p3))
        if lnps:
            mean = sum(lnps) / len(lnps)
            out[i] = (len(lnps), round(mean, 6), round(math.exp(-mean), 6))
        else:
            out[i] = (0, None, None)
    return out


def test_lm_score3_kn_matches_python_reference(spark):
    """smoothing='kn' reproduces the pure-python interpolated-KN
    reference value-for-value (6-decimal contract) on a mixed corpus
    with unk words, unseen prefixes, and a truncated trigram table."""
    from whylogs_java_spark.operators.text import lm_score

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat ate the fish"),
        (2, "a dog sat on a log"),
        (3, "the dog ate a bone and the cat sat"),
        (4, "fish and chips on the mat"),
    ] * 3
    corpus = [(i * 10 + j, t) for j, (i, t) in enumerate(corpus)]
    probes = [
        (900, "the cat sat on a log"),
        (901, "zqx vbnk wplf qqq"),
        (902, "the fish ate the dog"),
        (903, "one two"),
    ]
    df = spark.createDataFrame(corpus + probes, ["doc_id", "text"])
    kw = dict(vocab_size=16, top_bigrams=32, top_trigrams=24)
    got = {r["doc_id"]: (r["n_trigrams"], r["avg_logp"], r["perplexity"])
           for r in lm_score(
               df, "text", "doc_id", order=3, smoothing="kn", **kw
           ).collect()}
    want = _py_kn_score(corpus + probes, corpus + probes,
                        alpha=0.5, discount=0.75, **kw)
    assert got == want


def test_lm_score3_kn_margin_and_knobs(spark):
    """The KN tier separates the bigram-plausible crossover from fluent
    text at least as widely as the JM tier (the r13 verdict bar), and
    the smoothing/discount knobs validate loudly."""
    import pytest as _pytest

    from whylogs_java_spark.operators.text import lm_score

    rows = [(i, "john eats rice") for i in range(12)]
    rows += [(100 + i, "mary eats pasta") for i in range(12)]
    rows.append((200, "john eats rice"))
    rows.append((201, "john eats pasta"))
    rows.append((202, "zqx vbnk wplf"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kn = {r["doc_id"]: r for r in lm_score(
        df, "text", "doc_id", order=3, smoothing="kn"
    ).collect()}
    jm = {r["doc_id"]: r for r in lm_score(
        df, "text", "doc_id", order=3
    ).collect()}
    assert kn[200]["perplexity"] < kn[202]["perplexity"]
    m_kn = kn[201]["perplexity"] / kn[200]["perplexity"]
    m_jm = jm[201]["perplexity"] / jm[200]["perplexity"]
    assert m_kn >= m_jm > 1.0

    with _pytest.raises(ValueError, match="smoothing"):
        lm_score(df, "text", "doc_id", order=3, smoothing="katz")
    with _pytest.raises(ValueError, match="discount"):
        lm_score(df, "text", "doc_id", order=3, smoothing="kn", discount=1.5)
    with _pytest.raises(ValueError, match="smoothing"):
        lm_score(df, "text", "doc_id", smoothing="kn")  # order=2


def test_lm_store_roundtrip_bit_identical(spark, tmp_path):
    """build_lm_store / lm_score_stored: stored scoring is bit-identical
    to in-memory lm_score at order=2, order=3 JM, and order=3 KN — the
    frozen-artifact CCNet deployment shape (train on the clean corpus
    once, score shards forever)."""
    import pytest as _pytest

    from whylogs_java_spark.operators.text import build_lm_store, lm_score, lm_score_stored

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "the cat ate the fish",
             "a dog sat on a log", "fish and chips on the mat"] * 4
        )],
        ["doc_id", "text"],
    )
    shard = spark.createDataFrame(
        [(900, "the cat sat on a log"), (901, "zqx vbnk wplf qqq"),
         (902, "one two"), (903, "")],
        ["doc_id", "text"],
    )
    kw = dict(vocab_size=16, top_bigrams=32)
    cases = [
        ("lm2", dict()),
        ("lm3", dict(order=3, top_trigrams=24)),
        ("lm3kn", dict(order=3, top_trigrams=24, smoothing="kn")),
    ]
    for name, extra in cases:
        p = str(tmp_path / name)
        build_lm_store(corpus, p, "text", **kw, **extra)
        stored = sorted(map(tuple, lm_score_stored(
            spark, p, shard, "text", "doc_id"
        ).collect()))
        mem = sorted(map(tuple, lm_score(
            shard, "text", "doc_id", lm_df=corpus, **kw, **extra
        ).collect()))
        assert stored == mem, name
        meta = spark.read.parquet(f"{p}/meta").first()
        assert meta["smoothing"] == extra.get("smoothing", "jm")
        assert meta["order"] == extra.get("order", 2)

    with _pytest.raises(ValueError, match="order"):
        build_lm_store(corpus, str(tmp_path / "bad"), "text", order=4)
    with _pytest.raises(ValueError, match="smoothing"):
        build_lm_store(corpus, str(tmp_path / "bad"), "text", smoothing="kn")
