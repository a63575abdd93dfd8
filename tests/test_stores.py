"""The persisted-store seam (``whylogs_java_spark.stores``).

Three properties of every build-once / probe-many store:

- a build or an append refuses a batch holding an id twice, and an
  append one holding an id the store already holds, and leaves the
  store's files as they were;
- opening a store reads its meta on the driver, with no Spark job: the
  job counts below are the data-table reads alone (one schema
  inference per parquet table; the k-means model also sorts its
  centroids). Reading the meta through Spark cost two more jobs per
  open;
- a store build or append releases the checkpoints it takes, so the
  session's persisted RDDs are back where they were when it returns.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re

import pytest

from whylogs_java_spark.operators.cluster import (
    build_kmeans_model,
    kmeans_assign_stored,
    read_kmeans_model,
)
from whylogs_java_spark.operators.decontam import (
    append_gram_store,
    build_gram_store,
    read_gram_store,
)
from whylogs_java_spark.operators.dedup import (
    append_minhash_store,
    append_winnow_store,
    build_minhash_store,
    build_winnow_store,
    cross_dedup_stored,
    read_winnow_store,
)
from whylogs_java_spark.operators.retrieval import (
    append_text_index,
    build_text_index,
    read_text_index,
)
from whylogs_java_spark.operators.similarity import (
    append_ivf_index,
    append_ivfpq_index,
    append_rp_index,
    build_ivf_index,
    build_ivfpq_index,
    build_rp_index,
)
from whylogs_java_spark.operators.text import build_lm_store

TEXT = "the quick brown fox jumps over the lazy dog by the river bank"
DOCS = [(1, TEXT), (2, "a slow green turtle walks under the busy bridge at noon")]
# open -> ceiling on the Spark jobs it runs
OPEN_JOB_BUDGET = {"gram": 1, "winnow": 1, "text": 1, "kmeans": 4}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark, ids, dim=8):
    return spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) + 1.0 for d in range(dim)]) for i in ids],
        "vec_id long, embedding array<double>",
    )


# store -> (batch kind, build(df, path), append(df, path))
STORES = {
    "minhash": (
        "text",
        lambda df, p: build_minhash_store(df, p, "text", "doc_id", n_buckets=4),
        lambda df, p: append_minhash_store(df, p, "text", "doc_id"),
    ),
    "winnow": (
        "text",
        lambda df, p: build_winnow_store(df, p, "text", "doc_id", n_buckets=4),
        lambda df, p: append_winnow_store(df, p, "text", "doc_id"),
    ),
    "text_index": (
        "text",
        lambda df, p: build_text_index(df, p, "text", "doc_id", n_buckets=4),
        lambda df, p: append_text_index(df, p, "text", "doc_id"),
    ),
    "ivf": (
        "vector",
        lambda df, p: build_ivf_index(df, p, n_centroids=2),
        lambda df, p: append_ivf_index(df.sparkSession, p, df),
    ),
    "ivfpq": (
        "vector",
        lambda df, p: build_ivfpq_index(df, p, n_centroids=2, m=2, codebook_k=2),
        lambda df, p: append_ivfpq_index(df.sparkSession, p, df),
    ),
    "rp": (
        "vector",
        lambda df, p: build_rp_index(df, p, out_dim=4),
        lambda df, p: append_rp_index(df.sparkSession, p, df),
    ),
}


def _base(spark, kind):
    """The batch every store is built from: docs 1-2 or vectors 1-8."""
    return _docs(spark, DOCS) if kind == "text" else _vectors(spark, range(1, 9))


def _batch(spark, kind, ids):
    """A batch of ``ids`` (repeats allowed), each row with its own text."""
    if kind == "vector":
        return _vectors(spark, ids)
    return _docs(spark, [(i, f"{TEXT} {n}") for n, i in enumerate(ids)])


def _files(path):
    """{relative path: content digest} of every file under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.md5(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("store", sorted(STORES))
def test_append_refuses_ids_already_in_store(spark, tmp_path, store):
    path = str(tmp_path / store)
    kind, build, append = STORES[store]
    build(_base(spark, kind), path)
    before = _files(path)
    with pytest.raises(ValueError, match=re.escape(f"at {path} already holds id 1")):
        # id 1 again, with other content, next to a new id
        append(_batch(spark, kind, [1, 20]), path)
    assert _files(path) == before
    if store == "minhash":
        # a probe copy of doc 1 matches the stored doc once, not once
        # per appended version
        probe = _docs(spark, [(100, TEXT)])
        pairs = cross_dedup_stored(spark, path, probe, "text", "doc_id")
        assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 100)]


@pytest.mark.parametrize("leg", ["build", "append"])
@pytest.mark.parametrize("store", sorted(STORES))
def test_write_refuses_ids_repeated_in_batch(spark, tmp_path, store, leg):
    """A batch holding one id twice is refused by every build and
    append, before anything is written: both versions would otherwise
    be stored and match."""
    path = str(tmp_path / store)
    kind, build, append = STORES[store]
    write = build
    if leg == "append":
        build(_base(spark, kind), path)
        write = append
    before = _files(path)
    batch = _batch(spark, kind, [20, 21, 20])
    with pytest.raises(
        ValueError, match=re.escape(f"at {path}: the batch holds id 20 more")
    ):
        write(batch, path)
    assert _files(path) == before


@contextlib.contextmanager
def _jobs(spark, name):
    """Collect the ids of the Spark jobs the block runs."""
    sc = spark.sparkContext
    group = f"store-open-{name}-{os.getpid()}"
    sc.setJobGroup(group, f"open {name}")
    ids = []
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_store_open_job_counts(spark, tmp_path):
    docs = _docs(spark, DOCS)
    p = {k: str(tmp_path / k) for k in OPEN_JOB_BUDGET}
    build_gram_store(docs, p["gram"], "text", n=3)
    build_winnow_store(docs, p["winnow"], "text", "doc_id", k=3, window=2)
    build_text_index(docs, p["text"], "text", "doc_id", n_buckets=4)
    build_kmeans_model(_vectors(spark, range(10)), p["kmeans"], k=2)
    opens = {
        "gram": lambda: read_gram_store(spark, p["gram"], n=3),
        "winnow": lambda: read_winnow_store(spark, p["winnow"], k=3, window=2),
        "text": lambda: read_text_index(spark, p["text"], n_buckets=4),
        "kmeans": lambda: read_kmeans_model(spark, p["kmeans"], k=2),
    }
    for name, open_store in opens.items():
        with _jobs(spark, name) as ids:
            open_store()
        assert len(ids) <= OPEN_JOB_BUDGET[name], (name, len(ids))


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_store_writers_release_checkpoints(spark, tmp_path):
    docs = _docs(spark, DOCS)
    more = _docs(spark, [(3, "fresh text for the append leg of the store")])
    vecs, new_vecs = _vectors(spark, range(1, 17)), _vectors(spark, [20, 21])
    td = ("text", "doc_id")
    p = lambda name: str(tmp_path / name)  # noqa: E731
    steps = [
        ("build_minhash_store", lambda: build_minhash_store(docs, p("m"), *td)),
        ("append_minhash_store", lambda: append_minhash_store(more, p("m"), *td)),
        ("build_winnow_store", lambda: build_winnow_store(docs, p("w"), *td)),
        ("append_winnow_store", lambda: append_winnow_store(more, p("w"), *td)),
        ("build_gram_store", lambda: build_gram_store(docs, p("g"), "text", n=3)),
        ("append_gram_store", lambda: append_gram_store(more, p("g"), "text")),
        ("build_text_index", lambda: build_text_index(docs, p("t"), *td)),
        ("append_text_index", lambda: append_text_index(more, p("t"), *td)),
        ("build_ivf_index", lambda: build_ivf_index(vecs, p("i"), n_centroids=2)),
        ("build_ivf_index kmeans", lambda: build_ivf_index(
            vecs, p("ik"), n_centroids=2, centroids="kmeans")),
        ("append_ivf_index", lambda: append_ivf_index(spark, p("i"), new_vecs)),
        ("build_ivfpq_index", lambda: build_ivfpq_index(
            vecs, p("q"), n_centroids=2, m=2, codebook_k=2)),
        ("append_ivfpq_index", lambda: append_ivfpq_index(spark, p("q"), new_vecs)),
        ("build_rp_index", lambda: build_rp_index(vecs, p("r"), out_dim=4)),
        ("append_rp_index", lambda: append_rp_index(spark, p("r"), new_vecs)),
        ("build_kmeans_model", lambda: build_kmeans_model(vecs, p("k"), k=2)),
        ("build_lm_store", lambda: build_lm_store(docs, p("l2"), "text")),
        ("build_lm_store order=3", lambda: build_lm_store(
            docs, p("l3"), "text", order=3, smoothing="kn")),
    ]
    for name, step in steps:
        before = _persisted(spark)
        step()
        assert _persisted(spark) <= before, name


def test_kmeans_assign_stored_leaves_nothing_persisted(spark, tmp_path):
    """Assigning against a stored model reads the prepared vectors once,
    so it takes no checkpoint that would outlive the call."""
    path = str(tmp_path / "k")
    build_kmeans_model(_vectors(spark, range(1, 17)), path, k=2)
    before = _persisted(spark)
    for _ in range(2):
        rows = kmeans_assign_stored(
            spark, path, _vectors(spark, range(30, 40))
        ).collect()
        assert len(rows) == 10
    assert _persisted(spark) <= before
