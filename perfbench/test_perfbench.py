"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench -q

The check tests need no Spark. The ``run.py`` tests start one Spark JVM
per run at tiny sizes and take about three minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Job,
    Span,
    pass_of,
    py_call_site,
    self_times,
    union_s,
)


def _merged_rows(truth: dict[str, gen.TagTruth]) -> list[dict]:
    """The rows a correct merged wire profile of ``truth`` reads back as."""
    rows = []
    for idx, (tag, tt) in enumerate(sorted(truth.items())):
        for col in gen.PROFILED_COLUMNS:
            r = {
                "path": "merged.bin", "msg_index": idx,
                "tags": {checks.TAG_KEY: tag}, "column_name": col,
                "count": tt.rows, "null_count": 0, "min": None, "max": None,
            }
            if col in gen.INT_COLUMNS:
                r.update(null_count=tt.nulls[col], min=tt.mins[col], max=tt.maxs[col])
            rows.append(r)
    return rows


@pytest.fixture(scope="module")
def batch_truth(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("b") / "b.parquet")
    return path, gen.table_batch(3, 0, 500, path)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen.corpus(3, 0, 400, str(tmp_path_factory.mktemp("c") / "c.parquet"))


def test_generators_are_seeded(tmp_path, batch_truth):
    path, truth = batch_truth
    again = gen.table_batch(3, 0, 500, str(tmp_path / "again.parquet"))
    assert again == truth
    # NaN != NaN in Arrow's equality; pandas compares NaN positions
    assert pq.read_table(path).to_pandas().equals(
        pq.read_table(str(tmp_path / "again.parquet")).to_pandas()
    )
    other = gen.table_batch(4, 0, 500, str(tmp_path / "other.parquet"))
    assert other != truth
    assert sum(t.rows for t in truth.values()) == 500
    assert 3 <= len(truth) <= 4


def test_corpus_plants_pairs_on_both_sides_of_threshold(corpus):
    above, total = corpus.planted_pairs(0.5)
    assert 0 < len(above) < total
    assert len(corpus.texts) == 400


def test_store_log_check_accepts_truth_and_rejects_corruption(batch_truth):
    _, truth = batch_truth
    good = _merged_rows(truth)
    assert checks.check_store_log(good, truth) == []
    tag = sorted(truth)[0]

    def corrupt(edit):
        rows = [dict(r) for r in good]
        edit(rows)
        return checks.check_store_log(rows, truth)

    def bump_count(rows):
        rows[3]["count"] += 1

    def drop_column(rows):
        del rows[5]

    def wrong_min(rows):
        r = next(r for r in rows if r["column_name"] == "i0")
        r["min"] -= 1

    def wrong_nulls(rows):
        r = next(r for r in rows if r["column_name"] == "i1")
        r["null_count"] += 1

    def split_message(rows):
        for r in rows:
            if r["tags"][checks.TAG_KEY] == tag and r["column_name"] == "d0":
                r["msg_index"] = 99

    def merge_tags(rows):
        for r in rows:
            r["tags"] = {checks.TAG_KEY: tag}

    for edit in (bump_count, drop_column, wrong_min, wrong_nulls, split_message, merge_tags):
        assert corrupt(edit), edit.__name__


def _pairs_above(corpus):
    out = []
    for a, b in sorted(corpus.planted_pairs(0.5)[0]):
        inter, union = gen.jaccard_parts(
            gen.shingles(corpus.texts[a]), gen.shingles(corpus.texts[b])
        )
        out.append({"id_a": a, "id_b": b, "jaccard": round(inter / union, 6)})
    return out


def test_dedup_check_accepts_truth_and_rejects_corruption(corpus):
    good = _pairs_above(corpus)
    assert checks.check_dedup(good, corpus, 0.5) == []
    assert checks.dedup_recall(good, corpus, 0.5) == 1.0
    assert checks.dedup_recall(good[1:], corpus, 0.5) < 1.0
    first = good[0]
    above = corpus.planted_pairs(0.5)[0]
    below = next(
        (a, b) for a in corpus.texts for b in corpus.texts if a < b and (a, b) not in above
    )
    corrupted = [
        good + [dict(first)],  # duplicate
        good + [dict(first, id_a=first["id_b"], id_b=first["id_a"])],  # reversed
        good + [{"id_a": below[0], "id_b": below[1], "jaccard": 0.9}],  # below threshold
        [dict(first, jaccard=first["jaccard"] + 0.01)] + good[1:],  # wrong value
        good + [dict(first, id_b=first["id_a"])],  # self pair
        good + [{"id_a": -1, "id_b": first["id_a"], "jaccard": 0.9}],  # unknown doc
    ]
    for rows in corrupted:
        assert checks.check_dedup(rows, corpus, 0.5)


def _clusters_of(pairs, corpus):
    """The cluster rows a correct resolve_clusters gives for ``pairs``:
    each document labelled with the smallest id linked to it."""
    label = {d: d for d in corpus.texts}
    changed = True
    while changed:
        changed = False
        for p in pairs:
            lo = min(label[p["id_a"]], label[p["id_b"]])
            for d in (p["id_a"], p["id_b"]):
                if label[d] != lo:
                    label[d], changed = lo, True
    return [{"id": d, "cluster_id": c, "is_survivor": c == d} for d, c in label.items()]


def test_cluster_check_accepts_truth_and_rejects_corruption(corpus):
    pairs = _pairs_above(corpus)
    good = _clusters_of(pairs, corpus)
    assert checks.check_clusters(good, pairs, corpus) == []
    assert any(not r["is_survivor"] for r in good)
    member = next(i for i, r in enumerate(good) if not r["is_survivor"])
    corrupted = [
        good[:member] + good[member + 1 :],  # document missing
        good + [dict(good[member])],  # document twice
        [dict(r, cluster_id=r["id"], is_survivor=True) if i == member else r
         for i, r in enumerate(good)],  # split from its cluster
        [dict(r, is_survivor=True) if i == member else r
         for i, r in enumerate(good)],  # wrong survivor flag
        good + [{"id": -1, "cluster_id": -1, "is_survivor": True}],  # unknown doc
    ]
    for rows in corrupted:
        assert checks.check_clusters(rows, pairs, corpus)


def test_union_and_self_time():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_s([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    spans = [Span(0, "op", 0.0, 10.0, None, 0), Span(1, "call", 1.0, 9.0, 0, 0)]
    jobs = [Job(0, "collect at x.py:1", 1, 2.0, 4.0, [0])]
    assert self_times(spans, jobs) == pytest.approx({0: 2.0, 1: 6.0})


def test_pass_of_reads_the_call_site(tmp_path):
    src = tmp_path / "lib.py"
    src.write_text(
        "def write_bin(df):\n"
        "    fin = profile(df).collect()\n"
        "    sk = sketch_profile(df).collect()\n"
        "    return _frequent_items_by_group(df)\n"
        "def _frequent_items_by_group(df):\n"
        "    return top.collect()\n"
    )
    assert pass_of(f"collect at {src}:2") == "profile"
    assert pass_of(f"collect at {src}:3") == "sketch"
    assert pass_of(f"collect at {src}:6") == "frequent_items"
    assert pass_of("parquet at NativeMethodAccessorImpl.java:0") is None
    assert pass_of(f"collect at {src}:1") is None
    assert py_call_site(f"collect at {src}:1")
    assert not py_call_site("parquet at NativeMethodAccessorImpl.java:0")


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["store_log", "dedup_near"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_prints_every_metric(workload, trace):
    p = _run(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", trace, "--size", "tiny",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    env, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert env["env"]["workload"] == workload
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    expected = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_run_fails_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(tmp_path, "--workload", "store_log", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
