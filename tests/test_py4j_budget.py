"""py4j round-trip budgets of the store path.

Building a plan through the PySpark Column API costs one py4j round trip
per expression node, so a pass built from Column trees over 12 columns
costs thousands of them per call; built as SQL text it costs a handful.
Round-trip counts are deterministic for a given schema, unlike timings,
so these fixed ceilings catch a pass sliding back to Column-tree
construction. Measured on this frame: ~80 per ``write_profile_bin``
(~6,600 when its passes were Column trees), ~85 per
``merge_profile_bins``, ~15 per lazy ``profile()`` build and ~150-240
per lazy ``profile_messages_df`` build (~1,450-1,600 when its sketch
melt and joins were Column trees; ~100-120 of the rest are
``applyInArrow``'s UDF setup).
"""

from __future__ import annotations

import contextlib
import datetime

import pytest

from whylogs_java_spark.operators.profile import profile
from whylogs_java_spark.sources.protobuf import (
    merge_profile_bins,
    profile_messages_df,
    write_profile_bin,
)

WRITE_BUDGET = 400
MERGE_BUDGET = 150
PROFILE_BUILD_BUDGET = 150
MESSAGES_BUILD_BUDGET = 400


@contextlib.contextmanager
def _round_trips(spark):
    """Count the py4j commands the driver sends while the block runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counting(*args, **kwargs):
        count[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command


@pytest.fixture(scope="module")
def frame(spark):
    """12 mixed columns: a tag, a timestamp, ints, doubles, strings, a flag."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"t{i % 3}", t0 + datetime.timedelta(hours=i), i, i * 7 % 50,
            None if i % 9 == 0 else i * 1000, i / 4, float("nan") if i % 11 == 0 else -i / 3,
            (i % 5) * 0.5, f"cat_{i % 6}", "a b c"[: i % 6], None if i % 4 == 0 else "x",
            i % 2 == 0,
        )
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows,
        "tag string, ts timestamp, i0 long, i1 long, i2 long, d0 double, "
        "d1 double, d2 double, c0 string, c1 string, c2 string, b0 boolean",
    )


def test_store_path_round_trip_budgets(spark, frame, tmp_path):
    paths = [str(tmp_path / f"b{i}.bin") for i in range(2)]
    with _round_trips(spark) as n:
        write_profile_bin(frame, paths[0], group_by=["tag"], null_strings=("",))
    assert n[0] <= WRITE_BUDGET, n[0]
    write_profile_bin(frame.where("i0 % 2 = 0"), paths[1], group_by=["tag"])

    with _round_trips(spark) as n:
        merge_profile_bins(spark, paths, str(tmp_path / "m.bin"))
    assert n[0] <= MERGE_BUDGET, n[0]

    with _round_trips(spark) as n:
        profile(frame, group_by=["tag"], null_strings=("",))
    assert n[0] <= PROFILE_BUILD_BUDGET, n[0]

    with _round_trips(spark) as n:
        profile_messages_df(frame, ["tag"], null_strings=("",))
    assert n[0] <= MESSAGES_BUILD_BUDGET, n[0]
