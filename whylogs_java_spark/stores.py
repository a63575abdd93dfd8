"""Persisted-store metadata and the append rule, in one place.

Every build-once / probe-many store pins its construction parameters in
a one-row parquet directory at ``{path}/meta``, read and written on the
driver through pyarrow with no Spark job (a Spark read costs two). A
Spark write leaves the same layout, so either side reads the other's.
A ``path`` without a scheme is a local path on the driver.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _meta_dir(path: str):
    """(pyarrow filesystem, directory) of ``{path}/meta``."""
    from pyarrow import fs

    uri = path if urlparse(path).scheme else os.path.abspath(path)
    filesystem, root = fs.FileSystem.from_uri(uri)
    return filesystem, f"{root}/meta"


def write_meta(path: str, row: dict) -> None:
    """(Over)write the store's one-row meta, one column per key, typed
    from the Python values (int -> bigint, float -> double)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    filesystem, meta = _meta_dir(path)
    filesystem.create_dir(meta)
    filesystem.delete_dir_contents(meta)
    table = pa.Table.from_pylist([row])
    pq.write_table(table, f"{meta}/part-00000.parquet", filesystem=filesystem)


def read_meta(path: str, what: str, **expected) -> dict:
    """The store's pinned parameters. Each non-``None`` keyword is an
    expectation; a store built with another value is refused."""
    import pyarrow.parquet as pq

    filesystem, meta = _meta_dir(path)
    pinned = pq.read_table(meta, filesystem=filesystem).to_pylist()[0]
    for key, want in expected.items():
        if want is not None and pinned.get(key) != want:
            raise ValueError(
                f"{what} at {path} was built with {key}={pinned.get(key)}, "
                f"requested {key}={want}"
            )
    return pinned


def refuse_known_ids(
    what: str, path: str, batch: DataFrame, id_col: str,
    stored_ids: DataFrame | None = None,
    vec_col: str | None = None, dim: int | None = None,
) -> None:
    """The one id rule of a store write, run before anything is
    written: refuse a batch holding an id twice, or an id already in
    the store (``stored_ids``, one ``id`` column; ``None`` for a
    build), either of which would otherwise match twice, once per
    version. With ``dim``, the same action refuses a non-NULL
    ``vec_col`` vector of another width, which would rank to an
    arbitrary list."""
    ids = batch.select(F.col(id_col).alias("id"))
    check = (
        ids.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min(F.when(F.col("n") > 1, F.col("id"))).alias("repeated"))
    )
    if stored_ids is not None:
        check = check.crossJoin(
            ids.join(stored_ids, "id", "left_semi")
            .agg(F.min("id").alias("known"))
        )
    if dim is not None:
        check = check.crossJoin(
            batch.where(F.col(vec_col).isNotNull() & (F.size(vec_col) != dim))
            .agg(F.min(F.size(vec_col)).alias("got"))
        )
    row = check.first()
    if dim is not None and row["got"] is not None:
        raise ValueError(
            f"append batch has a {row['got']}-dim vector in {vec_col!r} but "
            f"{what} at {path} was built with dim={dim}"
        )
    if row["repeated"] is not None:
        raise ValueError(
            f"{what} at {path}: the batch holds id {row['repeated']!r} more "
            "than once: store writes refuse repeated ids"
        )
    if stored_ids is not None and row["known"] is not None:
        raise ValueError(
            f"{what} at {path} already holds id {row['known']!r}: appends "
            "refuse ids already in the store"
        )
