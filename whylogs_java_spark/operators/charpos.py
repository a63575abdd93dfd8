"""Character-position tracker.

Reference: core/.../statistics/datatypes/CharPosTracker.java:48-126 — per
character of a configurable charset, a NumberTracker over the 0-based
positions where the (lowercased) character occurs; characters outside the
charset pool into the "NITL" bucket (:192-199). The default charset
reproduces the reference's literal, including its quirks (no 'x', 'z'
listed twice — CharPosTracker.java:49, sic).

Cost note: this explodes one row per character — priced separately and
opt-in, like the reference's newer StringTracker usage. At scale, run it
on a sampled or filtered subset.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.metrics import numeric_final_sql
from ..plans.spark_sql import _num_aggs_sql, _num_projection_sql

# CharPosTracker.java:49 verbatim (sic: missing 'x', duplicate 'z')
DEFAULT_CHARSET = "abcdefghijklmnopqrstuvwzyz0123456789-@!#$%^&*()[]{}"
NITL = "NITL"


def char_pos_stats(
    df: DataFrame,
    text_col: str,
    group_by: Sequence[str] = (),
    charset: str = DEFAULT_CHARSET,
) -> DataFrame:
    """Per-character position statistics.

    Output: (keys..., character, n, min, max, sum, mean, variance, stddev)
    where positions are 0-based indices into the lowercased text.
    """
    keys = list(group_by)
    chars = sorted(set(charset.lower()))
    exploded = df.select(
        *keys,
        F.posexplode(F.split(F.lower(F.col(text_col)), "")).alias("pos", "ch"),
    ).where(F.col("ch") != "")
    bucketed = exploded.select(
        *keys,
        F.when(F.col("ch").isin(chars), F.col("ch")).otherwise(NITL).alias("character"),
        *[
            F.expr(e)
            for e in _num_projection_sql("CAST(pos AS DOUBLE)", "__p")
        ],
    )
    atoms = bucketed.groupBy(*keys, "character").agg(
        *[F.expr(e) for e in _num_aggs_sql("__p", "pos")]
    )
    ks = "".join(f"`{k}`, " for k in keys)
    return atoms.sparkSession.sql(
        f"SELECT {ks}character, {numeric_final_sql('pos', '')} FROM {{atoms}}",
        atoms=atoms,
    )


def char_pos_sql(table: str, text_col: str, group_by: Sequence[str] = ()) -> str:
    """DuckDB oracle for char_pos_stats (same charset, 0-based positions)."""
    from ..functions.metrics import numeric_atom_sql, numeric_final_sql

    chars = sorted(set(DEFAULT_CHARSET.lower()))
    inlist = ", ".join("'" + c.replace("'", "''") + "'" for c in chars)
    keys = "".join(f"{k}, " for k in group_by)
    return f"""
    WITH exploded AS (
      SELECT {keys}i - 1 AS pos, substr(lower({text_col}), i, 1) AS ch
      FROM {table}, UNNEST(generate_series(1, length({text_col}))) AS t(i)
    ), bucketed AS (
      SELECT {keys}CASE WHEN ch IN ({inlist}) THEN ch ELSE '{NITL}' END AS character,
             CAST(pos AS DOUBLE) AS p
      FROM exploded
    ), atoms AS (
      SELECT {keys}character, {numeric_atom_sql('p', 'pos')}
      FROM bucketed GROUP BY {keys}character
    )
    SELECT {keys}character, {numeric_final_sql('pos', '')} FROM atoms
    """
