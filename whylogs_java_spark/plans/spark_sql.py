"""Spark-SQL text generator for the profile path.

Why text instead of Column trees: building an expression through the
PySpark Column API costs one py4j round trip per node, so the ~400
expressions of a wide profile cost seconds per query (measured 2.4 s for
an 11-column profile — comparable to the whole cluster-side execution
at sf0.1). Emitting one SQL statement makes plan construction a single
JVM call; Catalyst sees the identical logical plan. Every pass of the
store path is built here or from these pieces: the profile atoms, their
finalization (``finalize_select_sql``), the null mask and text
truncation the sketch and frequent-items passes share (``masked_sql``,
``truncated_text_sql``).

The numeric atoms / finalizers / type-inference CASE tree are shared with
the DuckDB oracle generator (same SQL in both dialects); only the null
predicate (isinf spelling), tokenizer (split vs str_split) and identifier
quoting differ and are parameterized here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import types as T

from ..constants import STRING_LENGTH_MAX
from ..functions.inference import inferred_type_sql
from ..functions.metrics import ATOM_METRICS, numeric_final_sql
from ..functions.predicates import BOOLEAN_RE, FRACTIONAL_RE, INTEGRAL_RE

INTEGRAL = "integral"
FRACTIONAL = "fractional"
STRING = "string"
BOOLEAN = "boolean"
UNKNOWN = "unknown"


def kind_of(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return BOOLEAN
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return INTEGRAL
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return FRACTIONAL
    if isinstance(dt, T.StringType):
        return STRING
    return UNKNOWN


def _q(name: str) -> str:
    return f"`{name}`"


def _token_count_sql(m: str, delim: str = " ", size_fn: str = "size(split({t}, '{d}'))") -> str:
    """Token count with Java String.split(" ") semantics
    (StringTracker.java:25): trailing empty tokens drop, '' counts 1,
    all-delimiter strings count 0, inner empties are kept. ``size_fn``
    parameterizes the dialect (Spark size/split vs DuckDB len/str_split).

    BRANCH-FREE on purpose: this expression is inlined into all 8 atom
    projections of the tok suite, and a CASE around it blocks Catalyst
    subexpression elimination (measured 10x on the flagship profile — the
    regexp variant pushed profile_lineitem from 2.3 s to 24 s at sf0.1).
    rtrim handles the trailing-delimiter drop; the subtraction handles the
    all-delimiter -> 0 edge ('' stays 1 because m != '' fails).
    """
    t = f"rtrim({m})" if delim == " " else f"regexp_replace({m}, '(?:{delim})+$', '')"
    sz = size_fn.format(t=t, d=delim)
    return f"(CAST({sz} AS DOUBLE) - CAST(({t} = '') AND ({m} != '') AS INT))"


def _null_pred(col: str, kind: str, null_strings: Sequence[str]) -> str:
    preds = [f"{col} IS NULL"]
    if kind == FRACTIONAL:
        preds.append(f"isnan({col})")
        preds.append(f"abs({col}) = CAST('Infinity' AS DOUBLE)")
    if kind == STRING and null_strings:
        inlist = ", ".join("'" + s.replace("'", "''") + "'" for s in null_strings)
        preds.append(f"{col} IN ({inlist})")
    return " OR ".join(preds)


def masked_sql(name: str, dt: T.DataType, null_strings: Sequence[str] = ()) -> str:
    """Column ``name`` with every reference-null value as SQL NULL
    (ColumnProfile.isNull, ColumnProfile.java:119-130: SQL NULL, NaN/±Inf
    fractionals and ``null_strings`` members), on the same null predicate
    the profile atoms use. Every value aggregate runs on the masked
    column, as the reference skips null values before its tracker
    updates (ColumnProfile.java:87-117)."""
    c = _q(name)
    return f"CASE WHEN NOT ({_null_pred(c, kind_of(dt), null_strings)}) THEN {c} END"


def truncated_text_sql(expr: str) -> str:
    """String form of ``expr`` capped at 256 chars (ColumnProfile.java:132-138)."""
    return f"substring(CAST({expr} AS STRING), 1, {STRING_LENGTH_MAX})"


def _num_projection_sql(d: str, prefix: str) -> list[str]:
    """Row-level pieces of one numeric suite over the double ``d`` — the
    magnitude-tiered scheme (see the tiering note in functions/metrics.py).

    Branch-minimized: the value is CLAMPED to 0 outside the small range,
    so floor/shift/round run unguarded (overflow-safe) and Catalyst's
    subexpression elimination shares them across the pieces — CASE WHEN
    around each piece would block CSE and re-evaluate d² per piece
    (measured 4x slower). Big values contribute 0 through the integer
    path and flow through the two ``big`` doubles. NULL values yield NULL
    pieces (skipped by SUM). ``_num_aggs_sql`` aggregates the pieces."""
    small = f"ABS({d}) < 2147483648.0"
    dc = f"(CASE WHEN {small} THEN {d} ELSE 0.0 END)"
    dc2 = f"({dc} * {dc})"
    p = f"CAST(FLOOR({dc2}) AS BIGINT)"
    return [
        f"{d} AS {prefix}_v",
        f"FLOOR({dc}) AS {prefix}_hi",
        # quantize via floor(y+0.5): identical to ROUND half-up for y >= 0
        # but pure double arithmetic (Spark's Round on doubles goes through
        # BigDecimal — measured 8x slower per row)
        f"FLOOR(({dc} - FLOOR({dc})) * 1000000.0 + 0.5) AS {prefix}_lo",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} END AS {prefix}_big",
        # p >= 0, so shift/and give exact (p DIV 2^31, p MOD 2^31)
        f"SHIFTRIGHT({p}, 31) AS {prefix}_a31",
        f"({p} & 2147483647) AS {prefix}_b31",
        f"FLOOR(({dc2} - {p}) * 1000000.0 + 0.5) AS {prefix}_lo2",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} * {d} END AS {prefix}_big2",
    ]


def _num_aggs_sql(in_prefix: str, out_prefix: str) -> list[str]:
    v = f"{in_prefix}_v"
    return [
        f"COUNT({v}) AS {out_prefix}_n",
        f"MIN({v}) AS {out_prefix}_min",
        f"MAX({v}) AS {out_prefix}_max",
        f"SUM({in_prefix}_hi) AS {out_prefix}_sum_hi",
        f"SUM({in_prefix}_lo) AS {out_prefix}_sum_lo",
        f"SUM({in_prefix}_big) AS {out_prefix}_sum_big",
        f"SUM({in_prefix}_a31) AS {out_prefix}_sum2_a",
        f"SUM({in_prefix}_b31) AS {out_prefix}_sum2_b",
        f"SUM({in_prefix}_lo2) AS {out_prefix}_sum2_lo",
        f"SUM({in_prefix}_big2) AS {out_prefix}_sum2_big",
        # stable central moment for the big-magnitude variance tier
        # (metrics.py variance-tier note); n<=1 -> 0.0
        f"COALESCE(VAR_SAMP({v}) * (COUNT({v}) - 1), 0.0) AS {out_prefix}_m2",
    ]


def _null_num_aggs(prefix: str) -> list[str]:
    return [
        f"CAST(0 AS BIGINT) AS {prefix}_n",
        f"CAST(NULL AS DOUBLE) AS {prefix}_min",
        f"CAST(NULL AS DOUBLE) AS {prefix}_max",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum_hi",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum_lo",
        f"CAST(NULL AS DOUBLE) AS {prefix}_sum_big",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_a",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_b",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_lo",
        f"CAST(NULL AS DOUBLE) AS {prefix}_sum2_big",
        f"CAST(NULL AS DOUBLE) AS {prefix}_m2",
    ]


class ColumnSql:
    """Per-column SQL fragments (projection, aggregation, struct fields):
    ColumnProfile.track's per-type dispatch (ColumnProfile.java:76-117)
    resolved per column, since Spark columns are statically typed —
    counters always update; numeric values feed the NumberTracker suite;
    strings feed the StringTracker (length + token-count suites); booleans
    feed trueCount. Shared by the batch profile (``build_atoms_sql``) and
    the streaming one (``streaming.profile_stream``)."""

    def __init__(
        self,
        name: str,
        dt: T.DataType,
        null_strings: Sequence[str],
        coerce_strings: bool,
        tokenizer_delim: str = " ",
    ) -> None:
        self.name = name
        self.kind = kind_of(dt)
        self.null_strings = null_strings
        self.coerce = coerce_strings and self.kind == STRING
        self.delim = tokenizer_delim

    # -- projection -------------------------------------------------------
    #
    # TWO layers on purpose. Layer 1 (raw_projection) computes each
    # suite's per-row VALUE (mask, length, token count, coercion parse)
    # exactly once; layer 2 (piece_projection) derives the 8 atom pieces
    # from those plain attributes. Inlining the value into the pieces
    # re-evaluates it up to ~12x per row — CASE-wrapped pieces block
    # Catalyst subexpression elimination (measured 2-10x on the flagship
    # profile depending on how heavy the value expression is). Catalyst
    # keeps the layers apart because CollapseProject refuses to duplicate
    # non-cheap aliases referenced more than once.

    def raw_projection(self) -> list[str]:
        c = _q(self.name)
        k = self.kind
        p = self.name
        np = _null_pred(c, k, self.null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {c} END"
        out = [f"CAST(({np}) AS INT) AS {p}__isnull"]
        if k == BOOLEAN:
            out.append(f"CAST(({m}) = TRUE AS INT) AS {p}__true")
        if k in (INTEGRAL, FRACTIONAL):
            out.append(f"CAST({m} AS DOUBLE) AS {p}__numv")
        if k == STRING:
            if self.coerce:
                # TypedDataConverter.java:62-84: coerced values feed the
                # tracker of their coerced type — parsed numerics into the
                # numeric suite, 'true' into trueCount; only unmatched
                # values reach the length/token suites.
                # Spark SQL string literals process backslash escapes:
                # regexes must double them to survive parsing
                i_re, f_re, b_re = (
                    r.replace("\\", "\\\\")
                    for r in (INTEGRAL_RE, FRACTIONAL_RE, BOOLEAN_RE)
                )
                i_p = f"(({m}) RLIKE '{i_re}')"
                f_p = f"(({m}) RLIKE '{f_re}')"
                b_p = f"(({m}) RLIKE '{b_re}')"
                cleaned = (
                    f"regexp_replace(regexp_replace({m}, '^[+] ', '+'), '^[-] ', '-')"
                )
                num_m = f"CASE WHEN {i_p} OR {f_p} THEN CAST({cleaned} AS DOUBLE) END"
                str_m = (
                    f"CASE WHEN NOT COALESCE({i_p} OR {f_p} OR {b_p}, FALSE) "
                    f"THEN {m} END"
                )
                out.append(f"{num_m} AS {p}__numv")
                out.append(f"CAST(LOWER({m}) = 'true' AS INT) AS {p}__true")
                out.append(f"CAST(LENGTH({str_m}) AS DOUBLE) AS {p}__lenv")
                out.append(
                    f"{_token_count_sql(f'({str_m})', self.delim)} AS {p}__tokv"
                )
                out += [
                    f"CAST({i_p} AS INT) AS {p}__is_int",
                    f"CAST({f_p} AS INT) AS {p}__is_frac",
                    f"CAST({b_p} AS INT) AS {p}__is_bool",
                ]
            else:
                out.append(f"CAST(LENGTH({m}) AS DOUBLE) AS {p}__lenv")
                out.append(f"{_token_count_sql(f'({m})', self.delim)} AS {p}__tokv")
        return out

    def piece_projection(self) -> list[str]:
        k = self.kind
        p = self.name
        out = [f"{p}__isnull"]
        if k == BOOLEAN or self.coerce:
            out.append(f"{p}__true")
        if k in (INTEGRAL, FRACTIONAL) or self.coerce:
            out += _num_projection_sql(f"{p}__numv", f"{p}__num")
        if k == STRING:
            out += _num_projection_sql(f"{p}__lenv", f"{p}__len")
            out += _num_projection_sql(f"{p}__tokv", f"{p}__tok")
            if self.coerce:
                out += [f"{p}__is_int", f"{p}__is_frac", f"{p}__is_bool"]
        return out

    # -- aggregation ------------------------------------------------------
    def aggs(self) -> list[str]:
        p = self.name
        k = self.kind
        cnt = "COUNT(1)"
        nullc = f"SUM({p}__isnull)"
        nn = f"CAST({cnt} - {nullc} AS BIGINT)"
        zero = "CAST(0 AS BIGINT)"

        out = [
            f"CAST({cnt} AS BIGINT) AS {p}_count",
            f"CAST({nullc} AS BIGINT) AS {p}_null_count",
            (
                f"CAST(SUM({p}__true) AS BIGINT) AS {p}_true_count"
                if k == BOOLEAN or self.coerce
                else f"{zero} AS {p}_true_count"
            ),
        ]
        tc = dict.fromkeys(
            ("integral", "fractional", "boolean", "string", "unknown"), zero
        )
        if self.coerce:
            tc["integral"] = f"CAST(SUM({p}__is_int) AS BIGINT)"
            tc["fractional"] = f"CAST(SUM({p}__is_frac) AS BIGINT)"
            tc["boolean"] = f"CAST(SUM({p}__is_bool) AS BIGINT)"
            tc["string"] = (
                f"CAST({cnt} - {nullc} - SUM({p}__is_int) - SUM({p}__is_frac)"
                f" - SUM({p}__is_bool) AS BIGINT)"
            )
        elif k in tc:
            tc[k] = nn
        for key in ("integral", "fractional", "boolean", "string", "unknown"):
            out.append(f"{tc[key]} AS {p}_{key}_count")

        if k in (INTEGRAL, FRACTIONAL) or self.coerce:
            out += _num_aggs_sql(f"{p}__num", f"{p}_num")
        else:
            out += _null_num_aggs(f"{p}_num")
        if k == STRING:
            out += _num_aggs_sql(f"{p}__len", f"{p}_len")
            out += _num_aggs_sql(f"{p}__tok", f"{p}_tok")
        else:
            out += _null_num_aggs(f"{p}_len")
            out += _null_num_aggs(f"{p}_tok")
        return out

    # -- long-format struct ----------------------------------------------
    def struct_sql(self) -> str:
        fields = [f"'column_name', '{self.name}'"]
        for fname, _ in ATOM_METRICS:
            fields.append(f"'{fname}', {self.name}_{fname}")
        return f"named_struct({', '.join(fields)})"


_DATE_GRAINS = {"day", "week", "month", "quarter", "year"}


def build_atoms_sql(
    view: str,
    schema: dict[str, T.DataType],
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
    coerce_strings: bool = False,
) -> tuple[str, list[str]]:
    """One Spark-SQL statement producing long-format profile atoms.

    Returns (sql, key_names). Shape:
    projection -> wide hash-agg -> inline(array(named_struct...)) explode.
    """
    key_exprs = [f"{_q(c)}" for c in group_by]
    key_names = list(group_by)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc('{grain}', {_q(time_column)})"
        if grain in _DATE_GRAINS:
            b = f"CAST({b} AS DATE)"
        key_exprs.append(f"{b} AS dataset_timestamp")
        key_names.append("dataset_timestamp")

    excluded = set(group_by) | ({time_column} if time_column else set())
    profiled = [c for c in (columns or schema) if c not in excluded]
    if not profiled:
        raise ValueError(
            "no columns to profile (all columns are group/time keys or the "
            "columns list is empty)"
        )
    specs = [
        ColumnSql(c, schema[c], null_strings, coerce_strings) for c in profiled
    ]

    keys_sel = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    raw = ",\n      ".join(key_exprs + [e for s in specs for e in s.raw_projection()])
    pieces = ",\n      ".join(
        ([_q(k) for k in key_names] if key_names else [])
        + [e for s in specs for e in s.piece_projection()]
    )
    aggs = ",\n      ".join(e for s in specs for e in s.aggs())
    structs = ",\n        ".join(s.struct_sql() for s in specs)
    group_clause = (
        "GROUP BY " + ", ".join(_q(k) for k in key_names) if key_names else ""
    )
    sql = f"""
    SELECT {keys_sel} inline(array(
        {structs}
    ))
    FROM (
      SELECT {keys_sel} {aggs}
      FROM (
        SELECT {pieces}
        FROM (SELECT {raw} FROM {view}) __wjs_raw
      ) __wjs_proj
      {group_clause}
    ) __wjs_agg
    """
    return sql, key_names


def build_melted_atoms_sql(
    view: str,
    schema: dict[str, T.DataType],
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
) -> tuple[str, list[str]]:
    """Melt-path profile atoms for very wide tables (1000s of columns).

    The wide path's plan/codegen size grows with column count (~30
    aggregates per column); past a few thousand columns analyzer and
    codegen costs dominate — the reason the reference batches 100 columns
    per pass (WhyLogs.scala:146-176). Spark-first alternative: melt each
    row into (keys, column_name, kind, value) entries via one
    ``inline(array(...))`` generate, then run ONE generic metric suite
    grouped by (keys, column_name). Plan size is O(1) in width (the melt
    array is data, not operators); the shuffle carries rows x columns
    entries reduced by map-side partial aggregation to
    groups x columns atom rows.

    Output schema == the wide path's atom schema, so finalize/merge are
    shared. String coercion is not supported on this path.
    """
    key_exprs = [f"{_q(c)}" for c in group_by]
    key_names = list(group_by)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc('{grain}', {_q(time_column)})"
        if grain in _DATE_GRAINS:
            b = f"CAST({b} AS DATE)"
        key_exprs.append(f"{b} AS dataset_timestamp")
        key_names.append("dataset_timestamp")

    excluded = set(group_by) | ({time_column} if time_column else set())
    profiled = [c for c in (columns or schema) if c not in excluded]

    entries = []
    for c in profiled:
        kind = kind_of(schema[c])
        qc = _q(c)
        np = _null_pred(qc, kind, null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {qc} END"
        num_v = f"CAST({m} AS DOUBLE)" if kind in (INTEGRAL, FRACTIONAL) else "CAST(NULL AS DOUBLE)"
        str_v = m if kind == STRING else "CAST(NULL AS STRING)"
        is_true = (
            f"CAST(({m}) = TRUE AS INT)" if kind == BOOLEAN else "CAST(0 AS INT)"
        )
        entries.append(
            f"named_struct('column_name', '{c}', 'kind', '{kind}', "
            f"'isnull', CAST(({np}) AS INT), 'num_v', {num_v}, "
            f"'str_v', {str_v}, 'is_true', {is_true})"
        )

    keys_sel = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    melt = f"""SELECT {keys_sel} inline(array(
        {", ".join(entries)}
    )) FROM {view}"""

    # generic per-entry suite projection (shared across all columns)
    proj_pieces = (
        _num_projection_sql("num_v", "gnum")
        + _num_projection_sql("CAST(LENGTH(str_v) AS DOUBLE)", "glen")
        + _num_projection_sql(_token_count_sql("str_v"), "gtok")
    )
    keysel2 = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    proj = f"""SELECT {keysel2} column_name, kind, isnull, is_true,
        {", ".join(proj_pieces)}
    FROM ({melt}) __wjs_melt"""

    def kind_count(k: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN kind = '{k}' AND isnull = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        )

    aggs = [
        "CAST(COUNT(1) AS BIGINT) AS `count`",
        "CAST(SUM(isnull) AS BIGINT) AS null_count",
        "CAST(SUM(is_true) AS BIGINT) AS true_count",
        f"{kind_count('integral')} AS integral_count",
        f"{kind_count('fractional')} AS fractional_count",
        f"{kind_count('boolean')} AS boolean_count",
        f"{kind_count('string')} AS string_count",
        f"{kind_count('unknown')} AS unknown_count",
    ]
    aggs += _num_aggs_sql("gnum", "num")
    aggs += _num_aggs_sql("glen", "len")
    aggs += _num_aggs_sql("gtok", "tok")

    group_clause = "GROUP BY " + ", ".join(
        [_q(k) for k in key_names] + ["column_name"]
    )
    sql = f"""
    SELECT {keysel2} column_name, {", ".join(aggs)}
    FROM ({proj}) __wjs_mproj
    {group_clause}
    """
    return sql, key_names


def finalize_select_sql(key_names: Sequence[str]) -> str:
    """SELECT-list turning atom rows into the finalized summary (shared
    finalizer/type-inference SQL — identical text to the DuckDB oracle)."""
    itype = inferred_type_sql(
        "null_count", "fractional_count", "integral_count",
        "boolean_count", "string_count", "unknown_count",
    )
    keys = "".join(f"{_q(k)}, " for k in key_names)
    return (
        f"SELECT {keys}column_name, `count`, null_count, true_count, "
        f"integral_count, fractional_count, boolean_count, string_count, "
        f"unknown_count, {itype} AS inferred_type, "
        f"{numeric_final_sql('num', '')}, "
        f"{numeric_final_sql('len', 'len_')}, "
        f"{numeric_final_sql('tok', 'tok_')}"
    )


__all__ = [
    "build_atoms_sql",
    "finalize_select_sql",
    "kind_of",
    "masked_sql",
    "truncated_text_sql",
]
