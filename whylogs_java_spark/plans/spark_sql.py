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
from ..functions.sqlexpr import qcol as _q
from ..functions.sqlexpr import slit

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
        inlist = ", ".join(slit(s) for s in null_strings)
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
    path and flow through the two ``big`` doubles. A NULL value yields
    NULL ``_v``/``_big``/``_big2`` pieces (skipped by the aggregates) and
    0 for the clamped ones. ``_num_aggs_sql`` aggregates the pieces."""
    small = f"ABS({d}) < 2147483648.0"
    dc = f"(CASE WHEN {small} THEN {d} ELSE 0.0 END)"
    dc2 = f"({dc} * {dc})"
    p = f"CAST(FLOOR({dc2}) AS BIGINT)"
    return [
        f"{d} AS {_q(prefix + '_v')}",
        f"FLOOR({dc}) AS {_q(prefix + '_hi')}",
        # quantize via floor(y+0.5): identical to ROUND half-up for y >= 0
        # but pure double arithmetic (Spark's Round on doubles goes through
        # BigDecimal — measured 8x slower per row)
        f"FLOOR(({dc} - FLOOR({dc})) * 1000000.0 + 0.5) AS {_q(prefix + '_lo')}",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} END AS {_q(prefix + '_big')}",
        # p >= 0, so shift/and give exact (p DIV 2^31, p MOD 2^31)
        f"SHIFTRIGHT({p}, 31) AS {_q(prefix + '_a31')}",
        f"({p} & 2147483647) AS {_q(prefix + '_b31')}",
        f"FLOOR(({dc2} - {p}) * 1000000.0 + 0.5) AS {_q(prefix + '_lo2')}",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} * {d} END AS {_q(prefix + '_big2')}",
    ]


def _num_aggs_sql(
    in_prefix: str, out_prefix: str, fed_when: str | None = None
) -> list[str]:
    """Aggregates of ``_num_projection_sql``'s pieces into one suite's
    atoms. ``fed_when`` is a predicate on the grouping keys saying the
    group's values feed this suite; where it is false, the sums and
    ``_m2`` are NULL, as ``_null_num_aggs`` gives them (a NULL value's
    clamped pieces are 0, not NULL)."""
    def i(suffix: str) -> str:
        return _q(in_prefix + suffix)

    def o(suffix: str) -> str:
        return _q(out_prefix + suffix)

    def fed(agg: str) -> str:
        return agg if fed_when is None else f"CASE WHEN {fed_when} THEN {agg} END"

    v = i("_v")
    sums = [
        (f"SUM({i(piece)})", atom)
        for piece, atom in (
            ("_hi", "_sum_hi"), ("_lo", "_sum_lo"), ("_big", "_sum_big"),
            ("_a31", "_sum2_a"), ("_b31", "_sum2_b"), ("_lo2", "_sum2_lo"),
            ("_big2", "_sum2_big"),
        )
    ]
    # stable central moment for the big-magnitude variance tier
    # (metrics.py variance-tier note); n<=1 -> 0.0
    m2 = f"COALESCE(VAR_SAMP({v}) * (COUNT({v}) - 1), 0.0)"
    return [
        f"COUNT({v}) AS {o('_n')}",
        f"MIN({v}) AS {o('_min')}",
        f"MAX({v}) AS {o('_max')}",
    ] + [f"{fed(agg)} AS {o(atom)}" for agg, atom in sums + [(m2, "_m2")]]


def _null_num_aggs(prefix: str) -> list[str]:
    def o(suffix: str) -> str:
        return _q(prefix + suffix)

    return [
        f"CAST(0 AS BIGINT) AS {o('_n')}",
        f"CAST(NULL AS DOUBLE) AS {o('_min')}",
        f"CAST(NULL AS DOUBLE) AS {o('_max')}",
        f"CAST(NULL AS BIGINT) AS {o('_sum_hi')}",
        f"CAST(NULL AS BIGINT) AS {o('_sum_lo')}",
        f"CAST(NULL AS DOUBLE) AS {o('_sum_big')}",
        f"CAST(NULL AS BIGINT) AS {o('_sum2_a')}",
        f"CAST(NULL AS BIGINT) AS {o('_sum2_b')}",
        f"CAST(NULL AS BIGINT) AS {o('_sum2_lo')}",
        f"CAST(NULL AS DOUBLE) AS {o('_sum2_big')}",
        f"CAST(NULL AS DOUBLE) AS {o('_m2')}",
    ]


class ColumnSql:
    """Per-column SQL fragments (projection, aggregation, struct fields):
    ColumnProfile.track's per-type dispatch (ColumnProfile.java:76-117)
    resolved per column, since Spark columns are statically typed —
    counters always update; numeric values feed the NumberTracker suite;
    strings feed the StringTracker (length + token-count suites); booleans
    feed trueCount. Shared by the batch profile (``build_atoms_sql``) and
    the streaming one (``streaming.profile_stream``).

    Generated attributes are named from the column's ``ordinal`` under
    the library's reserved ``__wjs_`` prefix, never from its name: names
    built as ``<column><suffix>`` collide across columns whose names
    differ by such a suffix (``a``'s ``_null_count`` is column
    ``a_null``'s ``_count``)."""

    def __init__(
        self,
        ordinal: int,
        name: str,
        dt: T.DataType,
        null_strings: Sequence[str],
        coerce_strings: bool,
        tokenizer_delim: str = " ",
    ) -> None:
        self.name = name
        self.prefix = f"__wjs_c{ordinal}"
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

    def attr(self, suffix: str) -> str:
        """Quoted name of this column's generated attribute ``suffix``."""
        return _q(self.prefix + suffix)

    def raw_projection(self) -> list[str]:
        c = _q(self.name)
        k = self.kind
        a = self.attr
        np = _null_pred(c, k, self.null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {c} END"
        out = [f"CAST(({np}) AS INT) AS {a('__isnull')}"]
        if k == BOOLEAN:
            out.append(f"CAST(({m}) = TRUE AS INT) AS {a('__true')}")
        if k in (INTEGRAL, FRACTIONAL):
            out.append(f"CAST({m} AS DOUBLE) AS {a('__numv')}")
        if k == STRING:
            if self.coerce:
                # TypedDataConverter.java:62-84: coerced values feed the
                # tracker of their coerced type — parsed numerics into the
                # numeric suite, 'true' into trueCount; only unmatched
                # values reach the length/token suites.
                i_p = f"(({m}) RLIKE {slit(INTEGRAL_RE)})"
                f_p = f"(({m}) RLIKE {slit(FRACTIONAL_RE)})"
                b_p = f"(({m}) RLIKE {slit(BOOLEAN_RE)})"
                cleaned = (
                    f"regexp_replace(regexp_replace({m}, '^[+] ', '+'), '^[-] ', '-')"
                )
                num_m = f"CASE WHEN {i_p} OR {f_p} THEN CAST({cleaned} AS DOUBLE) END"
                str_m = (
                    f"CASE WHEN NOT COALESCE({i_p} OR {f_p} OR {b_p}, FALSE) "
                    f"THEN {m} END"
                )
                out.append(f"{num_m} AS {a('__numv')}")
                out.append(f"CAST(LOWER({m}) = 'true' AS INT) AS {a('__true')}")
                out.append(f"CAST(LENGTH({str_m}) AS DOUBLE) AS {a('__lenv')}")
                out.append(
                    f"{_token_count_sql(f'({str_m})', self.delim)} AS {a('__tokv')}"
                )
                out += [
                    f"CAST({i_p} AS INT) AS {a('__is_int')}",
                    f"CAST({f_p} AS INT) AS {a('__is_frac')}",
                    f"CAST({b_p} AS INT) AS {a('__is_bool')}",
                ]
            else:
                out.append(f"CAST(LENGTH({m}) AS DOUBLE) AS {a('__lenv')}")
                out.append(
                    f"{_token_count_sql(f'({m})', self.delim)} AS {a('__tokv')}"
                )
        return out

    def piece_projection(self) -> list[str]:
        k = self.kind
        p = self.prefix
        a = self.attr
        out = [a("__isnull")]
        if k == BOOLEAN or self.coerce:
            out.append(a("__true"))
        if k in (INTEGRAL, FRACTIONAL) or self.coerce:
            out += _num_projection_sql(a("__numv"), f"{p}__num")
        if k == STRING:
            out += _num_projection_sql(a("__lenv"), f"{p}__len")
            out += _num_projection_sql(a("__tokv"), f"{p}__tok")
            if self.coerce:
                out += [a("__is_int"), a("__is_frac"), a("__is_bool")]
        return out

    # -- aggregation ------------------------------------------------------
    def aggs(self) -> list[str]:
        p = self.prefix
        k = self.kind
        a = self.attr
        cnt = "COUNT(1)"
        nullc = f"SUM({a('__isnull')})"
        nn = f"CAST({cnt} - {nullc} AS BIGINT)"
        zero = "CAST(0 AS BIGINT)"

        out = [
            f"CAST({cnt} AS BIGINT) AS {a('_count')}",
            f"CAST({nullc} AS BIGINT) AS {a('_null_count')}",
            (
                f"CAST(SUM({a('__true')}) AS BIGINT) AS {a('_true_count')}"
                if k == BOOLEAN or self.coerce
                else f"{zero} AS {a('_true_count')}"
            ),
        ]
        tc = dict.fromkeys(
            ("integral", "fractional", "boolean", "string", "unknown"), zero
        )
        if self.coerce:
            tc["integral"] = f"CAST(SUM({a('__is_int')}) AS BIGINT)"
            tc["fractional"] = f"CAST(SUM({a('__is_frac')}) AS BIGINT)"
            tc["boolean"] = f"CAST(SUM({a('__is_bool')}) AS BIGINT)"
            tc["string"] = (
                f"CAST({cnt} - {nullc} - SUM({a('__is_int')}) - SUM({a('__is_frac')})"
                f" - SUM({a('__is_bool')}) AS BIGINT)"
            )
        elif k in tc:
            tc[k] = nn
        for key in ("integral", "fractional", "boolean", "string", "unknown"):
            out.append(f"{tc[key]} AS {a(f'_{key}_count')}")

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
        fields = [f"'column_name', {slit(self.name)}"]
        for fname, _ in ATOM_METRICS:
            fields.append(f"'{fname}', {self.attr('_' + fname)}")
        return f"named_struct({', '.join(fields)})"


_DATE_GRAINS = {"day", "week", "month", "quarter", "year"}


def _keys_and_columns(
    schema: dict[str, T.DataType],
    group_by: Sequence[str],
    time_column: str | None,
    time_granularity: str | None,
    columns: Sequence[str] | None,
) -> tuple[list[str], list[str], list[str]]:
    """(group-key SELECT items, key names, profiled columns) — the part
    both atoms plans share. Group-by and time columns are not profiled
    (DatasetProfileAggregator.scala:92-95)."""
    key_exprs = [_q(c) for c in group_by]
    key_names = list(group_by)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc({slit(grain)}, {_q(time_column)})"
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
    return key_exprs, key_names, profiled


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
    key_exprs, key_names, profiled = _keys_and_columns(
        schema, group_by, time_column, time_granularity, columns
    )
    specs = [
        ColumnSql(i, c, schema[c], null_strings, coerce_strings)
        for i, c in enumerate(profiled)
    ]

    keys = [_q(k) for k in key_names]
    keys_sel = "".join(f"{k}, " for k in keys)
    raw = ",\n      ".join(key_exprs + [e for s in specs for e in s.raw_projection()])
    pieces = ",\n      ".join(keys + [e for s in specs for e in s.piece_projection()])
    aggs = ",\n      ".join(e for s in specs for e in s.aggs())
    structs = ",\n        ".join(s.struct_sql() for s in specs)
    group_clause = "GROUP BY " + ", ".join(keys) if keys else ""
    sql = f"""
    SELECT {keys_sel}inline(array(
        {structs}
    ))
    FROM (
      SELECT {keys_sel}{aggs}
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
    """Melt-plan profile atoms: a plan whose size does not grow with width.

    The wide plan's size grows with column count (~30 aggregates per
    column), and so does its fixed cost per call: analysis, optimization
    and code generation, the reason the reference batches 100 columns per
    pass (WhyLogs.scala:146-176). This plan melts each row into (keys,
    column_name, kind, value) entries via one ``inline(array(...))``
    generate, then runs ONE generic metric suite grouped by (keys,
    column_name, kind). Plan size is O(1) in width (the melt array is
    data, not operators); the shuffle carries rows x columns entries,
    reduced by map-side partial aggregation to groups x columns atom
    rows. So it wins where that fixed cost dominates (small inputs, and
    very wide ones) and loses where rows do: ``operators.profile.profile``
    chooses between the two by input size.

    Output == the wide plan's atoms, schema (nullability included) and
    values: a suite no profiled column feeds, and a kind count no
    profiled column has, are the wide plan's constants; a suite's sums
    and ``_m2`` are NULL for a column outside it. So finalize/merge are
    shared. String coercion is not supported on this path.
    """
    key_exprs, key_names, profiled = _keys_and_columns(
        schema, group_by, time_column, time_granularity, columns
    )
    kinds = {c: kind_of(schema[c]) for c in profiled}
    present = set(kinds.values())

    entries = []
    for c, kind in kinds.items():
        qc = _q(c)
        np = _null_pred(qc, kind, null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {qc} END"
        num_v = f"CAST({m} AS DOUBLE)" if kind in (INTEGRAL, FRACTIONAL) else "CAST(NULL AS DOUBLE)"
        str_v = m if kind == STRING else "CAST(NULL AS STRING)"
        is_true = (
            f"CAST(({m}) = TRUE AS INT)" if kind == BOOLEAN else "CAST(0 AS INT)"
        )
        entries.append(
            f"named_struct('column_name', {slit(c)}, 'kind', '{kind}', "
            f"'isnull', CAST(({np}) AS INT), 'num_v', {num_v}, "
            f"'str_v', {str_v}, 'is_true', {is_true})"
        )

    keys = [_q(k) for k in key_names]
    keys_sel = "".join(f"{k}, " for k in keys)
    melt = f"""SELECT {"".join(f"{e}, " for e in key_exprs)}inline(array(
        {", ".join(entries)}
    )) FROM {view}"""

    nn = "CAST(COUNT(1) - SUM(isnull) AS BIGINT)"
    zero = "CAST(0 AS BIGINT)"
    true_count = "CAST(SUM(is_true) AS BIGINT)" if BOOLEAN in present else zero
    aggs = [
        "CAST(COUNT(1) AS BIGINT) AS `count`",
        "CAST(SUM(isnull) AS BIGINT) AS null_count",
        f"{true_count} AS true_count",
    ]
    for k in (INTEGRAL, FRACTIONAL, BOOLEAN, STRING, UNKNOWN):
        count = f"CASE WHEN kind = '{k}' THEN {nn} ELSE {zero} END" if k in present else zero
        aggs.append(f"{count} AS {k}_count")
    # generic per-entry suites, shared across all columns; a suite no
    # profiled column feeds is the wide plan's NULL constants
    pieces = []
    for value, piece, suite, suite_kinds in (
        ("num_v", "gnum", "num", {INTEGRAL, FRACTIONAL}),
        ("CAST(LENGTH(str_v) AS DOUBLE)", "glen", "len", {STRING}),
        (_token_count_sql("str_v"), "gtok", "tok", {STRING}),
    ):
        if not present & suite_kinds:
            aggs += _null_num_aggs(suite)
            continue
        pieces += _num_projection_sql(value, piece)
        kinds_in = ", ".join(f"'{k}'" for k in sorted(suite_kinds))
        fed_when = None if present <= suite_kinds else f"kind IN ({kinds_in})"
        aggs += _num_aggs_sql(piece, suite, fed_when)

    proj = f"""SELECT {", ".join(keys + ["column_name", "kind", "isnull", "is_true"] + pieces)}
    FROM ({melt}) __wjs_melt"""
    sql = f"""
    SELECT {keys_sel}column_name, {", ".join(aggs)}
    FROM ({proj}) __wjs_mproj
    GROUP BY {keys_sel}column_name, kind
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
