"""The reference's 15 check types as Rule factories (SURVEY.md §2.2).

Each factory returns a :class:`~data_quality_spark.rules.core.Rule` whose
``violation`` is a native Catalyst Column — no SQL-string assembly (the
reference's entire "planner" is f-string SQL, ``check.py:84-126``), no Python
in the row path. Reference files cited per factory.

Cast semantics (reference-invariant): invalid casts yield NULL, never error —
``try_cast`` / ``try_to_timestamp`` everywhere (reference: safe_cast probing,
``bigquery.py:42-55``; pandas ``errors="coerce"``).
NULL comparison results are folded to False via Rule.flag_col() (reference:
``coalesce(cmp, false)``, ``dates_order.py:23-32``; SQL WHERE drops NULLs).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from data_quality_spark.rules.core import Rule, conjoin, is_empty, not_empty

# Types whose string rendering provably never contains '.', an exponent, or
# trailing fractional zeros — norm_key's float normalization is an identity
# on them and is skipped (timestamps are NOT here: fractional seconds render
# engine-specifically, so they keep the full chain for oracle parity).
_PLAIN_KEY_TYPES = (
    ByteType, ShortType, IntegerType, LongType, BooleanType, DateType,
)

# ---------------------------------------------------------------------------
# casting helpers
# ---------------------------------------------------------------------------


def to_double(col: str) -> Column:
    """Null-on-failure float cast (impala.py:57 `cast(col as float)`,
    bigquery.py:57 `safe_cast(col as float64)`, values_order.py:109
    `pd.to_numeric(errors='coerce')`)."""
    return F.col(col).cast("string").try_cast("double")


def to_ts(col: str, fmt: str | None = None) -> Column:
    """Null-on-failure datetime cast with optional format
    (impala.py:36-40, datetime_format.py:28-36)."""
    c = F.col(col)
    if fmt is None:
        # try_cast is identity on timestamp columns (exact, keeps micros) and
        # a null-on-failure ISO parse on strings.
        return c.try_cast("timestamp")
    return F.try_to_timestamp(c.cast("string"), F.lit(fmt))


def norm_key(c: Column | str, dtype=None) -> Column:
    """String-cast a key column with float normalization: strip trailing
    zeros after the decimal point and a bare '.0…' tail, so a double FK of
    1.0 matches a dim key '1' (reference `_clean_string_float_inf_columns_df`,
    utils.py:121-125 — applied to EVERY key column's stringification in the
    dimension/period checks). "1.50"→"1.5", "1.0"→"1", "100"→"100".

    Spark renders doubles ≥1e7 / <1e-3 in scientific notation ("1.0E7"),
    which python/DuckDB do not — those values are re-rendered through a
    plain-decimal cast first so 10000000.0 normalizes to "10000000" in
    every engine. The re-render applies ONLY when the decimal round-trips
    the exact double (overflow beyond decimal(38,18) and sub-1e-18 values
    keep their scientific rendering — the reference's pandas str() uses
    scientific notation there too, so parity holds by matching).

    Faithful-to-reference caveat: the trailing-zero stripping applies to
    EVERY key column including strings — the reference normalizes every
    key's stringification, so dim key "v1.0" matches fact "v1" there as
    well (utils.py calls at match_dimension_table.py:77,183,222).

    TYPE GATE (round 3, driver-side Column construction — no runtime
    branching): when `dtype` says the column is integral / boolean / date,
    the whole chain is a provable no-op (Spark renders those without '.',
    exponent, or trailing zeros), so the key takes a plain cast("string").
    Floating/decimal/string/timestamp types take the full chain. Semantics
    are unchanged by construction; the per-row regex cost on e.g. a bigint
    FK at 10^12 rows disappears (VERDICT r2 'what's wrong' #1)."""
    col = F.col(c) if isinstance(c, str) else c
    if isinstance(dtype, _PLAIN_KEY_TYPES):
        return col.cast("string")
    s = col.cast("string")
    # reference parity: pandas str() never re-renders a STRING that merely
    # looks like scientific notation ('1e5' stays '1e5', so it must NOT
    # match a numeric 100000 key); only the trailing-zero stripping applies
    if not isinstance(dtype, StringType):
        # parse a rendering, never the column, so any type casts and try_cast
        # NULLs what does not parse; a float parses at its double value
        # (typeof folds at plan time, leaving one branch)
        num = F.when(
            F.typeof(col) == "float",
            s.try_cast("float").cast("double").cast("string"),
        ).otherwise(s)
        dec = num.try_cast("decimal(38,18)")
        s = F.when(
            # strictly a scientific-notation NUMBER rendering, and only
            # when the decimal representation is exact (no overflow-NULL,
            # no tiny-value collapse)
            s.rlike(r"^-?[0-9]+(\.[0-9]+)?[eE][+-]?[0-9]+$")
            & dec.isNotNull()
            & (dec.cast("double") == num.try_cast("double")),
            dec.cast("string"),
        ).otherwise(s)
    s = F.regexp_replace(s, r"\.([0-9]*[1-9])0+$", ".$1")
    return F.regexp_replace(s, r"\.0+$", "")


def composite_key(cols: list[str], schema=None) -> Column:
    """String composite key CONCAT(cast(c as string),'-',...), each part
    float-normalized (match_dimension_table.py:68-89,
    period_intersection.py:64-68). Pass the owning DataFrame's `schema`
    to type-gate each part's normalization (see norm_key)."""

    def dt(c: str):
        if schema is None:
            return None
        try:
            return schema[c].dataType
        except Exception:
            return None

    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("-"))
        parts.append(norm_key(c, dt(c)))
    return F.concat(*parts) if len(cols) > 1 else norm_key(cols[0], dt(cols[0]))


# ---------------------------------------------------------------------------
# #1 / #3 — null index & not-empty column (index_null.py:7-35,
#           not_empthy_column.py:7-29; NULL∪'' semantics utils.py:99-118)
# ---------------------------------------------------------------------------


def index_not_null(col: str, **kw) -> Rule:
    return Rule(
        rule_id=kw.pop("rule_id", f"index_not_null__{col}"),
        description=kw.pop("description", f"Null value in index column {col}"),
        violation=is_empty(col),
        **kw,
    )


def not_empty_column(col: str, **kw) -> Rule:
    return Rule(
        rule_id=kw.pop("rule_id", f"not_empty__{col}"),
        description=kw.pop("description", f"Null values in column {col}"),
        violation=is_empty(col),
        **kw,
    )


# ---------------------------------------------------------------------------
# #2 — duplicate values (values_duplicate.py): row is KO if its (string-cast)
#      value occurs >1× among non-null rows — the reference's
#      `count(*) OVER (PARTITION BY cast(col as string))` (:54) as an
#      aggregate over the value column joined back to the frame.
# ---------------------------------------------------------------------------


def duplicate_values(col: str, **kw) -> Rule:
    """Shuffles only the value column (groupBy count>1 → small dup-key set)
    and joins it back; AQE picks broadcast when the dup set is small, so
    the wide frame never moves. A window count partitioned on the value
    gives the same KO set but shuffles the FULL frame (html included)."""
    rule_id = kw.pop("rule_id", f"duplicate__{col}")
    description = kw.pop("description", "Duplicated index")
    aux = f"__aux_dup__{rule_id}"

    def prepare(df: DataFrame) -> DataFrame:
        keys = (
            df.where(not_empty(col))
            .groupBy(F.col(col).cast("string").alias(aux))
            .agg(F.count(F.lit(1)).alias(f"{aux}_n"))
            .where(F.col(f"{aux}_n") > 1)
            .select(aux)
        )
        return df.join(keys, on=df[col].cast("string") == keys[aux], how="left")

    return Rule(
        rule_id=rule_id,
        description=description,
        violation=not_empty(col) & F.col(aux).isNotNull(),
        prepare=prepare,
        **kw,
    )


# ---------------------------------------------------------------------------
# #4 — datetime format (datetime_format.py:18,28-36)
# ---------------------------------------------------------------------------


def datetime_format(col: str, fmt: str | None = None, **kw) -> Rule:
    return Rule(
        rule_id=kw.pop("rule_id", f"datetime_format__{col}"),
        description=kw.pop("description", f"Wrong datetime format in column {col}"),
        violation=not_empty(col) & to_ts(col, fmt).isNull(),
        **kw,
    )


# ---------------------------------------------------------------------------
# #5 — between values (column_between_values.py:38-51: violation =
#      (cast < min) OR (cast > max), operators loosened to <= / >= when the
#      bound is NOT included; NULL casts drop out via NULL-comparison→False)
# ---------------------------------------------------------------------------


def between_values(
    col: str,
    min_value: float | None = None,
    max_value: float | None = None,
    min_included: bool = True,
    max_included: bool = True,
    **kw,
) -> Rule:
    d = to_double(col)
    conds: list[Column] = []
    if min_value is not None:
        conds.append(d < min_value if min_included else d <= min_value)
    if max_value is not None:
        conds.append(d > max_value if max_included else d >= max_value)
    if not conds:
        raise ValueError("need at least one bound")
    viol = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
    return Rule(
        rule_id=kw.pop("rule_id", f"between_values__{col}"),
        description=kw.pop(
            "description",
            f"Value in column {col} not between {min_value} and {max_value}",
        ),
        violation=not_empty(col) & F.coalesce(viol, F.lit(False)),
        **kw,
    )


# ---------------------------------------------------------------------------
# #6 — between dates (column_between_dates.py; precondition: cast succeeded,
#      :62-63). `not_in_future` variant: max = current_timestamp
#      (table.py:531-551).
# ---------------------------------------------------------------------------


def between_dates(
    col: str,
    fmt: str | None = None,
    min_date=None,
    max_date=None,
    min_included: bool = True,
    max_included: bool = True,
    **kw,
) -> Rule:
    ts = to_ts(col, fmt)
    conds: list[Column] = []
    if min_date is not None:
        lo = F.lit(min_date).cast("timestamp")
        conds.append(ts < lo if min_included else ts <= lo)
    if max_date is not None:
        hi = (
            F.current_timestamp()
            if max_date == "now"
            else F.lit(max_date).cast("timestamp")
        )
        conds.append(ts > hi if max_included else ts >= hi)
    if not conds:
        raise ValueError("need at least one bound")
    viol = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
    return Rule(
        rule_id=kw.pop("rule_id", f"between_dates__{col}"),
        description=kw.pop(
            "description", f"Date in column {col} not between {min_date} and {max_date}"
        ),
        violation=not_empty(col) & ts.isNotNull() & F.coalesce(viol, F.lit(False)),
        **kw,
    )


def date_not_in_future(col: str, fmt: str | None = None, **kw) -> Rule:
    kw.setdefault("rule_id", f"date_not_in_future__{col}")
    kw.setdefault("description", f"Date in column {col} is in the future")
    return between_dates(col, fmt, min_date=None, max_date="now", **kw)


# ---------------------------------------------------------------------------
# #7 / #8 — dates/values order: all-pairs O(k²) predicate, NULL-safe OR
#           (dates_order.py:23-32, values_order.py)
# ---------------------------------------------------------------------------


def _order_violation(casts: list[Column], strictly_ascending: bool) -> Column:
    # ascending expected ⇒ violation if col_i > col_j (i<j); >= when the
    # order must be strict (equal values violate strictness).
    pair_viols = []
    for i, j in combinations(range(len(casts)), 2):
        cmp = casts[i] >= casts[j] if strictly_ascending else casts[i] > casts[j]
        pair_viols.append(F.coalesce(cmp, F.lit(False)))
    out = pair_viols[0]
    for p in pair_viols[1:]:
        out = out | p
    return out


def dates_order(
    cols: list[str],
    fmts: dict[str, str | None] | None = None,
    strictly_ascending: bool = False,
    **kw,
) -> Rule:
    fmts = fmts or {}
    casts = [to_ts(c, fmts.get(c)) for c in cols]
    return Rule(
        rule_id=kw.pop("rule_id", "dates_order__" + "_".join(cols)),
        description=kw.pop("description", f"Columns {cols} not in chronological order"),
        violation=_order_violation(casts, strictly_ascending),
        **kw,
    )


def values_order(cols: list[str], strictly_ascending: bool = False, **kw) -> Rule:
    casts = [to_double(c) for c in cols]
    return Rule(
        rule_id=kw.pop("rule_id", "values_order__" + "_".join(cols)),
        description=kw.pop("description", f"Columns {cols} not in ascending order"),
        violation=_order_violation(casts, strictly_ascending),
        **kw,
    )


# ---------------------------------------------------------------------------
# #9 — values in list (values_in_list.py:24-33,45-54)
# ---------------------------------------------------------------------------


def values_in_list(col: str, values: list, case_sensitive: bool = True, **kw) -> Rule:
    c = F.col(col).cast("string")
    vals = [str(v) for v in values]
    if not case_sensitive:
        c = F.lower(c)
        vals = [v.lower() for v in vals]
    return Rule(
        rule_id=kw.pop("rule_id", f"values_in_list__{col}"),
        description=kw.pop("description", f"Value in column {col} not in list"),
        violation=not_empty(col) & ~c.isin(vals),
        **kw,
    )


# ---------------------------------------------------------------------------
# #10 — match regex (match_regex.py; dialect fns impala.py:75-79).
#       Ships the reference's PII regex seeds (utils.py:3-5) in functions/scrub.
# ---------------------------------------------------------------------------


def match_regex(col: str, regex: str, case_sensitive: bool = True, **kw) -> Rule:
    pat = regex if case_sensitive else f"(?i){regex}"
    return Rule(
        rule_id=kw.pop("rule_id", f"match_regex__{col}"),
        description=kw.pop("description", f"Value in column {col} does not match regex"),
        violation=not_empty(col) & ~F.col(col).cast("string").rlike(pat),
        **kw,
    )


# ---------------------------------------------------------------------------
# #11 — custom condition (custom.py:19-40): arbitrary boolean SQL = violation.
#       The seed of compiling Gopher/C4 heuristics to expressions.
# ---------------------------------------------------------------------------


def custom_condition(condition: str | Column, **kw) -> Rule:
    viol = F.expr(condition) if isinstance(condition, str) else condition
    return Rule(
        rule_id=kw.pop("rule_id", "custom_condition"),
        description=kw.pop("description", f"Rows match condition: {condition}"),
        violation=viol,
        **kw,
    )


# ---------------------------------------------------------------------------
# #12 — match dimension table (match_dimension_table.py): FK with no PK match.
#       The reference picks 1 of 4 strategies by operand *location*
#       (:38-47, :68-89, :175-207, :209-227); Spark subsumes all with a
#       broadcast LEFT join on the string-cast composite key.
# ---------------------------------------------------------------------------


def match_dimension(
    dim_df: DataFrame,
    fk_cols: list[str] | str,
    pk_cols: list[str] | str | None = None,
    **kw,
) -> Rule:
    """Left join of the fact on the dim's distinct composite keys.

    The dim is always broadcast as the hash-join build side — correct for
    the reference's lookup-table dims and for any dim that fits executor
    memory, and it guarantees the 100 TB fact side never shuffles. It
    BYPASSES autoBroadcastJoinThreshold."""
    fk_cols = [fk_cols] if isinstance(fk_cols, str) else list(fk_cols)
    pk_cols = fk_cols if pk_cols is None else (
        [pk_cols] if isinstance(pk_cols, str) else list(pk_cols)
    )
    rule_id = kw.pop("rule_id", "match_dimension__" + "_".join(fk_cols))
    # __aux_ prefix: RuleEngine.flags/annotate drop internal columns
    # by that convention — the old __dim_hit_ name leaked into the
    # public annotated frame
    marker = f"__aux_dim_hit_{rule_id}"
    keycol = f"__dim_key_{rule_id}"

    def prepare(df: DataFrame) -> DataFrame:
        keys = F.broadcast(
            dim_df.select(composite_key(pk_cols, dim_df.schema).alias(keycol))
            .where(F.col(keycol).isNotNull())
            .distinct()
            .withColumn(marker, F.lit(1))
        )
        return df.join(
            keys, composite_key(fk_cols, df.schema) == F.col(keycol), "left"
        ).drop(keycol)

    return Rule(
        rule_id=rule_id,
        description=kw.pop(
            "description", f"Value in columns {fk_cols} not in dimension table"
        ),
        violation=conjoin([not_empty(c) for c in fk_cols]) & F.col(marker).isNull(),
        prepare=prepare,
        **kw,
    )


# ---------------------------------------------------------------------------
# #13 / #14 — order vs dimension (dates_order_dimension_table.py:31-55,
#             values_order_dimension_table.py:51-55): join fact→dim on FK,
#             violation = NOT (left op right), NULL→False. The reference
#             left the mixed pandas×SQL combos unimplemented (TODOs at
#             :93-95,:139-141); a single-engine design has no combos.
# ---------------------------------------------------------------------------

_OPS = {
    ">": lambda l, r: l > r,
    ">=": lambda l, r: l >= r,
    "<": lambda l, r: l < r,
    "<=": lambda l, r: l <= r,
    "=": lambda l, r: l == r,
}


def _order_vs_dimension(
    dim_df: DataFrame,
    fk: str | list[str],
    pk: str | list[str],
    left_col: str,
    right_col: str,
    operator: str,
    cast_fn,
    rule_id: str,
    description: str,
    cast_fn_right=None,
    **kw,
) -> Rule:
    # composite FKs: the join key is the float-normalized composite string
    # (reference joins on the same concatenated tag_key,
    # values_order_dimension_table.py:160-171)
    fks = [fk] if isinstance(fk, str) else list(fk)
    pks = [pk] if isinstance(pk, str) else list(pk)
    keycol = f"__dimo_key_{rule_id}"
    # the joined dim value lives under a rule-unique internal name (several
    # fanned-out rules may join the same right_col — a shared name would be
    # ambiguous in the single combined scan); a visible copy is attached
    # under the reference's naming (right_col, `_2`-suffixed on clash —
    # dates_order_dimension_table.py:131-136) for output/sample columns.
    right_int = f"__aux_dimo_{rule_id}"

    def prepare(df: DataFrame) -> DataFrame:
        dim = F.broadcast(dim_df.select(
            composite_key(pks, dim_df.schema).alias(keycol),
            F.col(right_col).alias(right_int),
        ).where(F.col(keycol).isNotNull()).dropDuplicates([keycol]))
        joined = df.join(
            dim, composite_key(fks, df.schema) == F.col(keycol), "left"
        ).drop(keycol)
        # first FREE name: right_col, else _2, _3… (the reference's `_2`
        # clash rename, extended so 3+ fanned-out rules sharing a right_col
        # never alias another rule's joined value)
        visible = right_col
        i = 2
        while visible in joined.columns:
            visible = f"{right_col}_{i}"
            i += 1
        return joined.withColumn(visible, F.col(right_int))

    op = _OPS[operator]
    viol = ~op(cast_fn(left_col), (cast_fn_right or cast_fn)(right_int))
    return Rule(
        rule_id=rule_id,
        description=description,
        violation=F.coalesce(viol, F.lit(False)),
        prepare=prepare,
        **kw,
    )


def dates_order_dimension(
    dim_df: DataFrame,
    fk: str | list[str],
    pk: str | list[str],
    left_col: str,
    right_col: str,
    operator: str = ">=",
    fmt_left: str | None = None,
    fmt_right: str | None = None,
    **kw,
) -> Rule:
    rid = kw.pop("rule_id", f"dates_order_dim__{left_col}_{operator}_{right_col}")
    return _order_vs_dimension(
        dim_df, fk, pk, left_col, right_col, operator,
        # per-side formats: the fact and dim date columns routinely carry
        # different string formats (fmt params were previously accepted
        # and silently ignored — ISO-only casts NULLed non-ISO dates and
        # the rule never fired)
        cast_fn=lambda c: to_ts(c, fmt_left),
        cast_fn_right=lambda c: to_ts(c, fmt_right),
        rule_id=rid,
        description=kw.pop(
            "description", f"{left_col} not {operator} {right_col} in dimension table"
        ),
        **kw,
    )


def values_order_dimension(
    dim_df: DataFrame,
    fk: str | list[str],
    pk: str | list[str],
    left_col: str,
    right_col: str,
    operator: str = "<=",
    **kw,
) -> Rule:
    rid = kw.pop("rule_id", f"values_order_dim__{left_col}_{operator}_{right_col}")
    return _order_vs_dimension(
        dim_df, fk, pk, left_col, right_col, operator,
        cast_fn=to_double,
        rule_id=rid,
        description=kw.pop(
            "description", f"{left_col} not {operator} {right_col} in dimension table"
        ),
        **kw,
    )


# ---------------------------------------------------------------------------
# #15 — period intersection (period_intersection.py): sort by (id, start);
#       violation₀ = lag(end) {>|>=} start within the id group; a row is ALSO
#       KO if its successor is (`check OR LEAD(check)`, :45-50).
#       extremes_exclude=False ⇒ '>' (touching endpoints OK), True ⇒ '>='
#       (:29). Spark: WindowExec after a hash shuffle on the id key —
#       at scale the partition key must have cardinality ≫ executors
#       (id_columns=None ⇒ single global window, which single-threads;
#       the reference has the same flaw implicitly. For the un-keyed case
#       at scale use ops.intervals.overlapping_periods_global — range
#       partition + boundary stitch, pinned equal to this window).
# ---------------------------------------------------------------------------


def period_intersection(
    start_col: str,
    end_col: str,
    id_columns: list[str] | str | None = None,
    extremes_exclude: bool = False,
    fmt: str | None = None,
    tiebreak_cols: list[str] | None = None,
    **kw,
) -> Rule:
    if isinstance(id_columns, str):
        id_columns = [id_columns]
    rule_id = kw.pop("rule_id", f"period_intersection__{start_col}_{end_col}")
    description = kw.pop(
        "description", f"Rows intersection on period from {start_col} to {end_col}"
    )
    start_ts = to_ts(start_col, fmt)
    end_ts = to_ts(end_col, fmt)
    # the reference orders by (id, start) only (period_intersection.py:35-36),
    # which is nondeterministic on start ties; tiebreak_cols pins the order
    # (required for cross-engine oracle parity).
    if id_columns:
        order = [start_ts, end_ts] + [F.col(c) for c in (tiebreak_cols or [])]
        # the composite partition key is built in a prepare so the fact
        # schema is known → integral/date id parts skip the normalization
        # regex chain (norm_key type gate); the aux column is dropped by
        # the engine after the flag projection
        key_aux = f"__aux_pik_{rule_id}"

        def prepare_key(df: DataFrame) -> DataFrame:
            return df.withColumn(key_aux, composite_key(id_columns, df.schema))

        w = Window.partitionBy(F.col(key_aux)).orderBy(*order)
        prev_end = F.lag(end_ts).over(w)
        base = prev_end >= start_ts if extremes_exclude else prev_end > start_ts
        check = F.coalesce(base, F.lit(False))
        viol = check | F.coalesce(F.lead(check).over(w), F.lit(False))
        return Rule(
            rule_id=rule_id,
            description=description,
            violation=not_empty(start_col) & not_empty(end_col) & viol,
            prepare=prepare_key,
            **kw,
        )
    # UN-KEYED case: Window.partitionBy(lit(1)) would funnel the whole table
    # through ONE task — instead route through the deterministic range-
    # partition + boundary-stitch operator (ops/intervals.py), which
    # computes the same lag/lead chain with only 2 boundary rows per
    # partition leaving the executors. Expressed as a prepare transform
    # producing an aux flag. COST NOTE: constructing flags() runs ONE slim
    # column-pruned driver job (range sampling doubles as the stitch
    # table; a second job only if null keys split ranges); the wide frame
    # is traversed once, with no checkpoint/materialization.
    from data_quality_spark.ops.intervals import overlap_flags_global

    s_aux, e_aux = f"__aux_pis_{rule_id}", f"__aux_pie_{rule_id}"
    flag_aux = f"__aux_piflag_{rule_id}"

    def prepare(df: DataFrame) -> DataFrame:
        staged = df.withColumn(s_aux, start_ts).withColumn(e_aux, end_ts)
        return overlap_flags_global(
            staged, s_aux, e_aux,
            tiebreak_cols=list(tiebreak_cols or []),
            extremes_exclude=extremes_exclude,
            flag_col=flag_aux,
        )

    return Rule(
        rule_id=rule_id,
        description=description,
        violation=not_empty(start_col) & not_empty(end_col) & F.col(flag_aux),
        prepare=prepare,
        **kw,
    )
