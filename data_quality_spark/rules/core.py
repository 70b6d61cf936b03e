"""Declarative rule core — the reference's Check ABC reborn as Catalyst expressions.

Reference model (``check.py:10-164``): every check is an object with THREE
implementations — ``_get_number_ko_sql`` (count query), ``_get_rows_ko_sql``
(row-sample query), ``_get_rows_ko_dataframe`` (pandas) — and the engine issues
one or two FULL TABLE SCANS per check (``check.py:84-126``). A session with k
checks on one table costs O(k) scans.

Spark-first redesign: a ``Rule`` is (id, severity, violation ``Column``); the
``RuleEngine`` evaluates ALL rules on a table in ONE scan by projecting every
violation to a boolean column, then deriving counts / fired-arrays / keep flags
/ samples from that single annotated frame. Window- and join-shaped rules fit
the same mold: windows evaluate inside the projection, joins are applied as
``prepare`` transforms (broadcast left joins) before the projection.

Scale notes (100 TB): the projection is whole-stage-codegen'd (pure Column
exprs, no Python); metrics are one lazy plan: a partial-aggregated ``agg``
(map-side combine, tiny shuffle: one row per partition × rules) unpivoted
to one row per rule inside Catalyst, so a caller's single collect is the
only job and no Python worker starts (a driver-side row re-wrapped with
``createDataFrame(list)`` would cost one more job, run in Python workers);
samples use ``limit`` (CollectLimitExec early-out, no full scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_spark.colmemo import memo

# ---------------------------------------------------------------------------
# Missing-value semantics — NULL ∪ '' (reference utils.py:99-118)
# ---------------------------------------------------------------------------


def not_empty(col: Column | str) -> Column:
    """(col IS NOT NULL) AND (CAST(col AS STRING) != '') — utils.py:99-107."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (c.cast("string") != "")


def is_empty(col: Column | str) -> Column:
    """(col IS NULL) OR (CAST(col AS STRING) = '') — utils.py:110-118."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (c.cast("string") == "")


def conjoin(conds: list[Column]) -> Column:
    """AND-fold a condition list (reference utils.py:62-75 dedup+join)."""
    if not conds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, conds)


@dataclass
class Rule:
    """One declarative quality rule == one reference Check instance.

    violation  — boolean Column, True ⇒ row is KO. Must already fold in
                 preconditions and ignore-filters (helpers below do this).
    severity   — 'fail' | 'warning' (reference flag_warning, check.py:54).
    prepare    — optional DataFrame transform run before evaluation, for
                 join-shaped rules (dimension checks #12-14); must preserve
                 the input rows 1:1 (left joins only).
    output_columns / max_rows — sample projection + cap (check.py:57-69).
    """

    rule_id: str
    description: str
    violation: Column
    severity: str = "fail"
    prepare: Callable[[DataFrame], DataFrame] | None = None
    output_columns: list[str] | None = None
    max_rows: int = 100

    # (violation, flag Column) built from it: copies of a Rule share the
    # flag, and reassigning `violation` invalidates it
    _flag: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def flag_col(self) -> Column:
        # coalesce(False): a NULL verdict is "not violated", matching the
        # reference's coalesce(cmp, false) (dates_order.py:23-32).
        if self._flag is None or self._flag[0] is not self.violation:
            self._flag = (self.violation, F.coalesce(self.violation, F.lit(False)))
        return self._flag[1]


@dataclass
class CheckResult:
    """Result state per check (reference check.py:25-29, 159-163)."""

    rule_id: str
    description: str
    severity: str
    n_ko: int
    n_rows: int
    flag_ko: bool
    ko_rows: object = None  # pandas DataFrame sample or None
    flag_over_max_rows: bool = False


METRICS_SCHEMA = (
    "rule_id:string,description:string,severity:string,n_ko:bigint,n_rows:bigint"
)


class RuleEngine:
    """Single-pass evaluator for a rule list over one DataFrame."""

    FIRED = "fired_rules"
    FIRED_DESC = "fired_descriptions"
    KEEP = "keep"
    ONLY_WARNING = "flag_only_warning"

    def __init__(self, rules: list[Rule]):
        ids = [r.rule_id for r in rules]
        if len(set(ids)) != len(ids):
            raise ValueError(f"duplicate rule_ids: {ids}")
        self.rules = rules

    # -- internal ----------------------------------------------------------
    def _prepared(self, df: DataFrame) -> DataFrame:
        for r in self.rules:
            if r.prepare is not None:
                df = r.prepare(df)
        return df

    def _flag_name(self, r: Rule) -> str:
        return f"__ko_{r.rule_id}"

    def _memo_key(self) -> tuple:
        """All that the memoized annotate/metrics Columns depend on."""
        return tuple((r.rule_id, r.description, r.severity) for r in self.rules)

    def flags(self, df: DataFrame) -> DataFrame:
        """ONE projection evaluating every rule to a boolean column.

        This is the engine's heart: where the reference issues k scans
        (check.py:84-108 per check), we emit k boolean expressions into a
        single whole-stage-codegen projection.
        """
        df = self._prepared(df)
        flagged = df.withColumns(
            {self._flag_name(r): r.flag_col() for r in self.rules}
        )
        # helper columns added by prepare transforms (convention: __aux_*)
        # are internal — consumed by the flag projection, then dropped.
        aux = [c for c in flagged.columns if c.startswith("__aux_")]
        return flagged.drop(*aux) if aux else flagged

    # -- public ------------------------------------------------------------
    def annotate(self, df: DataFrame) -> DataFrame:
        """Annotated frame: per-row fired-rule array + keep flag.

        Replaces the reference's KO-row union + per-row description merge
        (table.py:191-232 ``_create_ko_rows``): instead of unioning k
        filtered copies and groupby-merging descriptions with " - ", build
        the array in place with array_compact(when...).
        """
        flagged = self.flags(df)
        out = flagged
        key = ("rules.annotate", self._memo_key())
        for name, col in memo(key, self._annotate_cols):
            out = out.withColumn(name, col)
        return out.drop(*[self._flag_name(r) for r in self.rules])

    def _annotate_cols(self) -> tuple:
        """((name, Column), ...) annotate derives from the flag columns.
        They depend only on each rule's (id, description, severity), so
        they are built once per JVM per rule set (colmemo)."""
        fired = F.array_compact(
            F.array(
                *[
                    F.when(F.col(self._flag_name(r)), F.lit(r.rule_id))
                    for r in self.rules
                ]
            )
        )
        fired_fail = F.array_compact(
            F.array(
                *[
                    F.when(F.col(self._flag_name(r)), F.lit(r.rule_id))
                    for r in self.rules
                    if r.severity == "fail"
                ]
            )
        )
        desc = F.concat_ws(
            " - ",
            F.array_compact(
                F.array(
                    *[
                        F.when(F.col(self._flag_name(r)), F.lit(r.description))
                        for r in self.rules
                    ]
                )
            ),
        )
        return (
            (self.FIRED, fired),
            (self.FIRED_DESC, desc),
            (self.KEEP, F.size(fired_fail) == 0),
            (self.ONLY_WARNING, (F.size(fired) > 0) & (F.size(fired_fail) == 0)),
        )

    def metrics(self, df: DataFrame, flagged: DataFrame | None = None) -> DataFrame:
        """Per-rule KO counts as ONE lazy plan over one aggregate scan.

        Reference equivalent: one COUNT(*) GROUP BY verdict query PER check
        (check.py:84-108). Here: agg(count, coalesce(sum(flag::long), 0)
        per rule) — partial aggregation map-side, shuffle is one row per
        partition — unpivoted to one row per rule by inline(array(struct))
        over that single aggregate row.
        Returns (rule_id, description, severity, n_ko, n_rows).

        Nothing runs until the caller collects. The plan never passes
        through the driver: `createDataFrame(list)` of a collected row would
        cost an extra Spark job run in Python workers (parallelize plus an
        identity map) on a path with no Python UDF.

        Pass a precomputed (possibly cached) `flags(df)` frame via
        `flagged` to share one evaluation with ko_rows — prepare transforms
        (joins, global-interval materializations) then run once, not once
        per consumer."""
        if flagged is None:
            flagged = self.flags(df)
        aggs, rows = memo(("rules.metrics", self._memo_key()), self._metrics_cols)
        return flagged.agg(*aggs).select(rows)

    def _metrics_cols(self) -> tuple:
        """(aggregate Columns, unpivot Column) of metrics(). Like
        _annotate_cols they depend only on each rule's (id, description,
        severity), so they are built once per JVM per rule set (colmemo)."""
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.coalesce(F.sum(F.col(self._flag_name(r)).cast("long")), F.lit(0))
            .alias(self._flag_name(r))
            for r in self.rules
        ]
        # the cast types the array of an empty rule list and makes every
        # field nullable, so the schema never depends on the rules
        rows = F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(r.rule_id).alias("rule_id"),
                        F.lit(r.description).alias("description"),
                        F.lit(r.severity).alias("severity"),
                        F.col(self._flag_name(r)).alias("n_ko"),
                        F.col("__n").alias("n_rows"),
                    )
                    for r in self.rules
                ]
            ).cast(f"array<struct<{METRICS_SCHEMA}>>")
        )
        return tuple(aggs), rows

    def ko_rows(
        self,
        df: DataFrame,
        rule_id: str,
        limit: int | None = None,
        flagged: DataFrame | None = None,
    ):
        """Capped failing-row sample for one rule (check.py:110-126).

        Returns (pandas_sample, flag_over_max_rows); over-cap detection =
        sample size hit the cap (check.py:150-154). `flagged` as in
        metrics(): reuse one evaluation across rules."""
        r = next(x for x in self.rules if x.rule_id == rule_id)
        cap = limit if limit is not None else r.max_rows
        if flagged is None:
            flagged = self.flags(df)
        flagged = flagged.filter(F.col(self._flag_name(r)))
        cols = r.output_columns or [
            c for c in df.columns if not c.startswith("__ko_")
        ]
        # every sample row is stamped with the check's description
        # (reference check.py:155 appends check_description to KO samples)
        sample = (
            flagged.select(*cols)
            .withColumn("check_description", F.lit(r.description))
            .limit(cap + 1)
            .toPandas()
        )
        over = len(sample) > cap
        if over:
            sample = sample.iloc[:cap]
        return sample, over
