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
every fired rule's capped sample comes from one more plan over the same
flags (``ko_samples``: a per-rule ``row_number`` limit that Spark applies
before the exchange), so the sample cost does not grow with the number of
fired rules.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
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
        out = self._annotated(self.flags(df))
        return out.drop(*[self._flag_name(r) for r in self.rules])

    def _annotated(self, flagged: DataFrame) -> DataFrame:
        out = flagged
        key = ("rules.annotate", self._memo_key())
        for name, col in memo(key, self._annotate_cols):
            out = out.withColumn(name, col)
        return out

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
        `flagged` to share one evaluation with ko_samples — prepare
        transforms (joins, global-interval materializations) then run once,
        not once per consumer."""
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

    def ko_samples(self, flagged: DataFrame, columns: list[str]):
        """Every fired rule's capped failing-row sample from ONE plan
        (reference check.py:110-126 per check, table.py:191-232 merge).

        `flagged` is `flags(df)`, persisted by the caller when it has
        another consumer. Each row gets a `monotonically_increasing_id()`,
        its fired rule ids are exploded, and `row_number() over (partition
        by rule order by row id) <= max cap + 1` keeps at most max cap + 1
        rows per rule. While that literal is at most
        `spark.sql.optimizer.windowGroupLimitThreshold` (1000), Spark plans
        a Partial `WindowGroupLimit` before the exchange, so at most that
        many rows per rule leave each partition. A cap of 1000 or more
        loses the `WindowGroupLimit`: the exchange then carries every KO
        row of the fired rules. The rows are collected once through Arrow
        (`toPandas`; `toArrow` would hand back zone-aware timestamps,
        which the Excel export rejects), then each rule is cut on the
        driver to its own cap and output columns (`columns` when it has
        none) and stamped with `check_description` (check.py:155).

        Returns ({rule_id: (sample, flag_over_max_rows)} for the fired
        rules, merged KO rows). The merged rows are the rules' samples
        unioned, one row per source row, as `columns` plus the row's
        `fired_descriptions` and `flag_only_warning` over all the rules."""
        rid, rule, rank = "__sample_rid", "__sample_rule", "__sample_rank"
        cols = list(dict.fromkeys(
            columns + [c for r in self.rules for c in r.output_columns or []]
        ))
        limit = max(r.max_rows for r in self.rules) + 1
        by_rule = Window.partitionBy(rule).orderBy(rid)
        pdf = (
            self._annotated(flagged)
            .withColumn(rid, F.monotonically_increasing_id())
            .select(rid, F.explode(self.FIRED).alias(rule), *cols,
                    self.FIRED_DESC, self.ONLY_WARNING)
            .withColumn(rank, F.row_number().over(by_rule))
            .where(F.col(rank) <= limit)
            .toPandas()
            .sort_values([rule, rank], ignore_index=True)
        )
        caps = {r.rule_id: r.max_rows for r in self.rules}
        within = pdf[pdf[rank] <= pdf[rule].map(caps)]
        counts = pdf[rule].value_counts()
        samples = {}
        for r in self.rules:
            if r.rule_id not in counts:
                continue
            sample = within.loc[within[rule] == r.rule_id, r.output_columns or columns]
            samples[r.rule_id] = (
                sample.assign(check_description=r.description).reset_index(drop=True),
                bool(counts[r.rule_id] > r.max_rows),
            )
        merged = (
            within.drop_duplicates(rid).sort_values(rid)
            [columns + [self.FIRED_DESC, self.ONLY_WARNING]]
            .reset_index(drop=True)
        )
        return samples, merged
