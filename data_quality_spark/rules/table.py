"""QualityTable — the reference's ``Table`` API (table.py:27-844) on Spark.

Holds a DataFrame + metadata (index column, datetime formats, standing
filter, output columns, sample cap — reference table.py:27-77) and exposes
the same ``check_*`` entry points (fan-out over column lists happens here,
as in table.py:364-373).

Execution model difference, by design: ``check_*`` methods ACCUMULATE rules;
``run()`` evaluates every accumulated rule in ONE scan (RuleEngine), then
fills per-check results (n_ko, flag_ko, capped ko_rows, flag_over_max_rows —
reference check.py:25-29). With samples requested, every fired check's
sample and the table's merged KO rows (reference ``Table.ko_rows``,
table.py:191-232) come from ONE more plan over the same cached flags; the
HTML report and the export read only those.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_quality_spark.rules import checks as C
from data_quality_spark.rules.core import CheckResult, Rule, RuleEngine, not_empty

_RESULTS_SCHEMA = pa.schema([
    ("table", pa.string()), ("rule_id", pa.string()), ("description", pa.string()),
    ("severity", pa.string()), ("n_ko", pa.int64()), ("n_rows", pa.int64()),
    ("flag_ko", pa.bool_()),
])


def infer_datetime_format(df: DataFrame, col: str, sample: int = 100) -> str | None:
    """Sample-and-majority-vote format inference (reference table.py:128-140
    via pandas guess_datetime_format), emitting a Java/Spark pattern."""
    try:
        from pandas._libs.tslibs.parsing import guess_datetime_format
    except Exception:  # pragma: no cover
        return None
    vals = [
        r[0]
        for r in df.select(F.col(col).cast("string"))
        .where(not_empty(col))
        .limit(sample)
        .collect()
    ]
    votes: dict[str, int] = {}
    for v in vals:
        g = guess_datetime_format(v)
        if g:
            votes[g] = votes.get(g, 0) + 1
    if not votes:
        return None
    strf = max(votes, key=votes.get)
    # strftime → Java pattern tokens (the reference maps the same token set,
    # impala.py:11-19, just to SQL dialect tokens instead)
    for a, b in [
        ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
        ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
    ]:
        strf = strf.replace(a, b)
    return strf


class QualityTable:
    def __init__(
        self,
        df: DataFrame,
        name: str = "table",
        session=None,
        index_column: str | None = None,
        not_empty_columns: list[str] | None = None,
        datetime_columns: dict[str, str | None] | None = None,
        table_filter: str | None = None,
        output_columns: list[str] | None = None,
        n_max_rows_output: int = 100,
    ):
        self._base_df = df
        self.name = name
        self.session = session
        self.index_column = index_column
        self.not_empty_columns = not_empty_columns or []
        self.datetime_columns = dict(datetime_columns or {})
        self.table_filter = table_filter
        self.output_columns = output_columns
        self.n_max_rows_output = n_max_rows_output
        self.rules: list[Rule] = []
        self.check_list: list[CheckResult] = []
        self._ko_rows = None  # merged KO rows of check_list, see merged_ko_rows
        self.index_problem = False  # reference values_duplicate.py:36-38

    # -- df access ----------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """Standing filter applied lazily (reference deep-copies the table,
        data_quality_holder.py:60-69; Spark filters are free)."""
        d = self._base_df
        if self.table_filter:
            d = d.filter(F.expr(self._clean_filter(self.table_filter)))
        return d

    @staticmethod
    def _clean_filter(f: str) -> str:
        f = f.strip()
        return f[len("where "):] if f.lower().startswith("where ") else f

    def set_table_filter(self, f: str | None):
        self.table_filter = f

    def with_filter(self, f: str) -> "QualityTable":
        t = QualityTable(
            self._base_df, name=f"{self.name}[{f}]", session=self.session,
            index_column=self.index_column,
            not_empty_columns=self.not_empty_columns,
            datetime_columns=self.datetime_columns,
            table_filter=f, output_columns=self.output_columns,
            n_max_rows_output=self.n_max_rows_output,
        )
        if self.session is not None:
            self.session.tables.append(t)
        return t

    # -- plumbing -----------------------------------------------------------
    _FMT_UNKNOWN = "__fmt_inference_failed__"

    def _fmt(self, col: str) -> str | None:
        # a FAILED inference is cached too (sentinel): treating stored None
        # as a miss re-ran the limit(100) inference job on every check call
        # against an unparseable column
        if col not in self.datetime_columns or self.datetime_columns[col] is None:
            self.datetime_columns[col] = (
                infer_datetime_format(self.df, col) or self._FMT_UNKNOWN
            )
        f = self.datetime_columns[col]
        return None if f == self._FMT_UNKNOWN else f

    def _add(
        self, rules: list[Rule], ignore_filters=None, flag_warning: bool = False,
        n_max_rows_output: int | None = None,
    ) -> list[Rule]:
        # the per-check options every check_* method forwards; any other
        # keyword (a typo such as flag_warnings=) raises TypeError here
        ignore = ignore_filters or []
        if isinstance(ignore, str):
            ignore = [ignore]
        if n_max_rows_output is None:
            n_max_rows_output = self.n_max_rows_output
        for r in rules:
            if flag_warning:
                r.severity = "warning"
            if self.output_columns and r.output_columns is None:
                r.output_columns = self.output_columns
            r.max_rows = n_max_rows_output
            # rows matching ANY ignore filter are excluded from checking
            # (reference check.py:71-82: per-check WHERE fragments ANDed in
            # negated into the KO filter)
            for f in ignore:
                r.violation = r.violation & ~F.expr(self._clean_filter(f))
            self.rules.append(r)
        return rules

    # -- check_* API (reference table.py entry points) ----------------------
    def check_index_not_null(self, **kw):  # table.py:281-302
        col = self.index_column
        if col is None:
            raise ValueError("index_column not set")
        return self._add([C.index_not_null(col)], **kw)

    def check_duplicate_index(self, **kw):  # table.py:305-326
        col = self.index_column
        if col is None:
            raise ValueError("index_column not set")
        return self._add(
            [C.duplicate_values(col, rule_id=f"duplicate_index__{col}")], **kw
        )

    def check_duplicate_values(self, columns, **kw):  # table.py:378-399
        cols = [columns] if isinstance(columns, str) else columns
        return self._add([C.duplicate_values(c) for c in cols], **kw)

    def check_not_empthy_column(self, columns, **kw):  # table.py:329-375
        cols = [columns] if isinstance(columns, str) else columns
        return self._add([C.not_empty_column(c) for c in cols], **kw)

    # keep the reference's typo'd name as an alias, plus a sane name
    check_not_empty_column = check_not_empthy_column

    def check_datetime_format(self, columns, fmt=None, **kw):  # :402-428
        cols = [columns] if isinstance(columns, str) else columns
        return self._add(
            [C.datetime_format(c, fmt or self._fmt(c)) for c in cols], **kw
        )

    def check_columns_between_values(
        self, columns, min_value=None, max_value=None,
        min_included=True, max_included=True, **kw,
    ):  # table.py:439-482
        cols = [columns] if isinstance(columns, str) else columns
        return self._add(
            [
                C.between_values(c, min_value, max_value, min_included, max_included)
                for c in cols
            ],
            **kw,
        )

    def check_columns_between_dates(
        self, columns, min_date=None, max_date=None, fmt=None,
        min_included=True, max_included=True, **kw,
    ):  # table.py:485-529
        cols = [columns] if isinstance(columns, str) else columns
        return self._add(
            [
                C.between_dates(
                    c, fmt or self._fmt(c), min_date, max_date, min_included, max_included
                )
                for c in cols
            ],
            **kw,
        )

    def check_date_column_not_in_future(self, columns, fmt=None, **kw):
        cols = [columns] if isinstance(columns, str) else columns  # table.py:531-551
        return self._add(
            [C.date_not_in_future(c, fmt or self._fmt(c)) for c in cols], **kw
        )

    def check_dates_order(self, columns, strictly_ascending=False, **kw):
        fmts = {c: self._fmt(c) for c in columns}  # table.py:554-576
        return self._add([C.dates_order(columns, fmts, strictly_ascending)], **kw)

    def check_values_order(self, columns, strictly_ascending=False, **kw):
        return self._add([C.values_order(columns, strictly_ascending)], **kw)

    def check_values_in_list(self, column, values, case_sensitive=True, **kw):
        return self._add(
            [C.values_in_list(column, values, case_sensitive)], **kw
        )  # table.py:603-641

    def check_column_match_regex(self, column, regex, case_sensitive=True, **kw):
        return self._add(
            [C.match_regex(column, regex, case_sensitive)], **kw
        )  # table.py:644-681

    def check_custom_condition(self, condition, description=None, **kw):
        # rule_id forwarded so several custom conditions can coexist on one
        # table (default id is the shared "custom_condition")
        r = C.custom_condition(condition, **(
            {"rule_id": kw.pop("rule_id")} if "rule_id" in kw else {}
        ))  # table.py:684-708
        if description:
            r.description = description
        return self._add([r], **kw)

    def check_match_dimension_table(
        self, dim, foreign_key, primary_key=None, **kw
    ):  # table.py:711-734
        dim_df = dim.df if isinstance(dim, QualityTable) else dim
        return self._add(
            [C.match_dimension(dim_df, foreign_key, primary_key)], **kw
        )

    @staticmethod
    def _pairs(left_columns, right_columns):
        """Reference fan-out: one check per (left, right) column pair
        (table.py:737-776 loops left×right)."""
        lefts = [left_columns] if isinstance(left_columns, str) else left_columns
        rights = [right_columns] if isinstance(right_columns, str) else right_columns
        return [(lc, rc) for lc in lefts for rc in rights]

    def check_dates_order_dimension_table(
        self, dim, foreign_keys, primary_keys, left_columns, right_columns,
        operator=">=", **kw,
    ):  # table.py:737-776: lists for FKs (composite) and left/right columns
        dim_df = dim.df if isinstance(dim, QualityTable) else dim
        return self._add(
            [
                C.dates_order_dimension(
                    dim_df, foreign_keys, primary_keys, lc, rc, operator
                )
                for lc, rc in self._pairs(left_columns, right_columns)
            ],
            **kw,
        )

    def check_values_order_dimension_table(
        self, dim, foreign_keys, primary_keys, left_columns, right_columns,
        operator="<=", **kw,
    ):  # table.py:779-816: same left×right fan-out and composite FK support
        dim_df = dim.df if isinstance(dim, QualityTable) else dim
        return self._add(
            [
                C.values_order_dimension(
                    dim_df, foreign_keys, primary_keys, lc, rc, operator
                )
                for lc, rc in self._pairs(left_columns, right_columns)
            ],
            **kw,
        )

    def check_period_intersection_rows(
        self, start_date, end_date, id_columns=None, extremes_exclude=False, **kw,
    ):  # table.py:818-844
        return self._add(
            [C.period_intersection(start_date, end_date, id_columns, extremes_exclude)],
            **kw,
        )

    def run_basic_check(self, **kw):  # table.py:431-436 (checks 1+2+3+4)
        out = []
        out += self.check_index_not_null(**kw)
        out += self.check_duplicate_index(**kw)
        if self.not_empty_columns:
            out += self.check_not_empthy_column(self.not_empty_columns, **kw)
        dt_cols = [c for c in self.datetime_columns]
        if dt_cols:
            out += self.check_datetime_format(dt_cols, **kw)
        return out

    # -- execution -----------------------------------------------------------
    def run(self, only: list[str] | None = None, get_rows_flag: bool = False):
        """Evaluate (a subset of) accumulated rules in one pass and append
        CheckResults (reference check.py:128-164 per-check, here batched).
        With get_rows_flag every fired check's capped sample and the
        table's merged KO rows come from one more plan over the same
        flags."""
        rules = [r for r in self.rules if only is None or r.rule_id in only]
        if not rules:
            return []
        eng = RuleEngine(rules)
        df = self.df
        # evaluate the flag projection ONCE and share it between the metrics
        # aggregate and the sample plan: prepare transforms (broadcast
        # joins, the global-interval materialization) are not re-run per
        # consumer, and with samples requested the frame is cached so the
        # sample plan reads the computed flags instead of recomputing them
        flagged = eng.flags(df)
        if get_rows_flag:
            flagged = flagged.persist()
        try:
            # metrics() is a lazy plan: this collect is its only Spark job
            # (the aggregate's shuffle stage aside), and no Python worker runs
            m = {
                row["rule_id"]: row
                for row in eng.metrics(df, flagged=flagged).collect()
            }
            results = []
            for r in rules:
                row = m[r.rule_id]
                res = CheckResult(
                    rule_id=r.rule_id,
                    description=r.description,
                    severity=r.severity,
                    n_ko=row["n_ko"],
                    n_rows=row["n_rows"],
                    flag_ko=row["n_ko"] > 0,
                )
                if "duplicate" in r.rule_id and res.flag_ko:
                    self.index_problem = True
                results.append(res)
            first = not self.check_list
            self.check_list += results
            merged = self._take_samples(eng, flagged, results) if get_rows_flag else None
            # the merged rows stand for check_list only when this run is all
            # of it; otherwise merged_ko_rows samples check_list again
            self._ko_rows = merged if first else None
            return results
        finally:
            if get_rows_flag:
                flagged.unpersist()

    def merged_ko_rows(self):
        """The rows of every check's sample in check_list, one per source
        row, with the row's merged `fired_descriptions` and
        `flag_only_warning` (reference `Table.ko_rows`, table.py:191-232).
        A table run without samples is sampled here, once, in one plan."""
        if self._ko_rows is None:
            ids = {c.rule_id for c in self.check_list}
            eng = RuleEngine([r for r in self.rules if r.rule_id in ids])
            self._ko_rows = self._take_samples(eng, eng.flags(self.df), self.check_list)
        return self._ko_rows

    def _take_samples(self, eng: RuleEngine, flagged: DataFrame, results):
        """Fill each fired result's sample from one collect; return the
        merged KO rows (no Spark job when nothing fired)."""
        cols = list(self.output_columns or self.df.columns)
        if not any(c.flag_ko for c in results):
            import pandas as pd

            return pd.DataFrame(columns=cols + [eng.FIRED_DESC, eng.ONLY_WARNING])
        samples, merged = eng.ko_samples(flagged, cols)
        for c in results:
            if c.rule_id in samples:
                c.ko_rows, c.flag_over_max_rows = samples[c.rule_id]
        return merged

    def annotate(self) -> DataFrame:
        """Per-row fired-rules + keep frame for ALL accumulated rules
        (replaces _create_ko_rows union/merge, table.py:191-232)."""
        return RuleEngine(self.rules).annotate(self.df)

    def results_df(self) -> DataFrame:
        """One row per evaluated check. Staged as an Arrow table, so the
        frame is a LocalRelation: no Spark job, no Python worker."""
        rows = [
            {"table": self.name, "rule_id": c.rule_id, "description": c.description,
             "severity": c.severity, "n_ko": c.n_ko, "n_rows": c.n_rows,
             "flag_ko": c.flag_ko}
            for c in self.check_list
        ]
        return self._base_df.sparkSession.createDataFrame(
            pa.Table.from_pylist(rows, schema=_RESULTS_SCHEMA)
        )

    # -- rollup predicates (reference table.py:173-190) ----------------------
    def passed_all_checks(self, consider_warnings: bool = False) -> bool:
        """True iff no evaluated check failed (reference table.py:173-177).

        Deviation, documented: the reference body returns ``len(failed) > 0``
        and, for consider_warnings=False, drops the flag_ko filter — evident
        dead/buggy code (the method is shadowed by the bool attribute set at
        reference table.py:67 and never called). We implement the truth
        table the name and signature promise: a fail-severity KO always
        fails the table; a warning-severity KO fails it only when
        consider_warnings=True."""
        failed = [c for c in self.check_list if c.flag_ko]
        if not consider_warnings:
            failed = [c for c in failed if c.severity != "warning"]
        return len(failed) == 0

    def over_n_max_rows_output(self, consider_warnings: bool = False) -> bool:
        """True iff any check's KO-row sample hit its max_rows cap
        (reference table.py:179-183): warnings count only when
        consider_warnings=True."""
        ck = self.check_list
        if not consider_warnings:
            ck = [c for c in ck if c.severity != "warning"]
        return any(c.flag_over_max_rows for c in ck)

    def any_warning(self, flag_only_fail: bool = True) -> bool:
        """True iff any warning-severity check exists (flag_only_fail=False)
        or actually fired (flag_only_fail=True) — reference
        table.py:185-189 (its `flag_only_fail: True` annotation is read as
        the intended default)."""
        warns = [c for c in self.check_list if c.severity == "warning"]
        if flag_only_fail:
            warns = [c for c in warns if c.n_ko > 0]
        return len(warns) > 0

    # -- rollups (reference table.py:151-165) --------------------------------
    def calculate_result_info(self) -> dict:
        ck = self.check_list
        return {
            "n_checks": len(ck),
            "n_ko_checks": sum(1 for c in ck if c.flag_ko and c.severity == "fail"),
            "n_warning_checks": sum(
                1 for c in ck if c.flag_ko and c.severity == "warning"
            ),
            "max_n_ko": max((c.n_ko for c in ck), default=0),
            "total_n_ko": sum(c.n_ko for c in ck),
        }
