"""The benchmark workloads: one timed call each, the check every call must
pass, and the oracle check made once per run.

A workload object is built once per run on a live SparkSession and the
generated input directory. ``call()`` does one unit of user work up to its
user-visible output (parquet files, per-check KO counts); ``check(result)``
returns an error string or None; ``verify(result)`` compares one call's full
output with the oracle outputs computed at generation time (the pandas
oracle or DuckDB) and returns an error string or None; ``oracle(data)``
computes those outputs.

``warmup_calls`` is the fixed number of untimed calls between the cold call
and the timed window, the same on both sides of a comparison. Warm calls
keep speeding up for tens of calls while the JIT compiles the driver-side
code; the count skips the steepest part of each workload's curve (README:
noise).
"""

from __future__ import annotations

import glob
import json
import os
import shutil


def _meta(data: str) -> dict:
    with open(os.path.join(data, "_done.json")) as fh:
        return json.load(fh)


def _expected(data: str) -> dict:
    with open(os.path.join(data, "_expected.json")) as fh:
        return json.load(fh)


def _parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


class CrawlFilter:
    """``quality_filter.run_pipeline`` on a seeded pages fixture, default
    config, a fresh output directory per call."""

    name = "crawl_filter"
    warmup_calls = 2

    def __init__(self, spark, data: str, work: str):
        self.spark = spark
        self.data = data
        self.pages = os.path.join(data, "pages")
        self.items = _meta(data)["items"]
        self.work = work
        self.n_calls = 0
        self.kept: int | None = None

    def call(self) -> dict:
        from data_quality_spark.pipeline import quality_filter as QF

        out = os.path.join(self.work, f"qf-out-{self.n_calls}")
        self.n_calls += 1
        shutil.rmtree(out, ignore_errors=True)
        stats = QF.run_pipeline(self.spark, self.pages, out)
        return {"kept": stats["rows_kept"], "out": out}

    def out_bytes(self, res: dict) -> int:
        return _parquet_bytes(os.path.join(res["out"], "kept")) + _parquet_bytes(
            os.path.join(res["out"], "metrics")
        )

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    def check(self, res: dict) -> str | None:
        if self.kept is None:
            self.kept = res["kept"]
        if not 0 < res["kept"] < self.items:
            return f"kept {res['kept']} of {self.items} pages"
        if res["kept"] != self.kept:
            return f"kept {res['kept']} pages, first call kept {self.kept}"
        return None

    def verify(self, res: dict) -> str | None:
        """Keep verdicts of the written output against the pandas oracle
        over every input page (computed at generation): F1 must be 1.0."""
        import pyarrow.parquet as pq

        want = set(_expected(self.data)["kept_urls"])
        got = set(
            pq.read_table(os.path.join(res["out"], "kept"), columns=["url"])
            .column("url")
            .to_pylist()
        )
        tp, fp, fn = len(want & got), len(got - want), len(want - got)
        if fp or fn:
            f1 = 2 * tp / (2 * tp + fp + fn)
            return f"keep verdicts differ from the oracle: F1={f1:.6f} fp={fp} fn={fn}"
        if len(want) != res["kept"]:
            return f"kept {res['kept']} rows, the oracle keeps {len(want)}"
        return None

    @staticmethod
    def oracle(data: str) -> dict:
        """Urls the pandas oracle keeps (pipeline.oracle.annotate_pandas)."""
        import pyarrow.parquet as pq

        from data_quality_spark.pipeline import oracle as O

        ora = O.annotate_pandas(pq.read_table(os.path.join(data, "pages")).to_pandas())
        return {"kept_urls": sorted(ora.loc[ora["keep"], "url"])}


# --------------------------------------------------------------------------
# rule_checks: the reference check set over three multi-file tables
# --------------------------------------------------------------------------

COMMENT_RE = "^[a-z]+( [a-z]+)*$"
DATE_FMT = "yyyy-MM-dd"


def build_rule_session(spark, data: str):
    """A fresh QualitySession with the reference check set registered.
    Returns (session, {table: QualityTable}). Each call builds its own
    session, as a user re-running a quality job would."""
    from data_quality_spark.session import QualitySession

    s = QualitySession(spark)
    li = s.table_from_parquet(os.path.join(data, "lineitem"), "lineitem",
                              index_column="l_id")
    orders = s.table_from_parquet(os.path.join(data, "orders"), "orders",
                                  index_column="o_orderkey")
    s.del_table(orders)  # a dimension only: not itself reported
    ev = s.table_from_parquet(os.path.join(data, "events"), "events",
                              index_column="event_id")
    li.check_index_not_null()
    li.check_duplicate_index()
    li.check_not_empty_column("l_shipmode")
    li.check_datetime_format("l_shipdate", fmt=DATE_FMT)
    li.check_columns_between_values("l_quantity", min_value=1, max_value=50)
    li.check_values_in_list("l_returnflag", ["A", "N", "R"])
    li.check_column_match_regex("l_comment", COMMENT_RE)
    li.check_custom_condition("l_extendedprice < l_quantity",
                              rule_id="custom_price_below_qty")
    li.check_match_dimension_table(orders, "l_orderkey", "o_orderkey")
    li.check_dates_order_dimension_table(
        orders, "l_orderkey", "o_orderkey", "l_shipdate", "o_orderdate", ">=")
    ev.check_period_intersection_rows("start_ts", "end_ts", id_columns="user_id")
    return s, {"lineitem": li, "events": ev}


# check kind -> (table, rule_id); the kinds the traced run times one by one
RULE_KINDS = {
    "index_not_null": ("lineitem", "index_not_null__l_id"),
    "duplicate_index": ("lineitem", "duplicate_index__l_id"),
    "not_empty": ("lineitem", "not_empty__l_shipmode"),
    "datetime_format": ("lineitem", "datetime_format__l_shipdate"),
    "between_values": ("lineitem", "between_values__l_quantity"),
    "values_in_list": ("lineitem", "values_in_list__l_returnflag"),
    "match_regex": ("lineitem", "match_regex__l_comment"),
    "custom_condition": ("lineitem", "custom_price_below_qty"),
    "match_dimension": ("lineitem", "match_dimension__l_orderkey"),
    "dates_order_dimension": ("lineitem",
                              "dates_order_dim__l_shipdate_>=_o_orderdate"),
    "period_intersection": ("events", "period_intersection__start_ts_end_ts"),
}

# DuckDB twins: n_ko per rule over the same parquet, written from the
# reference semantics (NULL or '' is empty; failed casts never fire)
_EMPTY = "({c} IS NULL OR CAST({c} AS VARCHAR) = '')"
_FULL = "({c} IS NOT NULL AND CAST({c} AS VARCHAR) <> '')"
DUCK_KO = {
    "index_not_null": f"SELECT count(*) FROM li WHERE {_EMPTY.format(c='l_id')}",
    "duplicate_index": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_id')}
        AND CAST(l_id AS VARCHAR) IN (SELECT CAST(l_id AS VARCHAR) FROM li
          WHERE {_FULL.format(c='l_id')} GROUP BY 1 HAVING count(*) > 1)""",
    "not_empty": f"SELECT count(*) FROM li WHERE {_EMPTY.format(c='l_shipmode')}",
    "datetime_format": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_shipdate')}
        AND try_strptime(l_shipdate, '%Y-%m-%d') IS NULL""",
    "between_values": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_quantity')}
        AND (l_quantity < 1 OR l_quantity > 50)""",
    "values_in_list": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_returnflag')}
        AND l_returnflag NOT IN ('A', 'N', 'R')""",
    "match_regex": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_comment')}
        AND NOT regexp_matches(l_comment, '{COMMENT_RE}')""",
    "custom_condition": "SELECT count(*) FROM li WHERE l_extendedprice < l_quantity",
    "match_dimension": f"""SELECT count(*) FROM li WHERE {_FULL.format(c='l_orderkey')}
        AND l_orderkey NOT IN (SELECT o_orderkey FROM o)""",
    "dates_order_dimension": """SELECT count(*) FROM li JOIN o ON l_orderkey = o_orderkey
        WHERE try_strptime(l_shipdate, '%Y-%m-%d') < try_strptime(o_orderdate, '%Y-%m-%d')""",
    "period_intersection": """WITH a AS (
          SELECT user_id, start_ts, end_ts,
            coalesce(lag(end_ts) OVER w > start_ts, false) AS c
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY start_ts, end_ts))
        SELECT count(*) FROM (
          SELECT c OR coalesce(lead(c) OVER w, false) AS v
          FROM a WINDOW w AS (PARTITION BY user_id ORDER BY start_ts, end_ts))
        WHERE v""",
}


def duck_ko(data: str) -> dict[str, int]:
    """n_ko per rule_id from DuckDB over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for view, table in (("li", "lineitem"), ("o", "orders"), ("ev", "events")):
            path = os.path.join(data, table, "*.parquet")
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
        return {
            rule_id: int(con.execute(DUCK_KO[kind]).fetchone()[0])
            for kind, (_, rule_id) in RULE_KINDS.items()
        }
    finally:
        con.close()


class RuleChecks:
    """One QualitySession over lineitem/orders/events with the reference
    check set; each table's checks are evaluated by ``QualityTable.run``
    (per-check KO counts, one pass per table)."""

    name = "rule_checks"
    warmup_calls = 4

    def __init__(self, spark, data: str, work: str):
        self.spark = spark
        self.data = data
        self.work = work
        self.items = _meta(data)["items"]
        self.expected = _expected(data)["n_ko"]

    def call(self, get_rows_flag: bool = False) -> dict:
        s, tables = build_rule_session(self.spark, self.data)
        ko = {}
        for t in tables.values():
            for res in t.run(get_rows_flag=get_rows_flag):
                ko[res.rule_id] = res.n_ko
        return {"ko": ko, "session": s}

    def cleanup(self, res: dict) -> None:
        pass

    def check(self, res: dict) -> str | None:
        bad = {
            r: (res["ko"].get(r), n)
            for r, n in self.expected.items()
            if res["ko"].get(r) != n
        }
        if bad:
            return f"n_ko (spark, duckdb) differ: {bad}"
        if not all(self.expected.values()):
            return f"a planted fault class is missing: {self.expected}"
        return None

    def verify(self, res: dict) -> str | None:
        return self.check(res)

    @staticmethod
    def oracle(data: str) -> dict:
        return {"n_ko": duck_ko(data)}


WORKLOADS = {w.name: w for w in (CrawlFilter, RuleChecks)}
