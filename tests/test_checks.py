"""Golden-marked-row tests for the 15 checks — the reference's test strategy
(SURVEY.md §5): each fixture row carries `expect_ko` (the reference marks
expected failures in a `check_description` column, test_df.xlsx /
test_check_dataframe.py:41-53). We run the rule and compare the KO index set.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_quality_spark.rules import checks as C
from data_quality_spark.rules.core import RuleEngine


def ko_ids(spark, rows, schema, rule, id_col="idx"):
    df = spark.createDataFrame(rows, schema)
    eng = RuleEngine([rule])
    ann = eng.flags(df)
    flag = f"__ko_{rule.rule_id}"
    return {r[id_col] for r in ann.where(F.col(flag)).select(id_col).collect()}


def expected(rows, ko_pos):
    return {r[0] for i, r in enumerate(rows) if i in ko_pos}


# --- #1/#3 null/empty (NULL ∪ '' semantics, utils.py:99-118) ---------------
def test_index_not_null(spark):
    rows = [(1, "a"), (2, None), (3, ""), (4, " "), (5, "x")]
    got = ko_ids(spark, rows, "idx int, A string", C.index_not_null("A"))
    assert got == {2, 3}


# --- #2 duplicates (values_duplicate.py: all members of dup groups) --------
def test_duplicate_values(spark):
    rows = [(1, "a"), (2, "b"), (3, "a"), (4, None), (5, ""), (6, "b"), (7, "c")]
    got = ko_ids(spark, rows, "idx int, A string", C.duplicate_values("A"))
    assert got == {1, 2, 3, 6}


def test_duplicate_values_string_cast(spark):
    # 1.0 and 1 collide after string cast? Reference casts to string:
    # distinct on cast(col as string). Within one typed column, 1.0 stays 1.0.
    rows = [(1, 1.0), (2, 1.0), (3, 2.0), (4, None)]
    got = ko_ids(spark, rows, "idx int, A double", C.duplicate_values("A"))
    assert got == {1, 2}


# --- #4 datetime format (datetime_format.py) --------------------------------
def test_datetime_format(spark):
    rows = [(1, "2021-01-02"), (2, "2021-13-40"), (3, "-"), (4, None), (5, "")]
    got = ko_ids(
        spark, rows, "idx int, A string", C.datetime_format("A", "yyyy-MM-dd")
    )
    assert got == {2, 3}  # null/empty are NOT KO (precondition non-empty)


def test_datetime_format_dmy(spark):
    rows = [(1, "02-01-2021"), (2, "2021-01-02"), (3, "31-12-1999")]
    got = ko_ids(
        spark, rows, "idx int, A string", C.datetime_format("A", "dd-MM-yyyy")
    )
    assert got == {2}


# --- #5 between values (column_between_values.py:38-51) --------------------
def test_between_values(spark):
    rows = [(1, "5"), (2, "0"), (3, "10"), (4, "-1"), (5, "11"), (6, "x"), (7, None)]
    r = C.between_values("A", 0, 10)
    got = ko_ids(spark, rows, "idx int, A string", r)
    assert got == {4, 5}  # bounds included; unparseable 'x' not KO (NaN semantics)


def test_between_values_exclusive(spark):
    rows = [(1, 0.0), (2, 5.0), (3, 10.0)]
    r = C.between_values("A", 0, 10, min_included=False, max_included=False)
    got = ko_ids(spark, rows, "idx int, A double", r)
    assert got == {1, 3}


# --- #6 between dates --------------------------------------------------------
def test_between_dates(spark):
    rows = [
        (1, "2021-06-01"), (2, "2019-01-01"), (3, "2022-12-31"), (4, "bad"), (5, None),
    ]
    r = C.between_dates(
        "A", "yyyy-MM-dd", min_date="2020-01-01", max_date="2022-01-01"
    )
    got = ko_ids(spark, rows, "idx int, A string", r)
    assert got == {2, 3}  # 'bad' fails precondition (cast succeeded), not KO here


def test_date_not_in_future(spark):
    rows = [(1, "2020-01-01"), (2, "2099-01-01")]
    r = C.date_not_in_future("A", "yyyy-MM-dd")
    got = ko_ids(spark, rows, "idx int, A string", r)
    assert got == {2}


# --- #7/#8 order checks (dates_order.py, values_order.py) -------------------
def test_values_order(spark):
    rows = [
        (1, 1.0, 2.0, 3.0), (2, 3.0, 2.0, 1.0), (3, 1.0, 1.0, 2.0),
        (4, None, 1.0, 2.0), (5, 2.0, None, 1.0),
    ]
    r = C.values_order(["A", "B", "C"])
    got = ko_ids(spark, rows, "idx int, A double, B double, C double", r)
    assert got == {2, 5}  # ties OK non-strict; NULLs coalesce to not-violated


def test_values_order_strict(spark):
    rows = [(1, 1.0, 2.0, 3.0), (2, 1.0, 1.0, 2.0)]
    r = C.values_order(["A", "B", "C"], strictly_ascending=True)
    got = ko_ids(spark, rows, "idx int, A double, B double, C double", r)
    assert got == {2}


def test_dates_order(spark):
    rows = [
        (1, "2021-01-01", "2021-02-01"),
        (2, "2021-03-01", "2021-02-01"),
        (3, "2021-01-01", "2021-01-01"),
    ]
    r = C.dates_order(["A", "B"], {"A": "yyyy-MM-dd", "B": "yyyy-MM-dd"})
    got = ko_ids(spark, rows, "idx int, A string, B string", r)
    assert got == {2}


# --- #9 values in list (values_in_list.py) ----------------------------------
def test_values_in_list(spark):
    rows = [(1, "a"), (2, "B"), (3, "c"), (4, None), (5, "")]
    r = C.values_in_list("A", ["a", "b"])
    got = ko_ids(spark, rows, "idx int, A string", r)
    assert got == {2, 3}
    r2 = C.values_in_list("A", ["a", "b"], case_sensitive=False, rule_id="ci")
    got2 = ko_ids(spark, rows, "idx int, A string", r2)
    assert got2 == {3}


# --- #10 match regex (match_regex.py) ----------------------------------------
def test_match_regex(spark):
    rows = [(1, "abc@x.it"), (2, "nope"), (3, None)]
    r = C.match_regex("A", r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$")
    got = ko_ids(spark, rows, "idx int, A string", r)
    assert got == {2}


# --- #11 custom condition (custom.py) ----------------------------------------
def test_custom_condition(spark):
    rows = [(1, 3), (2, 4)]
    r = C.custom_condition("A = 3")
    got = ko_ids(spark, rows, "idx int, A int", r)
    assert got == {1}


# --- #12 match dimension (match_dimension_table.py) --------------------------
def test_match_dimension_single_key(spark):
    fact = [(1, "10"), (2, "20"), (3, "99"), (4, None)]
    dim = spark.createDataFrame([(10,), (20,)], "id int")
    r = C.match_dimension(dim, "fk", "id")
    got = ko_ids(spark, fact, "idx int, fk string", r)
    assert got == {3}  # string-cast '10'==cast(10); NULL fk not KO (precondition)


def test_match_dimension_float_int_keys(spark):
    # float fact key 1.0 vs int dim key 1: reference normalizes '1.0'→'1'
    # (utils.py:121-125); our string-cast of 1.0 is '1.0' — so normalize
    # by casting through a canonical numeric first in user code. Here we
    # assert the documented string-cast semantics instead.
    fact = [(1, 10.0), (2, 30.0)]
    dim = spark.createDataFrame([(10.0,), (20.0,)], "id double")
    r = C.match_dimension(dim, "fk", "id")
    got = ko_ids(spark, fact, "idx int, fk double", r)
    assert got == {2}


def test_match_dimension_composite_key(spark):
    fact = [(1, "a", "1"), (2, "a", "2"), (3, "b", "1")]
    dim = spark.createDataFrame([("a", 1), ("b", 1)], "k1 string, k2 int")
    r = C.match_dimension(dim, ["f1", "f2"], ["k1", "k2"])
    got = ko_ids(spark, fact, "idx int, f1 string, f2 string", r)
    assert got == {2}


# --- #13/#14 order vs dimension ----------------------------------------------
def test_dates_order_dimension(spark):
    dim = spark.createDataFrame(
        [(1, "2021-01-01"), (2, "2021-06-01")], "id int, registration_date string"
    )
    fact = [
        (1, 1, "2021-02-01"),  # ok: selling >= registration
        (2, 2, "2021-02-01"),  # KO: selling < registration
        (3, 3, "2021-02-01"),  # no dim match → not KO (coalesce false)
    ]
    r = C.dates_order_dimension(
        dim, "user_id", "id", "selling_date", "registration_date", ">="
    )
    got = ko_ids(spark, fact, "idx int, user_id int, selling_date string", r)
    assert got == {2}


def test_values_order_dimension(spark):
    dim = spark.createDataFrame([(1, 2), (2, 5)], "id int, max_products int")
    fact = [(1, 1, 1), (2, 1, 3), (3, 2, 5)]
    r = C.values_order_dimension(dim, "user_id", "id", "n_products", "max_products", "<=")
    got = ko_ids(spark, fact, "idx int, user_id int, n_products int", r)
    assert got == {2}


def _fact_side(df) -> list[str]:
    """Node names of df's physical plan (read, not run) along the fact
    side: every subtree except the build child of a BroadcastHashJoin."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the pre-execution plan, exchanges placed

    def walk(n):
        yield n.nodeName()
        if n.nodeName() == "BroadcastHashJoin":
            build_right = n.buildSide().toString() == "BuildRight"
            kids = [n.left() if build_right else n.right()]
        else:
            ch = n.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            yield from walk(k)

    return list(walk(plan))


def test_join_shapes_dim_broadcast_and_unhinted_lsh(spark):
    """The dimension checks always broadcast the dim side, so the fact side
    never shuffles; the LSH pair finders' verify joins carry no hint (AQE
    decides from measured sizes). Read from the plans, no job runs."""
    from data_quality_spark.ops import dedup as D
    from data_quality_spark.ops import similarity as S

    fact = spark.createDataFrame(
        [(1, 1, "2021-02-01"), (2, 2, "2021-02-01")],
        "idx int, user_id int, selling_date string",
    )
    dim = spark.createDataFrame(
        [(1, "2021-01-01"), (2, "2021-06-01")], "id int, registration_date string"
    )
    eng = RuleEngine([
        C.match_dimension(dim, "user_id", "id"),
        C.dates_order_dimension(
            dim, "user_id", "id", "selling_date", "registration_date", ">="
        ),
    ])
    names = _fact_side(eng.flags(fact))
    assert names.count("BroadcastHashJoin") == 2
    assert [n for n in names if "Exchange" in n] == []

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on a mat")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(1, [0.1] * S.EMB_DIM), (2, [0.2] * S.EMB_DIM)],
        "vec_id long, v array<double>",
    )
    for pairs in (
        D.minhash_lsh_pairs(docs, "doc_id", "text"),
        S.cosine_lsh_pairs(vecs, "vec_id", "v"),
    ):
        opt = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in opt and "strategy=" not in opt


# --- #15 period intersection (period_intersection.py) ------------------------
def _periods(spark, rows):
    return rows


def test_period_intersection_no_id(spark):
    rows = [
        (1, "2021-01-01", "2021-01-10"),
        (2, "2021-01-05", "2021-01-20"),  # overlaps prev → both 1 and 2 KO
        (3, "2021-02-01", "2021-02-10"),
        (4, "2021-02-10", "2021-02-20"),  # touches prev end — OK (extremes incl.)
    ]
    r = C.period_intersection("s", "e", fmt="yyyy-MM-dd")
    got = ko_ids(spark, rows, "idx int, s string, e string", r)
    assert got == {1, 2}


def test_period_intersection_extremes_exclude(spark):
    rows = [
        (1, "2021-02-01", "2021-02-10"),
        (2, "2021-02-10", "2021-02-20"),  # touching now violates
    ]
    r = C.period_intersection("s", "e", extremes_exclude=True, fmt="yyyy-MM-dd")
    got = ko_ids(spark, rows, "idx int, s string, e string", r)
    assert got == {1, 2}


def test_period_intersection_by_id(spark):
    rows = [
        (1, 1, "2021-01-01", "2021-01-10"),
        (2, 1, "2021-01-05", "2021-01-20"),  # overlap within user 1
        (3, 2, "2021-01-05", "2021-01-20"),  # user 2 alone — fine
        (4, 2, "2021-03-01", "2021-03-10"),
    ]
    r = C.period_intersection("s", "e", id_columns="uid", fmt="yyyy-MM-dd")
    got = ko_ids(spark, rows, "idx int, uid int, s string, e string", r)
    assert got == {1, 2}


# --- engine: annotate + metrics in one pass ----------------------------------
def test_engine_annotate_and_metrics(spark):
    rows = [(1, None, 5.0), (2, "a", 50.0), (3, "a", 5.0), (4, "b", None)]
    df = spark.createDataFrame(rows, "idx int, name string, v double")
    rules = [
        C.not_empty_column("name"),
        C.between_values("v", 0, 10, rule_id="v_range", severity="warning"),
        C.duplicate_values("name"),
    ]
    eng = RuleEngine(rules)
    ann = eng.annotate(df).orderBy("idx").collect()
    assert ann[0]["fired_rules"] == ["not_empty__name"]
    assert ann[1]["fired_rules"] == ["v_range", "duplicate__name"]
    assert not ann[0]["keep"]
    assert ann[1]["keep"] is False  # duplicate severity=fail fired
    # row 2 fired only v_range(warning) + duplicate(fail) → keep False
    m = {r["rule_id"]: r["n_ko"] for r in eng.metrics(df).collect()}
    assert m == {"not_empty__name": 1, "v_range": 1, "duplicate__name": 2}


def test_ko_rows_cap(spark):
    rows = [(i, None) for i in range(10)]
    df = spark.createDataFrame(rows, "idx int, A string")
    eng = RuleEngine([C.not_empty_column("A", max_rows=3)])
    samples, _ = eng.ko_samples(eng.flags(df), df.columns)
    sample, over = samples["not_empty__A"]
    assert len(sample) == 3 and over  # check.py:150-154 over-cap flag
    # every sample row carries the check description (check.py:155)
    assert "check_description" in sample.columns
    assert (sample["check_description"] == "Null values in column A").all()


def test_norm_key_scientific_notation(spark):
    """Doubles Spark renders in scientific notation (≥1e7, <1e-3) must still
    normalize to the plain-decimal form python/DuckDB produce, and string
    keys that merely contain 'e'/'E' must pass through untouched."""
    rows = [(1, 10000000.0, "keep-E-literal"), (2, 0.0001, "2.5e3"),
            (3, 1.5, "x"), (4, 123.450, "y")]
    df = spark.createDataFrame(rows, "i int, d double, s string")
    got = {
        r["i"]: (r["nd"], r["ns"])
        for r in df.select(
            "i", C.norm_key("d").alias("nd"), C.norm_key("s").alias("ns")
        ).collect()
    }
    assert got[1][0] == "10000000"
    assert got[2][0] == "0.0001"
    assert got[3][0] == "1.5"
    assert got[4][0] == "123.45"
    assert got[1][1] == "keep-E-literal"  # not a number — untouched
    assert got[2][1] == "2500"  # a real sci-notation NUMBER string normalizes
    # decimal-overflow / tiny-value guard: beyond decimal(38,18)'s exact
    # range the scientific rendering is KEPT (never NULLed, never collapsed
    # toward zero) — matching python/DuckDB, which also go scientific there
    extremes = spark.createDataFrame(
        [(1, 1e20), (2, 1e-19), (3, -3e21)], "i int, d double"
    )
    got2 = {
        r["i"]: r["nd"]
        for r in extremes.select("i", C.norm_key("d").alias("nd")).collect()
    }
    assert got2[1] == "1.0E20" and got2[3] == "-3.0E21"  # kept, not NULL
    assert got2[2] == "1.0E-19"  # not collapsed to "0"
    # and a big-double FK matches an integer dim key through the join path
    fact = spark.createDataFrame([(1, 10000000.0)], "id int, fk double")
    dim = spark.createDataFrame([(10000000,)], "pk long")
    rule = C.match_dimension(dim, "fk", "pk")
    eng = RuleEngine([rule])
    assert eng.flags(fact).where(F.col(f"__ko_{rule.rule_id}")).count() == 0


def test_order_dimension_composite_fk_and_pair_fanout(spark):
    """Checks 13/14 must accept COMPOSITE foreign keys (2-column dim key,
    float-normalized) and fan out over left×right column pairs, one rule per
    pair (reference table.py:737-776 loop; multi-key dims tested there at
    test_check_bigquery.py:251-291). Expected KOs hand-computed."""
    from data_quality_spark.rules.table import QualityTable

    fact = spark.createDataFrame(
        [
            # (id, ka(double), kb, v1, v2): dim value for (ka,kb) below
            (1, 1.0, "x", 5.0, 5.0),    # dim v=10: v1<=10 ok, v2<=10 ok
            (2, 1.0, "x", 20.0, 5.0),   # v1 violates <=10
            (3, 2.0, "y", 30.0, 40.0),  # dim v=25: both violate
            (4, 9.0, "z", 100.0, 100.0),  # no dim match → NULL → not KO
        ],
        "id int, ka double, kb string, v1 double, v2 double",
    )
    dim = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 25.0)], "da int, db string, dv double"
    )
    t = QualityTable(fact, name="fact")
    rules = t.check_values_order_dimension_table(
        dim, foreign_keys=["ka", "kb"], primary_keys=["da", "db"],
        left_columns=["v1", "v2"], right_columns="dv", operator="<=",
    )
    assert len(rules) == 2  # 2 left × 1 right pairs
    eng = RuleEngine(rules)
    flags = eng.flags(fact)
    ko = {
        r.rule_id: sorted(
            x["id"] for x in flags.where(F.col(f"__ko_{r.rule_id}")).collect()
        )
        for r in rules
    }
    # double FK 1.0 joins int dim key 1 (float normalization)
    assert ko[rules[0].rule_id] == [2, 3]  # v1 > dv
    assert ko[rules[1].rule_id] == [3]     # v2 > dv
    m = {r["rule_id"]: r["n_ko"] for r in eng.metrics(fact).collect()}
    assert m[rules[0].rule_id] == 2 and m[rules[1].rule_id] == 1


def test_period_intersection_unkeyed_routes_to_scale_path(spark):
    """id_columns=None must evaluate via the range-partitioned global
    operator (no lit(1) window) and return EXACTLY the rows the reference's
    global window semantics produce (period_intersection.py:31-50)."""
    import datetime as dt

    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        start = base + dt.timedelta(minutes=3 * i)
        dur = 5 if i % 7 == 0 else 2
        rows.append((i, start, start + dt.timedelta(minutes=dur)))
    rows.append((9000, None, base))  # null start: never KO, must not crash
    rows.append((9001, base + dt.timedelta(days=2), None))  # null end
    df = spark.createDataFrame(
        rows, "event_id long, s timestamp, e timestamp"
    )
    rule = C.period_intersection("s", "e", id_columns=None,
                                 tiebreak_cols=["event_id"])
    eng = RuleEngine([rule])
    got = sorted(
        r["event_id"]
        for r in eng.flags(df).where(F.col(f"__ko_{rule.rule_id}")).collect()
    )
    # single-task global window reference computation
    w = Window.orderBy("s", "e", "event_id")
    chk = F.coalesce(F.lag("e").over(w) > F.col("s"), F.lit(False))
    ko = (
        df.withColumn("chk", chk)
        .withColumn("d", F.col("chk") | F.coalesce(F.lead("chk").over(w), F.lit(False)))
        .where("d AND s IS NOT NULL AND e IS NOT NULL")
    )
    exp = sorted(r["event_id"] for r in ko.collect())
    assert got == exp and len(exp) > 50
    # and the plan must contain the mapInPandas stage, not a global window
    plan = eng.flags(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_ignore_filters(spark, sf_dir):
    """Reference check.py:71-82: rows matching an ignore filter are excluded."""
    from data_quality_spark.session import QualitySession

    s = QualitySession(spark)
    t = s.table_from_parquet(f"{sf_dir}/orders.parquet", "orders",
                             index_column="o_orderkey")
    base = t.check_columns_between_values(
        "o_totalprice", min_value=0, max_value=100000)
    r_all = t.run(only=[r.rule_id for r in base])[0]
    t2 = s.table_from_parquet(f"{sf_dir}/orders.parquet", "orders2",
                              index_column="o_orderkey")
    filt = t2.check_columns_between_values(
        "o_totalprice", min_value=0, max_value=100000,
        ignore_filters=["o_orderstatus = 'O'"])
    r_filt = t2.run(only=[r.rule_id for r in filt])[0]
    assert 0 < r_filt.n_ko < r_all.n_ko


def test_norm_key_type_gate_is_noop(spark):
    """The round-3 dtype gate (integral/boolean/date → plain cast) must be
    value-identical to the full normalization chain on those types, and the
    gated plan must carry no regexp over the key."""
    import datetime

    from pyspark.sql.types import DateType, DoubleType, LongType

    rows = [
        (1, 12345678901234, True, datetime.date(2024, 2, 29), 1.50),
        (2, -7, False, datetime.date(1999, 12, 31), 10000000.0),
        (3, 0, None, None, None),
    ]
    df = spark.createDataFrame(rows, "i int, l long, b boolean, d date, f double")
    for col, dt in [("l", LongType()), ("b", None), ("d", DateType())]:
        dtype = dt or df.schema[col].dataType
        got = df.select(
            "i",
            C.norm_key(col, dtype).alias("gated"),
            C.norm_key(col).alias("full"),
        ).collect()
        for r in got:
            assert r["gated"] == r["full"], (col, r)
    # doubles are NOT gated (normalization is semantic there)
    full = {r["i"]: r["n"] for r in df.select(
        "i", C.norm_key("f", DoubleType()).alias("n")).collect()}
    assert full[1] == "1.5" and full[2] == "10000000"
    # plan check: a bigint-keyed composite key contains no regexp
    expr = C.composite_key(["l"], df.schema)
    plan = df.select(expr.alias("k"))._jdf.queryExecution().analyzed().toString()
    assert "regexp_replace" not in plan
    # while an ungated one does
    plan_full = df.select(C.composite_key(["l"]).alias("k"))._jdf.queryExecution().analyzed().toString()
    assert "regexp_replace" in plan_full


def test_rollup_predicates_truth_table(spark):
    """Reference rollup predicates passed_all_checks /
    over_n_max_rows_output / any_warning (reference table.py:173-190),
    exercised across the fail × warning × over-cap combinations. The
    reference body of passed_all_checks is shadowed dead code (bool attr at
    its table.py:67) — parity here is with the documented intended truth
    table."""
    from data_quality_spark.rules.core import CheckResult
    from data_quality_spark.rules.table import QualityTable

    df = spark.createDataFrame([(1,)], "id int")

    def mk(sev, n_ko, over=False):
        return CheckResult(
            rule_id=f"r_{sev}_{n_ko}_{over}", description="d", severity=sev,
            n_ko=n_ko, n_rows=1, flag_ko=n_ko > 0, flag_over_max_rows=over,
        )

    # all green
    t = QualityTable(df)
    t.check_list = [mk("fail", 0), mk("warning", 0)]
    assert t.passed_all_checks() and t.passed_all_checks(True)
    assert not t.any_warning(flag_only_fail=True)
    assert t.any_warning(flag_only_fail=False)  # a warning check EXISTS
    assert not t.over_n_max_rows_output() and not t.over_n_max_rows_output(True)

    # warning fired, no fail
    t.check_list = [mk("fail", 0), mk("warning", 3)]
    assert t.passed_all_checks()                  # warnings ignored
    assert not t.passed_all_checks(True)          # counted when asked
    assert t.any_warning(flag_only_fail=True)

    # fail fired
    t.check_list = [mk("fail", 2), mk("warning", 0)]
    assert not t.passed_all_checks() and not t.passed_all_checks(True)
    assert not t.any_warning(flag_only_fail=True)

    # over-cap only on the warning check
    t.check_list = [mk("fail", 1), mk("warning", 5, over=True)]
    assert not t.over_n_max_rows_output()         # fail checks under cap
    assert t.over_n_max_rows_output(True)

    # over-cap on a fail check
    t.check_list = [mk("fail", 200, over=True)]
    assert t.over_n_max_rows_output() and t.over_n_max_rows_output(True)


def _jobs_in_group(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by a fresh job group
    after the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_jobs_and_lazy_metrics_plan(spark, sf_dir):
    """QualityTable.run over row-local checks runs only the metrics
    aggregate's jobs (its shuffle stage and the collect): the metrics are
    one lazy Catalyst plan, not a collected row re-wrapped by
    createDataFrame(list), whose extra job runs in Python workers. Building
    the metrics frame runs no job, and its plan holds no LogicalRDD."""
    import pandas as pd

    from data_quality_spark.session import QualitySession

    path = f"{sf_dir}/orders.parquet"
    t = QualitySession(spark).table_from_parquet(
        path, "orders", index_column="o_orderkey")
    rules = (
        t.check_index_not_null()
        + t.check_values_in_list("o_orderstatus", ["F", "O"])
        + t.check_columns_between_values(
            "o_totalprice", min_value=0, max_value=300000)
    )
    eng = RuleEngine(rules)
    m, n_jobs = _jobs_in_group(spark, lambda: eng.metrics(t.df))
    assert n_jobs == 0
    assert "LogicalRDD" not in m._jdf.queryExecution().analyzed().toString()
    assert m.columns == ["rule_id", "description", "severity", "n_ko", "n_rows"]
    empty = RuleEngine([]).metrics(t.df)
    assert empty.schema == m.schema and empty.collect() == []

    res, n_jobs = _jobs_in_group(spark, t.run)
    assert 1 <= n_jobs <= 2  # the counter sees jobs, and only the aggregate's

    pdf = pd.read_parquet(path)
    price = pd.to_numeric(pdf["o_totalprice"])
    want = {
        rules[0].rule_id: int(pdf["o_orderkey"].isna().sum()),
        rules[1].rule_id: int((~pdf["o_orderstatus"].isin(["F", "O"])
                               & pdf["o_orderstatus"].notna()
                               & (pdf["o_orderstatus"] != "")).sum()),
        rules[2].rule_id: int(((price < 0) | (price > 300000)).sum()),
    }
    assert {r.rule_id: r.n_ko for r in res} == want
    assert {r["rule_id"]: r["n_ko"] for r in m.collect()} == want
    assert all(r.n_rows == len(pdf) for r in res)


def test_ko_samples_match_duckdb(spark, sf_dir, tmp_path):
    """run(get_rows_flag=True) against DuckDB, with caps below, at and
    above each check's KO count: every sample row fails its check,
    len == min(n_ko, cap) and flag_over_max_rows == (n_ko > cap). The
    exported merged rows are the samples' rows, once each, carrying
    annotate()'s fired_descriptions."""
    import os

    import duckdb
    import pandas as pd

    from data_quality_spark.session import QualitySession

    path = f"{sf_dir}/orders.parquet"
    status = "values_in_list__o_orderstatus"
    # rule_id -> KO condition, the same text in Spark SQL and DuckDB
    conds = {
        "low": "o_totalprice < 100000",
        "high": "o_totalprice > 200000",
        "urgent": "o_orderpriority = '1-URGENT'",
        "cust7": "o_custkey % 7 = 0",
        status: "o_orderstatus NOT IN ('F', 'O')",
    }
    con = duckdb.connect()
    want = {
        rid: {k for (k,) in con.execute(
            f"SELECT o_orderkey FROM '{path}' WHERE {cond}").fetchall()}
        for rid, cond in conds.items()
    }
    con.close()
    n = {rid: len(keys) for rid, keys in want.items()}
    # over by one, exactly at the cap, far over, under, the table default
    caps = {"low": n["low"] - 1, "high": n["high"], "urgent": 5,
            "cust7": n["cust7"] + 50}

    s = QualitySession(spark)
    t = s.table_from_parquet(path, "orders", index_column="o_orderkey")
    for rid, cond in conds.items():
        if rid in caps:
            t.check_custom_condition(cond, rule_id=rid, n_max_rows_output=caps[rid])
    t.check_values_in_list("o_orderstatus", ["F", "O"])
    caps[status] = t.n_max_rows_output
    res = {c.rule_id: c for c in t.run(get_rows_flag=True)}

    sampled = set()
    for rid in conds:
        c = res[rid]
        assert c.n_ko == n[rid] > 0
        keys = list(c.ko_rows["o_orderkey"])
        assert set(keys) <= want[rid], rid
        assert len(keys) == len(set(keys)) == min(n[rid], caps[rid]), rid
        assert c.flag_over_max_rows == (n[rid] > caps[rid]), rid
        assert (c.ko_rows["check_description"] == c.description).all()
        sampled |= set(keys)
    assert {rid for rid in conds if res[rid].flag_over_max_rows} == {
        "low", "urgent", status}

    out = s.create_export_details_excel(str(tmp_path / "details"))
    merged = pd.read_csv(os.path.join(out, "orders_ko_rows.csv"))
    assert sorted(merged["o_orderkey"]) == sorted(sampled)
    ann = {
        row["o_orderkey"]: row["fired_descriptions"]
        for row in t.annotate()
        .where(F.col("o_orderkey").isin(sorted(sampled)))
        .select("o_orderkey", "fired_descriptions")
        .collect()
    }
    assert dict(zip(merged["o_orderkey"], merged["fired_descriptions"])) == ann


def test_merged_ko_rows_cover_every_run(spark, sf_dir):
    """Checks run in two batches: after the second run, merged_ko_rows
    holds both batches' samples, one row per source row."""
    from data_quality_spark.session import QualitySession

    t = QualitySession(spark).table_from_parquet(
        f"{sf_dir}/orders.parquet", "orders", index_column="o_orderkey")
    t.check_custom_condition("o_custkey % 2 = 0", rule_id="even", n_max_rows_output=30)
    t.check_custom_condition("o_custkey % 3 = 0", rule_id="three", n_max_rows_output=30)
    (even,) = t.run(only=["even"], get_rows_flag=True)
    assert sorted(t.merged_ko_rows()["o_orderkey"]) == sorted(even.ko_rows["o_orderkey"])
    (three,) = t.run(only=["three"], get_rows_flag=True)
    merged = list(t.merged_ko_rows()["o_orderkey"])
    assert len(even.ko_rows) == len(three.ko_rows) == 30
    assert sorted(merged) == sorted(
        set(even.ko_rows["o_orderkey"]) | set(three.ko_rows["o_orderkey"]))


def test_sample_plan_jobs(spark, sf_dir, tmp_path):
    """Samples cost one plan per table: run(get_rows_flag=True) runs at
    most 3 jobs more than run(), the same number with 2 fired checks as
    with 6, and the HTML report and the export then run none."""
    from data_quality_spark.session import QualitySession

    def session(n_checks):
        s = QualitySession(spark)
        t = s.table_from_parquet(f"{sf_dir}/orders.parquet", "orders",
                                 index_column="o_orderkey")
        for m in range(2, n_checks + 2):
            t.check_custom_condition(f"o_custkey % {m} = 0", rule_id=f"mod{m}")
        return s, t

    _, base_jobs = _jobs_in_group(spark, session(2)[1].run)
    jobs = []
    for n_checks in (2, 6):
        s, t = session(n_checks)
        res, n_jobs = _jobs_in_group(spark, lambda: t.run(get_rows_flag=True))
        assert all(c.flag_ko and len(c.ko_rows) for c in res)
        jobs.append(n_jobs)
        _, n_jobs = _jobs_in_group(
            spark, lambda: s.create_html_output(str(tmp_path / f"r{n_checks}")))
        assert n_jobs == 0
        _, n_jobs = _jobs_in_group(
            spark,
            lambda: s.create_export_details_excel(str(tmp_path / f"x{n_checks}")))
        assert n_jobs == 0
    assert jobs[0] == jobs[1] <= base_jobs + 3


def test_results_df_matches_check_lists(spark, sf_dir):
    """QualitySession.results_df is one row per (table, evaluated check),
    equal to each table's check_list; tables without checks are skipped,
    and with no check run at all it raises."""
    from data_quality_spark.session import QualitySession

    s = QualitySession(spark)
    with pytest.raises(ValueError, match="no checks"):
        s.results_df()
    orders = s.table_from_parquet(f"{sf_dir}/orders.parquet", "orders",
                                  index_column="o_orderkey")
    orders.check_index_not_null()
    orders.check_columns_between_values(
        "o_totalprice", min_value=0, max_value=300000, flag_warning=True)
    cust = s.table_from_parquet(f"{sf_dir}/customer.parquet", "customer",
                                index_column="c_custkey")
    cust.check_duplicate_index()
    s.table_from_parquet(f"{sf_dir}/nation.parquet", "nation")  # never run
    with pytest.raises(ValueError, match="no checks"):
        s.results_df()
    orders.run()
    cust.run()

    got = s.results_df()
    assert got.schema.simpleString() == (
        "struct<table:string,rule_id:string,description:string,"
        "severity:string,n_ko:bigint,n_rows:bigint,flag_ko:boolean>")
    assert "LogicalRDD" not in got._jdf.queryExecution().analyzed().toString()
    want = sorted(
        (t.name, c.rule_id, c.description, c.severity, c.n_ko, c.n_rows, c.flag_ko)
        for t in (orders, cust) for c in t.check_list
    )
    assert len(want) == 3
    assert sorted(tuple(r) for r in got.collect()) == want


def test_check_options_reject_unknown_keywords(spark):
    """check_* methods accept only the per-check options ignore_filters,
    flag_warning and n_max_rows_output: a misspelt or unsupported keyword
    raises instead of being silently dropped, and no rule is recorded."""
    from data_quality_spark.rules.table import QualityTable

    t = QualityTable(
        spark.createDataFrame([(1, "a")], "idx int, c string"), index_column="idx"
    )
    for kw in ({"flag_warnings": True}, {"rule_id": "x"}, {"eager": True}):
        with pytest.raises(TypeError):
            t.check_values_in_list("c", ["a"], **kw)
    with pytest.raises(TypeError):
        t.run_basic_check(flag_warnings=True)
    assert t.rules == []

    (r,) = t.check_values_in_list(
        "c", ["a"], ignore_filters="idx = 2", flag_warning=True,
        n_max_rows_output=3,
    )
    assert r.severity == "warning" and r.max_rows == 3
    (d,) = t.check_index_not_null()
    assert d.severity == "fail" and d.max_rows == t.n_max_rows_output
    (cc,) = t.check_custom_condition("idx < 0", rule_id="neg_idx")
    assert cc.rule_id == "neg_idx"
