"""KQL front-end tests: each compiled pipeline must equal the
hand-built DataFrame twin (the oracle queries in queries/kql_q.py cover
the reference's verbatim workload; these cover the grammar corners)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.kql import kql


@pytest.fixture(scope="module")
def orders(spark):
    rows = [
        (1, 10, 120, "Seattle"),
        (2, 20, 180, "Austin"),
        (3, 10, 150, "Seattle"),
        (4, 30, 100, "New York"),
        (5, 20, 199, "Austin"),
        (6, 40, 150, "New Delhi"),
    ]
    return spark.createDataFrame(
        rows, "orderid int, custid int, amount int, city string"
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_where_comparisons_and_boolean_ops(orders):
    got = kql(
        "O | where amount >= 150 and (city == 'Austin' or city == 'Seattle')",
        {"O": orders},
    )
    want = orders.filter(
        (F.col("amount") >= 150)
        & ((F.col("city") == "Austin") | (F.col("city") == "Seattle"))
    )
    assert rows(got) == rows(want)


def test_where_not_and_in(orders):
    got = kql("O | where not (city in ('Austin', 'Seattle'))", {"O": orders})
    want = orders.filter(~F.col("city").isin("Austin", "Seattle"))
    assert rows(got) == rows(want)


def test_string_predicates(orders):
    assert rows(kql("O | where city contains 'ew'", {"O": orders})) == rows(
        orders.filter(F.col("city").contains("ew"))
    )
    assert rows(kql("O | where city startswith 'New'", {"O": orders})) == rows(
        orders.filter(F.col("city").startswith("New"))
    )
    # has = whole-term match: 'New' is a term of 'New York' but 'ork' is not
    assert {r["city"] for r in kql("O | where city has 'new'", {"O": orders}).collect()} == {
        "New York",
        "New Delhi",
    }
    assert kql("O | where city has 'ork'", {"O": orders}).count() == 0


def test_summarize_no_groups_and_count_stage(orders):
    got = kql("O | summarize total = sum(amount), n = count()", {"O": orders})
    assert rows(got) == [(899, 6)]
    assert kql("O | count", {"O": orders}).collect()[0][0] == 6


def test_summarize_dcount(orders):
    got = kql("O | summarize c = dcount(custid) by city", {"O": orders})
    want = orders.groupBy("city").agg(F.countDistinct("custid").alias("c"))
    assert rows(got) == rows(want)


def test_sort_defaults_descending(orders):
    got = kql("O | sort by amount | take 2", {"O": orders})
    assert [r["amount"] for r in got.collect()] == [199, 180]
    got_asc = kql("O | sort by amount asc | take 2", {"O": orders})
    assert [r["amount"] for r in got_asc.collect()] == [100, 120]


def test_top_and_arithmetic_extend_project(orders):
    got = kql(
        "O | extend doubled = amount * 2 + 1 | project orderid, doubled "
        "| top 2 by doubled",
        {"O": orders},
    )
    assert [tuple(r) for r in got.collect()] == [(5, 399), (2, 361)]


def test_project_with_rename_and_scalar_fns(orders):
    got = kql(
        "O | project id = orderid, c = tolower(city), l = strlen(city) | take 1",
        {"O": orders},
    )
    assert got.columns == ["id", "c", "l"]
    r = got.collect()[0]
    assert r["c"] == "seattle" and r["l"] == 7


def test_distinct(orders):
    got = kql("O | distinct city", {"O": orders})
    assert got.count() == 4


def test_errors_are_loud(orders):
    with pytest.raises(ValueError, match="unknown table"):
        kql("Nope | count", {"O": orders})
    with pytest.raises(ValueError, match="unsupported operator"):
        kql("O | explode city", {"O": orders})
    with pytest.raises(ValueError, match="unsupported aggregate"):
        kql("O | summarize median(amount)", {"O": orders})
    with pytest.raises(ValueError, match="trailing"):
        kql("O | take 5 extra", {"O": orders})


def test_compiles_to_catalyst_topk(orders):
    """top N must plan as TakeOrderedAndProject (no global sort) — the
    KQL layer is a *compiler*; plans must be as good as hand-written."""
    plan = kql("O | top 2 by amount", {"O": orders})._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bin_time_bucketing(spark):
    """bin(ts, 1h) groups into hour buckets — the canonical Kusto
    time-series idiom — and compiles to pure floor arithmetic."""
    rows = [
        (1, "2024-01-01 10:05:00", 2.0),
        (2, "2024-01-01 10:55:00", 3.0),
        (3, "2024-01-01 11:05:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "id int, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = kql(
        "E | summarize n = count(), total = sum(v) by t = bin(ts, 1h) | sort by t asc",
        {"E": df},
    ).collect()
    assert [(str(r["t"]), r["n"], r["total"]) for r in got] == [
        ("2024-01-01 10:00:00", 2, 5.0),
        ("2024-01-01 11:00:00", 1, 5.0),
    ]


def test_bin_numeric(spark, sf_dir):
    from kafka_data_explorer_cdc_spark.io import load

    orders = load(spark, sf_dir, "orders")
    got = kql(
        "O | summarize n = count() by b = bin(o_totalprice, 50000) | sort by b asc",
        {"O": orders},
    )
    want = (
        orders.groupBy(
            (F.floor(F.col("o_totalprice") / 50000) * 50000).alias("b")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.asc("b"))
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_has_requires_string_literal(spark):
    df = spark.createDataFrame([(1, "alpha beta")], "id int, txt string")
    with pytest.raises(ValueError, match="string literal"):
        kql("T | where txt has id", {"T": df})
    got = kql("T | where txt has 'beta'", {"T": df}).count()
    assert got == 1
    # term match, not substring: 'bet' is not a full term
    assert kql("T | where txt has 'bet'", {"T": df}).count() == 0


def test_between_inclusive(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id int, v double"
    )
    got = kql("T | where id between (3 .. 5)", {"T": df}).count()
    assert got == 3  # 3, 4, 5 — both ends inclusive


def test_ago_anchored(spark):
    rows = [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 06:00:00")]
    df = spark.createDataFrame(rows, "id int, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = kql(
        "T | where ts >= ago(2h)", {"T": df}, now="2024-01-01 11:00:00"
    ).collect()
    assert [r["id"] for r in got] == [1]


def test_countif_sumif(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 30)], "g string, v int"
    )
    got = {
        r["g"]: (r["n_big"], r["t_big"])
        for r in kql(
            "T | summarize n_big = countif(v >= 20), "
            "t_big = sumif(v, v >= 20) by g",
            {"T": df},
        ).collect()
    }
    assert got == {"a": (1, 20), "b": (1, 30)}


def test_parse_json_field_access(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 7, "s": "x"}'), (2, '{"k": 9}')], "id int, props string"
    )
    got = {
        r["id"]: r["k"]
        for r in kql(
            "T | extend k = tolong(parse_json(props).k)", {"T": df}
        ).collect()
    }
    assert got == {1: 7, 2: 9}
    with pytest.raises(ValueError, match="field access"):
        kql("T | extend j = parse_json(props)", {"T": df})


def test_mv_expand(spark):
    df = spark.createDataFrame(
        [(1, [10, 20]), (2, [30])], "id int, arr array<int>"
    )
    got = sorted(
        (r["id"], r["e"])
        for r in kql("T | mv-expand e = arr", {"T": df}).collect()
    )
    assert got == [(1, 10), (1, 20), (2, 30)]


def test_render_is_recorded_and_must_be_last(spark):
    from kafka_data_explorer_cdc_spark.kql import render_spec

    df = spark.createDataFrame([("a", 1), ("b", 2)], "city string, amount int")
    out = kql(
        "T | summarize total = sum(amount) by city | render piechart ",
        {"T": df},
    )
    assert render_spec(out) == "piechart"
    assert {r["city"] for r in out.collect()} == {"a", "b"}
    assert render_spec(df) is None
    with pytest.raises(ValueError, match="last"):
        kql("T | render piechart | take 1", {"T": df})


def test_render_on_bare_table_does_not_leak_hint(spark):
    """`T | render x` must not tag the caller's shared table binding —
    a later query against the same binding would inherit the hint."""
    from kafka_data_explorer_cdc_spark.kql import render_spec

    df = spark.createDataFrame([("a", 1)], "city string, amount int")
    out = kql("T | render piechart", {"T": df})
    assert render_spec(out) == "piechart"
    assert render_spec(df) is None, "shared binding mutated"
    assert render_spec(kql("T | where amount > 0", {"T": df})) is None


def test_render_with_properties_validated(spark):
    """A well-formed `with (...)` clause parses (pipes inside quoted
    property values included); malformed tails fail loudly instead of
    being silently swallowed."""
    from kafka_data_explorer_cdc_spark.kql import render_spec

    df = spark.createDataFrame([("a", 1)], "city string, amount int")
    out = kql(
        'T | render timechart with (title="a|b", legend=visible)', {"T": df}
    )
    assert render_spec(out) == "timechart"
    with pytest.raises(ValueError, match="with"):
        kql("T | render piechart some stray tokens", {"T": df})
    with pytest.raises(ValueError, match="expected"):
        kql("T | render piechart with (title=", {"T": df})


def test_join_kinds_and_column_naming(spark):
    orders = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 50), (3, 20, 70), (4, 30, 20)],
        "orderid int, custid int, amount int",
    )
    cust = spark.createDataFrame(
        [(10, "alice"), (20, "bob"), (99, "zoe")], "custid int, name string"
    )
    t = {"O": orders, "C": cust}
    inner = kql("O | join kind=inner C on custid | project orderid, name", t)
    assert sorted((r["orderid"], r["name"]) for r in inner.collect()) == [
        (1, "alice"), (2, "alice"), (3, "bob")
    ]
    # Kusto naming: clashing right column gets a '1' suffix
    full = kql("O | join kind=inner C on custid", t)
    assert full.columns == ["orderid", "custid", "amount", "custid1", "name"]
    # innerunique default dedups the LEFT side on the key
    assert kql("O | join C on custid", t).count() == 2
    anti = kql("O | join kind=leftanti C on custid", t)
    assert [r["orderid"] for r in anti.collect()] == [4]
    assert anti.columns == ["orderid", "custid", "amount"]
    sem = kql("O | join kind=rightsemi C on custid", t)
    assert sorted(r["custid"] for r in sem.collect()) == [10, 20]
    assert sem.columns == ["custid", "name"]
    lo = kql(
        "O | join kind=leftouter (C | where name != 'bob') on custid"
        " | project orderid, name", t
    )
    assert sorted(
        [(r["orderid"], r["name"]) for r in lo.collect()], key=str
    ) == [(1, "alice"), (2, "alice"), (3, None), (4, None)]


def test_join_subquery_pipes_and_dollar_keys(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    right = spark.createDataFrame(
        [(1, 5), (1, 6), (2, 7), (3, 8)], "rk int, x int"
    )
    out = kql(
        "L | join kind=inner (R | where x >= 6 | project rk, x)"
        " on $left.k == $right.rk",
        {"L": left, "R": right},
    )
    assert sorted((r["k"], r["x"]) for r in out.collect()) == [(1, 6), (2, 7)]


def test_let_scalar_and_tabular(spark):
    df = spark.createDataFrame(
        [("a", 100), ("b", 30), ("c", 200)], "city string, amount int"
    )
    out = kql(
        "let lo = 50; let big = T | where amount >= lo; "
        "big | summarize n = count()",
        {"T": df},
    )
    assert out.collect()[0]["n"] == 2
    # string let + caller's tables dict never mutated
    tables = {"T": df}
    out = kql(
        "let target = 'c'; T | where city == target | project amount", tables
    )
    assert [r["amount"] for r in out.collect()] == [200]
    assert set(tables) == {"T"}
    with pytest.raises(ValueError, match="let"):
        kql("x = 1; T | take 1", {"T": df})


def test_parse_verb_and_scalars(spark):
    df = spark.createDataFrame(
        [("Customer#000000007", 7, 120.5, "P1"), ("C#8", 8, 80.0, "P1")],
        "c_name string, k int, price double, prio string",
    )
    t = {"T": df}
    got = {
        r["k"]: r["idstr"]
        for r in kql("T | parse c_name with 'Customer#' idstr", t).collect()
    }
    assert got == {7: "000000007", 8: ""}  # non-matching rows -> empty
    got = {
        r["k"]: r["g"]
        for r in kql("T | extend g = extract('#0*(\\d+)', 1, c_name)", t).collect()
    }
    assert got == {7: "7", 8: "8"}
    got = {
        r["k"]: r["e"]
        for r in kql(
            "T | extend e = iff(price > 100, strcat(prio, '-big'), 'small')", t
        ).collect()
    }
    assert got == {7: "P1-big", 8: "small"}
    got = {
        r["k"]: r["tier"]
        for r in kql(
            "T | extend tier = case(price >= 150, 'hi', price >= 100, 'mid', 'lo')",
            t,
        ).collect()
    }
    assert got == {7: "mid", 8: "lo"}
    assert kql("T | extend s = substring(c_name, 0, 8) | take 1", t).collect()[0][
        "s"
    ] == "Customer"
    with pytest.raises(ValueError, match="case"):
        kql("T | extend x = case(price > 1, 'a')", t)


def test_projectaway_rename_and_new_aggs(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("b", 3, 20.0)],
        "g string, k int, v double",
    )
    t = {"T": df}
    out = kql("T | project-away v | take 1", t)
    assert out.columns == ["g", "k"]
    out = kql("T | project-rename grp = g | distinct grp", t)
    assert out.columns == ["grp"]
    got = {
        r["g"]: r["best_k"]
        for r in kql("T | summarize best_k = arg_max(v, k) by g", t).collect()
    }
    assert got == {"a": 2, "b": 3}
    got = {
        r["g"]: r["ks"]
        for r in kql(
            "T | summarize s = make_set(k) by g | extend ks = strcat_array(s, ',')",
            t,
        ).collect()
    }
    assert got == {"a": "1,2", "b": "3"}
    r = kql("T | summarize p50 = percentile(v, 50)", t).collect()[0]
    assert r["p50"] == 20.0


def test_make_series_dense_grid(spark):
    """make-series must produce a DENSE value array per group: empty
    bins filled with the default, aligned with the bin-start array."""
    rows = [
        ("a", "2024-01-01 10:00:00"),
        ("a", "2024-01-01 11:00:00"),
        ("a", "2024-01-03 00:00:00"),
        ("b", "2024-01-02 05:00:00"),
        ("a", "2024-01-09 00:00:00"),  # outside [from, to) — excluded
    ]
    df = spark.createDataFrame(rows, "g string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = kql(
        "T | make-series n = count() on ts"
        " from '2024-01-01 00:00:00' to '2024-01-04 00:00:00' step 1d by g",
        {"T": df},
    )
    got = {r["g"]: (list(r["n"]), [str(t) for t in r["ts"]]) for r in out.collect()}
    days = ["2024-01-0%d 00:00:00" % d for d in (1, 2, 3)]
    assert got == {
        "a": ([2, 0, 1], days),
        "b": ([0, 1, 0], days),
    }
    # custom default fill + datetime() literal spelling
    out = kql(
        "T | make-series n = count() default = 9 on ts"
        " from datetime('2024-01-01 00:00:00') to datetime('2024-01-03 00:00:00')"
        " step 1d by g",
        {"T": df},
    )
    got = {r["g"]: list(r["n"]) for r in out.collect()}
    assert got == {"a": [2, 9], "b": [9, 1]}


def test_make_series_group_entirely_outside_window(spark):
    """A group whose rows ALL fall outside [from, to) must still appear,
    zero-filled — the group set comes from the pre-filter input (Kusto
    semantics; VERDICT r3 #5). Without `by`, an all-outside input still
    yields exactly one default-filled series row."""
    rows = [
        ("in", "2024-01-01 10:00:00"),
        ("out", "2024-03-15 00:00:00"),  # entirely outside the window
    ]
    df = spark.createDataFrame(rows, "g string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = kql(
        "T | make-series n = count() on ts"
        " from '2024-01-01 00:00:00' to '2024-01-03 00:00:00' step 1d by g",
        {"T": df},
    )
    got = {r["g"]: list(r["n"]) for r in out.collect()}
    assert got == {"in": [1, 0], "out": [0, 0]}

    out = kql(
        "T | where g == 'out' | make-series n = count() on ts"
        " from '2024-01-01 00:00:00' to '2024-01-03 00:00:00' step 1d",
        {"T": df},
    )
    rows = out.collect()
    assert len(rows) == 1 and list(rows[0]["n"]) == [0, 0]


def test_top_nested_hierarchy(spark):
    rows = [("a", 1, 10), ("a", 1, 5), ("a", 2, 3), ("a", 3, 1),
            ("b", 4, 8), ("b", 5, 2), ("c", 6, 1)]
    df = spark.createDataFrame(rows, "city string, custid int, amount int")
    out = kql(
        "T | top-nested 2 of city by t1 = sum(amount),"
        "    top-nested 1 of custid by t2 = sum(amount)",
        {"T": df},
    )
    assert out.columns == ["city", "t1", "custid", "t2"]
    got = sorted(tuple(r) for r in out.collect())
    # top-2 cities: a (19), b (10); best custid within: a->1 (15), b->4 (8)
    assert got == [("a", 19, 1, 15), ("b", 10, 4, 8)]
    # plain `top` still works alongside the compound form
    assert kql("T | top 1 by amount", {"T": df}).collect()[0]["custid"] == 1


def test_union_and_regex_predicates(spark):
    a = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], "id int, txt string")
    b = spark.createDataFrame([(3, "delta", 9.0)], "id int, txt string, extra double")
    t = {"A": a, "B": b}
    out = kql("A | union B", t)
    assert out.count() == 3 and "extra" in out.columns
    assert {r["extra"] for r in out.collect()} == {None, 9.0}
    out = kql("A | union (B | project id, txt) | where id >= 2", t)
    assert sorted(r["id"] for r in out.collect()) == [2, 3]
    got = kql("A | where txt matches regex 'a.pha'", t)
    assert [r["id"] for r in got.collect()] == [1]
    got = kql("A | where txt has_any ('beta', 'gamma')", t)
    assert sorted(r["id"] for r in got.collect()) == [1, 2]
    with pytest.raises(ValueError, match="union operand"):
        kql("A | union Nope", t)


def test_aggregate_over_expression(spark):
    df = spark.createDataFrame(
        [("a", 2, 3), ("a", 4, 5), ("b", 1, 10)], "g string, x int, y int"
    )
    got = {
        r["g"]: r["t"]
        for r in kql(
            "T | summarize t = sum(x * y) by g", {"T": df}
        ).collect()
    }
    assert got == {"a": 26, "b": 10}
    # bare-identifier default alias is preserved
    out = kql("T | summarize sum(x) by g", {"T": df})
    assert "sum_x" in out.columns


def test_lookup(spark):
    orders = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 99, 2.0)], "oid int, cust int, amt double"
    )
    dim = spark.createDataFrame([(10, "A"), (20, "B")], "cust int, seg string")
    t = {"O": orders, "D": dim}
    out = kql("O | lookup D on cust", t)
    assert out.columns == ["oid", "cust", "amt", "seg"]
    rows = {r["oid"]: r["seg"] for r in out.collect()}
    assert rows == {1: "A", 2: "A", 3: None}  # leftouter default
    inner = kql("O | lookup kind=inner D on cust", t)
    assert sorted(r["oid"] for r in inner.collect()) == [1, 2]
    # $left/$right key form drops the right key too
    dim2 = spark.createDataFrame([(10, "A")], "k int, seg string")
    out2 = kql("O | lookup (D2) on $left.cust == $right.k", {**t, "D2": dim2})
    assert out2.columns == ["oid", "cust", "amt", "seg"]
    with pytest.raises(ValueError, match="re-defines"):
        kql("O | lookup (D | project cust, amt = seg) on cust", t)


def test_lookup_broadcasts(spark):
    orders = spark.createDataFrame([(1, 10)], "oid int, cust int")
    dim = spark.createDataFrame([(10, "A")], "cust int, seg string")
    plan = kql(
        "O | lookup D on cust", {"O": orders, "D": dim}
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_evaluate_pivot(spark):
    df = spark.createDataFrame(
        [("p1", "F", 5.0), ("p1", "O", 7.0), ("p2", "F", 2.0)],
        "pri string, status string, amt double",
    )
    out = kql("T | evaluate pivot(status, sum(amt))", {"T": df})
    assert sorted(out.columns) == ["F", "O", "pri"]
    rows = {r["pri"]: (r["F"], r["O"]) for r in out.collect()}
    assert rows == {"p1": (5.0, 7.0), "p2": (2.0, None)}
    cnt = kql("T | project pri, status | evaluate pivot(status)", {"T": df})
    got = {r["pri"]: (r["F"], r["O"]) for r in cnt.collect()}
    assert got == {"p1": (1, 1), "p2": (1, None)}


def test_mv_apply(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [-1.0, -1.0, 4.0]), (3, [])],
        "id int, v array<double>",
    )
    out = kql(
        "T | mv-apply e = v on (where e > 0 | summarize s = sum(e), "
        "n = count(), mx = max(e), av = avg(e))",
        {"T": df},
    )
    rows = {r["id"]: (r["s"], r["n"], r["mx"], r["av"]) for r in out.collect()}
    assert rows[1] == (4.0, 2, 3.0, 2.0)
    assert rows[2] == (4.0, 1, 4.0, 4.0)
    assert rows[3] == (0.0, 0, None, None)
    # where-only form expands surviving elements to rows, keeps source
    exp = kql("T | mv-apply e = v on (where e > 0)", {"T": df})
    assert sorted((r["id"], r["e"]) for r in exp.collect()) == [
        (1, 1.0), (1, 3.0), (2, 4.0)]
    # typeof cast + expression aggregate
    iv = spark.createDataFrame([(1, [1, 2, 3])], "id int, v array<int>")
    got = kql(
        "T | mv-apply e = v to typeof(real) on (summarize s = sum(e * 2))",
        {"T": iv},
    ).collect()[0]
    assert got["s"] == 12.0


def test_mv_apply_kernel_in_where(spark):
    """A kernel (a SQL function) in the where-only form's element
    predicate: Spark rejects it inside a lambda or a Generate, so the
    predicate filters the exploded rows."""
    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 50.0]), (2, [4.0, 4.0]), (3, [-10.0])],
        "id int, x array<double>",
    )
    out = kql(
        "T | mv-apply v = x on (where geo_point_to_geohash(v, v, 4) == 's0dy')",
        {"T": df},
    )
    assert out.columns == ["id", "x", "v"]
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [
        (1, 4.0), (2, 4.0), (2, 4.0)]


def test_mv_apply_kernel_in_where_with_summarize(spark):
    """The summarize form with a kernel in its element predicate or an
    aggregate argument collects each source row's kept elements after an
    explode, with the same results as the folds give for a kernel-free
    predicate that keeps the same elements (4.0 is the only value in
    geohash cell 's0dy')."""
    one = spark.createDataFrame([(1, [3.0, 4.0, 50.0])], "id int, x array<double>")
    got = kql(
        "T | mv-apply v = x on (where geo_point_to_geohash(v, v, 4) == 's0dy' "
        "| summarize n = count())",
        {"T": one},
    )
    assert got.columns == ["id", "x", "n"]
    assert [(r["id"], r["n"]) for r in got.collect()] == [(1, 1)]
    cell = kql(
        "T | mv-apply v = x on (summarize m = max(geo_point_to_geohash(v, v, 4)))",
        {"T": spark.createDataFrame([(1, [4.0])], "id int, x array<double>")},
    )
    assert [tuple(r) for r in cell.select("id", "m").collect()] == [(1, "s0dy")]
    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 50.0]), (2, [4.0, 4.0]), (3, [-10.0]), (4, []),
         (5, None), (6, [4.0, None])],
        "id int, x array<double>",
    )
    aggs = "summarize n = count(), s = sum(v), mx = max(v), av = avg(v * 2)"

    def rows(pred):
        out = kql(f"T | mv-apply v = x on (where {pred} | {aggs})", {"T": df})
        assert out.columns == ["id", "x", "n", "s", "mx", "av"]
        return sorted(tuple(r) for r in out.collect())

    kernel = rows("geo_point_to_geohash(v, v, 4) == 's0dy'")
    assert kernel == rows("v == 4.0")
    assert [r[2:] for r in kernel] == [
        (1, 4.0, 4.0, 8.0), (2, 8.0, 4.0, 8.0), (0, 0.0, None, None), (0, 0.0, None, None),
        (None, None, None, None), (1, 4.0, 4.0, 8.0)]


def test_mv_apply_plan_has_no_shuffle(spark):
    # the summarize form must stay a narrow projection: no Exchange, no
    # Generate (explode) in the plan
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id int, v array<double>")
    plan = kql(
        "T | mv-apply e = v on (where e > 0 | summarize s = sum(e))", {"T": df}
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan


def test_search_and_top_hitters(spark):
    df = spark.createDataFrame(
        [(1, "Alice", "x"), (2, "bob", "ALICEy"), (3, "carol", "z")],
        "id int, name string, tag string",
    )
    out = kql("T | search 'alice'", {"T": df})
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
    ev = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 5.0)], "k string, x double"
    )
    th = kql("T | top-hitters 2 of k by x", {"T": ev}).collect()
    assert [(r["k"], r["approximate_sum_x"]) for r in th] == [("b", 10.0), ("c", 5.0)]
    tc = kql("T | top-hitters 1 of k", {"T": ev}).collect()
    assert [(r["k"], r["approximate_count_k"]) for r in tc] == [("a", 2)]


def test_getschema(spark):
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    rows = kql("T | getschema", {"T": df}).collect()
    assert [(r["ColumnName"], r["ColumnOrdinal"], r["DataType"]) for r in rows] == [
        ("id", 0, "int"), ("s", 1, "string")]


def test_source_generators(spark):
    t = {"T": spark.range(1)}
    out = kql("print x = 1 + 2, y = strcat('a', 'b')", t).collect()[0]
    assert (out["x"], out["y"]) == (3, "ab")
    r = kql("range x from 2 to 11 step 3", t)
    assert [row["x"] for row in r.collect()] == [2, 5, 8, 11]
    rd = kql(
        "range d from datetime('2024-01-01 00:00:00') to "
        "datetime('2024-01-02 00:00:00') step 12h | count",
        t,
    ).collect()[0]
    assert rd["Count"] == 3
    dt = kql(
        "datatable (a: long, b: string, c: real) [1, 'x', 1.5, -2, 'y', 0.25] "
        "| where a > 0",
        t,
    )
    assert dt.collect() == [(1, "x", 1.5)]
    # a binding that shadows a generator name still resolves as a table
    named = {"range": spark.createDataFrame([(7,)], "z int")}
    assert kql("range | count", named).collect()[0]["Count"] == 1


def test_new_scalar_functions(spark):
    df = spark.createDataFrame(
        [("hello world", "2024-03-15 13:45:10")], "s string, t string"
    ).withColumn("ts", F.col("t").cast("timestamp"))
    out = kql(
        "T | extend ix = indexof(s, 'o'), n = countof(s, 'o'), "
        "rep = replace_string(s, 'l', 'L'), tr = trim('h|d', s), "
        "wk = datetime_part('week_of_year', ts), sow = startofweek(ts)",
        {"T": df},
    )
    r = out.collect()[0]
    assert r["ix"] == 4 and r["n"] == 2
    assert r["rep"] == "heLLo worLd"
    assert r["tr"] == "ello worl"
    assert r["wk"] == 11
    assert str(r["sow"]) == "2024-03-10 00:00:00"
    r2 = kql(
        "T | extend sp = split(s, ' '), a = array_length(split(s, ' ')), "
        "m = array_max(split('1,5,3', ',')), lg = log2(8.0), "
        "sg = sign(0 - 3), fl = floor(2.9), ce = ceiling(2.1)",
        {"T": df},
    ).collect()[0]
    assert list(r2["sp"]) == ["hello", "world"] and r2["a"] == 2
    assert r2["m"] == "5" and r2["lg"] == 3.0 and r2["sg"] == -1.0
    assert r2["fl"] == 2 and r2["ce"] == 3
    anchored = kql("print d = now()", {"T": df}, now="2024-05-05 01:02:03")
    assert str(anchored.collect()[0]["d"]) == "2024-05-05 01:02:03"


def test_serialized_window_functions(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    out = kql(
        "T | sort by k asc"
        " | extend rn = row_number(), prv = prev(v), nxt = next(k, 1, -1),"
        "   cum = row_cumsum(k)"
        " | project k, rn, prv, nxt, cum",
        {"T": df},
    )
    rows = {r["k"]: r for r in out.collect()}
    assert [rows[k]["rn"] for k in (1, 2, 3)] == [1, 2, 3]
    assert rows[1]["prv"] is None and rows[2]["prv"] == 10.0
    assert rows[3]["nxt"] == -1  # lead past the end takes the default
    assert [rows[k]["cum"] for k in (1, 2, 3)] == [1, 3, 6]
    # row_number(start) re-bases the index
    out2 = kql(
        "T | top 2 by k | serialize rk = row_number(10) | project k, rk",
        {"T": df},
    )
    assert {r["k"]: r["rk"] for r in out2.collect()} == {3: 10, 2: 11}


def test_window_functions_need_order(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="serialized input"):
        kql("T | extend r = row_number()", {"T": df})
    with pytest.raises(ValueError, match="established row order"):
        kql("T | serialize x = 1", {"T": df})
    # an order-destroying stage resets the serialization
    with pytest.raises(ValueError, match="serialized input"):
        kql(
            "T | sort by k | summarize n = count() by k"
            " | extend r = row_number()",
            {"T": df},
        )
    # ...but row-local stages preserve it
    out = kql(
        "T | sort by k | where k > 0 | extend r = row_number()", {"T": df}
    )
    assert out.collect()[0]["r"] == 1


def test_parse_where_drops_nonmatching(spark):
    df = spark.createDataFrame(
        [("dur=120ms",), ("malformed",), ("dur=7ms",)], "line string"
    )
    out = kql(
        "T | parse-where line with 'dur=' ms 'ms' | project ms",
        {"T": df},
    )
    assert sorted(r["ms"] for r in out.collect()) == ["120", "7"]
    # plain parse keeps the row with empty captures
    out2 = kql("T | parse line with 'dur=' ms 'ms'", {"T": df})
    assert out2.count() == 3


def test_project_keep_and_reorder(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "x int, s string, v double")
    kept = kql("T | project-keep v, x", {"T": df})
    assert kept.columns == ["x", "v"]  # table order, not list order
    reo = kql("T | project-reorder v", {"T": df})
    assert reo.columns == ["v", "x", "s"]


def test_as_binds_pipeline_state(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k int, g string"
    )
    tables = {"T": df}
    out = kql(
        "T | where k > 1 | as Filt | summarize n = count() by g"
        " | join (Filt | summarize m = max(k) by g) on g",
        tables,
    )
    rows = {r["g"]: (r["n"], r["m"]) for r in out.collect()}
    assert rows == {"a": (1, 2), "b": (1, 3)}
    assert set(tables) == {"T"}  # caller's dict never mutated


def test_array_indexing(spark):
    df = spark.createDataFrame(
        [("1-URGENT", '["x","y"]')], "pri string, j string"
    )
    out = kql(
        "T | extend head = split(pri, '-')[0], snd = parse_json(j)[1]",
        {"T": df},
    )
    r = out.collect()[0]
    assert r["head"] == "1" and r["snd"] == "y"


def test_sample_and_sample_distinct_deterministic(spark):
    """sample/sample-distinct: engine-deterministic pseudo-random
    subsets (documented strengthening of Kusto's no-promise
    randomness) — repeat runs give identical rows, results are true
    subsets, and sizes are exact when enough rows exist."""
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    a = {r["id"] for r in kql("T | sample 25", {"T": df}).collect()}
    b = {r["id"] for r in kql("T | sample 25", {"T": df}).collect()}
    assert a == b and len(a) == 25
    assert a <= set(range(1000))
    # shuffled input, same rows — determinism is content-based
    c = {
        r["id"]
        for r in kql("T | sample 25", {"T": df.repartition(13)}).collect()
    }
    assert c == a

    d1 = {r["g"] for r in kql("T | sample-distinct 3 of g", {"T": df}).collect()}
    d2 = {r["g"] for r in kql("T | sample-distinct 3 of g", {"T": df}).collect()}
    assert d1 == d2 and len(d1) == 3 and d1 <= set(range(7))
    # asking for more than exist returns all of them
    alln = kql("T | sample-distinct 99 of g", {"T": df}).count()
    assert alln == 7


def test_count_column_named_Count(orders):
    """Kusto's terminal `| count` names its column exactly `Count` —
    dashboards reference it by that name (round-5 sweep)."""
    out = kql("O | count", {"O": orders}).collect()
    assert [f for f in out[0].asDict()] == ["Count"]
    assert out[0]["Count"] == 6


def test_top_by_expression(orders):
    """`top N by <expr>` accepts any scalar expression plus
    asc/desc and nulls first|last (round-5 sweep)."""
    got = [
        r["city"]
        for r in kql("O | top 2 by amount * 2", {"O": orders}).collect()
    ]
    want = [
        r["city"]
        for r in kql("O | top 2 by amount", {"O": orders}).collect()
    ]
    assert got == want  # monotone transform preserves the order
    lo = kql("O | top 1 by amount + 0 asc", {"O": orders}).collect()[0]
    assert lo["amount"] == min(r["amount"] for r in orders.collect())
    # serialized after top-by-expr: row_number() works
    rn = kql(
        "O | top 3 by amount * 1 | extend rn = row_number()", {"O": orders}
    ).collect()
    assert [r["rn"] for r in rn] == [1, 2, 3]
    # a kernel's SQL function may not sit in a Sort: top sorts on the
    # projected key (slope of the 2-point series = amount - custid)
    k = kql(
        "O | top 1 by series_fit_line(pack_array(custid, amount)).slope",
        {"O": orders},
    )
    assert k.columns == orders.columns
    assert [r["orderid"] for r in k.collect()] == [5]


def test_find_cross_table_search(spark, orders):
    """`find in (T1, T2) where pred`: union of matching rows aligned by
    name with null fill, source_ column, tables lacking a referenced
    column contribute nothing (round-5 sweep)."""
    other = spark.createDataFrame(
        [(100, "Rome"), (5, "Oslo")], "amount int, place string"
    )
    t = {"O": orders, "P": other}
    got = kql("find in (O, P) where amount > 90", t)
    assert "source_" in got.columns and "place" in got.columns
    by_src = {}
    for r in got.collect():
        by_src.setdefault(r["source_"], 0)
        by_src[r["source_"]] += 1
    want_o = orders.filter("amount > 90").count()
    assert by_src == {"O": want_o, "P": 1}
    # column only one table has: the other contributes no rows
    got2 = kql("find in (O, P) where place == 'Oslo'", t).collect()
    assert {r["source_"] for r in got2} == {"P"} and len(got2) == 1
    # `in (...)` omitted = all bound tables
    got3 = kql("find where amount > 90", t)
    assert got3.count() == want_o + 1
    with pytest.raises(ValueError, match="absent from every"):
        kql("find in (O, P) where nonexistent_col > 1", t)


def test_kql_partition_rejects_unsupported_subquery(spark, sf_dir):
    """partition's restriction must be an explicit error, not silent
    miscompilation."""
    import pytest as _pytest

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    orders = load(spark, sf_dir, "orders")
    with _pytest.raises(ValueError, match="partition supports only"):
        kql(
            "Orders | partition by o_custkey ( sample 2 )",
            {"Orders": orders},
        )


def test_kql_partition_uses_window_group_limit(spark, sf_dir):
    """The compiled partition/top plan must carry Catalyst's
    WindowGroupLimit (pre-shuffle per-group top-k), like b39."""
    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    df = REGISTRY["k46_kql_partition"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_kql_top_nested_others_guards(spark, sf_dir):
    """'with others' must refuse non-additive aggregates and deeper
    levels — explicit errors, never silent mis-aggregation."""
    import pytest as _pytest

    from kafka_data_explorer_cdc_spark.cdc.envelope import orders_info
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    src = {"Orders": orders_info(load(spark, sf_dir, "orders"))}
    with _pytest.raises(ValueError, match="additive"):
        kql(
            'Orders | top-nested 2 of city with others = "O" by '
            "m = avg(amount)",
            src,
        )
    with _pytest.raises(ValueError, match="LAST"):
        kql(
            'Orders | top-nested 2 of city with others = "O" by '
            "t = sum(amount), top-nested 2 of custid by t2 = sum(amount)",
            src,
        )


def test_kql_stdev_variance_dcountif(spark, sf_dir):
    """stdev/variance lower to Spark's SAMPLE forms (Kusto semantics)
    and dcountif to one countDistinct(when(...)) — values checked
    against a pandas recompute (ddof=1), no second aggregate pass."""
    import math

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    events = load(spark, sf_dir, "events")
    out = kql(
        "Events | summarize s = stdev(value), v = variance(value), "
        "d = dcountif(user_id, value > 50) by event_type",
        {"Events": events},
    ).toPandas().set_index("event_type")
    pdf = events.select("event_type", "value", "user_id").toPandas()
    for et, g in pdf.groupby("event_type"):
        assert math.isclose(
            out.loc[et, "s"], g["value"].std(ddof=1), rel_tol=1e-9
        )
        assert math.isclose(
            out.loc[et, "v"], g["value"].var(ddof=1), rel_tol=1e-9
        )
        assert out.loc[et, "d"] == g.loc[g["value"] > 50, "user_id"].nunique()


def test_kql_hint_guards_and_equivalence(spark, sf_dir):
    """Shuffle hints are pure physical advice: hinted and unhinted
    spellings must return identical rows; malformed hints are explicit
    errors, not silent no-ops."""
    import pytest

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    events = load(spark, sf_dir, "events")
    plain = kql(
        "Events | summarize cnt = count() by user_id, event_type",
        {"Events": events},
    )
    hinted = kql(
        "Events | summarize hint.shufflekey = user_id cnt = count() "
        "by user_id, event_type",
        {"Events": events},
    )
    strat = kql(
        "Events | summarize hint.strategy = shuffle cnt = count() "
        "by user_id, event_type",
        {"Events": events},
    )
    want = sorted(map(tuple, plain.collect()))
    assert sorted(map(tuple, hinted.collect())) == want
    assert sorted(map(tuple, strat.collect())) == want

    with pytest.raises(ValueError, match="hint.strategy"):
        kql(
            "Events | summarize hint.strategy = banana c = count() "
            "by event_type",
            {"Events": events},
        )
    with pytest.raises(ValueError, match="by"):
        kql(
            "Events | summarize hint.shufflekey = user_id c = count()",
            {"Events": events},
        )
    with pytest.raises(ValueError, match="hint"):
        kql(
            "Events | summarize hint.partitionkey = user_id c = count() "
            "by event_type",
            {"Events": events},
        )
    with pytest.raises(ValueError, match="strategy"):
        kql(
            "Events | join kind=inner hint.strategy=sideways ( Events )"
            " on user_id | take 1",
            {"Events": events},
        )


def test_kql_avgif_matches_pandas(spark, sf_dir):
    """avgif lowers to one mergeable avg(when(pred, col)) — values
    checked against pandas (double averages are not hash-portable, so
    this is the gate instead of the DuckDB differential)."""
    import math

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    events = load(spark, sf_dir, "events")
    out = kql(
        "Events | summarize a = avgif(value, value > 50) by event_type",
        {"Events": events},
    ).toPandas().set_index("event_type")
    pdf = events.select("event_type", "value").toPandas()
    for et, g in pdf.groupby("event_type"):
        want = g.loc[g["value"] > 50, "value"].mean()
        assert math.isclose(out.loc[et, "a"], want, rel_tol=1e-9)


def test_kql_bag_unpack_semantics(spark):
    """bag_unpack: multi-key discovery sorts keys lexically, drops the
    bag column, string-types the leaves, errors on column collision
    and trailing tokens."""
    import pytest

    from kafka_data_explorer_cdc_spark.kql import kql

    df = spark.createDataFrame(
        [(1, '{"b": 2, "a": "x"}'), (2, '{"c": 3}')],
        "id int, bag string",
    )
    out = kql("T | evaluate bag_unpack(bag)", {"T": df})
    assert out.columns == ["id", "a", "b", "c"]
    rows = {r.id: (r.a, r.b, r.c) for r in out.collect()}
    assert rows[1] == ("x", "2", None)
    assert rows[2] == (None, None, "3")

    clash = spark.createDataFrame([(1, '{"id": 9}')], "id int, bag string")
    with pytest.raises(ValueError, match="collide"):
        kql("T | evaluate bag_unpack(bag)", {"T": clash})
    with pytest.raises(ValueError, match="not found"):
        kql("T | evaluate bag_unpack(nope)", {"T": df})
    with pytest.raises(ValueError, match="trailing"):
        kql("T | evaluate bag_unpack(bag) extra", {"T": df})


def test_kql_series_stats_dynamic_values(spark, sf_dir):
    """series_stats_dynamic: every bag field (including the double-
    typed avg/stdev and the 0-based idx fields) checked against a
    pandas recompute of the same dense series."""
    import json
    import math

    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.kql import kql

    events = load(spark, sf_dir, "events")
    out = kql(
        "Events | make-series n = count()"
        " on ts from '2024-01-01 00:00:00' to '2024-01-08 00:00:00'"
        " step 1d by event_type"
        " | extend s = series_stats_dynamic(n)",
        {"Events": events},
    ).select("event_type", "n", "s").collect()
    assert out
    for r in out:
        series = list(r.n)
        bag = json.loads(r.s)
        assert bag["len"] == len(series) == 7
        assert bag["min"] == min(series) and bag["max"] == max(series)
        assert bag["min_idx"] == series.index(min(series))
        assert bag["max_idx"] == series.index(max(series))
        assert bag["sum"] == sum(series)
        mean = sum(series) / len(series)
        var = sum((x - mean) ** 2 for x in series) / (len(series) - 1)
        assert math.isclose(bag["avg"], mean, rel_tol=1e-12)
        assert math.isclose(bag["stdev"], math.sqrt(var), rel_tol=1e-9)


def test_kql_partition_scan_semantics(spark):
    """partition(sort|scan): greedy non-overlapping automaton per key —
    advance only on the NEXT step's predicate, emit matched rows with
    step name + per-key sequence ordinal, reset after the last step;
    keys that never start a sequence emit nothing; with_match_id
    renames the ordinal column; grammar guards stay loud."""
    rows = [
        # (key, seq, kind) — key 1 completes two funnels with noise
        (1, 1, "view"), (1, 2, "view"), (1, 3, "click"),
        (1, 4, "error"), (1, 5, "purchase"), (1, 6, "view"),
        (1, 7, "purchase"), (1, 8, "click"), (1, 9, "purchase"),
        # key 2 never emits a 'view' — no rows at all
        (2, 1, "click"), (2, 2, "purchase"),
    ]
    df = spark.createDataFrame(rows, "k int, seq int, kind string")
    out = kql(
        "T | partition by k ( sort by seq asc"
        "   | scan with (step a: kind == 'view';"
        "                step b: kind == 'click';"
        "                step c: kind == 'purchase') )",
        {"T": df},
    )
    assert out.columns == ["k", "seq", "kind", "step", "match_id"]
    got = sorted((r.k, r.seq, r.step, r.match_id) for r in out.collect())
    assert got == [
        (1, 1, "a", 1), (1, 3, "b", 1), (1, 5, "c", 1),
        (1, 6, "a", 2), (1, 8, "b", 2), (1, 9, "c", 2),
    ]

    renamed = kql(
        "T | partition by k ( sort by seq asc"
        "   | scan with_match_id = m with (step a: kind == 'view') )",
        {"T": df},
    )
    assert "m" in renamed.columns and "match_id" not in renamed.columns
    # single-step scan: every matching row is its own sequence
    assert [r.m for r in renamed.orderBy("seq").collect()] == [1, 2, 3]

    with pytest.raises(ValueError, match="at least one step"):
        kql(
            "T | partition by k ( sort by seq | scan with ( ) )",
            {"T": df},
        )
    with pytest.raises(ValueError, match="expected 'step'"):
        kql(
            "T | partition by k ( sort by seq | scan with (oops x: 1) )",
            {"T": df},
        )
    with pytest.raises(ValueError, match="'top ...' or"):
        kql(
            "T | partition by k ( sort by seq | where kind == 'x' )",
            {"T": df},
        )


def test_kql_series_outliers_semantics(spark):
    """series_outliers: nulls score null, constant series (degenerate
    fence) scores all-zero, empty/all-null arrays score all-null, and
    a planted spike scores (x - q50)/(q90 - q10) with interpolated
    percentiles."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 1.0, 1.0, 1.0]),           # constant
            (2, [None, 2.0, None]),                    # nulls pass through
            (3, []),                                   # empty
            (4, [1.0, 2.0, 3.0, 4.0, 100.0]),          # spike
        ],
        "id int, arr array<double>",
    )
    out = {
        r.id: r.sc
        for r in kql(
            "T | extend sc = series_outliers(arr)", {"T": df}
        ).collect()
    }
    assert out[1] == [0.0] * 5
    assert out[2][0] is None and out[2][2] is None
    assert out[3] == []
    # id=4: n=5, idx10=0.4 -> q10 = 1*0.6+2*0.4 = 1.4; q50 = 3;
    # q90 = 4*(1-0.6)+100*0.6 = 61.6; fence [1.4, 61.6]; only 100 and
    # 1.0 are outside; 1.0 < q10 -> (1-3)/60.2
    import math

    sc = out[4]
    assert sc[1] == sc[2] == sc[3] == 0.0
    assert math.isclose(sc[4], (100 - 3) / 60.2, rel_tol=1e-12)
    assert math.isclose(sc[0], (1 - 3) / 60.2, rel_tol=1e-12)


def test_kql_basket_semantics(spark):
    """basket: exact depth-2 itemset counts with null attrs never
    forming itemsets; threshold floor is ceil(thr * rows); guards for
    non-string columns, arity, and threshold range stay loud."""
    df = spark.createDataFrame(
        [
            ("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("a", None),
        ],
        "c1 string, c2 string",
    )
    out = kql("T | evaluate basket(0.4)", {"T": df})
    assert out.columns == ["c1", "c2", "Count", "Percent"]
    rows = {(r.c1, r.c2): (r.Count, r.Percent) for r in out.collect()}
    # total 5, floor = ceil(0.4*5) = 2
    assert rows[("a", None)] == (4, 80.0)       # single {c1=a}
    assert rows[(None, "x")] == (3, 60.0)       # single {c2=x}
    assert rows[("a", "x")] == (2, 40.0)        # pair
    assert ("a", "y") not in rows               # count 1 < 2
    # the (a, NULL-value) row contributed to {c1=a} but never to a pair
    assert (None, None) not in rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="string attribute"):
        kql(
            "T | evaluate basket(0.4)",
            {"T": spark.createDataFrame([(1, "x")], "a int, b string")},
        )
    with _pytest.raises(ValueError, match="threshold"):
        kql("T | evaluate basket(1.5)", {"T": df})
    with _pytest.raises(ValueError, match="at least two"):
        kql("T | project c1 | evaluate basket(0.4)", {"T": df})


def test_kql_mv_expand_typed_index_limit(spark):
    """mv-expand extras: with_itemindex is 0-based, to typeof casts the
    element, and limit caps expansion PER RECORD (a pre-explode slice,
    so the generator never sees the oversized tail)."""
    import pytest

    from kafka_data_explorer_cdc_spark.kql import kql

    df = spark.createDataFrame(
        [(1, ["5", "7", "9"]), (2, ["1"]), (3, [])],
        "id int, vals array<string>",
    )
    got = kql(
        "T | mv-expand with_itemindex = i v = vals to typeof(long) limit 2"
        " | project id, i, v",
        {"T": df},
    ).collect()
    rows = sorted((r.id, r.i, r.v) for r in got)
    # id=1 capped at 2 of 3 elements; id=3's empty array yields no rows
    assert rows == [(1, 0, 5), (1, 1, 7), (2, 0, 1)]
    assert dict(kql("T | mv-expand v = vals to typeof(long)", {"T": df})
                .dtypes)["v"] == "bigint"
    with pytest.raises(ValueError, match="typeof"):
        kql("T | mv-expand v = vals to typeof(widget)", {"T": df})


def test_kql_narrow_semantics(spark):
    """evaluate narrow(): Row is the 0-based index of the REQUIRED
    preceding sort; every column narrows to a string Value; unordered
    input is an explicit error (a distributed engine has no implicit
    order to freeze)."""
    import pytest

    from kafka_data_explorer_cdc_spark.kql import kql

    df = spark.createDataFrame(
        [("b", 2), ("a", 1)], "k string, n int"
    )
    got = kql("T | sort by k asc | evaluate narrow()", {"T": df}).collect()
    triples = sorted((r.Row, r.Column, r.Value) for r in got)
    assert triples == [
        (0, "k", "a"), (0, "n", "1"),
        (1, "k", "b"), (1, "n", "2"),
    ]
    with pytest.raises(ValueError, match="sort"):
        kql("T | evaluate narrow()", {"T": df})


def test_kql_series_fir_semantics(spark):
    """series_fir: the LAST coefficient applies to the current sample
    (Kusto's documented alignment), edges zero-pad (tapered moving
    average), normalize divides by the coefficient sum, center shifts
    the window; a non-literal filter is an error."""
    import pytest

    from kafka_data_explorer_cdc_spark.kql import kql

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 10.0, 10.0, 10.0, 0.0])], "id int, x array<double>"
    )
    r = kql(
        "T | extend y = series_fir(x, dynamic([1, 2, 1]))"
        " | extend z = series_fir(x, dynamic([1, 1, 1]), true, true)",
        {"T": df},
    ).collect()[0]
    assert r.y == [0.0, 0.0, 10.0, 30.0, 40.0, 30.0]
    assert [round(v, 4) for v in r.z] == [
        0.0, 3.3333, 6.6667, 10.0, 6.6667, 3.3333,
    ]
    with pytest.raises(ValueError, match="dynamic"):
        kql("T | extend y = series_fir(x, x)", {"T": df})
    with pytest.raises(ValueError, match="nonzero"):
        kql("T | extend y = series_fir(x, dynamic([1, -1]), true)", {"T": df})


def test_kql_toscalar_semantics(spark):
    """toscalar(): exactly-one-row/one-column contract, string and
    numeric literal substitution, and the explicit error otherwise."""
    import pytest

    from kafka_data_explorer_cdc_spark.kql import kql

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 50.0, "b")], "id int, v double, s string"
    )
    got = kql(
        "T | where v > toscalar(T | summarize avg(v)) | project id",
        {"T": df},
    ).collect()
    assert [r.id for r in got] == [2]
    got2 = kql(
        "T | where s == toscalar(T | summarize max(s)) | project id",
        {"T": df},
    ).collect()
    assert [r.id for r in got2] == [2]
    with pytest.raises(ValueError, match="one row"):
        kql("T | where v > toscalar(T | project v) | project id", {"T": df})
    with pytest.raises(ValueError, match="one row"):
        kql(
            "T | where v > toscalar(T | summarize avg(v) by s) | project id",
            {"T": df},
        )


def test_kql_series_fir_rejects_malformed_bool_args(spark):
    """normalize/center must be the literal true/false — a typo used to
    silently disable normalization (round-8 advisor finding)."""
    df = spark.createDataFrame([([1.0, 2.0],)], "x array<double>")
    with pytest.raises(ValueError, match="normalize"):
        kql("T | extend y = series_fir(x, dynamic([1, 1]), ture)", {"T": df})
    with pytest.raises(ValueError, match="center"):
        kql(
            "T | extend y = series_fir(x, dynamic([1, 1]), false, 1)",
            {"T": df},
        )


def test_kql_fork_semantics(spark):
    """fork: branches continue from the shared pre-fork pipeline;
    kql() renders a fork_-discriminated union with null-fill,
    kql_fork() the faithful dict; fork must be last."""
    from kafka_data_explorer_cdc_spark.kql import kql_fork

    df = spark.createDataFrame(
        [("NY", 10), ("NY", 20), ("LA", 5)], "city string, amount long"
    )
    q = (
        "T | where amount > 0 | fork"
        "  a = ( summarize t = sum(amount) by city )"
        "  b = ( count )"
    )
    u = kql(q, {"T": df})
    assert u.columns == ["fork_", "city", "t", "Count"]
    rows = {(r["fork_"], r["city"], r["t"], r["Count"]) for r in u.collect()}
    assert rows == {
        ("a", "NY", 30, None), ("a", "LA", 5, None),
        ("b", None, None, 3),
    }
    d = kql_fork(q, {"T": df})
    assert sorted(d) == ["a", "b"]
    assert d["b"].collect()[0]["Count"] == 3
    with pytest.raises(ValueError, match="last"):
        kql("T | fork a = ( count ) | take 1", {"T": df})
    with pytest.raises(ValueError, match="at least one branch"):
        kql("T | fork", {"T": df})
    with pytest.raises(ValueError, match="duplicate"):
        kql("T | fork a = ( count ) a = ( count )", {"T": df})


def test_kql_materialize_binding(spark):
    """let x = materialize(...): same rows as the plain tabular let,
    persisted plan (InMemoryTableScan on re-reference)."""
    df = spark.createDataFrame(
        [("NY", 10), ("LA", 5)], "city string, amount long"
    )
    m = kql(
        "let M = materialize(T | summarize t = sum(amount) by city);"
        " M | join ( M ) on city | project city, t",
        {"T": df},
    )
    assert {(r["city"], r["t"]) for r in m.collect()} == {
        ("NY", 10), ("LA", 5)
    }
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    with pytest.raises(ValueError, match="unbalanced"):
        kql("let M = materialize(T | count) x; M | take 1", {"T": df})


def test_kql_externaldata_csv_and_errors(spark, tmp_path):
    """externaldata: declared schema is authoritative for csv (no
    inference), header honored, unknown formats/options rejected."""
    f = tmp_path / "t.csv"
    f.write_text("city,amount\nNY,10\nLA,5\n")
    df = kql(
        f"externaldata (city: string, amount: long) ['{f}']"
        " with (format='csv', header=true)",
        {},
    )
    assert dict(df.dtypes) == {"city": "string", "amount": "bigint"}
    assert {(r.city, r.amount) for r in df.collect()} == {
        ("NY", 10), ("LA", 5)
    }
    with pytest.raises(ValueError, match="format"):
        kql(
            f"externaldata (c: string) ['{f}'] with (format='avro')", {}
        )
    with pytest.raises(ValueError, match="at least one path"):
        kql("externaldata (c: string) [] with (format='csv')", {})
    with pytest.raises(ValueError, match="unsupported externaldata type"):
        kql(f"externaldata (c: decimal) ['{f}']", {})


def test_kql_series_decompose_semantics(spark):
    """series_decompose: trend+seasonal+residual == x exactly; a pure
    p-periodic signal lands (almost) entirely in seasonal away from
    the clamped edges; error paths are loud."""
    x = [1.0, 2.0, 3.0] * 3
    df = spark.createDataFrame([(x,)], "x array<double>")
    r = kql(
        "T | extend (b, s, tr, res) = series_decompose(x, 3)", {"T": df}
    ).collect()[0]
    for i in range(9):
        assert abs((r.tr[i] + r.s[i] + r.res[i]) - x[i]) < 1e-12
        assert abs(r.b[i] - (r.tr[i] + r.s[i])) < 1e-12
    # interior trend of a periodic signal is its mean; the residual is
    # small but nonzero there — the phase means fold in edge-clamped
    # positions (documented STL-lite approximation)
    assert [round(v, 6) for v in r.tr[2:7]] == [2.0] * 5
    assert all(abs(v) < 0.5 for v in r.res[2:7])
    # seasonal dominates the signal: phase pattern repeats exactly
    assert [round(v, 6) for v in r.s[:3]] == [round(v, 6) for v in r.s[3:6]]
    with pytest.raises(ValueError, match="period must be positive"):
        kql("T | extend (b, s, tr, res) = series_decompose(x, 0)", {"T": df})
    with pytest.raises(ValueError, match="integer literal"):
        kql("T | extend (b, s, tr, res) = series_decompose(x, 1.5)", {"T": df})
    with pytest.raises(ValueError, match="binds 2 names"):
        kql("T | extend (a, b) = series_decompose(x, 3)", {"T": df})
    with pytest.raises(ValueError, match="multi-output"):
        kql("T | extend (a, b) = strcat('x', 'y')", {"T": df})


def test_kql_computed_array_index(spark):
    """arr[i] with a computed index is 0-based element_at."""
    df = spark.createDataFrame(
        [([10, 20, 30], 2)], "arr array<int>, i int"
    )
    r = kql("T | extend v = arr[i], w = arr[0]", {"T": df}).collect()[0]
    assert (r.v, r.w) == (30, 10)


def test_kql_invoke_lambda(spark):
    """invoke: tabular lambda lets substitute at compile time; only
    lambda lets are invokable; errors are loud."""
    df = spark.createDataFrame(
        [("NY", 10), ("NY", 20), ("LA", 5)], "city string, amount long"
    )
    out = kql(
        "let f = (T:(*)) { T | where amount >= 10"
        " | summarize t = sum(amount) by city };"
        " O | invoke f()",
        {"O": df},
    )
    assert {(r.city, r.t) for r in out.collect()} == {("NY", 30)}
    with pytest.raises(ValueError, match="not a tabular lambda"):
        kql("O | invoke nope()", {"O": df})
    with pytest.raises(ValueError, match="not a tabular lambda"):
        kql("let x = 5; O | invoke x()", {"O": df})


def test_kql_parse_regex_mode(spark):
    """parse kind=regex: fragments are raw regex; capturing groups in
    fragments are rejected; simple mode still escapes."""
    df = spark.createDataFrame(
        [("v=42;;tag=ab",), ("v=7;tag=cd",)], "line string"
    )
    out = kql(
        "T | parse kind=regex line with 'v=' v ';+tag=' tag",
        {"T": df},
    ).collect()
    assert {(r.v, r.tag) for r in out} == {("42", "ab"), ("7", "cd")}
    with pytest.raises(ValueError, match="non-capturing"):
        kql("T | parse kind=regex line with '(v=)' x", {"T": df})
    with pytest.raises(ValueError, match="simple or regex"):
        kql("T | parse kind=glob line with 'v=' x", {"T": df})
    # simple mode: ';+' is literal, so nothing matches the ';;' row
    simple = kql(
        "T | parse line with 'v=' v ';+tag=' tag", {"T": df}
    ).collect()
    assert all(r.v == "" for r in simple)


def test_render_vegalite_handoff(spark):
    """render_vegalite: the trailing render hint becomes a
    self-contained Vega-Lite dict (bounded collect, inferred
    encoding); None without a hint or for markless types."""
    import json

    from kafka_data_explorer_cdc_spark.kql import render_vegalite

    df = spark.createDataFrame(
        [("NY", 30), ("LA", 5)], "city string, total long"
    )
    out = kql(
        "T | summarize total = sum(total) by city | render barchart"
        " with (title = 'x')",
        {"T": df},
    )
    spec = render_vegalite(out)
    assert spec["mark"] == "bar"
    assert spec["encoding"]["x"] == {"field": "city", "type": "nominal"}
    assert spec["encoding"]["y"] == {"field": "total", "type": "quantitative"}
    assert {v["city"] for v in spec["data"]["values"]} == {"NY", "LA"}
    json.dumps(spec)  # JSON-serializable end to end
    assert render_vegalite(kql("T | count", {"T": df})) is None
    # timechart: temporal x, ascending sort, ISO timestamps
    ts = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.0)], "t string, v double"
    ).withColumn("t", F.to_timestamp("t"))
    spec2 = render_vegalite(kql("T | render timechart", {"T": ts}))
    assert spec2["encoding"]["x"]["type"] == "temporal"
    assert spec2["data"]["values"][0]["t"].startswith("2024-01-01T10:00:00")
    json.dumps(spec2)
    # piechart: theta/color form
    spec3 = render_vegalite(kql("T | render piechart", {"T": df}))
    assert spec3["mark"] == "arc" and "theta" in spec3["encoding"]


def test_kql_graph_match(spark):
    """make-graph + graph-match: chained-join compilation, cycle
    closure via repeated variables, loud contract errors."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "s long, d long"
    )
    out = kql(
        "E | make-graph s --> d"
        " | graph-match (a)-[]->(b)-[]->(c) where a != c project a, b, c",
        {"E": e},
    )
    got = {(r.a, r.b, r.c) for r in out.collect()}
    assert got == {(3, 1, 2), (1, 2, 3), (1, 2, 4), (2, 3, 1)}
    tri = kql(
        "E | make-graph s --> d"
        " | graph-match (a)-[]->(b)-[]->(c)-[]->(a) project a, b, c",
        {"E": e},
    )
    assert {(r.a, r.b, r.c) for r in tri.collect()} == {
        (1, 2, 3), (2, 3, 1), (3, 1, 2)
    }
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError, match="followed by graph-match"):
        kql("E | make-graph s --> d | take 1", {"E": e})
    with pytest.raises(ValueError, match="followed by graph-match"):
        kql("E | make-graph s --> d", {"E": e})
    with pytest.raises(ValueError, match="preceding make-graph"):
        kql("E | graph-match (a)-[]->(b) project a", {"E": e})
    with pytest.raises(ValueError, match="project clause"):
        kql("E | make-graph s --> d | graph-match (a)-[]->(b)", {"E": e})
    with pytest.raises(ValueError, match="column 'x' not found"):
        kql("E | make-graph x --> d | graph-match (a)-[]->(b) project a",
            {"E": e})


def test_kql_let_forms_compose(spark):
    """materialize + tabular lambda + fork in one query: lambda lets
    stay visible inside fork branches, and the materialized binding is
    shared by both branches."""
    df = spark.createDataFrame(
        [("NY", 10), ("NY", 20), ("LA", 5)], "city string, amount long"
    )
    out = kql(
        "let by_city = (T:(*)) { T | summarize t = sum(amount) by city };"
        " let M = materialize(O | where amount > 0);"
        " M | fork"
        "   a = ( invoke by_city() )"
        "   b = ( count )",
        {"O": df},
    )
    rows = {(r["fork_"], r["city"], r["t"], r["Count"])
            for r in out.collect()}
    assert rows == {
        ("a", "NY", 30, None), ("a", "LA", 5, None), ("b", None, None, 3),
    }


def test_kql_hll_sketch_algebra(spark):
    """hll()/hll_merge() aggregates + scalar dcount_hll(): mergeable
    Datasketches HLL — per-group sketches union at rest to the same
    estimate as a direct sketch of the whole column (the b41 at-rest
    contract, surfaced in KQL)."""
    df = spark.createDataFrame(
        [(i % 7, i % 1000) for i in range(20000)], "g int, v int"
    )
    merged = kql(
        "T | summarize h = hll(v) by g"
        " | summarize m = hll_merge(h)"
        " | extend n = dcount_hll(m) | project n",
        {"T": df},
    ).collect()[0]["n"]
    direct = kql(
        "T | summarize h = hll(v) | extend n = dcount_hll(h) | project n",
        {"T": df},
    ).collect()[0]["n"]
    assert merged == direct  # union of partial sketches is lossless
    assert abs(merged - 1000) / 1000 < 0.05  # HLL error bound


def test_kql_scalar_function_batch_round9(spark):
    """Round-9 scalar additions: hash/tohex, array_index_of/slice/
    reverse/sort, max_of/min_of, base64 + url round-trips,
    trim_start/trim_end, strcat_delim, translate (Kusto arg order),
    datetime_add calendar semantics, isnan/isfinite."""
    df = spark.createDataFrame(
        [("ab cd", 7, [3, 1, 2], "2024-01-31 01:00:00")],
        "s string, n long, arr array<int>, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = kql(
        "T | extend hm = hash(s, 100), hx = tohex(n),"
        " i0 = array_index_of(arr, 1), im = array_index_of(arr, 99),"
        " sl = array_slice(arr, 0, 1), rv = array_reverse(arr),"
        " sa = array_sort_asc(arr), sd = array_sort_desc(arr),"
        " mx = max_of(n, 100), mn = min_of(n, 100),"
        " d = base64_decode_tostring(base64_encode_tostring(s)),"
        " ud = url_decode(url_encode_component(s)),"
        " t1 = trim_start('a', s), t2 = trim_end('d', s),"
        " j = strcat_delim('-', s, n), tr = translate('abc', 'xyz', s),"
        " nf = isfinite(todouble(n)), na = isnan(todouble(n)),"
        " am = datetime_add('month', 1, ts),"
        " aq = datetime_add('quarter', 2, ts)",
        {"T": df},
    ).collect()[0]
    assert 0 <= r["hm"] < 100
    assert r["hx"] == "7"
    assert r["i0"] == 1 and r["im"] == -1  # Kusto: -1 when absent
    assert r["sl"] == [3, 1] and r["rv"] == [2, 1, 3]
    assert r["sa"] == [1, 2, 3] and r["sd"] == [3, 2, 1]
    assert (r["mx"], r["mn"]) == (100, 7)
    assert r["d"] == "ab cd" and r["ud"] == "ab cd"
    assert r["t1"] == "b cd" and r["t2"] == "ab c"
    assert r["j"] == "ab cd-7" and r["tr"] == "xy zd"
    assert r["nf"] is True and r["na"] is False
    assert str(r["am"]).startswith("2024-02-29")  # calendar month add
    assert str(r["aq"]).startswith("2024-07-31")
    with pytest.raises(ValueError, match="datetime_add part"):
        kql("T | extend x = datetime_add('fortnight', 1, ts)", {"T": df})
    with pytest.raises(ValueError, match="string-literal separator"):
        kql("T | extend x = strcat_delim(n, s)", {"T": df})
    with pytest.raises(ValueError, match="character maps"):
        kql("T | extend x = translate(s, s, s)", {"T": df})


def test_kql_computed_array_index_negative_from_end(spark):
    """Round-10 ADVICE: current Kusto documents NEGATIVE array indices
    as counting from the end (arr[-1] = last element); out-of-range in
    either direction yields null (never an ANSI throw), and the
    literal and computed spellings must agree."""
    df = spark.createDataFrame(
        [
            ([10, 20, 30], -1),
            ([10, 20, 30], -4),
            ([10, 20, 30], 9),
            ([10, 20, 30], 1),
        ],
        "arr array<int>, i int",
    )
    out = {r["i"]: r["v"] for r in kql("T | extend v = arr[i]", {"T": df}).collect()}
    assert out == {-1: 30, -4: None, 9: None, 1: 20}
    # literal spelling routes through the same try_element_at path
    lit = kql(
        "T | extend a = arr[-1], b = arr[0], c = arr[9]", {"T": df}
    ).collect()[0]
    assert (lit.a, lit.b, lit.c) == (30, 10, None)


def test_kql_parse_regex_rejects_named_capture_groups(spark):
    """Round-9 ADVICE: '(?<name>...)' is a CAPTURING group (Java named
    capture) and must be rejected like '(...)' — it shifts the
    name-to-group mapping. Lookbehinds '(?<=' / '(?<!' still pass."""
    df = spark.createDataFrame([("v=42;",)], "line string")
    with pytest.raises(ValueError, match="non-capturing"):
        kql("T | parse kind=regex line with '(?<k>v)=' x ';'", {"T": df})
    # lookbehind is not a capture — guard must let it through
    out = kql(
        "T | parse kind=regex line with 'v(?<=v)=' v ';'", {"T": df}
    ).collect()
    assert out[0]["v"] == "42"


def test_kql_fork_last_stage_with_toscalar(spark):
    """Round-9 ADVICE: the toscalar rewrite rebinds the stage string,
    so the 'fork must be last' check must be positional, not identity —
    a final fork containing toscalar in a branch is legal."""
    from kafka_data_explorer_cdc_spark.kql import kql_fork

    df = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "id int, amount int"
    )
    d = kql_fork(
        "T | fork big = ( where amount > toscalar( T | summarize "
        "avg(amount) ) | count )",
        {"T": df},
    )
    assert d["big"].collect()[0][0] == 1


def test_kql_unpersist_caches_releases_fork_and_materialize(spark):
    """Round-9 ADVICE: fork bases and materialize() bindings persist
    MEMORY_AND_DISK and outlive the compile; the documented hook must
    release them all and leave the tracking list empty."""
    from kafka_data_explorer_cdc_spark.kql import (
        _KQL_PERSISTED,
        kql,
        kql_fork,
        kql_unpersist_caches,
    )

    df = spark.createDataFrame([(1,), (2,)], "x int")
    kql_unpersist_caches()  # drain leftovers from other tests
    forked = kql_fork("T | fork a = ( count )", {"T": df})
    forked["a"].collect()
    kql(
        "let m = materialize( T | summarize n = count() ); m | project n",
        {"T": df},
    ).collect()
    assert len(_KQL_PERSISTED) == 2
    assert kql_unpersist_caches() == 2
    assert not _KQL_PERSISTED


def test_kql_sequence_detect_semantics(spark):
    """sequence_detect: greedy non-overlapping per-key automaton with
    step/span windows; a candidate outside its window aborts and is
    retested as a fresh first step; output = per-step timestamps."""
    import datetime as dt

    T = lambda d, h, m: dt.datetime(2024, 1, d, h, m)  # noqa: E731
    rows = [
        (1, 1, T(1, 10, 0), "view"), (1, 2, T(1, 10, 30), "click"),
        (1, 3, T(1, 11, 0), "purchase"),
        # click 3h after view violates the 2h step window -> abort
        (1, 4, T(1, 12, 0), "view"), (1, 5, T(1, 15, 30), "click"),
        (1, 6, T(1, 16, 0), "view"), (1, 7, T(1, 16, 30), "click"),
        (1, 8, T(1, 17, 0), "purchase"),
        # span 8h > 6h window -> purchase aborts the sequence
        (2, 9, T(2, 1, 0), "view"), (2, 10, T(2, 2, 30), "click"),
        (2, 11, T(2, 9, 0), "purchase"),
        (3, 12, T(3, 1, 0), "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, event_type string"
    )
    out = kql(
        "T | extend f1 = event_type == 'view', f2 = event_type == 'click',"
        " f3 = event_type == 'purchase'"
        " | evaluate sequence_detect(ts, 2h, 6h, f1, f2, f3, user_id)",
        {"T": df},
    )
    assert out.columns == ["user_id", "f1_ts", "f2_ts", "f3_ts"]
    import datetime as dt2
    got = sorted((r.user_id, r.f1_ts, r.f3_ts) for r in out.collect())
    assert got == [
        (1, T(1, 10, 0), T(1, 11, 0)),
        (1, T(1, 16, 0), T(1, 17, 0)),
    ]
    with pytest.raises(ValueError, match="boolean flag"):
        kql(
            "T | evaluate sequence_detect(ts, 2h, 6h, event_type, user_id)",
            {"T": df},
        )
    with pytest.raises(ValueError, match="precede the key"):
        kql(
            "T | extend f1 = event_type == 'view', f2 = true"
            " | evaluate sequence_detect(ts, 2h, 6h, f1, user_id, f2)",
            {"T": df},
        )


def test_kql_funnel_sequence_semantics(spark):
    """funnel_sequence: earliest-completion ordered (non-adjacent)
    matching, distinct ids bucketed by the period of t1."""
    import datetime as dt

    T = lambda d, h, m: dt.datetime(2024, 1, d, h, m)  # noqa: E731
    rows = [
        (1, T(1, 10, 0), "view"), (1, T(1, 12, 0), "click"),
        (1, T(1, 13, 0), "purchase"),
        # user 2: out of order (purchase before click) -> no funnel
        (2, T(2, 1, 0), "view"), (2, T(2, 2, 0), "purchase"),
        (2, T(2, 3, 0), "click"),
        # user 3: completes across days; period = day of FIRST view
        (3, T(2, 23, 0), "view"), (3, T(3, 1, 0), "click"),
        (3, T(4, 5, 0), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    out = kql(
        "T | evaluate funnel_sequence(user_id, ts, 1d, event_type,"
        " ('view', 'click', 'purchase'))",
        {"T": df},
    )
    got = sorted((r.period, r.ids) for r in out.collect())
    assert got == [(T(1, 0, 0), 1), (T(2, 0, 0), 1)]
    with pytest.raises(ValueError, match="string literals"):
        kql(
            "T | evaluate funnel_sequence(user_id, ts, 1d, event_type,"
            " (view, click))",
            {"T": df},
        )
    # Round-10 ADVICE: a sub-second bin would truncate int(bin_s) to 0
    # and the period division silently yields null — reject loudly.
    with pytest.raises(ValueError, match="bin must be >= 1 second"):
        kql(
            "T | evaluate funnel_sequence(user_id, ts, 500ms, event_type,"
            " ('view', 'click'))",
            {"T": df},
        )


def test_kql_sequence_detect_duplicate_ts_deterministic(spark):
    """Round-10 ADVICE: per-key duplicate timestamps must not make
    sequence_detect's matches nondeterministic — ties break on
    event_id (matching the k72/s51 oracles' ORDER BY ts, event_id).
    With (click@t0 id=1, view@t0 id=2) the event_id order processes
    click BEFORE view, so the sequence view->click cannot complete at
    t0 and must wait for the later click."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    t1 = dt.datetime(2024, 1, 1, 10, 5)
    rows = [
        (7, 1, t0, "click"),
        (7, 2, t0, "view"),
        (7, 3, t1, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id long, ts timestamp, event_type string"
    )
    out = kql(
        "T | extend f1 = event_type == 'view', f2 = event_type == 'click'"
        " | evaluate sequence_detect(ts, 1d, 1d, f1, f2, user_id)",
        {"T": df},
    ).collect()
    assert len(out) == 1
    assert (out[0]["f1_ts"], out[0]["f2_ts"]) == (t0, t1)


def test_kql_series_fill_semantics(spark):
    """series_fill quartet: const replaces every null; forward leaves
    leading nulls, backward trailing; linear interpolates interior
    runs and takes the nearest value at the edges (Kusto contracts)."""
    df = spark.createDataFrame(
        [([None, 2.0, None, None, 8.0, None],)], "v array<double>"
    )
    r = kql(
        "T | extend c = series_fill_const(v, -1.0),"
        " f = series_fill_forward(v), b = series_fill_backward(v),"
        " l = series_fill_linear(v)",
        {"T": df},
    ).collect()[0]
    assert r["c"] == [-1.0, 2.0, -1.0, -1.0, 8.0, -1.0]
    assert r["f"] == [None, 2.0, 2.0, 2.0, 8.0, 8.0]
    assert r["b"] == [2.0, 2.0, 8.0, 8.0, 8.0, None]
    assert r["l"] == [2.0, 2.0, 4.0, 6.0, 8.0, 8.0]
    # all-null and empty arrays survive every fill
    edge = spark.createDataFrame(
        [([None, None],), ([],)], "v array<double>"
    )
    rows = kql(
        "T | extend f = series_fill_forward(v), l = series_fill_linear(v)",
        {"T": edge},
    ).collect()
    got = sorted((list(r["f"]), list(r["l"])) for r in rows)
    assert got == [([], []), ([None, None], [None, None])]


def test_kql_make_series_default_null(spark):
    """make-series default = null / double(null): empty bins surface
    as nulls (the shape series_fill_* consumes)."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 10.0), (dt.datetime(2024, 1, 3, 5), 30.0)],
        "ts timestamp, value double",
    )
    for spelling in ("null", "double(null)"):
        r = kql(
            f"T | make-series v = avg(value) default = {spelling} on ts"
            " from '2024-01-01 00:00:00' to '2024-01-04 00:00:00' step 1d",
            {"T": df},
        ).collect()[0]
        assert r["v"] == [10.0, None, 30.0]


def test_kql_series_fit_line_semantics(spark):
    """series_fit_line pinned contract: 0-based x axis, population
    moments, rsquare = 1 on flat/perfect series, empty series all
    null; output order (rsquare, slope, variance, rvariance,
    interception, line_fit)."""
    df = spark.createDataFrame(
        [
            ("perfect", [1.0, 2.0, 3.0, 4.0]),
            ("flat", [5.0, 5.0, 5.0]),
            ("noisy", [1.0, 3.0, 5.0, 2.0]),
            ("empty", []),
        ],
        "g string, y array<double>",
    )
    rows = {
        r["g"]: r
        for r in kql(
            "T | extend (rsq, sl, v, rv, ic, fit) = series_fit_line(y)",
            {"T": df},
        ).collect()
    }
    p = rows["perfect"]
    assert p["sl"] == pytest.approx(1.0) and p["ic"] == pytest.approx(1.0)
    assert p["rsq"] == pytest.approx(1.0) and p["rv"] == pytest.approx(0.0)
    assert p["fit"] == pytest.approx([1.0, 2.0, 3.0, 4.0])
    f = rows["flat"]
    assert f["sl"] == 0.0 and f["ic"] == 5.0 and f["rsq"] == 1.0
    assert f["v"] == 0.0
    n = rows["noisy"]
    # hand OLS: x=0..3, y=(1,3,5,2): slope 0.5, icpt 2.0
    assert n["sl"] == pytest.approx(0.5) and n["ic"] == pytest.approx(2.0)
    assert 0.0 < n["rsq"] < 1.0
    # population variance of (1,3,5,2) = 35/16... mean 2.75 -> 2.1875
    assert n["v"] == pytest.approx(2.1875)
    e = rows["empty"]
    assert e["sl"] is None and e["fit"] is None


def test_kql_series_fit_2lines_semantics(spark):
    """series_fit_2lines pinned contract: split sweep over [2, n-2]
    (both sides >= 2 points), ties keep the smallest split, n < 4
    falls back to the single-line fit with split_idx = -1."""
    df = spark.createDataFrame(
        [
            # flat then steep: the knee is at index 3
            ("knee", [1.0, 1.0, 1.0, 5.0, 9.0, 13.0]),
            ("short", [2.0, 7.0]),
            # perfectly linear: every split is exact; ties keep k=2
            ("line", [0.0, 2.0, 4.0, 6.0, 8.0]),
        ],
        "g string, y array<double>",
    )
    rows = {
        r["g"]: r
        for r in kql(
            "T | extend (rsq, k, v, rv, fit) = series_fit_2lines(y)",
            {"T": df},
        ).collect()
    }
    k = rows["knee"]
    # left [1,1,1] flat + right [5,9,13] exact line -> SSE 0 at k=3,
    # but k=2 also reaches SSE 0 (left [1,1]; right [1,5,9,13] exact):
    # the smallest zero-SSE split wins
    assert k["k"] == 2 and k["rv"] == pytest.approx(0.0)
    assert k["rsq"] == pytest.approx(1.0)
    assert k["fit"] == pytest.approx([1.0, 1.0, 1.0, 5.0, 9.0, 13.0])
    s = rows["short"]
    assert s["k"] == -1  # too short to split: single-line fallback
    assert s["fit"] == pytest.approx([2.0, 7.0])
    ln = rows["line"]
    assert ln["k"] == 2 and ln["rv"] == pytest.approx(0.0)
    assert ln["fit"] == pytest.approx([0.0, 2.0, 4.0, 6.0, 8.0])


def test_kql_activity_counts_metrics_semantics(spark):
    """activity_counts_metrics: new is relative to the analyzed range,
    aggregated_dcount is the running distinct union, silent bins emit
    zeros."""
    import datetime as dt

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 1)),
        ("u1", dt.datetime(2024, 1, 1, 5)),
        ("u1", dt.datetime(2024, 1, 2, 2)),
        ("u2", dt.datetime(2024, 1, 2, 3)),
        ("u3", dt.datetime(2024, 1, 4, 1)),
    ]
    df = spark.createDataFrame(rows, "uid string, ts timestamp")
    out = kql(
        "T | evaluate activity_counts_metrics(uid, ts,"
        " datetime('2024-01-01 00:00:00'),"
        " datetime('2024-01-05 00:00:00'), 1d)",
        {"T": df},
    ).collect()
    got = [
        (r["count"], r["dcount"], r["new_dcount"], r["aggregated_dcount"])
        for r in out
    ]
    assert got == [(2, 1, 1, 1), (2, 2, 1, 2), (0, 0, 0, 2), (1, 1, 1, 3)]


def test_kql_new_activity_metrics_semantics(spark):
    """new_activity_metrics: cohort = first-activity bin; retained
    counts cohort ids active in the to bin; empty cohorts rate null."""
    import datetime as dt

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 1)),
        ("u1", dt.datetime(2024, 1, 3, 1)),  # retained in bin 2
        ("u2", dt.datetime(2024, 1, 2, 1)),  # new in bin 1, churns
    ]
    df = spark.createDataFrame(rows, "uid string, ts timestamp")
    out = kql(
        "T | evaluate new_activity_metrics(uid, ts,"
        " datetime('2024-01-01 00:00:00'),"
        " datetime('2024-01-04 00:00:00'), 1d)",
        {"T": df},
    ).collect()
    by = {
        (r["from_Timestamp"].day, r["to_Timestamp"].day): (
            r["dcount_new_values"],
            r["dcount_retained_values"],
            r["retention_rate"],
        )
        for r in out
    }
    assert by[(1, 1)] == (1, 1, 100.0)
    assert by[(1, 2)] == (1, 0, 0.0)
    assert by[(1, 3)] == (1, 1, 100.0)
    assert by[(2, 3)] == (1, 0, 0.0)
    assert by[(3, 3)][0] == 0 and by[(3, 3)][2] is None
    assert len(out) == 6  # dense upper triangle over 3 bins


def test_kql_session_count_semantics(spark):
    """session_count pinned contract: a session starts at an event
    with no same-id event within the look-back; a session straddling
    Start is NOT re-counted (pre-Start events feed the look-back)."""
    import datetime as dt

    rows = [
        # u1: two sessions on day 1 (01:00 and 05:00, 3h lookback)
        ("u1", dt.datetime(2024, 1, 1, 1)),
        ("u1", dt.datetime(2024, 1, 1, 5)),
        # u2: active 23:30 of Dec 31 (pre-Start) then 00:30 Jan 1 —
        # the Jan-1 event continues the pre-Start session: no start
        ("u2", dt.datetime(2023, 12, 31, 23, 30)),
        ("u2", dt.datetime(2024, 1, 1, 0, 30)),
    ]
    df = spark.createDataFrame(rows, "uid string, ts timestamp")
    out = kql(
        "T | evaluate session_count(uid, ts,"
        " datetime('2024-01-01 00:00:00'),"
        " datetime('2024-01-03 00:00:00'), 1d, 3h)",
        {"T": df},
    ).collect()
    assert [(r["SessionCount"]) for r in out] == [2, 0]


def test_kql_ipv4_scalars(spark):
    """IPv4 scalar family: parse/format round-trip, malformed -> null
    (shape and octet-range), RFC-1918 classes, CIDR membership
    including bare-address (/32) and /0 ranges."""
    df = spark.createDataFrame(
        [
            ("10.1.2.3",),
            ("172.16.0.1",),
            ("172.32.0.1",),
            ("192.168.255.255",),
            ("8.8.8.8",),
            ("1.2.3.256",),  # octet out of range
            ("1.2.3",),  # wrong shape
            ("junk",),
        ],
        "ip string",
    )
    rows = {
        r["ip"]: r
        for r in kql(
            "T | extend n = parse_ipv4(ip), back = format_ipv4(parse_ipv4(ip)),"
            " priv = ipv4_is_private(ip),"
            " r32 = ipv4_is_in_range(ip, '8.8.8.8'),"
            " r0 = ipv4_is_in_range(ip, '0.0.0.0/0'),"
            " r12 = ipv4_is_in_range(ip, '172.16.0.0/12')",
            {"T": df},
        ).collect()
    }
    assert rows["10.1.2.3"]["n"] == 10 * 16777216 + 1 * 65536 + 2 * 256 + 3
    assert rows["10.1.2.3"]["back"] == "10.1.2.3"
    assert rows["10.1.2.3"]["priv"] is True
    assert rows["172.16.0.1"]["priv"] is True
    assert rows["172.32.0.1"]["priv"] is False  # just past the /12
    assert rows["192.168.255.255"]["priv"] is True
    assert rows["8.8.8.8"]["priv"] is False
    assert rows["8.8.8.8"]["r32"] is True and rows["10.1.2.3"]["r32"] is False
    assert rows["8.8.8.8"]["r0"] is True
    assert rows["172.16.0.1"]["r12"] is True
    assert rows["172.32.0.1"]["r12"] is False
    for bad in ("1.2.3.256", "1.2.3", "junk"):
        assert rows[bad]["n"] is None
        assert rows[bad]["priv"] is None
        assert rows[bad]["r0"] is None


def test_kql_geo_distance_2points(spark):
    """geo_distance_2points pinned haversine contract: 1 degree of
    longitude at the equator ~ 111.19 km on the R=6371 km sphere;
    zero distance for identical points; out-of-range -> null."""
    df = spark.createDataFrame(
        [
            (0.0, 0.0, 1.0, 0.0),  # 1 deg lon at equator
            (10.0, 50.0, 10.0, 50.0),  # same point
            (0.0, 95.0, 0.0, 0.0),  # bad latitude
        ],
        "lon1 double, lat1 double, lon2 double, lat2 double",
    )
    rows = kql(
        "T | extend d = geo_distance_2points(lon1, lat1, lon2, lat2)",
        {"T": df},
    ).collect()
    import math

    expected = 2 * 6371000.0 * math.asin(math.sin(math.pi / 360.0))
    assert rows[0]["d"] == pytest.approx(expected, rel=1e-12)
    assert 111100.0 < rows[0]["d"] < 111300.0
    assert rows[1]["d"] == 0.0
    assert rows[2]["d"] is None


def test_kql_array_manipulation_scalars(spark):
    """array family: rotate (negative = right), shift (null fill via
    out-of-range get), split, pack_array, zip, the dedup set_* trio,
    and element-wise array_iff."""
    df = spark.createDataFrame(
        [([1, 2, 3, 4, 5], [4, 5, 6])], "a array<int>, b array<int>"
    )
    r = kql(
        "T | extend rl = array_rotate_left(a, 2),"
        " rr = array_rotate_right(a, 1),"
        " rneg = array_rotate_left(a, -1),"
        " sl = array_shift_left(a, 2),"
        " sr = array_shift_right(a, 2),"
        " sp = array_split(a, 2),"
        " pk = pack_array(10, 20),"
        " z = zip(b, b),"
        " su = set_union(a, b), si = set_intersect(a, b),"
        " sd = set_difference(a, b),"
        " ai = array_iff(pack_array(true, false, true),"
        "                pack_array(1, 2, 3), pack_array(9, 8, 7))",
        {"T": df},
    ).collect()[0]
    assert r["rl"] == [3, 4, 5, 1, 2]
    assert r["rr"] == [5, 1, 2, 3, 4]
    assert r["rneg"] == [5, 1, 2, 3, 4]
    assert r["sl"] == [3, 4, 5, None, None]
    assert r["sr"] == [None, None, 1, 2, 3]
    assert r["sp"] == [[1, 2], [3, 4, 5]]
    assert r["pk"] == [10, 20]
    assert r["z"] == [[4, 4], [5, 5], [6, 6]]
    assert r["su"] == [1, 2, 3, 4, 5, 6]
    assert r["si"] == [4, 5]
    assert r["sd"] == [1, 2, 3]
    assert r["ai"] == [1, 8, 3]


def test_kql_parse_url(spark):
    """parse_url: Kusto's documented bag keys over Spark's built-in
    URL decomposition, including credentials, port, query bag and
    fragment."""
    import json

    df = spark.createDataFrame(
        [
            ("https://user:pw@shop.example.com:8080/a/b?x=1&y=2#frag",),
            ("http://plain.example.org/path",),
        ],
        "u string",
    )
    rows = kql("T | extend p = parse_url(u)", {"T": df}).collect()
    full = json.loads(rows[0]["p"])
    assert full["Scheme"] == "https"
    assert full["Host"] == "shop.example.com"
    assert full["Port"] == "8080"
    assert full["Path"] == "/a/b"
    assert full["Username"] == "user" and full["Password"] == "pw"
    assert full["Query Parameters"] == {"x": "1", "y": "2"}
    assert full["Fragment"] == "frag"
    plain = json.loads(rows[1]["p"])
    assert plain["Scheme"] == "http" and plain["Path"] == "/path"
    assert plain.get("Port", "") in ("", None)


def test_kql_datetime_diff_and_endof(spark):
    """datetime_diff counts calendar BOUNDARIES (Kusto), weeks anchor
    Sunday; endof* returns the last microsecond of the period."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2016, 12, 31, 23, 59), dt.datetime(2017, 1, 1, 0, 1))],
        "a timestamp, b timestamp",
    )
    r = kql(
        "T | extend y = datetime_diff('year', b, a),"
        " m = datetime_diff('month', b, a),"
        " d = datetime_diff('day', b, a),"
        " h = datetime_diff('hour', b, a),"
        " w = datetime_diff('week', datetime('2024-01-07 00:00:00'), "
        "datetime('2024-01-06 23:59:59')),"  # Sat -> Sun: one Sunday crossed
        " eod = endofday(a), eom = endofmonth(a), eoy = endofyear(a),"
        " eow = endofweek(datetime('2024-01-03 12:00:00'))",
        {"T": df},
    ).collect()[0]
    assert r["y"] == 1 and r["m"] == 1 and r["d"] == 1 and r["h"] == 1
    assert r["w"] == 1
    assert r["eod"] == dt.datetime(2016, 12, 31, 23, 59, 59, 999999)
    assert r["eom"] == dt.datetime(2016, 12, 31, 23, 59, 59, 999999)
    assert r["eoy"] == dt.datetime(2016, 12, 31, 23, 59, 59, 999999)
    # 2024-01-03 is a Wednesday; the Sunday-anchored week ends Sat 06
    assert r["eow"] == dt.datetime(2024, 1, 6, 23, 59, 59, 999999)


def test_kql_binary_scalars(spark):
    """binary_* family: 64-bit bitwise ops with expression shift
    counts."""
    df = spark.createDataFrame([(12, 10, 2)], "a long, b long, n long")
    r = kql(
        "T | extend ba = binary_and(a, b), bo = binary_or(a, b),"
        " bx = binary_xor(a, b), bn = binary_not(a),"
        " sl = binary_shift_left(a, n), sr = binary_shift_right(a, n)",
        {"T": df},
    ).collect()[0]
    assert r["ba"] == 8 and r["bo"] == 14 and r["bx"] == 6
    assert r["bn"] == ~12
    assert r["sl"] == 48 and r["sr"] == 3


def test_kql_bag_functions(spark):
    """Dynamic-bag family: typed struct form for literal keys, string
    map for computed keys, first-wins merge collision, key algebra."""
    import json

    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    r = kql(
        "T | extend b = bag_pack('x', v, 'y', k)"
        " | extend m = bag_merge(b, bag_pack('x', 99, 'z', 7))"
        " | extend ks = bag_keys(m), r = bag_remove_keys(m, pack_array('x'))"
        " | sort by k asc",
        {"T": df},
    ).collect()
    assert json.loads(r[0]["b"]) == {"x": 1, "y": "a"}  # typed values
    m = json.loads(r[0]["m"])
    assert m["x"] == "1"  # FIRST bag wins on collision
    assert m["z"] == "7"
    assert r[0]["ks"] == ["x", "y", "z"]
    assert set(json.loads(r[0]["r"])) == {"y", "z"}
    # computed keys fall back to the string-map form
    r2 = kql("T | extend b = bag_pack(k, v)", {"T": df}).collect()
    assert json.loads(r2[0]["b"]) in ({"a": "1"}, {"b": "2"})


def test_kql_make_bag_deterministic_merge(spark):
    """make_bag: group-wise union; collisions resolve first-wins in
    ascending JSON-string order (the pinned deterministic refinement
    of Kusto's arbitrary pick)."""
    import json

    df = spark.createDataFrame(
        [(1, '{"a":"1","k":"x"}'), (1, '{"b":"2","k":"y"}')],
        "g int, b string",
    )
    r = kql("T | summarize B = make_bag(b) by g", {"T": df}).collect()
    bag = json.loads(r[0]["B"])
    # '{"a"...' sorts before '{"b"...' -> its k wins
    assert bag == {"a": "1", "k": "x", "b": "2"}


def test_kql_format_datetime_tokens(spark):
    """format_datetime: Kusto tokens (tt -> AM/PM, f -> fractional)
    translate; unsupported tokens are compile errors."""
    df = spark.createDataFrame(
        [("2024-03-05 14:30:45.123",)], "s string"
    ).selectExpr("cast(s as timestamp) ts")
    r = kql(
        "T | extend a = format_datetime(ts, 'yyyy-MM-dd hh:mm tt'),"
        " b = format_datetime(ts, 'HH:mm:ss.fff')",
        {"T": df},
    ).collect()[0]
    assert r["a"] == "2024-03-05 02:30 PM"
    assert r["b"] == "14:30:45.123"
    with pytest.raises(ValueError, match="unsupported format_datetime"):
        kql("T | extend a = format_datetime(ts, 'QQ')", {"T": df})


def test_kql_format_timespan_and_totimespan(spark):
    df = spark.createDataFrame([(93784.5,)], "x double")  # 1d 2h 3m 4.5s
    r = kql(
        "T | extend a = format_timespan(x, 'd.hh:mm:ss.ff'),"
        " b = format_timespan(x, 'hh:mm'),"
        " t1 = totimespan('1.02:03:04.5'), t2 = totimespan(90m)",
        {"T": df},
    ).collect()[0]
    assert r["a"] == "1.02:03:04.50"
    assert r["b"] == "02:03"
    assert r["t1"] == 93784.5
    assert r["t2"] == 5400.0


def test_kql_row_rank_dense_min_restart(spark):
    """row_rank_dense / row_rank_min over a serialized input, with the
    restart argument resetting ranks to 1."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "a"), (5, "a"), (6, "c")],
        "i int, t string",
    )
    rows = kql(
        "T | sort by i asc"
        " | extend d = row_rank_dense(t), m = row_rank_min(t),"
        "          dr = row_rank_dense(t, i == 4)",
        {"T": df},
    ).collect()
    assert [r["d"] for r in rows] == [1, 1, 2, 3, 3, 4]
    assert [r["m"] for r in rows] == [1, 1, 3, 4, 4, 6]
    # restart at i=4: ranking starts over (rank 1 at the restart row)
    assert [r["dr"] for r in rows] == [1, 1, 2, 1, 1, 2]


def test_kql_row_window_session_max_distance_from_first(spark):
    """The recursion branch the SQL oracle cannot express: a chain of
    small gaps still restarts when the span from the session FIRST
    exceeds MaxDistanceFromFirst."""
    times = [0, 50, 100, 150, 200, 260]  # seconds; gaps <= 60
    df = spark.createDataFrame(
        [(i, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}") for i, t in enumerate(times)],
        "i int, s string",
    ).selectExpr("i", "cast(s as timestamp) ts")
    rows = kql(
        "T | sort by i asc"
        " | extend ss = row_window_session(ts, 120, 60)",
        {"T": df},
    ).collect()
    starts = [r["ss"].strftime("%M:%S") for r in rows]
    # span from first: 0,50,100 ok; 150 > 120 -> restart; 200,260 within
    assert starts == ["00:00", "00:00", "00:00", "02:30", "02:30", "02:30"]
    # restart argument forces a new session
    rows2 = kql(
        "T | sort by i asc"
        " | extend ss = row_window_session(ts, 1000, 1000, i == 2)",
        {"T": df},
    ).collect()
    starts2 = [r["ss"].strftime("%M:%S") for r in rows2]
    assert starts2 == ["00:00", "00:00", "01:40", "01:40", "01:40", "01:40"]


def test_kql_percentilew_and_take_any(spark):
    """percentilew: exact nearest-rank weighted percentile; take_any /
    take_anyif pin the deterministic minimum."""
    df = spark.createDataFrame(
        [(1, 10.0, 1.0), (1, 20.0, 3.0), (1, 30.0, 1.0), (2, 5.0, 2.0)],
        "g int, v double, w double",
    )
    rows = {
        r["g"]: r
        for r in kql(
            "T | summarize p = percentilew(v, w, 50),"
            " ta = take_any(v), taf = take_anyif(v, v > 10),"
            " bo = binary_all_or(toint(v)) by g",
            {"T": df},
        ).collect()
    }
    assert rows[1]["p"] == 20.0  # total 5, thr 2.5, cum 1|4
    assert rows[2]["p"] == 5.0
    assert rows[1]["ta"] == 10.0 and rows[1]["taf"] == 20.0
    assert rows[1]["bo"] == (10 | 20 | 30)


def test_kql_make_datetime_week_dayofweek(spark):
    df = spark.createDataFrame([(2024, 2, 29)], "y int, m int, d int")
    r = kql(
        "T | extend dt = make_datetime(y, m, d, 12, 30, 1.5),"
        " w = week_of_year(make_datetime(2024, 1, 4)),"
        " dw = dayofweek(make_datetime(2024, 1, 7))",  # a Sunday
        {"T": df},
    ).collect()[0]
    assert str(r["dt"]) == "2024-02-29 12:30:01.500000"
    assert r["w"] == 1  # ISO week 1 contains Jan 4
    assert r["dw"] == 0  # Sunday = 0


def test_kql_series_decompose_forecast(spark):
    """series_decompose_forecast: pinned contract (train = series minus
    the last `points`, STL-lite decompose, OLS trend line, forecast =
    line + phase mean) verified against an independent numpy
    replication; a flat series forecasts itself exactly."""
    import numpy as np

    vals = [10.0, 14.0, 11.0, 15.0, 12.0, 16.0, 13.0, 17.0, 0.0, 0.0]
    df = spark.createDataFrame([(vals,)], "x array<double>")
    out = kql(
        "T | extend f = series_decompose_forecast(x, 2, 2)", {"T": df}
    ).collect()[0]["f"]

    def ref(x, period, points):
        x = np.asarray(x)
        tr = x[: len(x) - points]
        h = period // 2
        trend = np.array(
            [
                tr[max(0, i - h): min(len(tr) - 1, i + h) + 1].mean()
                for i in range(len(tr))
            ]
        )
        detr = tr - trend
        ph = [
            detr[np.arange(len(tr)) % period == p].mean()
            for p in range(period)
        ]
        m = len(tr)
        xs = np.arange(m, dtype=float)
        s1, s2 = xs.sum(), (xs**2).sum()
        sy, sxy = trend.sum(), (xs * trend).sum()
        slope = (m * sxy - s1 * sy) / (m * s2 - s1 * s1)
        icpt = (sy - slope * s1) / m
        return [icpt + slope * i + ph[i % period] for i in range(len(x))]

    expect = ref(vals, 2, 2)
    assert len(out) == len(vals)
    assert all(abs(a - b) < 1e-9 for a, b in zip(out, expect))
    # horizon bins get line + seasonal, not the 0 defaults
    assert out[8] > 10

    flat = kql(
        "T2 | extend f = series_decompose_forecast(x, 2, 2)",
        {"T2": spark.createDataFrame([([5.0] * 8,)], "x array<double>")},
    ).collect()[0]["f"]
    assert all(abs(v - 5.0) < 1e-12 for v in flat)


def test_kql_parse_kv(spark):
    """parse-kv: literal delimiters mean themselves (regex-escaped),
    declared keys get typed probes, missing keys yield null."""
    df = spark.createDataFrame(
        [("a=1|b=x|c=2.5",), ("b=y",)], "s string"
    )
    rows = kql(
        "T | parse-kv s as (a: long, b: string, c: real)"
        " with (pair_delimiter='|', kv_delimiter='=')",
        {"T": df},
    ).collect()
    assert rows[0]["a"] == 1 and rows[0]["b"] == "x" and rows[0]["c"] == 2.5
    assert rows[1]["a"] is None and rows[1]["b"] == "y"
    with pytest.raises(ValueError, match="unsupported parse-kv option"):
        kql("T | parse-kv s as (a: long) with (quote='x')", {"T": df})


def test_kql_facet(spark):
    """facet by: one count-by-value rollup per column, unioned behind
    the facet_column discriminator, values stringified."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2)], "k string, v int"
    )
    rows = kql("T | facet by k, v", {"T": df}).collect()
    got = {(r["facet_column"], r["value"]): r["Count"] for r in rows}
    assert got[("k", "a")] == 2 and got[("k", "b")] == 1
    assert got[("v", "2")] == 2 and got[("v", "1")] == 1


def test_kql_series_similarity_math(spark):
    """series_dot_product/magnitude/cosine/pearson: hand-computed
    values; null on length mismatch and degenerate denominators."""
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [2.0, 4.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>, c array<double>",
    )
    r = kql(
        "T | extend dp = series_dot_product(a, b),"
        " mg = series_magnitude(a),"
        " cs = series_cosine_similarity(a, b),"
        " pc = series_pearson_correlation(a, b),"
        " bad = series_dot_product(a, c),"
        " flat = series_pearson_correlation(c, c)",
        {"T": df},
    ).collect()[0]
    assert r["dp"] == 10.0
    assert abs(r["mg"] - 14 ** 0.5) < 1e-12
    assert abs(r["cs"] - 10.0 / (14 ** 0.5 * 20 ** 0.5)) < 1e-12
    assert abs(r["pc"] - (-0.5)) < 1e-12
    assert r["bad"] is None  # length mismatch
    assert r["flat"] is None  # constant side -> zero denominator


def test_kql_series_elementwise_arithmetic(spark):
    df = spark.createDataFrame(
        [([4.0, 9.0], [2.0, 0.0])], "a array<double>, b array<double>"
    )
    r = kql(
        "T | extend s = series_add(a, b), d = series_divide(a, b),"
        " q = series_sqrt(a), p = series_pow(a, 2),"
        " g = series_greater(a, b)",
        {"T": df},
    ).collect()[0]
    assert r["s"] == [6.0, 9.0]
    assert r["d"] == [2.0, None]  # zero divisor pinned to null
    assert r["q"] == [2.0, 3.0]
    assert r["p"] == [16.0, 81.0]
    assert r["g"] == [True, True]


def test_kql_make_series_multi_agg_per_column_defaults(spark):
    """Multi-column make-series: every series shares the grid and ONE
    per-bin rollup; defaults bind per column."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-01 01:00:00", 150.0), ("2024-01-01 05:00:00", 50.0)],
        "s string, v double",
    ).select(F.col("s").cast("timestamp").alias("ts"), "v")
    r = kql(
        "T | make-series n1 = countif(v > 100), n2 = count() default = 9"
        " on ts from '2024-01-01 00:00:00' to '2024-01-01 08:00:00'"
        " step 2h",
        {"T": df},
    ).collect()[0]
    assert r["n1"] == [1, 0, 0, 0]  # n1 keeps the 0 default
    assert r["n2"] == [1, 9, 1, 9]  # n2 gap-fills with ITS default


def test_kql_ipv4_lookup(spark):
    """ipv4_lookup: ALL containing networks match (supernet overlap),
    /32 bare addresses work, return_unmatched adds exactly one null
    row per unmatched probe row (never a per-candidate fan)."""
    df = spark.createDataFrame(
        [("10.0.1.5",), ("10.1.2.3",), ("8.8.8.8",)], "ip string"
    )
    dim = spark.createDataFrame(
        [("10.0.0.0/16", "A"), ("10.0.0.0/8", "SUPER"), ("10.1.2.3", "EXACT")],
        "net string, label string",
    )
    rows = kql(
        "T | evaluate ipv4_lookup(Dim, ip, net)", {"T": df, "Dim": dim}
    ).collect()
    got = sorted((r["ip"], r["label"]) for r in rows)
    assert got == [
        ("10.0.1.5", "A"), ("10.0.1.5", "SUPER"),
        ("10.1.2.3", "EXACT"), ("10.1.2.3", "SUPER"),
    ]
    rows2 = kql(
        "T | evaluate ipv4_lookup(Dim, ip, net, return_unmatched = true)",
        {"T": df, "Dim": dim},
    ).collect()
    nulls = [r["ip"] for r in rows2 if r["label"] is None]
    assert nulls == ["8.8.8.8"] and len(rows2) == 5


def test_kql_conversion_try_semantics(spark):
    """Kusto's to* conversions are try-semantics: malformed input
    yields null, never an ANSI error — the idiom hll(iff(pred, v,
    tolong(''))) depends on it."""
    df = spark.createDataFrame([("12", "x")], "good string, bad string")
    r = kql(
        "T | extend a = toint(good), b = toint(bad), c = tolong(''),"
        " d = todouble('nope'), e = todatetime('not a date'),"
        " f = tobool(good)",
        {"T": df},
    ).collect()[0]
    assert r["a"] == 12 and r["b"] is None and r["c"] is None
    assert r["d"] is None and r["e"] is None and r["f"] is None


def test_kql_dcount_intersect(spark):
    """dcount_intersect: inclusion-exclusion over per-row sketch
    unions; exact in the coupon range."""
    rows = [(i, "A" if i % 2 == 0 else "B") for i in range(100)]
    df = spark.createDataFrame(rows, "u long, t string")
    r = kql(
        "T | summarize h1 = hll(u),"
        " h2 = hll(iff(t == 'A', u, tolong(''))),"
        " h3 = hll(iff(u < 30, u, tolong(''))) by g = 1"
        " | evaluate dcount_intersect(h1, h2, h3)",
        {"T": df},
    ).collect()[0]
    assert r["s0"] == 100      # |all|
    assert r["s1"] == 50       # |all ∩ evens|
    assert r["s2"] == 15       # evens under 30


def test_kql_funnel_sequence_completion(spark):
    """funnel_sequence_completion: per-step survivors within each
    comparison window; a step completed outside every window drops
    from all of them."""
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", "a"),
        (1, "2024-01-01 00:30:00", "b"),   # b within 1h and 1d
        (2, "2024-01-01 00:00:00", "a"),
        (2, "2024-01-01 05:00:00", "b"),   # b within 1d only
        (3, "2024-01-01 00:00:00", "a"),   # never reaches b
    ]
    df = spark.createDataFrame(rows, "id long, s string, st string").select(
        "id", F.col("s").cast("timestamp").alias("ts"), "st"
    )
    out = kql(
        "T | evaluate funnel_sequence_completion(id, ts, 1d, st,"
        " ('a', 'b'), (1h, 1d))",
        {"T": df},
    ).collect()
    got = {(r["step"], r["window_s"]): r["ids"] for r in out}
    assert got[("a", 3600)] == 3 and got[("a", 86400)] == 3
    assert got[("b", 3600)] == 1 and got[("b", 86400)] == 2


def test_hash_digest_scalar_vectors(spark):
    """Digest family unit vectors — hash_sha1 (no DuckDB twin to
    differential against), hash_combine determinism, pi/trig, and the
    bytes-vs-chars contract of string_size."""
    from kafka_data_explorer_cdc_spark.kql import kql
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a", "é")], "x string, y string")
    r = kql(
        "T | extend s1 = hash_sha1(x), m5 = hash_md5(x),"
        "           sh = hash_sha256(x), hc = hash_combine(x, y),"
        "           hc2 = hash_combine(x, y), p = pi(),"
        "           bx = string_size(x), by = string_size(y),"
        "           cy = strlen(y),"
        "           deg = degrees(atan2(1.0, 1.0))"
        " | project s1, m5, sh, hc, hc2, p, bx, by, cy, deg",
        {"T": df},
    ).collect()[0]
    assert r["s1"] == "86f7e437faa5a7fce15d1ddcb9eaeaea377667b8"
    assert r["m5"] == "0cc175b9c0f1b6a831c399e269772661"
    assert (
        r["sh"]
        == "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72b9807785afee48bb"
    )
    assert r["hc"] == r["hc2"]  # deterministic engine hash
    assert abs(r["p"] - 3.141592653589793) < 1e-15
    assert r["bx"] == 1 and r["by"] == 2 and r["cy"] == 1  # é = 2 bytes, 1 char
    assert abs(r["deg"] - 45.0) < 1e-12


def test_kql_python_plugin_star_append(spark):
    """evaluate python: typeof(*, new:real) keeps every input column
    and appends the declared one; the script sees the partition as a
    pandas `df` and returns `result`."""
    df = spark.createDataFrame([(1, 2.0), (2, 5.0)], "id long, v double")
    out = kql(
        "T | evaluate python(typeof(*, w:real),"
        " 'result = df.assign(w = df[\"v\"] * 10.0)')",
        {"T": df},
        allow_python=True,
    )
    assert out.columns == ["id", "v", "w"]
    got = {r["id"]: r["w"] for r in out.collect()}
    assert got == {1: 20.0, 2: 50.0}


def test_kql_python_plugin_errors(spark):
    """evaluate python: script syntax errors surface at COMPILE time;
    missing `result`, missing declared columns, bad types and column
    collisions are loud."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(SyntaxError):
        kql("T | evaluate python(typeof(x:long), 'def :')", {"T": df},
            allow_python=True)
    with pytest.raises(ValueError, match="unsupported type"):
        kql("T | evaluate python(typeof(x:guid), 'result = df')", {"T": df},
            allow_python=True)
    with pytest.raises(ValueError, match="collides"):
        kql("T | evaluate python(typeof(*, id:long), 'result = df')",
            {"T": df}, allow_python=True)
    with pytest.raises((PythonException, Py4JJavaError), match="must assign"):
        kql(
            "T | evaluate python(typeof(x:long), 'y = 1')", {"T": df},
            allow_python=True,
        ).collect()
    with pytest.raises((PythonException, Py4JJavaError), match="missing declared"):
        kql(
            "T | evaluate python(typeof(x:long), 'result = df')", {"T": df},
            allow_python=True,
        ).collect()


def test_kql_python_plugin_gated_off_by_default(spark):
    """SECURITY REGRESSION (round-11 ADVICE): evaluate python() exec()s
    the script on executors, so — like upstream Kusto's admin-disabled
    python plugin — it must raise unless the caller opts in with
    allow_python=True. The opt-in must also reach recursively-compiled
    subqueries (tabular lets), and must NOT leak into a later call."""
    import pytest

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    q = ("T | evaluate python(typeof(*, w:real),"
         " 'result = df.assign(w = df[\"v\"] * 10.0)')")
    with pytest.raises(PermissionError, match="disabled by default"):
        kql(q, {"T": df})
    with pytest.raises(PermissionError, match="disabled by default"):
        kql(q, {"T": df}, allow_python=False)
    # opt-in works, and propagates into a tabular-let subquery
    out = kql(
        "let P = T | evaluate python(typeof(*, w:real),"
        " 'result = df.assign(w = df[\"v\"] * 10.0)');"
        " P | project id, w",
        {"T": df},
        allow_python=True,
    )
    assert {r["w"] for r in out.collect()} == {20.0}
    # the opt-in does not persist past the call that made it
    with pytest.raises(PermissionError, match="disabled by default"):
        kql(q, {"T": df})


def test_kql_python_plugin_unescapes_script(spark):
    """REGRESSION (round-11 ADVICE): \\n / \\' escape pairs in the
    script literal must be decoded before compile() — a multi-line
    script written with \\n previously reached compile() as raw
    backslash pairs and died with a SyntaxError."""
    df = spark.createDataFrame([(1, 2.0), (2, 5.0)], "id long, v double")
    out = kql(
        "T | evaluate python(typeof(id:long, w:real),"
        " 'tmp = df[\"v\"] * 10.0\\n"
        "result = df.assign(w = tmp)[[\"id\", \"w\"]]')",
        {"T": df},
        allow_python=True,
    )
    got = {r["id"]: r["w"] for r in out.collect()}
    assert got == {1: 20.0, 2: 50.0}


def test_string_literal_escape_semantics_fork(spark):
    """PINS the deliberate escape-semantics fork documented at
    _TOKEN_RE (round-12 ADVICE): ordinary string consumers use the
    RAW source slice (verbatim-@"..." semantics — a \\n pair is two
    characters, and \\d reaches the regex engine untouched), while
    ONLY the python() plugin folds escapes (its literal is a program
    handed to compile()). If either side of this test starts failing,
    the fork moved — revisit every raw-slice site, not just one."""
    df = spark.createDataFrame(
        [(1, "a\\nb"), (2, "a\nb"), (3, "x7y")],
        "id long, s string",
    )
    # raw-slice side: "\n" in a filter literal means BACKSLASH + n,
    # matching row 1 (the two-char sequence), not row 2 (the newline)
    got = kql('T | where s == "a\\nb" | project id', {"T": df})
    assert [r["id"] for r in got.collect()] == [1]
    # raw-slice side, regex consumer: \d must reach the engine intact
    got = kql('T | where s matches regex "x\\dy" | project id', {"T": df})
    assert [r["id"] for r in got.collect()] == [3]
    # python() side: the SAME \n pair is one newline (a line break in
    # the script), so a two-line program compiles and runs
    out = kql(
        "T | evaluate python(typeof(id:long, n:long),"
        " 'tmp = df[\"id\"] * 2\\nresult = df.assign(n = tmp)[[\"id\", \"n\"]]')",
        {"T": df},
        allow_python=True,
    )
    assert {r["id"]: r["n"] for r in out.collect()} == {1: 2, 2: 4, 3: 6}


def test_kql_geohash_canonical_vectors(spark):
    """geo_point_to_geohash matches the canonical test vectors
    (ezs42; London gcpvj); decode returns the cell center containing
    the point; out-of-range lon is null; unknown decode chars null."""
    df = spark.createDataFrame(
        [(-5.6, 42.6), (-0.1278, 51.5074), (200.0, 10.0)],
        "lon double, lat double",
    )
    out = kql(
        "T | extend gh = geo_point_to_geohash(lon, lat, 5)"
        " | extend c = geo_geohash_to_central_point(gh)",
        {"T": df},
    ).collect()
    got = {r["lon"]: (r["gh"], r["c"]) for r in out}
    assert got[-5.6][0] == "ezs42"
    assert got[-0.1278][0] == "gcpvj"
    assert got[200.0] == (None, None)
    clon, clat = got[-5.6][1]
    assert abs(clon - (-5.6)) < 360.0 / 2**13 and abs(clat - 42.6) < 180.0 / 2**12
    bad = kql(
        "T | extend c = geo_geohash_to_central_point('ez!42')", {"T": df}
    ).select("c").first()[0]
    assert bad is None


def test_kql_kernel_function_created_once_per_session(spark, monkeypatch):
    """A kernel's temporary SQL function is created once per session:
    compiling the kernel again probes no catalog and creates nothing,
    and a new session (its own temporary-function namespace) still
    gets the function."""
    from pyspark.sql import SparkSession
    from pyspark.sql.catalog import Catalog

    query = "T | extend gh = geo_point_to_geohash(lon, lat, 5)"
    rows, schema = [(-5.6, 42.6)], "lon double, lat double"
    kql(query, {"T": spark.createDataFrame(rows, schema)})
    probes, creates = [], []
    exists = Catalog.functionExists
    monkeypatch.setattr(
        Catalog, "functionExists",
        lambda self, *a, **k: probes.append(a) or exists(self, *a, **k),
    )
    sql = SparkSession.sql
    monkeypatch.setattr(
        SparkSession, "sql",
        lambda self, text, *a, **k: (
            creates.append(text) if "TEMPORARY FUNCTION" in text else None
        ) or sql(self, text, *a, **k),
    )
    out = kql(query, {"T": spark.createDataFrame(rows, schema)})
    assert probes == [] and creates == []
    other = spark.newSession()
    again = kql(query, {"T": other.createDataFrame(rows, schema)})
    assert len(creates) == 1 and probes == []
    assert again.collect() == out.collect()
    assert again.first()["gh"] == "ezs42"


def test_kql_graph_shortest_paths(spark):
    """graph-shortest-paths: first BFS level found is the minimum
    (diamond a->b->d, a->c->d, a->d direct gives hops=1); pairs
    beyond the K bound are absent; where/project see s, d, hops."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("a", "d"),
         ("d", "e"), ("e", "f"), ("f", "g")],
        "s string, d string",
    )
    out = kql(
        "E | make-graph s --> d"
        " | graph-shortest-paths (x)-[*1..3]->(y)"
        "   where x == 'a' project x, y, hops",
        {"E": edges},
    ).collect()
    got = {r["y"]: r["hops"] for r in out}
    assert got == {"b": 1, "c": 1, "d": 1, "e": 2, "f": 3}


def test_kql_graph_shortest_paths_keyword_in_literal(spark):
    """REGRESSION (round-11 ADVICE): the where/project keyword scan
    must run over string-MASKED text — a where-clause literal
    containing the word 'project' (or 'where') must not mis-split the
    stage into a bogus parse error."""
    edges = spark.createDataFrame(
        [("project", "b"), ("b", "where"), ("a", "b")],
        "s string, d string",
    )
    out = kql(
        "E | make-graph s --> d"
        " | graph-shortest-paths (x)-[*1..2]->(y)"
        "   where x == 'project' or y == 'where' project x, y, hops",
        {"E": edges},
    ).collect()
    got = {(r["x"], r["y"]): r["hops"] for r in out}
    assert got == {("project", "b"): 1, ("project", "where"): 2,
                   ("b", "where"): 1, ("a", "where"): 2}


def test_kql_graph_mark_components(spark):
    """graph-mark-components: weak components over the made graph —
    direction ignored (a->b, c->b one component), component = min
    reachable node id, output is the (node, cid) node table; unknown
    args and kind=strong are loud."""
    import pytest

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("x", "y"), ("y", "z")],
        "s string, d string",
    )
    out = kql(
        "E | make-graph s --> d"
        " | graph-mark-components with_component_id=cid",
        {"E": edges},
    ).collect()
    got = {r["node"]: r["cid"] for r in out}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x"}
    # default component column name; kind=weak accepted explicitly
    out2 = kql(
        "E | make-graph s --> d | graph-mark-components kind=weak",
        {"E": edges},
    )
    assert out2.columns == ["node", "ComponentId"]
    with pytest.raises(ValueError, match="kind=weak only"):
        kql("E | make-graph s --> d | graph-mark-components kind=strong",
            {"E": edges})
    with pytest.raises(ValueError, match="unknown argument"):
        kql("E | make-graph s --> d | graph-mark-components foo=bar",
            {"E": edges})
    with pytest.raises(ValueError, match="must be followed by"):
        kql("E | make-graph s --> d | count", {"E": edges})


def test_kql_series_iir_vectors(spark):
    """series_iir: the pinned recurrence y[i] = (Σ b[j]x[i-j] −
    Σ_{j≥1} a[j]y[i-j]) / a[0] with zero initial state — EWMA and
    cumulative-sum vectors, a[0] scaling, error paths."""
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 4.0, 0.0, 8.0])], "id long, x array<double>"
    )
    ewma = kql(
        "T | extend y = series_iir(x, dynamic([0.5]), dynamic([1, -0.5]))",
        {"T": df},
    ).first()["y"]
    assert ewma == [0.5, 1.25, 2.625, 1.3125, 4.65625]
    cumsum = kql(
        "T | extend y = series_iir(x, dynamic([1]), dynamic([1, -1]))",
        {"T": df},
    ).first()["y"]
    assert cumsum == [1.0, 3.0, 7.0, 7.0, 15.0]
    # a[0] != 1 rescales; two-tap numerator sees zero-padded history
    halved = kql(
        "T | extend y = series_iir(x, dynamic([1, 1]), dynamic([2]))",
        {"T": df},
    ).first()["y"]
    assert halved == [0.5, 1.5, 3.0, 2.0, 4.0]
    with pytest.raises(ValueError, match="nonzero a"):
        kql("T | extend y = series_iir(x, dynamic([1]), dynamic([0, 1]))",
            {"T": df})
    with pytest.raises(ValueError, match="dynamic"):
        kql("T | extend y = series_iir(x, x, dynamic([1]))", {"T": df})


def test_geo_point_in_polygon_vectors(spark):
    """k111 kernel contract: even-odd crossing on a NON-CONVEX ring
    (the notch at (1,1) excludes points a convex hull would admit);
    out-of-range coordinates yield null; an open (first != last) ring
    is a compile-time error."""
    import pytest

    df = spark.createDataFrame(
        [
            (1, 0.5, 0.5),    # inside the left lobe
            (2, 5.0, 5.0),    # far outside
            (3, 1.5, 0.2),    # inside the right lobe, below the notch
            (4, 1.5, 1.0),    # in the notch (inside the convex hull,
                              # interior at y=1 is x in (0,1)) -> OUTSIDE
            (5, 200.0, 0.0),  # lon out of range -> null
        ],
        "id long, lon double, lat double",
    )
    ring = ("dynamic([[0.0,0.0],[2.0,0.0],[1.0,1.0],[2.0,2.0],"
            "[0.0,2.0],[0.0,0.0]])")
    out = kql(
        f"T | extend inside = geo_point_in_polygon(lon, lat, {ring})"
        " | project id, inside",
        {"T": df},
    )
    got = {r["id"]: r["inside"] for r in out.collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: None}
    with pytest.raises(ValueError, match="closed"):
        kql(
            "T | extend i = geo_point_in_polygon(lon, lat,"
            " dynamic([[0.0,0.0],[2.0,0.0],[1.0,1.0]]))",
            {"T": df},
        )


def test_series_seasonal_vectors(spark):
    """k112 kernel contract: per-phase MEDIAN of the raw series (odd
    count -> exact middle; even count -> two-middle average), output
    aligned by i % period; n < period leaves empty phases null."""
    df = spark.createDataFrame(
        [
            # period 2: phase0 [1,2,100] -> med 2; phase1 [10,20,30] -> 20
            (1, [1.0, 10.0, 2.0, 20.0, 100.0, 30.0]),
            # period 2 over 4 elems: phase0 [1,3] -> 2.0 (even branch)
            (2, [1.0, 5.0, 3.0, 7.0]),
        ],
        "id long, x array<double>",
    )
    out = kql("T | extend s = series_seasonal(x, 2) | project id, s", {"T": df})
    got = {r["id"]: r["s"] for r in out.collect()}
    assert got[1] == [2.0, 20.0, 2.0, 20.0, 2.0, 20.0]
    assert got[2] == [2.0, 6.0, 2.0, 6.0]
    # n < period: phases beyond the data are null
    df3 = spark.createDataFrame([(3, [5.0])], "id long, x array<double>")
    out3 = kql("T | extend s = series_seasonal(x, 3) | project s", {"T": df3})
    assert out3.collect()[0]["s"] == [5.0]


def test_series_decompose_short_series(spark):
    """Eager-guard contract of the SQL-text fast path: with n < period
    the hoisted phase-mean array holds (unobserved) nulls for the
    empty phases instead of an ANSI 0.0/0 error; observed positions
    still decompose exactly (single element: trend = x, seasonal = 0,
    baseline = x, residual = 0)."""
    df = spark.createDataFrame([(1, [4.0])], "id long, x array<double>")
    out = kql(
        "T | extend (b, s, t, r) = series_decompose(x, 3)"
        " | project b, s, t, r",
        {"T": df},
    )
    row = out.collect()[0]
    assert row["b"] == [4.0]
    assert row["s"] == [0.0]
    assert row["t"] == [4.0]
    assert row["r"] == [0.0]


def test_graph_match_named_edges_and_errors(spark):
    """k113 kernel contract: named edges bind property structs readable
    as e.field in where/project; cycles still close through repeated
    vertex vars; negated terms cannot be named; a named edge on a
    property-less edge table is an error."""
    import pytest

    from kafka_data_explorer_cdc_spark.operators.graph import motif_find

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 5.0), ("c", "a", 2.0), ("b", "d", 3.0)],
        "s string, d string, w double",
    )
    # cycle a->b->c->a with per-edge weights via the KQL surface
    out = kql(
        "E | make-graph s --> d"
        " | graph-match (x)-[e1]->(y)-[e2]->(z)-[e3]->(x)"
        " where e1.w < e2.w project x, y, z, total = e1.w + e2.w + e3.w",
        {"E": edges},
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("a", "b", "c", 8.0)]
    with pytest.raises(ValueError, match="cannot name"):
        motif_find(edges, "(a)-[]->(b); !(a)-[e]->(b)", src="s", dst="d")
    with pytest.raises(ValueError, match="collide"):
        motif_find(edges, "(a)-[b]->(b)", src="s", dst="d")
    with pytest.raises(ValueError, match="property columns"):
        motif_find(
            edges.select("s", "d"), "(a)-[e]->(b)", src="s", dst="d"
        )


def test_active_users_count_hand_example(spark):
    """k115 kernel contract, verified by hand: lookback 2d, period 1d,
    min 2 active days. u1 active days {0,1,2}, u2 {0}, u3 {0,2}: only
    u1 ever qualifies — in the bins whose trailing 2-day window holds
    two of its period STARTS (the (t_k - lookback, t_k] window is
    half-open, so day 0's start falls out of bin 2's window)."""
    import datetime as dt

    rows = [
        (u, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=d))
        for d, u in [(0, 1), (1, 1), (2, 1), (0, 2), (0, 3), (2, 3)]
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = kql(
        "T | evaluate active_users_count(user_id, ts,"
        " datetime('2024-01-01'), datetime('2024-01-04'), 2d, 1d, 2, 1d)",
        {"T": df},
    )
    got = [(str(r["Timeline"]), r["Dcount"]) for r in out.collect()]
    assert got == [
        ("2024-01-01 00:00:00", 0),
        ("2024-01-02 00:00:00", 1),
        ("2024-01-03 00:00:00", 1),
        ("2024-01-04 00:00:00", 0),
    ]


def test_string_codepoint_scalar_vectors(spark):
    """k114 kernel contract: indexof_regex is 0-based / -1 absent;
    bitset_count_ones is an int64 popcount; the codepoint round trip
    survives non-Latin-1 characters (format_string %c writes full code
    points — char() would truncate at 256); strcmp is three-way."""
    df = spark.createDataFrame(
        [(1, "hello world", 5), (2, "café €9", 255), (3, "", 0)],
        "id long, s string, v long",
    )
    out = kql(
        'T | extend ir = indexof_regex(s, "o.w"), bc = bitset_count_ones(v),'
        " cps = unicode_codepoints_from_string(s)"
        " | extend back = unicode_codepoints_to_string(cps),"
        '   sc = strcmp(s, "café €9")'
        " | project id, ir, bc, back, sc, cps",
        {"T": df},
    )
    got = {r["id"]: r for r in out.collect()}
    assert (got[1]["ir"], got[1]["bc"], got[1]["sc"]) == (4, 2, 1)
    assert got[2]["cps"] == [99, 97, 102, 233, 32, 8364, 57]
    assert got[2]["back"] == "café €9" and got[2]["sc"] == 0
    assert (got[3]["ir"], got[3]["bc"], got[3]["sc"]) == (-1, 0, -1)
    for r in got.values():
        assert r["back"] == ("hello world" if r["id"] == 1 else r["back"])


# Kernels over another function's output: series_fill_* are
# higher-order folds, so the kernel's input Column is built from
# lambdas — the idiomatic Kusto gap-fill-then-analyse chain.
def _gappy(spark):
    return spark.createDataFrame(
        [(1, [1.0, None, 3.0, 4.0, None, 6.0, 7.0, 8.0])],
        "id int, x array<double>",
    )


def test_series_fit_line_over_fill_linear(spark):
    fit = kql(
        "T | extend f = series_fit_line(series_fill_linear(x))",
        {"T": _gappy(spark)},
    ).first()["f"]
    # filled series is 1..8: an exact line through it
    assert (fit["slope"], fit["interception"], fit["rsquare"]) == (
        1.0, 1.0, 1.0
    )
    assert fit["line_fit"] == [float(v) for v in range(1, 9)]


def test_series_outliers_over_fill_forward(spark):
    import math

    sc = kql(
        "T | extend sc = series_outliers(series_fill_forward(x))",
        {"T": _gappy(spark)},
    ).first()["sc"]
    # forward-filled [1,1,3,4,4,6,7,8], scored by the kernel's
    # interpolated-percentile Tukey fence
    filled = [1.0, 1.0, 3.0, 4.0, 4.0, 6.0, 7.0, 8.0]
    srt = sorted(filled)

    def q(p):
        idx = (len(srt) - 1) * p
        lo = math.floor(idx)
        frac = idx - lo
        return srt[lo] * (1.0 - frac) + srt[min(lo + 1, len(srt) - 1)] * frac

    q10, q50, q90 = q(0.1), q(0.5), q(0.9)
    want = [
        (v - q50) / (q90 - q10) if v > q90 or v < q10 else 0.0
        for v in filled
    ]
    assert want[7] > 0.0 and len(sc) == len(want)
    assert all(math.isclose(g, w, rel_tol=1e-12) for g, w in zip(sc, want))


def test_series_decompose_over_fill_linear(spark):
    import math

    dec = kql(
        "T | extend (baseline, seasonal, trend, residual) ="
        " series_decompose(series_fill_linear(x), 2)",
        {"T": _gappy(spark)},
    ).first()
    assert dec["trend"] == [1.5, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 7.5]
    assert dec["seasonal"] == [-0.125, 0.125] * 4
    for b, r, v in zip(dec["baseline"], dec["residual"], range(1, 9)):
        assert math.isclose(b + r, float(v), rel_tol=1e-12)


def test_kernel_follows_the_query_session(spark):
    """Kernels are session-scoped SQL functions: a query compiled
    over another session's DataFrame must find them there."""
    other = spark.newSession()
    df = other.createDataFrame([(-5.6, 42.6)], "lon double, lat double")
    out = kql(
        "T | extend gh = geo_point_to_geohash(lon, lat, 5)"
        " | extend c = geo_geohash_to_central_point(gh)",
        {"T": df},
    ).first()
    assert out["gh"] == "ezs42"
    assert abs(out["c"][0] - (-5.6)) < 360.0 / 2**13

