"""J3 diff-operator tests, mirroring the reference's compare fixtures
(tests/conftest.py:67-226: identical, value-diff, missing rows,
column diffs, duplicate keys)."""

from recover_spark.operators import compare_datasets
from recover_spark.operators.audit import column_set_diff
from recover_spark.operators.diff import comparison_report


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "pid string, logid string, calories double, city string"
    )


def test_identical_full_match(spark):
    rows = [("p1", "l1", 100.0, "NYC"), ("p2", "l2", 200.0, "LA")]
    res = compare_datasets(_df(spark, rows), _df(spark, rows), ["pid", "logid"])
    assert res.left_only.count() == 0
    assert res.right_only.count() == 0
    assert res.mismatched.count() == 0
    stats = {r.column: r for r in res.column_stats.collect()}
    assert stats["calories"].rows_unequal == 0
    assert stats["city"].rows_compared == 2


def test_value_mismatch_detected(spark):
    l = _df(spark, [("p1", "l1", 100.0, "NYC")])
    r = _df(spark, [("p1", "l1", 105.0, "NYC")])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert res.mismatched.count() == 1
    stats = {x.column: x for x in res.column_stats.collect()}
    assert stats["calories"].rows_unequal == 1
    assert stats["city"].rows_unequal == 0


def test_tolerance_suppresses_numeric_diff(spark):
    l = _df(spark, [("p1", "l1", 100.0, "NYC")])
    r = _df(spark, [("p1", "l1", 105.0, "NYC")])
    res = compare_datasets(l, r, ["pid", "logid"], abs_tol=10.0)
    assert res.mismatched.count() == 0
    res = compare_datasets(l, r, ["pid", "logid"], rel_tol=0.05)
    assert res.mismatched.count() == 0
    res = compare_datasets(l, r, ["pid", "logid"], rel_tol=1e-5)
    assert res.mismatched.count() == 1


def test_tolerance_one_sided_null_is_mismatch(spark):
    # datacompy's rule: NULL against a value never matches, tolerance or
    # not; the row must reach ``mismatched`` as well as the stats.
    l = _df(spark, [("p1", "l1", None, "NYC"), ("p2", "l2", 100.0, "LA")])
    r = _df(spark, [("p1", "l1", 100.0, "NYC"), ("p2", "l2", None, "LA")])
    res = compare_datasets(l, r, ["pid", "logid"], abs_tol=10.0)
    assert sorted(x.pid for x in res.mismatched.collect()) == ["p1", "p2"]
    stats = {x.column: x for x in res.column_stats.collect()}
    assert stats["calories"].rows_unequal == 2


def test_unique_rows_each_side(spark):
    l = _df(spark, [("p1", "l1", 1.0, "a"), ("p2", "l2", 2.0, "b")])
    r = _df(spark, [("p2", "l2", 2.0, "b"), ("p3", "l3", 3.0, "c")])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert [x.pid for x in res.left_only.collect()] == ["p1"]
    assert [x.pid for x in res.right_only.collect()] == ["p3"]


def test_null_safe_equality(spark):
    l = _df(spark, [("p1", "l1", None, None)])
    r = _df(spark, [("p1", "l1", None, None)])
    res = compare_datasets(l, r, ["pid", "logid"])
    assert res.mismatched.count() == 0


def test_duplicate_key_report(spark):
    l = _df(spark, [("p1", "l1", 1.0, "a"), ("p1", "l1", 9.0, "z")])
    r = _df(spark, [("p1", "l1", 1.0, "a")])
    res = compare_datasets(l, r, ["pid", "logid"])
    dups = res.left_dup_keys.collect()
    assert len(dups) == 1 and dups[0].n_rows == 2
    assert res.right_dup_keys.count() == 0


def test_column_set_diff(spark):
    a = spark.createDataFrame([(1, 2)], "x int, y int")
    b = spark.createDataFrame([(1, 2)], "x int, z int")
    res = compare_datasets(a, b, ["x"])
    assert res.left_only_columns == ["y"]
    assert res.right_only_columns == ["z"]
    assert column_set_diff(a, b) == {
        "common": ["x"],
        "left_only": ["y"],
        "right_only": ["z"],
    }


def _diff_summary(res, rename=lambda c: c):
    """Order-free view of a diff, with column names mapped back to the
    plain ones by ``rename``."""
    renamed = {rename(c): c for c in ("pid", "logid", "calories", "city")}

    def back(name):
        for new, old in renamed.items():
            if name.startswith(new):
                return old + name[len(new):]
        return name

    def rows(df):
        return sorted(
            (sorted((back(k), v) for k, v in r.asDict().items()) for r in df.collect()),
            key=repr,
        )

    stats = sorted(
        (back(r.column), r.rows_compared, r.rows_equal, r.rows_unequal)
        for r in res.column_stats.collect()
    )
    return rows(res.left_only), rows(res.right_only), rows(res.mismatched), stats


def test_quoted_identifiers_match_plain_names(spark):
    """Names with a backtick, a dot, a space and a quote reach the SQL
    text quoted: the diff equals the one over plain names."""
    names = ("pid", "logid", "calories", "city")
    lrows = [("p1", "l1", 1.0, "a"), ("p2", "l2", 2.0, "b"), ("p3", "l3", None, "c")]
    rrows = [("p2", "l2", 2.5, "b"), ("p3", "l3", None, "z"), ("p4", "l4", 4.0, "d")]

    def rename(c):
        return f"{c}`.x 'y"

    def odd(rows):
        return _df(spark, rows).toDF(*[rename(c) for c in names])

    plain = compare_datasets(_df(spark, lrows), _df(spark, rrows), ["pid", "logid"])
    quoted = compare_datasets(odd(lrows), odd(rrows), [rename("pid"), rename("logid")])
    assert quoted.common_columns == [rename("calories"), rename("city")]
    assert _diff_summary(quoted, rename) == _diff_summary(plain)
    assert sorted(r.pid for r in plain.mismatched.collect()) == ["p2", "p3"]
    assert quoted.left_dup_keys.columns == [rename("pid"), rename("logid"), "n_rows"]


def test_build_round_trips_bounded(spark):
    """Building the diff of a 60-column frame stays under 2,000 py4j
    round trips: the frames are SQL text, not one Column chain per
    column (which made more than 20,000)."""
    cols = ["id"] + [f"c{i}" for i in range(59)]
    schema = ", ".join(f"{c} long" for c in cols)
    left = spark.createDataFrame([tuple(range(60))], schema)
    right = spark.createDataFrame([tuple(range(60))], schema)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counted(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        res = compare_datasets(left, right, ["id"])
    finally:
        del client.send_command
    assert calls < 2000, calls
    assert res.mismatched.count() == 0


def test_comparison_report(spark):
    """K8 — the text report names every count, each column's stats and
    a sample of the mismatched rows."""
    l = _df(spark, [("p1", "l1", 1.0, "a"), ("p2", "l2", 2.0, "b")])
    r = _df(spark, [("p2", "l2", 2.0, "B"), ("p3", "l3", 3.0, "c")])
    r = r.withColumnRenamed("city", "town")
    res = compare_datasets(l, r, ["pid", "logid"])
    report = comparison_report(res, max_sample_rows=5)
    lines = report.splitlines()
    assert lines[0] == "Dataset comparison report"
    assert "common columns:      1" in lines
    assert "columns only left:   ['city']" in lines
    assert "columns only right:  ['town']" in lines
    assert "rows only in left:   1" in lines
    assert "rows only in right:  1" in lines
    assert "rows with mismatch:  0" in lines
    assert "  calories: compared=1 equal=1 unequal=0" in lines
    assert "mismatch sample" not in report

    r2 = _df(spark, [("p1", "l1", 1.5, "a")])
    report = comparison_report(compare_datasets(l, r2, ["pid", "logid"]))
    lines = report.splitlines()
    assert "rows with mismatch:  1" in lines
    assert "  calories: compared=1 equal=0 unequal=1" in lines
    assert "mismatch sample (up to 20):" in lines
    assert any("'calories__l': 1.0" in x and "'calories__r': 1.5" in x for x in lines)
