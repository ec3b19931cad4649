"""Commit-delta key predicates (catalog._delta_pred). View and rollup
maintenance match a small delta's keys through ONE rendered SQL
string, never through Column.isin (one py4j literal per key); a key
that no literal renders exactly takes the null-safe join instead."""

import datetime
import decimal

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pixeltable_spark as pxt
from pixeltable_spark import catalog as catmod


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "wh"))


def _by_repr(rows):
    """Rows sorted by repr, NaN made equal to NaN."""
    return sorted((tuple("NaN" if v != v else v for v in row)
                   for row in rows), key=repr)


def test_maintenance_builds_no_isin(cat, monkeypatch):
    """Insert, update and delete on a table with a filtered view, a
    one-column rollup and a two-column rollup (NULL keys in both
    columns): with Column.isin raising, every dependent still equals
    its from-scratch result after every commit."""
    t = cat.create_table("t", {"k": pxt.Int(False), "g": pxt.String(True),
                               "h": pxt.Int(True), "v": pxt.Float(True)},
                         n_buckets=4)
    t.insert([{"k": i, "g": None if i % 7 == 0 else f"g{i % 3}",
               "h": None if i % 5 == 0 else i % 2, "v": float(i)}
              for i in range(40)])
    view = cat.create_view("hot", t, predicate=t.ref().v >= 10.0)
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    rollups = [(cat.create_rollup("r1", t, ["g"], aggs), ["g"]),
               (cat.create_rollup("r2", t, ["g", "h"], aggs), ["g", "h"])]

    def isin(self, *args):
        raise AssertionError("Column.isin on the commit path")
    for cls in {Column, type(F.col("x"))}:
        monkeypatch.setattr(cls, "isin", isin)

    def check():
        base = t.df().collect()
        assert sorted(r["k"] for r in view.df().collect()) == sorted(
            r["k"] for r in base if r["v"] >= 10.0)
        for r, cols in rollups:
            want: dict = {}
            for row in base:
                n, s = want.get(tuple(row[c] for c in cols), (0, 0.0))
                want[tuple(row[c] for c in cols)] = (n + 1, s + row["v"])
            assert _by_repr(tuple(row[c] for c in cols + ["n", "s"])
                            for row in r.df().collect()) == \
                _by_repr(k + v for k, v in want.items())

    t.insert([{"k": 100, "g": None, "h": None, "v": 50.0},
              {"k": 101, "g": "g1", "h": None, "v": 11.0}])
    check()
    t.update({"g": None, "h": None}, where=t.ref().g == "g2")
    check()
    t.delete(t.ref().v < 15.0)
    check()


def test_rendered_keys_match_their_own_rows(spark):
    """Quotes, backslashes, control and astral characters, bytes,
    decimals and dates each render to a literal that matches exactly
    its own row, alone and inside a two-column struct key."""
    strs = ["it's", "back\\slash", "\\'", "tab\tnew\nline",
            "astral \U0001F600", "", "ünï", None]
    blobs = [b"\x00\xff'", b"", b"\\", b"plain", b"\x7f", None, b"a'b",
             b"z"]
    decs = [decimal.Decimal("1.50"), decimal.Decimal("-0.01"),
            decimal.Decimal("0.00"), decimal.Decimal("123456.78"), None,
            decimal.Decimal("-99999999.99"), decimal.Decimal("0.10"),
            decimal.Decimal("2.00")]
    days = [datetime.date(2024, 3, 10), datetime.date(1970, 1, 1), None,
            datetime.date(1, 1, 1), datetime.date(9999, 12, 31),
            datetime.date(2000, 2, 29), datetime.date(2024, 3, 11),
            datetime.date(2024, 3, 12)]
    df = spark.createDataFrame(
        [(i, s, b, d, day) for i, (s, b, d, day)
         in enumerate(zip(strs, blobs, decs, days))],
        "i int, s string, b binary, d decimal(10,2), day date")
    rows = df.orderBy("i").collect()
    checks = []
    for cols in (["s"], ["b"], ["d"], ["day"], ["s", "b"], ["d", "day"]):
        fields = [df.schema[c] for c in cols]
        for row in rows:
            pred = catmod._delta_pred(spark, fields,
                                      [tuple(row[c] for c in cols)])
            assert pred is not None, (cols, row)
            checks.append(F.coalesce(pred, F.lit(False)))
    # in one job: each predicate holds on its own row and on no other
    got = df.orderBy("i").select(F.array(*checks)).collect()
    for i, row in enumerate(got):
        assert row[0] == [j % len(rows) == i for j in range(len(checks))]


@pytest.mark.parametrize("key", [
    float("nan"), -0.0, 0.0, datetime.datetime(2024, 3, 10, 2, 30),
    [1, 2], {"a": 1}],
    ids=["nan", "neg-zero", "zero", "datetime", "list", "dict"])
def test_inexact_keys_take_the_join(spark, key):
    field = T.StructField("c", T.DoubleType())
    assert catmod._delta_pred(spark, [field], [(1.0,), (key,)]) is None


def test_escaped_string_literal_mode_takes_the_join(spark):
    field = T.StructField("c", T.StringType())
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert catmod._delta_pred(spark, [field], [("a",)]) is None
        # a key without strings has no escapes to misread
        assert catmod._delta_pred(
            spark, [T.StructField("n", T.LongType())], [(1,)]) is not None
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_float_keys_maintained_through_the_join(cat):
    """A rollup over a double group column holding NaN, 0.0 and -0.0:
    GROUP BY folds each into one group, which a pushed-down parquet
    filter on a literal would split, so those deltas take the null-safe
    join and the rollup equals the from-scratch aggregation after every
    commit."""
    t = cat.create_table("tf", {"x": pxt.Float(True), "v": pxt.Int(True)},
                         n_buckets=4)
    t.insert([{"x": x, "v": i} for i, x in
              enumerate([1.5, float("nan"), 0.0, -0.0, None, 2.5])])
    r = cat.create_rollup("rf", t, ["x"], {"n": ("count", None),
                                           "s": ("sum", "v")})

    def same():
        want = t.df().groupBy("x").agg(F.count(F.lit(1)), F.sum("v"))
        assert _by_repr((row["x"], row["n"], row["s"])
                        for row in r.df().collect()) == \
            _by_repr(tuple(row) for row in want.collect())

    same()
    t.insert([{"x": float("nan"), "v": 10}, {"x": -0.0, "v": 11}])
    same()
    t.update({"v": 20}, where=t.ref().v == 1)
    same()
    t.delete(t.ref().v == 2)
    same()
