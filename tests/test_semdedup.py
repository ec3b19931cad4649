"""SemDeDup + profiling invariants (operators/semdedup.py, profile.py).

SemDeDup's k-means is not SQL-expressible, so q88 runs under the
driver's rows-only check; these tests pin the semantics the oracle
can't: determinism, the greedy-leader keep rule, threshold monotonicity,
and exact-vs-approx profile agreement."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pixeltable_spark.operators.profile import profile_table
from pixeltable_spark.operators.semdedup import (assign_clusters, kmeans_fit,
                                                 semdedup)


@pytest.fixture(scope="module")
def vectors(spark):
    """3 tight clusters of near-duplicate vectors + lone outliers."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(3):
        base = rng.randn(8)
        for _ in range(20):  # 20 near-dups per cluster (tiny jitter)
            v = base + rng.randn(8) * 1e-3
            rows.append((vid, [float(x) for x in v])); vid += 1
    for _ in range(10):  # isolated points
        rows.append((vid, [float(x) for x in rng.randn(8) * 10])); vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class TestSemDedup:
    def test_deterministic(self, vectors):
        a = semdedup(vectors, k=4, threshold=0.95, iters=3).orderBy("vec_id").collect()
        b = semdedup(vectors, k=4, threshold=0.95, iters=3).orderBy("vec_id").collect()
        assert a == b

    def test_near_dup_clusters_collapse(self, vectors):
        out = semdedup(vectors, k=4, threshold=0.95, iters=3).collect()
        kept = [r for r in out if r.keep]
        # each 20-dup cluster collapses to ~1 representative; the 10
        # outliers survive -> far fewer than the 70 inputs, more than 10
        assert 10 <= len(kept) <= 20, len(kept)
        # every dropped row saw a kept row above threshold
        for r in out:
            if not r.keep:
                assert r.max_cos_kept >= 0.95

    def test_threshold_monotone(self, vectors):
        # threshold > 1 is unreachable by cosine -> keeps every row
        loose = semdedup(vectors, k=4, threshold=1.01, iters=3)
        tight = semdedup(vectors, k=4, threshold=0.5, iters=3)
        n_loose = loose.filter("keep").count()
        n_tight = tight.filter("keep").count()
        assert n_tight <= n_loose
        assert n_loose == 70

    def test_first_of_cluster_always_kept(self, vectors):
        out = semdedup(vectors, k=4, threshold=0.5, iters=3).collect()
        by_cluster: dict[int, list] = {}
        for r in sorted(out, key=lambda r: r.vec_id):
            by_cluster.setdefault(r.cluster, []).append(r)
        for rows in by_cluster.values():
            assert rows[0].keep and rows[0].max_cos_kept == -1.0

    def test_assignment_matches_driver_argmin(self, vectors):
        cent = kmeans_fit(vectors, k=4, iters=3)
        got = {r.vec_id: r.cluster
               for r in assign_clusters(vectors, cent).collect()}
        rows = vectors.orderBy("vec_id").collect()
        for r in rows:
            d2 = ((np.array(r.embedding) - cent) ** 2).sum(axis=1)
            assert got[r.vec_id] == int(d2.argmin())


class TestProfile:
    def test_exact_matches_python(self, spark):
        vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6]] + [None]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        out = {(r.col_name, r.stat): r.value
               for r in profile_table(df, ["x"]).collect()}
        xs = sorted(v for v in vals if v is not None)
        assert out[("x", "n")] == 8
        assert out[("x", "n_null")] == 1
        assert out[("x", "n_distinct")] == 7
        assert out[("x", "min")] == 1 and out[("x", "max")] == 9
        assert math.isclose(out[("x", "mean")], sum(xs) / 8)
        assert math.isclose(out[("x", "p50")], float(np.percentile(xs, 50)))
        assert math.isclose(out[("x", "p25")], float(np.percentile(xs, 25)))

    def test_exact_mean_independent_of_partitioning(self, spark):
        """Cent-valued doubles, as in q87's l_discount, whose mean sits
        on a 6-decimal rounding boundary: a float sum's last bits follow
        the order partitions merge in. The exact mean is the same at
        every input partitioning and shuffle width, and equals the
        correctly rounded double sum over the count."""
        from pixeltable_spark import tinyplan
        rng = np.random.RandomState(3)
        xs = [float(v) / 100 for v in rng.randint(0, 11, 6000)]
        assert sum(xs) != sum(reversed(xs))   # the data is order-sensitive
        df = spark.createDataFrame([(x,) for x in xs], "x double")

        def mean(parts: int, width: int) -> float:
            prof = profile_table(df.repartition(parts), ["x"])
            return {r.stat: r.value for r in tinyplan.narrow(
                prof, width).collect()}["mean"]
        got = {mean(p, w) for p, w in ((1, 1), (3, 2), (8, 5), (13, 7))}
        assert got == {math.fsum(xs) / len(xs)}

    def test_exact_mean_falls_back_outside_decimal_range(self, spark):
        df = spark.createDataFrame([(1e300,), (3e300,), (None,)], "x double")
        out = {r.stat: r.value for r in profile_table(df, ["x"]).collect()}
        assert out["mean"] == 2e300
        df = spark.createDataFrame([(1.0,), (float("nan"),)], "x double")
        out = {r.stat: r.value for r in profile_table(df, ["x"]).collect()}
        assert math.isnan(out["mean"])

    def test_no_numeric_cols_returns_empty(self, spark):
        df = spark.createDataFrame([("a",), ("b",)], "s string")
        out = profile_table(df)  # no numeric columns -> empty, not py4j err
        assert out.columns == ["col_name", "stat", "value"]
        assert out.count() == 0
        assert profile_table(df, cols=[]).count() == 0

    def test_dunder_column_name_survives(self, spark):
        df = spark.range(10).select((F.col("id") * 2.0).alias("a__b"))
        out = {(r.col_name, r.stat): r.value
               for r in profile_table(df, ["a__b"]).collect()}
        assert out[("a__b", "n")] == 10
        assert out[("a__b", "max")] == 18.0

    def test_approx_mode_single_pass_no_expand(self, spark):
        df = spark.range(1000).select(
            (F.col("id") % 37).cast("double").alias("x"),
            (F.col("id") % 11).cast("double").alias("y"))
        prof = profile_table(df, ["x", "y"], exact=False)
        plan = prof._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan  # HLL/KLL sketches, no distinct expand
        out = {(r.col_name, r.stat): r.value for r in prof.collect()}
        # sketches are approximate but must be sane on tiny input
        assert abs(out[("x", "n_distinct")] - 37) <= 2
        assert out[("y", "p50")] == pytest.approx(5.0, abs=1.0)

    def test_default_selects_numeric_columns(self, spark):
        df = spark.createDataFrame([(1, "a", 2.5)], "i long, s string, d double")
        cols = {r.col_name for r in profile_table(df).collect()}
        assert cols == {"i", "d"}
