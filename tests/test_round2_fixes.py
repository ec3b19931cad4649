"""Regression tests for the round-1 judge/advisor findings: grouped count(),
ArrayType persistence round-trip, frozen view snapshots, fraction=1.0
sampling, num_hashes>4 MinHash, and exact ns->us conversion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark import functions as pxtf
from pixeltable_spark.exprs import ColumnRef
from pixeltable_spark.operators.dedup import minhash_signatures, minhash_lsh_pairs
from pixeltable_spark.plans.query import SampleClause


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "warehouse"))


class TestGroupedCount:
    def test_count_of_grouped_query_is_group_count(self, test_tbl):
        t = test_tbl
        q = t.select(t.c4, n=pxtf.count(t.c2)).group_by(t.c4)
        assert q.count() == 2  # two groups (c4 is bool)

    def test_count_of_global_agg_is_one(self, test_tbl):
        t = test_tbl
        assert t.select(total=pxtf.sum(t.c2)).count() == 1

    def test_plain_count_unaffected(self, test_tbl):
        assert test_tbl.count() == 100


class TestArrayTypePersistence:
    def test_array_column_survives_reload(self, cat, spark):
        emb = pxt.ColumnType.array(pxt.ColumnType.float_(), shape=(4,))
        t = cat.create_table("vecs", {"k": pxt.Int(False), "e": emb},
                             primary_key=["k"])
        t.insert([{"k": i, "e": [float(i), 0.0, 1.0, 2.0]} for i in range(3)])
        # simulate a fresh session: drop the cached handle and reload meta
        cat._tables.pop("vecs")
        t2 = cat.get_table("vecs")
        assert t2.schema["e"].kind == pxt.TypeKind.ARRAY
        assert t2.schema["e"].element.kind == pxt.TypeKind.FLOAT
        assert t2.schema["e"].shape == (4,)
        # the operation that previously raised 'no spark type for ARRAY'
        t2.insert([{"k": 10, "e": [9.0, 9.0, 9.0, 9.0]}])
        assert t2.count() == 4


class TestViewVersioning:
    def test_snapshot_of_view_is_frozen(self, cat):
        t = cat.create_table("base", {"k": pxt.Int(False)}, primary_key=["k"])
        t.insert([{"k": i} for i in range(5)])
        v = cat.create_view("v_even", t,
                            predicate=ColumnRef("k", t.schema["k"]) % 2 == 0)
        assert v.count() == 3  # 0,2,4
        snap_version = v.version
        t.insert([{"k": 6}, {"k": 7}, {"k": 8}])  # incremental propagation
        assert v.count() == 5  # 0,2,4,6,8 live
        # the frozen version still shows exactly the original rows
        assert v.df(version=snap_version).count() == 3

    def test_pre_refresh_version_rejected(self, cat):
        t = cat.create_table("base2", {"k": pxt.Int(False)}, primary_key=["k"])
        t.insert([{"k": i} for i in range(5)])
        v = cat.create_view("v_all", t)
        old = v.version
        v._full_refresh()  # truncates history
        with pytest.raises(ValueError, match="no longer reconstructible"):
            v.df(version=old)


class TestBatchUpdateSinglePass:
    def test_one_rewrite_per_batch(self, cat, monkeypatch):
        t = cat.create_table("bu", {"k": pxt.Int(False), "v": pxt.Float(True),
                                    "s": pxt.String(True)}, primary_key=["k"])
        t.insert([{"k": i, "v": float(i), "s": f"s{i}"} for i in range(10)])
        # every commit writes its files through _write_snapshot_files;
        # count the writes and assert exactly one pass.
        calls = []
        orig_write = type(t)._write_snapshot_files
        monkeypatch.setattr(
            type(t), "_write_snapshot_files",
            lambda self, df, **kw: calls.append(1) or orig_write(self, df,
                                                                 **kw))
        n = t.batch_update([{"k": 1, "v": 100.0},
                            {"k": 3, "s": "updated"},          # different col set
                            {"k": 5, "v": 500.0, "s": "both"},
                            {"k": 99, "v": 1.0}],              # no such key
                           if_not_exists="ignore")
        assert len(calls) == 1, "batch_update must rewrite once, not per row"
        assert n == 3
        rows = {r["k"]: r for r in t.collect()}
        assert rows[1]["v"] == 100.0 and rows[1]["s"] == "s1"
        assert rows[3]["s"] == "updated" and rows[3]["v"] == 3.0
        assert rows[5]["v"] == 500.0 and rows[5]["s"] == "both"
        assert t.version == 2  # one version bump for the whole batch
        assert 99 not in rows

    def test_duplicate_pk_rejected(self, cat):
        t = cat.create_table("bu2", {"k": pxt.Int(False), "v": pxt.Float(True)},
                             primary_key=["k"])
        t.insert([{"k": 1, "v": 1.0}])
        with pytest.raises(ValueError, match="duplicate"):
            t.batch_update([{"k": 1, "v": 2.0}, {"k": 1, "v": 3.0}])


class TestIncrementalUpdatePropagation:
    def test_update_only_recomputes_affected_view_rows(self, cat):
        t = cat.create_table("ib", {"k": pxt.Int(False), "v": pxt.Float(True)},
                             primary_key=["k"])
        t.insert([{"k": i, "v": float(i)} for i in range(6)])
        view = cat.create_view(
            "iv", t, predicate=ColumnRef("k", t.schema["k"]) < 4)
        assert view.count() == 4
        v0 = view.version
        t.update({"v": 99.0}, where=ColumnRef("k", t.schema["k"]) == 2)
        rows = {r["k"]: r["v"] for r in view.collect()}
        assert rows == {0: 0.0, 1: 1.0, 2: 99.0, 3: 3.0}
        # unaffected view rows were NOT re-materialized: their _vv_min
        # still predates the update increment
        spark = cat.spark
        raw = spark.read.parquet(view._data_dir)
        live = {r["k"]: r["_vv_min"] for r in raw.filter(
            (F.col("_vv_min") <= view.version) & (F.col("_vv_max") > view.version)).collect()}
        assert live[2] == view.version  # recomputed
        assert all(live[k] <= v0 for k in (0, 1, 3))  # untouched
        # and history below the update is still reconstructible (no refresh)
        assert view.df(version=v0).count() == 4

    def test_delete_propagates_incrementally(self, cat):
        t = cat.create_table("ib2", {"k": pxt.Int(False)}, primary_key=["k"])
        t.insert([{"k": i} for i in range(5)])
        view = cat.create_view("iv2", t)
        v0 = view.version
        t.delete(where=ColumnRef("k", t.schema["k"]) >= 3)
        assert view.count() == 3
        assert view.df(version=v0).count() == 5  # frozen history intact


class TestSampleFractionOne:
    def test_threshold_is_16_hex(self):
        assert len(SampleClause.fraction_to_md5_hex(1.0)) == 16
        assert SampleClause.fraction_to_md5_hex(1.0) == "f" * 16

    def test_fraction_one_keeps_every_row(self, test_tbl):
        assert test_tbl.sample(fraction=1.0, seed=7).count() == 100

    def test_fraction_half_is_not_degenerate(self, test_tbl):
        n = test_tbl.sample(fraction=0.5, seed=7).count()
        assert 25 <= n <= 75


class TestMinHashDefaults:
    def test_eight_hashes_supported(self, spark):
        df = spark.createDataFrame(
            [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(6)],
            "doc_id long, text string")
        sigs = minhash_signatures(df)  # default num_hashes=8
        assert [c for c in sigs.columns if c.startswith("sig_")] == \
            [f"sig_{i}" for i in range(8)]
        assert sigs.count() == 6

    def test_salted_slices_are_independent(self, spark):
        df = spark.createDataFrame([(1, "aaa bbb ccc ddd eee fff")],
                                   "doc_id long, text string")
        row = minhash_signatures(df, num_hashes=8).collect()[0]
        assert row["sig_0"] != row["sig_4"]  # salt actually changes the hash

    def test_lsh_pairs_default_args_run(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t")],
            "doc_id long, text string")
        pairs = minhash_lsh_pairs(df).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


class TestDistributedNearDup:
    @pytest.fixture()
    def vecs(self, spark):
        import numpy as np
        rng = np.random.default_rng(7)
        base = rng.normal(size=(12, 8))
        rows = []
        for i, v in enumerate(base):
            rows.append((i, [float(x) for x in v]))
            rows.append((100 + i, [float(x * 1.001 + 0.0005) for x in v]))  # near-dups
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _pairs(self, df, **kw):
        from pixeltable_spark.operators.dedup import embedding_near_dup_pairs
        return {(r["id_a"], r["id_b"], r["cos"])
                for r in embedding_near_dup_pairs(df, threshold=0.99, **kw).collect()}

    def test_exact_invariant_to_block_count(self, vecs):
        p1 = self._pairs(vecs, n_blocks=1)
        p3 = self._pairs(vecs, n_blocks=3)
        p8 = self._pairs(vecs, n_blocks=8)
        assert p1 == p3 == p8 and len(p1) >= 12

    def test_lsh_path_is_subset_of_exact(self, vecs):
        exact = self._pairs(vecs)
        lsh = self._pairs(vecs, n_planes=4)
        assert lsh <= exact
        assert len(lsh) >= len(exact) // 2  # near-identical vectors co-bucket

    def test_knn_exact_matches_numpy(self, spark, vecs):
        import numpy as np
        from pixeltable_spark.operators.similarity import knn_join
        probes = vecs.limit(3)
        got = {(r["lid"], r["rk"]): r["rid"]
               for r in knn_join(probes, vecs, k=4).collect()}
        rows = sorted((r["vec_id"], r["embedding"]) for r in vecs.collect())
        ids = np.array([r[0] for r in rows])
        mat = np.array([r[1] for r in rows])
        nrm = np.linalg.norm(mat, axis=1)
        for pid, pvec in sorted((r["vec_id"], r["embedding"]) for r in probes.collect()):
            cos = np.round(mat @ np.array(pvec) / (nrm * np.linalg.norm(pvec)), 6)
            order = sorted(zip(-cos, ids))  # cos desc, id asc — same tiebreak
            for rk in range(1, 5):
                assert got[(pid, rk)] == order[rk - 1][1]


class TestJaccardHotShingleCeiling:
    def test_max_df_prunes_boilerplate_pairs(self, spark):
        from pixeltable_spark.operators.dedup import ngram_jaccard_pairs
        # 30 docs share ONE boilerplate shingle; everything else is unique.
        rows = [(i, f"common header line u{i}a u{i}b u{i}c") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        full = ngram_jaccard_pairs(df, threshold=0.05)
        assert full.count() == 435  # C(30,2): every pair rides the hot shingle
        pruned = ngram_jaccard_pairs(df, threshold=0.05, max_df=5)
        # the df=30 shingle is excluded from the universe -> no candidates:
        # the self-join input is bounded by max_df^2 per shingle
        assert pruned.count() == 0

    def test_max_df_keeps_real_dups_exact(self, spark):
        from pixeltable_spark.operators.dedup import ngram_jaccard_pairs
        rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                (3, "totally different content here")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=10).collect()}
        assert got == {(1, 2): 1.0}


class TestGlobalWindowUdaTwoPass:
    def test_mergeable_uda_runs_distributed(self, test_tbl, spark):
        @pxt.uda
        class running_total:
            def __init__(self):
                self.s = 0.0

            def update(self, v):
                if v is not None:
                    self.s += v

            def merge(self, other):
                self.s += other.s

            def value(self) -> float:
                return self.s

        t = test_tbl
        q = t.select(t.c2, rt=running_total(t.c3, order_by=t.c2)).order_by(t.c2)
        # physical plan must not be the single-group applyInPandas shape
        plan = q.df()._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan
        got = q.collect()
        acc = 0.0
        for r in got:
            acc += float(r["c2"])
            assert r["rt"] == pytest.approx(acc)

    def test_unmergeable_uda_still_correct(self, test_tbl):
        @pxt.uda
        class running_count:
            def __init__(self):
                self.n = 0

            def update(self, v):
                self.n += 1

            def value(self) -> int:
                return self.n

        t = test_tbl
        got = (t.where(t.c2 < 10)
               .select(t.c2, rc=running_count(t.c3, order_by=t.c2))
               .order_by(t.c2).collect())
        assert [r["rc"] for r in got] == list(range(1, 11))


class TestJvmJsonMapper:
    def test_typed_mapper_has_no_pandas_udf(self, test_tbl):
        t = test_tbl
        mapped = t.c7 >> pxt.R.astype(pxt.String()).len()
        q = t.where(t.c2 < 5).select(t.c2, m0=mapped[0]).order_by(t.c2)
        plan = q.df()._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        got = q.collect()
        # c7 = [{"f1": "a", "f2": 1}, ...]: element text is the object JSON;
        # astype(str).len() = length of that JSON text — check type is long
        assert all(isinstance(r["m0"], int) for r in got)

    def test_typed_numeric_mapper_values(self, spark):
        df = spark.createDataFrame([(1, '[10, 20, 30]'), (2, '[5]'), (3, None)],
                                   "k long, j string")
        t = pxt.TableRef.from_df(df, "jm", rowid_cols=["k"], json_cols=["j"])
        mapped = t.j >> (pxt.R.astype(pxt.Float()) * 2)
        q = t.select(t.k, first=mapped[0]).order_by(t.k)
        plan = q.df()._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        got = {r["k"]: r["first"] for r in q.collect()}
        assert got == {1: 20.0, 2: 10.0, 3: None}

    def test_untyped_mapper_keeps_python_semantics(self, test_tbl):
        import json
        t = test_tbl
        got = (t.where(t.c2 == 1).select(m=t.c7 >> (pxt.R.f2 * 10)).collect())
        assert json.loads(got[0]["m"]) == [10, 20]  # ints, Python arithmetic


class TestJsonStructuralSchema:
    def test_typed_path_no_astype(self, spark):
        t = pxt.table_from_rows(
            spark,
            [{"k": 1, "j": '{"n": 5, "s": "hi", "sub": {"f": 1.5}}'},
             {"k": 2, "j": '{"n": 7, "s": "yo", "sub": {"f": 2.5}}'}],
            "jt",
            schema={"k": pxt.Int(False),
                    "j": pxt.ColumnType.json(fields={
                        "n": pxt.Int(), "s": pxt.String(),
                        "sub": pxt.ColumnType.json(fields={"f": pxt.Float()})})},
            rowid_cols=["k"])
        q = t.select(t.k, n2=t.j.n * 2, s=t.j.s, f=t.j.sub.f)
        # typed path compiles JVM-side: no pandas UDF anywhere
        plan = q.df()._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        rows = {r["k"]: r for r in q.collect()}
        assert rows[1]["n2"] == 10 and rows[2]["n2"] == 14  # int, not str
        assert rows[1]["f"] == 1.5
        assert rows[1]["s"] == "hi"

    def test_undeclared_field_stays_json(self, spark):
        t = pxt.table_from_rows(
            spark, [{"k": 1, "j": '{"n": 5, "x": [1,2]}'}], "jt2",
            schema={"k": pxt.Int(False),
                    "j": pxt.ColumnType.json(fields={"n": pxt.Int()})},
            rowid_cols=["k"])
        assert t.j.x.col_type.kind == pxt.TypeKind.JSON

    def test_schema_roundtrips_via_meta(self):
        jt = pxt.ColumnType.json(fields={"n": pxt.Int(), "s": pxt.String()})
        back = pxt.ColumnType.from_dict(jt.as_dict())
        assert back.field_type("n").kind == pxt.TypeKind.INT
        assert back.field_type("s").kind == pxt.TypeKind.STRING


class TestPyFnBuiltinShadowing:
    """_fn() rebinds module globals (round/len/abs) to Function objects;
    their own py_fn lambdas must still call the BUILTIN on the Python
    fallback path (this returned expr objects instead of values)."""

    def test_math_round_python_path(self):
        from pixeltable_spark.functions import math as pxm
        assert pxm.round.py_fn(1.23456, 2) == 1.23
        assert pxm.abs.py_fn(-3.5) == 3.5

    def test_string_len_python_path(self):
        from pixeltable_spark.functions import string as pxs
        assert pxs.len.py_fn("hello") == 5

    def test_json_len_python_path(self):
        from pixeltable_spark.functions import json as pxj
        assert pxj.len.py_fn("[1,2,3]") == 3
        assert pxj.is_empty.py_fn("[]") is True


class TestNanosConversion:
    def test_integer_division_exact(self, spark):
        # a ns value whose float64 division is off by >= 1 us
        ns = 1_600_000_000_000_000_896
        assert int(float(ns) / 1000) != ns // 1000  # premise of the bug
        got = (spark.range(1).select(F.lit(ns).alias("ts"))
               .select(F.expr("ts div 1000").alias("us")).collect()[0]["us"])
        assert got == ns // 1000
