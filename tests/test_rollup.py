"""Incrementally-maintained aggregate rollups (catalog.py Rollup /
create_rollup — the continuous-aggregate design): one row per group,
only delta-affected groups recomputed per base commit, MVCC-versioned
like views."""
import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark.exceptions import Error, NotFoundError


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "wh"))


def _mk(cat, n=100, groups=5):
    t = cat.create_table("t", {"g": pxt.String(True),
                               "v": pxt.Float(True)}, n_buckets=4)
    t.insert([{"g": f"g{i % groups}", "v": float(i)} for i in range(n)])
    r = cat.create_rollup("r", t, ["g"], {
        "n": ("count", None), "s": ("sum", "v"),
        "mx": ("max", "v"), "nd": ("count_distinct", "v")})
    return t, r


def _scratch(t):
    return sorted(
        (row["g"], row["n"], row["s"], row["mx"], row["nd"])
        for row in t.df().groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.max("v").alias("mx"),
            F.countDistinct("v").alias("nd")).collect())


def _state(r, version=None):
    df = r.df(version) if version is not None else r.df()
    return sorted((row["g"], row["n"], row["s"], row["mx"], row["nd"])
                  for row in df.collect())


class TestRollupMaintenance:
    def test_matches_scratch_through_mutations(self, cat):
        t, r = _mk(cat)
        assert _state(r) == _scratch(t)
        # insert: existing + brand-new group
        t.insert([{"g": "g1", "v": 999.0}, {"g": "new", "v": 7.0}])
        assert _state(r) == _scratch(t)
        # update that MOVES rows between groups (old key must shrink)
        t.update({"g": "moved"}, where=t.ref().g == "g2")
        assert _state(r) == _scratch(t)
        # delete a whole group (rows vanish, group disappears)
        t.delete(t.ref().g == "g3")
        assert _state(r) == _scratch(t)
        # delete part of a group
        t.delete(t.ref().v < 10.0)
        assert _state(r) == _scratch(t)

    def test_incremental_is_group_scoped(self, cat, spark):
        """The maintenance plan rewrites only the files holding the
        affected groups: an update touching one group leaves the other
        groups' rollup rows at their old version interval."""
        t, r = _mk(cat, n=100, groups=5)
        v_before = r.version
        t.update({"v": 12345.0}, where=t.ref().g == "g0")
        raw = r._frames()["raw"]
        live = raw.filter(F.col("_vv_max") > r.version) \
                  .select("g", "_vv_min").collect()
        vmin = {row["g"]: row["_vv_min"] for row in live}
        assert vmin["g0"] == v_before + 1        # recomputed
        assert all(v <= v_before for g, v in vmin.items() if g != "g0")

    def test_time_travel_and_version_bump(self, cat):
        t, r = _mk(cat)
        v1 = _state(r)
        t.insert([{"g": "g0", "v": 1.5}])
        assert _state(r, 1) == v1            # rollup itself time-travels
        assert r.version == 2

    def test_count_distinct_no_retraction_algebra(self, cat):
        """count_distinct is the agg partial-merge schemes can't
        retract — the recompute-affected-groups design handles it."""
        t, r = _mk(cat)
        t.insert([{"g": "g0", "v": 0.0}])   # duplicate value: nd stays
        assert _state(r) == _scratch(t)
        t.delete((t.ref().g == "g0") & (t.ref().v == 0.0))
        assert _state(r) == _scratch(t)

    def test_persistence_and_catchup(self, cat, spark, tmp_path):
        t, r = _mk(cat)
        want = _state(r)
        # reload: rollup comes back with spec intact
        cat2 = pxt.Catalog(spark, str(tmp_path / "wh"))
        r2 = cat2.get_table("r")
        assert r2.group_cols == ["g"] and _state(r2) == want
        # base advanced through a handle that never loaded the rollup:
        # the next load catches the materialization up
        t2 = cat2.get_table("t")
        t2.insert([{"g": "late", "v": 3.0}])
        cat3 = pxt.Catalog(spark, str(tmp_path / "wh"))
        r3 = cat3.get_table("r")
        assert ("late", 1, 3.0, 3.0, 1) in _state(r3)

    def test_validation(self, cat):
        t = cat.create_table("tv", {"g": pxt.String(True)})
        with pytest.raises(NotFoundError, match="group column"):
            cat.create_rollup("x", t, ["nope"], {"n": ("count", None)})
        with pytest.raises(ValueError, match="unknown aggregate"):
            cat.create_rollup("x", t, ["g"], {"n": ("mode", "g")})
        with pytest.raises(NotFoundError, match="agg column"):
            cat.create_rollup("x", t, ["g"], {"n": ("sum", "zz")})
        v = cat.create_view("vv", t)
        r = cat.create_rollup("rv0", v, ["g"], {"n": ("count", None)})
        with pytest.raises(Error, match="rollups over rollups"):
            cat.create_rollup("x", r, ["g"], {"n": ("count", None)})
        with pytest.raises(NotFoundError, match="group column"):
            cat.create_rollup("x", v, ["zz"], {"n": ("count", None)})

    def test_multi_column_groups(self, cat):
        t = cat.create_table("tm", {"a": pxt.String(True),
                                    "b": pxt.Int(True),
                                    "v": pxt.Float(True)}, n_buckets=2)
        t.insert([{"a": f"a{i % 3}", "b": i % 2, "v": float(i)}
                  for i in range(60)])
        r = cat.create_rollup("rm", t, ["a", "b"],
                              {"n": ("count", None), "s": ("sum", "v")})
        t.update({"b": 5}, where=t.ref().a == "a1")
        got = sorted((row["a"], row["b"], row["n"], row["s"])
                     for row in r.df().collect())
        want = sorted((row["a"], row["b"], row["n"], row["s"])
                      for row in t.df().groupBy("a", "b").agg(
                          F.count(F.lit(1)).alias("n"),
                          F.sum("v").alias("s")).collect())
        assert got == want


class TestRollupSchemaInterplay:
    def test_drop_rename_of_referenced_columns_refuse(self, cat):
        t, r = _mk(cat)
        with pytest.raises(ValueError, match="referenced by views"):
            t.drop_column("g")          # group key
        with pytest.raises(ValueError, match="referenced by views"):
            t.drop_column("v")          # aggregate input
        with pytest.raises(ValueError, match="referenced by views"):
            t.rename_column("g", "grp")

    def test_base_revert_refreshes_rollup(self, cat):
        t, r = _mk(cat)
        before = _state(r)
        t.insert([{"g": "x", "v": 1.0}])
        assert _state(r) != before
        t.revert()
        assert _state(r) == _scratch(t) == before


class TestRollupExtras:
    def test_median_agg(self, cat):
        t = cat.create_table("tmed", {"g": pxt.String(True),
                                      "v": pxt.Float(True)}, n_buckets=2)
        t.insert([{"g": f"g{i % 2}", "v": float(i)} for i in range(21)])
        r = cat.create_rollup("rmed", t, ["g"], {"md": ("median", "v")})
        t.delete(t.ref().v >= 15.0)
        got = {row["g"]: row["md"] for row in r.df().collect()}
        want = {row["g"]: row["md"] for row in
                t.df().groupBy("g").agg(F.median("v").alias("md"))
                .collect()}
        assert got == want

    def test_streaming_ingest_maintains_rollup(self, cat, spark, tmp_path):
        """Exactly-once streaming ingest (incremental_ingest) flows
        through Table.insert, so attached rollups maintain per
        micro-batch with no extra wiring."""
        from pyspark.sql import types as T

        from pixeltable_spark.streaming import (incremental_ingest,
                                                stream_from_directory)
        t = cat.create_table("ts", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=2)
        t.insert([{"g": "a", "v": 1.0}])
        r = cat.create_rollup("rs", t, ["g"], {"n": ("count", None),
                                               "s": ("sum", "v")})
        landing = str(tmp_path / "landing")
        schema = T.StructType([T.StructField("g", T.StringType()),
                               T.StructField("v", T.DoubleType())])
        for i, rows in enumerate([[("a", 2.0), ("b", 3.0)],
                                  [("b", 4.0)]]):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("append").parquet(landing)
        src = stream_from_directory(spark, landing, schema,
                                    options={"maxFilesPerTrigger": "1"})
        q = incremental_ingest(src, t,
                               checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination()
        got = sorted((row["g"], row["n"], row["s"])
                     for row in r.df().collect())
        assert got == [("a", 2, 3.0), ("b", 2, 7.0)]


class TestRollupOverView:
    def test_view_base_incremental(self, cat):
        """Rollup over a PREDICATE VIEW: base mutations propagate
        table -> view (row-wise incremental) -> rollup (group
        incremental), and the rollup equals a from-scratch aggregation
        of the view at every step."""
        t = cat.create_table("tb", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=2)
        t.insert([{"g": f"g{i % 4}", "v": float(i)} for i in range(80)])
        view = cat.create_view("big", t, predicate=t.ref().v >= 10.0)
        r = cat.create_rollup("rv", view, ["g"],
                              {"n": ("count", None), "s": ("sum", "v")})

        def scratch():
            return sorted((row["g"], row["n"], row["s"]) for row in
                          view.df().groupBy("g").agg(
                              F.count(F.lit(1)).alias("n"),
                              F.sum("v").alias("s")).collect())

        def state():
            return sorted((row["g"], row["n"], row["s"])
                          for row in r.df().collect())

        assert state() == scratch()
        t.insert([{"g": "g0", "v": 100.0}, {"g": "new", "v": 50.0},
                  {"g": "tiny", "v": 1.0}])   # 'tiny' filtered out
        assert state() == scratch()
        # update that moves rows ACROSS the predicate boundary
        t.update({"v": 5.0}, where=t.ref().g == "g1")
        assert state() == scratch()
        t.delete(t.ref().g == "g2")
        assert state() == scratch()


class TestViewOverRollup:
    @pytest.mark.parametrize("literal_max", [None, 1])
    def test_filtered_view_tracks_rollup(self, cat, monkeypatch,
                                         literal_max):
        """A filtered view over a rollup is maintained from the rollup's
        commit delta (rows keyed by the group hash): after every base
        commit it equals a from-scratch filter of the rollup, and every
        level of the chain commits a version. `literal_max=1` sends
        every non-trivial delta down the join path."""
        from pixeltable_spark import catalog as catmod
        if literal_max is not None:
            monkeypatch.setattr(catmod, "_DELTA_LITERAL_MAX", literal_max)
        t = cat.create_table("tr", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": f"g{i % 4}", "v": float(i)} for i in range(40)])
        r = cat.create_rollup("rr", t, ["g"], {"n": ("count", None),
                                               "s": ("sum", "v")})
        view = cat.create_view("hot", r, predicate=r.ref().n >= 10)

        def check():
            want = sorted((row["g"], row["n"], row["s"]) for row in
                          r.df().filter(F.col("n") >= 10).collect())
            got = sorted((row["g"], row["n"], row["s"])
                         for row in view.df().collect())
            assert got == want

        check()
        steps = [
            lambda: t.insert([{"g": "g0", "v": 1.0}, {"g": "g5", "v": 2.0}]),
            # moves g1's rows into g2: g1 leaves the view, g2 grows
            lambda: t.update({"g": "g2"}, where=t.ref().g == "g1"),
            # empties g3: its rollup row expires with no successor
            lambda: t.delete(t.ref().g == "g3"),
            lambda: t.update({"v": 0.0}, where=t.ref().g == "none"),
        ]
        for step in steps:
            before = (t.version, r.version, view.version)
            step()
            assert (t.version, r.version, view.version) == \
                tuple(x + 1 for x in before)
            check()
        assert sorted(row["g"] for row in view.df().collect()) == \
            ["g0", "g2"]


def _nulls_last(row):
    return tuple((v is None, v if v is not None else 0) for v in row)


class TestNullGroupKeys:
    """A NULL group key is one group (SQL GROUP BY semantics). Its
    rollup row must be refreshed like any other: an equi-join never
    matches NULL = NULL, so maintenance has to match keys null-safely."""

    def _scratch(self, t, version=None):
        df = t.df(version) if version is not None else t.df()
        return sorted(((row["g"], row["n"], row["s"]) for row in
                       df.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                           F.sum("v").alias("s"))
                       .collect()), key=_nulls_last)

    def _state(self, r, version=None):
        df = r.df(version) if version is not None else r.df()
        return sorted(((row["g"], row["n"], row["s"])
                       for row in df.collect()), key=_nulls_last)

    def test_null_group_matches_scratch_at_every_version(self, cat):
        t = cat.create_table("tn", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": "a", "v": 1.0}, {"g": None, "v": 2.0},
                  {"g": "b", "v": 3.0}])
        r = cat.create_rollup("rn", t, ["g"], {"n": ("count", None),
                                               "s": ("sum", "v")})
        versions = [(t.version, r.version)]

        def step():
            assert self._state(r) == self._scratch(t)
            versions.append((t.version, r.version))

        t.insert([{"g": None, "v": 10.0}, {"g": "a", "v": 1.5}])
        step()
        t.update({"v": 4.0}, where=t.ref().v == 2.0)      # inside NULL
        step()
        t.update({"g": None}, where=t.ref().g == "b")     # into NULL
        step()
        t.update({"g": "c"}, where=t.ref().v == 4.0)      # out of NULL
        step()
        t.delete(t.ref().v == 3.0)                        # NULL shrinks
        step()
        assert (None, 1, 10.0) in self._state(r)
        # the rollup time-travels: each of its versions equals the
        # from-scratch aggregation of the base at the matching version
        for tv, rv in versions:
            assert self._state(r, rv) == self._scratch(t, tv)

    def test_null_group_above_literal_bound(self, cat, monkeypatch):
        """Deltas above the literal bound take the join path, which
        must match NULL keys null-safely too."""
        from pixeltable_spark import catalog as catmod
        monkeypatch.setattr(catmod, "_DELTA_LITERAL_MAX", 1)
        t = cat.create_table("tj", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": None if i % 3 == 0 else f"g{i % 3}",
                   "v": float(i)} for i in range(30)])
        r = cat.create_rollup("rj", t, ["g"], {"n": ("count", None),
                                               "s": ("sum", "v")})
        t.insert([{"g": None, "v": 100.0}, {"g": "g1", "v": 1.0}])
        assert self._state(r) == self._scratch(t)
        t.update({"g": None}, where=t.ref().g == "g2")
        assert self._state(r) == self._scratch(t)
        t.delete(t.ref().v < 12.0)
        assert self._state(r) == self._scratch(t)

    def test_multi_column_null_groups(self, cat):
        """Several group columns match the literal keys through one
        rendered struct IN (the probe pruned by the keys' in-lists); a
        NULL in either column is a group of its own."""
        t = cat.create_table("tm", {"g": pxt.String(True),
                                    "h": pxt.Int(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": None if i % 4 == 0 else f"g{i % 3}",
                   "h": None if i % 5 == 0 else i % 2, "v": float(i)}
                  for i in range(40)])
        r = cat.create_rollup("rm", t, ["g", "h"], {"n": ("count", None),
                                                    "s": ("sum", "v")})

        def key(x):
            return tuple((e is None, e) for e in x)

        def scratch():
            return sorted(((row["g"], row["h"], row["n"], row["s"])
                           for row in t.df().groupBy("g", "h").agg(
                               F.count(F.lit(1)).alias("n"),
                               F.sum("v").alias("s")).collect()), key=key)

        def state():
            return sorted(((row["g"], row["h"], row["n"], row["s"])
                           for row in r.df().collect()), key=key)

        t.insert([{"g": None, "h": None, "v": 100.0},
                  {"g": "g1", "h": None, "v": 1.0}])
        assert state() == scratch()
        t.update({"h": None}, where=t.ref().v == 7.0)
        assert state() == scratch()
        t.update({"g": None}, where=t.ref().g == "g2")
        assert state() == scratch()
        t.delete(t.ref().v < 12.0)
        assert state() == scratch()

    @pytest.mark.parametrize("literal_max", [None, 1])
    def test_two_column_null_groups_time_travel(self, cat, monkeypatch,
                                                literal_max):
        """Two group columns with a NULL in either, both or neither: the
        rendered struct IN (default bound) and the null-safe join (bound
        1) each keep every rollup version equal to the from-scratch
        aggregation of the base at the matching version."""
        from pixeltable_spark import catalog as catmod
        rendered = []
        orig = catmod._delta_pred

        def spy(*a, **k):
            rendered.append(orig(*a, **k))
            return rendered[-1]
        monkeypatch.setattr(catmod, "_delta_pred", spy)
        if literal_max is not None:
            monkeypatch.setattr(catmod, "_DELTA_LITERAL_MAX", literal_max)
        t = cat.create_table("t2", {"g": pxt.String(True),
                                    "h": pxt.Int(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": None if i % 4 == 0 else f"g{i % 3}",
                   "h": None if i % 5 == 0 else i % 2, "v": float(i)}
                  for i in range(20)])
        r = cat.create_rollup("r2", t, ["g", "h"], {"n": ("count", None),
                                                    "s": ("sum", "v")})

        def scratch(version):
            return sorted((tuple(row) for row in t.df(version).groupBy(
                "g", "h").agg(F.count(F.lit(1)), F.sum("v")).collect()),
                key=_nulls_last)

        def state(version):
            return sorted(((row["g"], row["h"], row["n"], row["s"])
                           for row in r.df(version).collect()),
                          key=_nulls_last)

        versions = [(t.version, r.version)]
        for step in (
                lambda: t.insert([{"g": None, "h": None, "v": 100.0},
                                  {"g": "g1", "h": None, "v": 1.0},
                                  {"g": None, "h": 1, "v": 2.0}]),
                lambda: t.update({"h": None}, where=t.ref().v == 7.0),
                lambda: t.update({"g": None}, where=t.ref().g == "g2"),
                lambda: t.delete(t.ref().v < 6.0)):
            step()
            versions.append((t.version, r.version))
        for tv, rv in versions:
            assert state(rv) == scratch(tv), (tv, rv)
        if literal_max is None:   # every delta matched by its literals
            assert len(rendered) == 4
            assert all(p is not None for p in rendered)

    def test_timestamp_and_null_groups(self, cat):
        """Timestamp keys are not literal-safe (naive local-time
        datetimes), so their groups take the null-safe join path."""
        import datetime as dt
        day = dt.datetime(2024, 3, 10, 2, 30)
        t = cat.create_table("tt", {"ts": pxt.Timestamp(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"ts": day, "v": 1.0}, {"ts": None, "v": 2.0}])
        r = cat.create_rollup("rt", t, ["ts"], {"n": ("count", None),
                                                "s": ("sum", "v")})

        def scratch():
            return sorted(((row["ts"], row["n"], row["s"]) for row in
                           t.df().groupBy("ts").agg(
                               F.count(F.lit(1)).alias("n"),
                               F.sum("v").alias("s")).collect()),
                          key=_nulls_last)

        def state():
            return sorted(((row["ts"], row["n"], row["s"])
                           for row in r.df().collect()), key=_nulls_last)

        t.insert([{"ts": None, "v": 3.0},
                  {"ts": day + dt.timedelta(hours=1), "v": 4.0}])
        assert state() == scratch()
        t.update({"ts": None}, where=t.ref().v == 1.0)
        assert state() == scratch()
        t.delete(t.ref().v == 2.0)
        assert state() == scratch()

    def test_null_keys_never_prune_null_holding_files(self, cat):
        """The probe's (g, "in", keys) conjunct with a NULL key keeps
        every file that may hold NULLs — including a file holding ONLY
        NULL keys (no min/max stats at all) — and drops only files
        whose null count is known to be zero."""
        prune = pxt.Table._prune_files
        stats = {
            "only_null": {"__nulls__g": [3, 3]},
            "mixed": {"g": ["a", "b"], "__nulls__g": [1, 4]},
            "no_null": {"g": ["a", "b"], "__nulls__g": [0, 4]},
            "unknown": {},
        }
        files = sorted(stats)
        assert prune(files, stats, [("g", "in", [None])]) == \
            ["mixed", "only_null", "unknown"]
        assert prune(files, stats, [("g", "in", ["z", None])]) == \
            ["mixed", "only_null", "unknown"]
        assert prune(files, stats, [("g", "in", ["a", None])]) == files
        assert prune(files, stats, [("g", "in", ["z"])]) == \
            ["only_null", "unknown"]
        # on a live rollup: every file holding a NULL key survives
        t = cat.create_table("tp", {"g": pxt.String(True),
                                    "v": pxt.Float(True)}, n_buckets=4)
        t.insert([{"g": None, "v": 1.0}, {"g": "a", "v": 2.0}])
        r = cat.create_rollup("rp", t, ["g"], {"n": ("count", None)})
        t.insert([{"g": None, "v": 3.0}])
        st = r._current_stats()
        with_null = [f for f in r._current_files()
                     if (st.get(f, {}).get("__nulls__g") or [1])[0] > 0]
        assert with_null
        kept = prune(r._current_files(), st,
                     r._translate_ranges([("g", "in", [None])]))
        assert set(with_null) <= set(kept)
