"""Focused battery for the tiny-plan execution mode
(pixeltable_spark/tinyplan.py) and its three application sites:
connected_components' star rounds, train_kn_bigram's post-vocab
section, and the commit path's actions (probe, COW rewrite, view and
rollup maintenance, store write).

Pins: (1) session confs are restored after each scope, including on
error, under nesting and with scopes racing on two threads; (2) the
scoped sections produce identical results to the session-default
plans; (3) commit actions run at the width of the buckets they touch;
(4) a scope wider than the skew guard keeps AQE."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark.tinyplan import materialized_width, tiny_plan

AQE = "spark.sql.adaptive.enabled"
SHUF = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module")
def spark():
    return pxt.get_session(shuffle_partitions=8)


def test_tiny_plan_sets_and_restores(spark):
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    with tiny_plan(spark, 3):
        assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(SHUF) == "3"
        # a shuffle inside the scope lands on the pinned width
        n = (spark.range(100).groupBy((F.col("id") % 7).alias("k"))
             .count().rdd.getNumPartitions())
        assert n == 3
    assert spark.conf.get(AQE) == aqe0
    assert spark.conf.get(SHUF) == shuf0


def test_tiny_plan_restores_on_error(spark):
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    with pytest.raises(RuntimeError):
        with tiny_plan(spark, 2):
            raise RuntimeError("boom")
    assert spark.conf.get(AQE) == aqe0
    assert spark.conf.get(SHUF) == shuf0


def test_tiny_plan_nested_keeps_outermost(spark):
    with tiny_plan(spark, 5):
        with tiny_plan(spark, 1):   # inner scope must NOT override
            assert spark.conf.get(SHUF) == "5"
        assert spark.conf.get(SHUF) == "5"
        assert spark.conf.get(AQE) == "false"


def test_tiny_plan_width_floor(spark):
    with tiny_plan(spark, 0):       # degenerate width clamps to 1
        assert spark.conf.get(SHUF) == "1"


def test_materialized_width_is_checkpoint_width(spark):
    df = spark.range(1000).repartition(4).localCheckpoint(eager=True)
    assert materialized_width(df) == 4


def test_connected_components_matches_default_mode(spark):
    """The star loop's tiny-plan result must equal the same loop run
    with plain session confs (partitioning cannot change results)."""
    from pixeltable_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 2)]          # 20 chains
    edges += [(1, 3), (3, 5), (100, 101), (101, 102)]       # merges
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["component"])
           for r in connected_components(pairs).collect()}
    # closed-form expectation: union-find on the driver
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {(x, find(x)) for x in parent}
    assert got == want
    # and the session is back to defaults afterwards
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def test_kn_trainer_restores_confs(spark):
    from pixeltable_spark.operators.ngram_lm import train_kn_bigram

    docs = spark.createDataFrame(
        [(i, "a b c a b " + ("x y " * (i % 3))) for i in range(30)],
        "doc_id long, text string")
    model = train_kn_bigram(docs, vocab_size=10, discount=0.75)
    assert model.vocab.count() > 0
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def _spy_scopes(monkeypatch, spark):
    """Record every tiny_plan scope the engine enters (callers reach it
    through the module attribute): (requested width, AQE and shuffle
    width observed inside the scope)."""
    from pixeltable_spark import tinyplan

    orig = tinyplan.tiny_plan
    seen = []

    @contextmanager
    def spy(s, nparts):
        with orig(s, nparts):
            seen.append((nparts, s.conf.get(AQE), s.conf.get(SHUF)))
            yield

    monkeypatch.setattr(tinyplan, "tiny_plan", spy)
    return seen


def test_mutation_scope_uses_bucket_width_and_restores(spark, tmp_path,
                                                       monkeypatch):
    """A 10-row insert into a 3-bucket table touches one bucket, so
    every commit action (precheck, store write) runs at width 1 with
    AQE off; the session confs come back afterwards."""
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False),
                               "v": pxt.Float(True)}, n_buckets=3)
    seen = _spy_scopes(monkeypatch, spark)
    t.insert([{"k": i, "v": float(i)} for i in range(10)])
    assert seen
    assert all(s == (1, "false", "1") for s in seen), seen
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"
    assert t.df().count() == 10


def test_skew_guard_keeps_aqe(spark):
    wide = 2 * spark.sparkContext.defaultParallelism + 1
    with tiny_plan(spark, wide):
        assert spark.conf.get(AQE) == "true"
        assert spark.conf.get(SHUF) == "8"


def test_concurrent_stream_and_update_commits(spark, tmp_path, monkeypatch):
    """An availableNow insert_stream (micro-batch thread) and batch
    updates on another table (main thread) commit at the same time:
    both land correctly, every scope ran under its own settings, and
    the session confs end where they started."""
    import os

    from pyspark.sql import types as T

    cat = pxt.Catalog(spark, str(tmp_path / "wh"))
    a = cat.create_table("a", {"k": pxt.Int(False), "g": pxt.String(True)})
    a.insert([{"k": 0, "g": "x"}])
    cat.create_rollup("ra", a, ["g"], {"n": ("count", None)})
    b = cat.create_table("b", {"k": pxt.Int(False), "v": pxt.Float(True)})
    b.insert([{"k": i, "v": 0.0} for i in range(40)])
    cat.create_view("vb", b, predicate=b.ref().v > 0.5)
    src = str(tmp_path / "src")
    schema = T.StructType([T.StructField("k", T.LongType(), False),
                           T.StructField("g", T.StringType())])
    for i in range(3):
        spark.createDataFrame([(1 + 10 * i + j, "xyz"[j % 3])
                               for j in range(10)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    seen = _spy_scopes(monkeypatch, spark)
    q = a.insert_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src), os.path.join(str(tmp_path), "ckpt"))
    for i in range(4):
        b.update({"v": float(i + 1)},
                 where=(b.ref().k >= 10 * i) & (b.ref().k < 10 * (i + 1)))
    q.awaitTermination(120)
    assert q.exception() is None
    assert a.df().count() == 31
    got = {r["g"]: r["n"] for r in cat.get_table("ra").df().collect()}
    assert got == {"x": 13, "y": 9, "z": 9}
    assert sorted(r["v"] for r in b.df().collect()) == \
        [1.0] * 10 + [2.0] * 10 + [3.0] * 10 + [4.0] * 10
    assert cat.get_table("vb").count() == 40
    assert seen
    guard = 2 * spark.sparkContext.defaultParallelism
    assert all((aqe, shuf) == (("false", str(n)) if n <= guard
                               else (aqe0, shuf0))
               for n, aqe, shuf in seen), seen
    assert spark.conf.get(AQE) == aqe0
    assert spark.conf.get(SHUF) == shuf0


def _shuffled_source(spark, n):
    """A join followed by a groupBy: two levels of shuffle, so its
    output partitioning is decided per action."""
    left = spark.range(0, n).withColumn("g", F.col("id") % 37)
    right = (spark.range(0, 37).withColumnRenamed("id", "g")
             .withColumn("w", F.col("g") * 2).hint("shuffle_merge"))
    return (left.join(right, "g").groupBy("id")
            .agg(F.sum("w").alias("w"))
            .select(F.col("id").alias("k"), F.col("w").cast("double")
                    .alias("v")))


def _assert_rowids_contiguous(t, start, n):
    ids = sorted(r["_rowid"] for r in t._store_df().filter(
        F.col("_rowid") >= start).select("_rowid").collect())
    assert ids == list(range(start, start + n)), ids[:20]


def test_shuffled_source_rowids_survive_foreign_scope(spark, tmp_path,
                                                      monkeypatch):
    """insert(df) counts rows per source partition in its precheck and
    hands out _rowid offsets from those counts in the write. A scope
    another thread holds while the (unscoped) write plans changes the
    source's shuffle width; the rowids must still be distinct and
    contiguous."""
    from pixeltable_spark import tinyplan
    from pixeltable_spark.catalog import Table

    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)})
    t.insert([{"k": -1, "v": 0.0}])
    orig = Table._write_snapshot_files

    def foreign_scope_write(self, *a, **k):
        with tinyplan.tiny_plan(spark, 3):
            return orig(self, *a, **k)

    monkeypatch.setattr(Table, "_write_snapshot_files", foreign_scope_write)
    t.insert(_shuffled_source(spark, 300))
    monkeypatch.setattr(Table, "_write_snapshot_files", orig)
    assert t.df().count() == 301
    _assert_rowids_contiguous(t, 0, 301)


def test_shuffled_source_insert_while_other_thread_commits(spark,
                                                           tmp_path):
    """The same source inserted while another thread commits list
    inserts and updates to a second table: every _rowid is distinct
    and contiguous, and both tables hold what was committed."""
    import threading

    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)})
    o = cat.create_table("o", {"k": pxt.Int(False), "v": pxt.Float(True)})
    stop = threading.Event()
    errors: list = []

    def other():
        i = 0
        try:
            while not stop.is_set() and i < 40:
                o.insert([{"k": i, "v": 0.0}])
                o.update({"v": 1.0}, where=o.ref().k == i)
                i += 1
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    th = threading.Thread(target=other)
    th.start()
    try:
        for _ in range(3):
            t.insert(_shuffled_source(spark, 300))
    finally:
        stop.set()
        th.join()
    assert not errors, errors
    assert t.df().count() == 900
    _assert_rowids_contiguous(t, 0, 900)
    n = o.df().count()
    assert n > 0 and o.df().filter(F.col("v") == 1.0).count() == n
