"""Focused battery for the bounded-section execution mode
(pixeltable_spark/tinyplan.py) and its three application sites:
connected_components' star rounds, train_kn_bigram's post-vocab
section, and the commit path's actions (probe, COW rewrite, view and
rollup maintenance, store write).

Pins: (1) a narrowed frame plans in a sibling session with AQE off at
its width, and the main session's confs never change, even while a
commit on another thread is mid-action; (2) the narrowed sections
produce identical results to the session-default plans; (3) commit
actions run at the width of the buckets they touch; (4) a width above
the skew guard keeps AQE."""

from __future__ import annotations

import re
import threading

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark.tinyplan import materialized_width, narrow, tiny_plan

AQE = "spark.sql.adaptive.enabled"
SHUF = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module")
def spark():
    return pxt.get_session(shuffle_partitions=8)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_width(df_or_plan) -> int:
    plan = (df_or_plan if isinstance(df_or_plan, str)
            else _plan(df_or_plan))
    widths = {int(w) for w in re.findall(
        r"hashpartitioning\(.*?, (\d+)\)", plan)}
    assert len(widths) == 1, plan
    return widths.pop()


def _grouped(df):
    return df.groupBy((F.col("id") % 7).alias("k")).count()


def test_narrow_plans_with_aqe_off_at_width(spark):
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    q = _grouped(narrow(spark.range(100), 3))
    assert "AdaptiveSparkPlan" not in _plan(q)
    assert _shuffle_width(q) == 3
    assert q.rdd.getNumPartitions() == 3
    assert sorted(q.collect()) == sorted(_grouped(spark.range(100))
                                         .collect())
    assert q.sparkSession is not spark
    assert (spark.conf.get(AQE), spark.conf.get(SHUF)) == (aqe0, shuf0)


def test_main_session_confs_never_change(spark, tmp_path, monkeypatch):
    """No narrow, tiny_plan or commit writes a conf of the session it
    was handed."""
    from pyspark.sql.conf import RuntimeConfig

    main = spark._jsparkSession
    writes: list = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def spy(self, key, *a, _orig=orig, _name=name):
            if self._jconf.equals(main.conf()):
                writes.append((_name, key))
            return _orig(self, key, *a)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    before = dict(spark.conf.getAll)
    _grouped(narrow(spark.range(50), 2)).collect()
    with tiny_plan(spark, 2) as s:
        assert s.conf.get(AQE) == "false" and s.conf.get(SHUF) == "2"
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)},
                         n_buckets=3)
    t.insert([{"k": i, "v": float(i)} for i in range(30)])
    t.update({"v": -1.0}, where=t.ref().k < 5)
    t.delete(t.ref().k == 7)
    assert t.df().count() == 29
    assert writes == []
    assert dict(spark.conf.getAll) == before


def test_tiny_plan_width_floor(spark):
    with tiny_plan(spark, 0) as s:      # degenerate width clamps to 1
        assert s.conf.get(SHUF) == "1"
    assert _shuffle_width(_grouped(narrow(spark.range(10), 0))) == 1


def test_sibling_per_exact_width(spark):
    """One cached sibling per width, never rounded (3 stays 3); a
    narrowed frame narrowed with width None is back in the main
    session."""
    a, b = narrow(spark.range(5), 3), narrow(spark.range(6), 3)
    assert a.sparkSession is b.sparkSession
    c = narrow(a, 4)
    assert c.sparkSession is not a.sparkSession
    assert _shuffle_width(_grouped(c)) == 4
    back = narrow(c, None)
    assert back.sparkSession is spark
    assert "AdaptiveSparkPlan" in _plan(_grouped(back))
    assert narrow(back, None) is back


def test_racing_threads_share_one_sibling_per_width(spark):
    """Threads that narrow to the same new width at once all land in
    one sibling."""
    import sys

    got: dict = {5: [], 6: []}

    def work(w):
        got[w].append(narrow(spark.range(1), w).sparkSession)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(5 + i % 2,))
                   for i in range(12)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    for w, sessions in got.items():
        assert len(sessions) == 6
        assert all(s is sessions[0] for s in sessions), w
        assert sessions[0].conf.get(SHUF) == str(w)


def test_runtime_conf_reaches_sibling(spark):
    """A conf set on the parent at runtime (as sources/registry.py does)
    is copied into a sibling created after it."""
    parent = spark.newSession()     # its own sibling cache
    parent.conf.set("spark.sql.caseSensitive", "true")
    sib = narrow(parent.range(3), 2).sparkSession
    assert sib.conf.get("spark.sql.caseSensitive") == "true"
    assert sib.conf.get(AQE) == "false" and sib.conf.get(SHUF) == "2"
    assert spark.conf.get("spark.sql.caseSensitive") == "false"


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
    cc = connected_components(pairs)
    assert cc.sparkSession is spark      # the result leaves the section
    got = {(r["id"], r["component"]) for r in cc.collect()}
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
    # and the session's confs never moved
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def test_kn_trainer_restores_confs(spark):
    """The trainer's bounded section never touches the session's confs,
    and the model it hands back plans in the session under AQE."""
    from pixeltable_spark.operators.ngram_lm import train_kn_bigram

    docs = spark.createDataFrame(
        [(i, "a b c a b " + ("x y " * (i % 3))) for i in range(30)],
        "doc_id long, text string")
    model = train_kn_bigram(docs, vocab_size=10, discount=0.75)
    assert model.vocab.count() > 0
    for f in (model.bigrams, model.contexts, model.pcont):
        assert f.sparkSession is spark
    assert "AdaptiveSparkPlan" in _plan(model.contexts.groupBy("w1").count())
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def _spy_narrow(monkeypatch):
    """Record every narrow the engine makes (callers reach it through
    the module attribute): (requested width, AQE and shuffle width of
    the session the frame lands in)."""
    from pixeltable_spark import tinyplan

    orig = tinyplan.narrow
    seen = []

    def spy(df, width):
        out = orig(df, width)
        s = out.sparkSession
        seen.append((width, s.conf.get(AQE), s.conf.get(SHUF)))
        return out

    monkeypatch.setattr(tinyplan, "narrow", spy)
    return seen


def test_mutation_scope_uses_bucket_width_and_restores(spark, tmp_path,
                                                       monkeypatch):
    """A 10-row insert into a 3-bucket table touches one bucket, so
    every commit action (precheck, store write) is narrowed to width 1
    with AQE off; the session's confs stay where they were."""
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False),
                               "v": pxt.Float(True)}, n_buckets=3)
    seen = _spy_narrow(monkeypatch)
    t.insert([{"k": i, "v": float(i)} for i in range(10)])
    assert seen
    assert all(s == (1, "false", "1") for s in seen), seen
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"
    assert t.df().count() == 10


def test_skew_guard_keeps_aqe(spark):
    wide = 2 * spark.sparkContext.defaultParallelism + 1
    df = spark.range(100)
    assert narrow(df, wide) is df
    assert "AdaptiveSparkPlan" in _plan(_grouped(narrow(df, wide)))
    assert narrow(narrow(df, 2), wide).sparkSession is spark
    with tiny_plan(spark, wide) as s:
        assert s is spark
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def test_query_beside_blocked_commit_keeps_aqe(spark, tmp_path,
                                                monkeypatch):
    """A commit on another thread, held inside its store write, cannot
    change how a query on this thread plans: the query keeps AQE and
    the session's shuffle width."""
    from pyspark.sql.readwriter import DataFrameWriter

    shuf0 = int(spark.conf.get(SHUF))
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)},
                         n_buckets=3)
    t.insert([{"k": i, "v": 0.0} for i in range(30)])
    entered, release = threading.Event(), threading.Event()
    orig = DataFrameWriter.parquet
    committer: list = []
    errors: list = []

    def held_write(self, *a, **k):
        if threading.current_thread() in committer and not entered.is_set():
            entered.set()
            release.wait(60)
        return orig(self, *a, **k)

    def commit():
        try:
            t.update({"v": 1.0}, where=t.ref().k < 5)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    monkeypatch.setattr(DataFrameWriter, "parquet", held_write)
    th = threading.Thread(target=commit)
    committer.append(th)
    th.start()
    try:
        assert entered.wait(60)
        q = _grouped(spark.range(100))
        plan = _plan(q)
        assert len(q.collect()) == 7
    finally:
        release.set()
        th.join(60)
    assert not th.is_alive()
    assert not errors, errors
    assert "AdaptiveSparkPlan" in plan, plan
    assert _shuffle_width(plan) == shuf0
    assert t.df().filter(F.col("v") == 1.0).count() == 5


def test_concurrent_stream_and_update_commits(spark, tmp_path, monkeypatch):
    """An availableNow insert_stream (micro-batch thread), batch updates
    on another table (main thread) and a served query (HTTP thread) run
    at the same time: the commits land correctly, the query returns its
    rows, every narrowed action ran under its own width, and the
    session's AQE and shuffle width read their defaults throughout."""
    import http.client
    import json
    import os

    from pyspark.sql import types as T

    from pixeltable_spark.serving import TableServer

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
    confs0 = (spark.conf.get(AQE), spark.conf.get(SHUF))
    confs_seen: set = set()
    stop = threading.Event()

    def poll():
        while not stop.wait(0.001):
            confs_seen.add((spark.conf.get(AQE), spark.conf.get(SHUF)))

    served: list = []

    def serve_query():
        conn = http.client.HTTPConnection(srv.host, srv.port, timeout=60)
        conn.request("POST", "/tables/b/query",
                     body=json.dumps({"where": {"k": 17},
                                      "select": ["k"]}),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        served.append((resp.status, json.loads(resp.read())))
        conn.close()

    seen = _spy_narrow(monkeypatch)
    srv = TableServer(cat).start()
    poller = threading.Thread(target=poll)
    poller.start()
    try:
        q = a.insert_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(src), os.path.join(str(tmp_path), "ckpt"))
        client = threading.Thread(target=serve_query)
        client.start()
        for i in range(4):
            b.update({"v": float(i + 1)},
                     where=(b.ref().k >= 10 * i) & (b.ref().k < 10 * (i + 1)))
        q.awaitTermination(120)
        client.join(60)
    finally:
        stop.set()
        poller.join(10)
        srv.stop()
    assert not client.is_alive() and not poller.is_alive()
    assert q.exception() is None
    assert served == [(200, {"rows": [{"k": 17}]})], served
    assert confs_seen == {confs0}, confs_seen
    assert a.df().count() == 31
    got = {r["g"]: r["n"] for r in cat.get_table("ra").df().collect()}
    assert got == {"x": 13, "y": 9, "z": 9}
    assert sorted(r["v"] for r in b.df().collect()) == \
        [1.0] * 10 + [2.0] * 10 + [3.0] * 10 + [4.0] * 10
    assert cat.get_table("vb").count() == 40
    assert seen
    guard = 2 * spark.sparkContext.defaultParallelism
    assert all((aqe, shuf) == (("false", str(n)) if n <= guard
                               else confs0)
               for n, aqe, shuf in seen if n is not None), seen
    assert (spark.conf.get(AQE), spark.conf.get(SHUF)) == confs0


def test_traced_harness_counts_commit_jobs(spark, tmp_path):
    """The benchmark's traced run wraps tinyplan.tiny_plan and counts
    jobs by tag; commits still run and are counted under it."""
    from perfbench.tracing import Tracer

    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)})
    t.insert([{"k": -1, "v": 0.0}])
    tracer = Tracer(spark, cat)
    try:
        with tracer.jobs.scope() as ins:
            t.insert([{"k": i, "v": 0.0} for i in range(20)])
        with tracer.jobs.scope() as upd:
            t.update({"v": 1.0}, where=t.ref().k < 10)
    finally:
        tracer.close()
    assert ins["jobs"] > 0 and upd["jobs"] > 0, (ins, upd)
    assert t.df().count() == 21
    assert t.df().filter(F.col("v") == 1.0).count() == 11


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
    hands out _rowid offsets from those counts in the write. The write
    plans the source again; here it plans without AQE at another
    shuffle width (AQE alone can coalesce its shuffle reads
    differently, too). The rowids must still be distinct and
    contiguous."""
    from pixeltable_spark.catalog import Table

    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)})
    t.insert([{"k": -1, "v": 0.0}])
    orig = Table._write_snapshot_files

    def other_width_write(self, *a, **k):
        old = {key: spark.conf.get(key) for key in (AQE, SHUF)}
        spark.conf.set(AQE, "false")
        spark.conf.set(SHUF, "3")
        try:
            return orig(self, *a, **k)
        finally:
            for key, val in old.items():
                spark.conf.set(key, val)

    monkeypatch.setattr(Table, "_write_snapshot_files", other_width_write)
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
