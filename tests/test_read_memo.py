"""The read-frame memo (catalog.Table._frames).

A handle plans each read frame once per resolved file set: df(), ref(),
scan() and search read the same DataFrame until the snapshot, the
schema or the version moves. These tests pin that a memoized frame never
outlives what it was built from: after every kind of commit, schema
change and version move, a memoized handle returns exactly what a fresh
handle (an empty memo) returns, and a frame whose files a commit's
vacuum deleted is never served.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark import catalog as catmod

N = 20


def _rows(df) -> tuple:
    return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)


def _fresh(spark, root: str, name: str):
    """A handle with an empty memo: its own catalog on the same root."""
    return pxt.Catalog(spark, root).get_table(name)


def _assert_fresh(spark, root, t) -> None:
    """ref() (df()'s projection) and a pruned scan of `t` equal a fresh
    handle's."""
    f = _fresh(spark, root, t.name)
    assert _rows(t.ref().df()) == _rows(f.ref().df())
    assert _rows(t.scan(where=t.ref().k == 3).df()) == \
        _rows(f.scan(where=f.ref().k == 3).df())


@pytest.fixture
def world(spark, tmp_path):
    root = str(tmp_path / "wh")
    t = pxt.Catalog(spark, root).create_table(
        "items", {"k": pxt.Int(False), "q": pxt.Float(True),
                  "s": pxt.String(True)})
    t.insert([{"k": i, "q": float(i), "s": f"r{i}"} for i in range(N)])
    return root, t


def test_repeated_reads_share_one_frame(spark, world):
    _root, t = world
    assert t.df() is t.df()
    assert t.ref().df() is t.ref().df()
    # a scan's Query compiles its predicate per call, over one frame
    assert t.scan(where=t.ref().k == 3).tbl.df() is \
        t.scan(where=t.ref().k == 3).tbl.df()
    assert t.df(version=1) is t.df(version=1)
    assert len(t._frame_memo) <= catmod._FRAMES_MAX


def test_commit_by_same_handle(spark, world):
    root, t = world
    before = t.df()
    t.insert([{"k": N, "q": 0.5, "s": "new"}])
    assert t.df() is not before
    _assert_fresh(spark, root, t)
    t.update({"q": 9.0}, where=t.ref().k == 3)
    _assert_fresh(spark, root, t)


def test_commit_by_other_handle_after_vacuum(spark, world):
    """The posix store vacuums a replaced file at once: a frame built on
    it would fail with FILE_NOT_EXIST, so the next read must re-resolve."""
    root, t = world
    t.df().count()
    old = [os.path.join(root, "items", f) for f in t._current_files()]
    other = _fresh(spark, root, "items")
    assert other is not t
    other.update({"q": -1.0}, where=other.ref().k == 5)
    assert not any(os.path.exists(p) for p in old)
    assert t.df().filter("k = 5").collect()[0]["q"] == -1.0
    _assert_fresh(spark, root, t)


def test_schema_changes(spark, world):
    root, t = world
    t.df().count()
    t.add_column("extra", pxt.Int(True))
    assert "extra" in t.ref().df().columns
    _assert_fresh(spark, root, t)
    t.rename_column("s", "label")
    assert "label" in t.ref().df().columns
    _assert_fresh(spark, root, t)
    t.drop_column("q")
    assert "q" not in t.ref().df().columns
    _assert_fresh(spark, root, t)


def test_revert(spark, world):
    root, t = world
    t.update({"q": 100.0}, where=t.ref().k < 5)
    assert t.df().filter("q = 100.0").count() == 5
    t.revert()
    assert t.df().filter("q = 100.0").count() == 0
    _assert_fresh(spark, root, t)


def test_add_bloom_filter(spark, world):
    """add_bloom_filter commits the same files with new stats. The full
    read's frame depends only on the files, so it may stay; a scan that
    the blooms prune differently resolves its own file set."""
    root, t = world
    t.insert([{"k": N + i, "q": 1.0, "s": "b"} for i in range(3)])
    t.scan(where=t.ref().s == "r3").df().count()
    t.add_bloom_filter("s")
    assert _rows(t.scan(where=t.ref().s == "r3").df()) == \
        _rows(t.df().filter("s = 'r3'").select(*t.ref().df().columns))
    _assert_fresh(spark, root, t)


def test_view_after_base_moved(spark, world):
    root, t = world
    view = pxt.Catalog(spark, root).create_view(
        "big", _fresh(spark, root, "items"),
        predicate=t.ref().q >= 10.0)
    before = view.df()
    assert before.count() == N - 10
    # a racer moves the base through a handle this view never saw
    _fresh(spark, root, "items").insert([{"k": 100, "q": 50.0, "s": "x"}])
    assert view.df() is not before
    assert view.df().count() == N - 9
    assert _rows(view.df()) == _rows(_fresh(spark, root, "big").df())


def test_time_travel_every_version(spark, world):
    """Every version, read twice in a shuffled order (more frames than
    the memo holds): each equals the unmemoized read of a fresh
    handle."""
    root, t = world
    for i in range(5):
        if i % 2:
            t.update({"q": float(-i)}, where=t.ref().k == i)
        else:
            t.insert([{"k": N + i, "q": 0.0, "s": "tt"}])
    versions = list(range(t.version + 1))
    f = _fresh(spark, root, "items")
    want = {v: _rows(f.df(version=v)) for v in versions}
    order = versions[::2] + versions[1::2]
    for v in order + order[::-1]:
        assert _rows(t.df(version=v)) == want[v], v
        assert _rows(t.ref(version=v).df()) == \
            _rows(f.ref(version=v).df()), v


def test_serving_threads_see_whole_snapshots(spark, tmp_path):
    """Reader threads (more than cores) on the committing handle share
    its memo: every read is one committed snapshot, never a mix (batches
    arrive whole, an update moves a whole batch). The object-store
    backend keeps a replaced file past its commit (vacuum retention), so
    a read resolved just before a commit still runs after it."""
    t = pxt.Catalog(spark, str(tmp_path / "wh"),
                    commit_store="object-store").create_table(
        "items", {"k": pxt.Int(False), "q": pxt.Float(True),
                  "batch": pxt.Int(True)})
    errors: list = []
    reads = []
    stop = threading.Event()

    def read() -> None:
        try:
            while not stop.is_set():
                for r in t.df().groupBy("batch").agg(
                        F.count("k").alias("n"), F.min("q").alias("lo"),
                        F.max("q").alias("hi")).collect():
                    if r["n"] != 5 or r["lo"] != r["hi"]:
                        errors.append(r)
                reads.append(1)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    readers = [threading.Thread(target=read)
               for _ in range(spark.sparkContext.defaultParallelism + 1)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for r in readers:
            r.start()
        for b in range(2):
            t.insert([{"k": 5 * b + i, "q": float(b), "batch": b}
                      for i in range(5)])
            t.update({"q": 10.0 + b}, where=t.ref().batch == b)
    finally:
        stop.set()
        for r in readers:
            r.join(120)
        sys.setswitchinterval(interval)
    assert not any(r.is_alive() for r in readers)
    assert not errors, errors[:3]
    assert reads and len(t._frame_memo) <= catmod._FRAMES_MAX
    assert t.df().count() == 10
