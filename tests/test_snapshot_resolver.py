"""One snapshot per read (catalog.py Table._snapshot): a handle's files
and stats always come from ONE resolved manifest, and a table without
CURRENT has committed nothing — files in its data directory from a
crashed or racing first write are never published (the Delta rule: a
snapshot is exactly the set of files the log committed)."""

from __future__ import annotations

import pytest

import pixeltable_spark as pxt
from pixeltable_spark.commit_store import resolve_commit_store


def _rows(t):
    return sorted((r["_rowid"], r["k"], r["_v_min"]) for r in
                  t.df().select("_rowid", "k", "_v_min").collect())


def test_crashed_first_insert_publishes_nothing(spark, tmp_path,
                                                monkeypatch):
    """A first insert that dies before its commit leaves its data files
    behind; the next insert must not publish them."""
    wh = str(tmp_path / "wh")
    t = pxt.Catalog(spark, wh).create_table("t", {"k": pxt.Int(False)})

    def crash(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(t, "_commit_files", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.insert([{"k": 1}])
    monkeypatch.undo()
    fresh = pxt.Catalog(spark, wh).get_table("t")
    assert fresh.count() == 0
    fresh.insert([{"k": 2}, {"k": 3}])
    assert _rows(fresh) == [(0, 2, 1), (1, 3, 1)]
    assert fresh.version == 1


def test_racing_first_inserts_on_object_store(spark, tmp_path,
                                              monkeypatch):
    """Two handles race the first insert on the optimistic backend: the
    winner publishes only its own files, and the loser retries on top
    of it — three rows, distinct rowids, versions 1 and 2."""
    wh = str(tmp_path / "wh")

    def cat():
        return pxt.Catalog(spark, wh,
                           commit_store=resolve_commit_store("object-store"))

    a = cat().create_table("t", {"k": pxt.Int(False)})
    b = cat().get_table("t")
    commit_b = b._commit_files
    raced: list = []

    def a_commits_first(*args, **kw):
        if not raced:
            raced.append(True)
            a.insert([{"k": 100}])
        return commit_b(*args, **kw)

    monkeypatch.setattr(b, "_commit_files", a_commits_first)
    b.insert([{"k": 1}, {"k": 2}])
    rows = _rows(cat().get_table("t"))
    assert sorted(k for _, k, _ in rows) == [1, 2, 100]
    assert len({rid for rid, _, _ in rows}) == 3
    assert {k: v for _, k, v in rows} == {100: 1, 1: 2, 2: 2}
    assert b.version == 2


def test_approx_count_distinct_survives_racing_commit(spark, tmp_path,
                                                      monkeypatch):
    """A racer committing right after the reader resolves its manifest
    must not mix that manifest's stats with the next one's files."""
    wh = str(tmp_path / "wh")
    t = pxt.Catalog(spark, wh).create_table("t", {"k": pxt.Int(False)},
                                            n_buckets=2)
    t.add_ndv_stats("k")
    t.insert([{"k": i} for i in range(50)])
    racer = pxt.Catalog(spark, wh).get_table("t")
    resolve = t._resolve_manifest
    raced: list = []

    def racer_commits_after(*args, **kw):
        out = resolve(*args, **kw)
        if not raced:
            raced.append(True)
            racer.insert([{"k": 1000 + i} for i in range(50)])
        return out

    monkeypatch.setattr(t, "_resolve_manifest", racer_commits_after)
    est = t.approx_count_distinct("k")
    assert raced
    assert 45 <= est <= 55
