"""Manifest commit protocol (catalog storage): every mutation writes new
files then atomically swaps CURRENT — the Delta-log-style single-pointer
commit that replaces directory renames (which were not crash-atomic and
do not exist on object stores)."""

from __future__ import annotations

import json
import os

import pytest

import pixeltable_spark as pxt
from pixeltable_spark.exprs import ColumnRef


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "wh"))


def _make(cat, n=32):
    t = cat.create_table("mt", {"k": pxt.Int(False), "v": pxt.Int()},
                         primary_key=["k"])
    t.insert([{"k": i, "v": i * 10} for i in range(n)])
    return t


def _manifest_files(t) -> list[str]:
    with open(t._current_path) as f:
        cur = json.load(f)
    return t._resolve_manifest(cur["manifest"])["files"]


class TestManifestCommit:
    def test_current_and_manifest_exist_after_insert(self, cat):
        t = _make(cat)
        assert os.path.exists(t._current_path)
        files = _manifest_files(t)
        assert files and all(f.endswith(".parquet") for f in files)
        assert all(os.path.exists(os.path.join(t.path, f)) for f in files)

    def test_unreferenced_garbage_is_invisible_and_vacuumed(self, cat):
        t = _make(cat)
        # a crashed writer's leftover: a real parquet file in a bucket dir
        # that no manifest references
        files = _manifest_files(t)
        src = os.path.join(t.path, files[0])
        garbage = os.path.join(os.path.dirname(src), "snap-dead-0.parquet")
        import shutil
        shutil.copy(src, garbage)
        n = t.count()
        assert n == 32  # duplicate rows NOT visible (a dir scan would 2x)
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": -1}, where=k == 0)  # any commit vacuums
        assert not os.path.exists(garbage)
        assert t.count() == 32

    def test_crash_before_commit_leaves_old_snapshot(self, cat, monkeypatch):
        t = _make(cat)
        before = _manifest_files(t)
        rows_before = {r["k"]: r["v"] for r in t.collect()}

        # simulate a crash between writing data files and the CURRENT swap
        def boom(files, **stamp):
            raise RuntimeError("simulated crash before commit")

        monkeypatch.setattr(t, "_commit_files", boom)
        k = ColumnRef("k", t.schema["k"])
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.update({"v": -5}, where=k == 3)
        monkeypatch.undo()
        # the table still reads the OLD snapshot, byte-identical manifest
        assert _manifest_files(t) == before
        assert {r["k"]: r["v"] for r in t.collect()} == rows_before
        # and the next real mutation succeeds + cleans the orphaned files
        t.update({"v": -7}, where=k == 3)
        assert {r["k"]: r["v"] for r in t.collect()}[3] == -7
        referenced = set(_manifest_files(t))
        on_disk = set(t._scan_parquet(t._data_dir))
        assert on_disk == referenced  # no orphans survive a commit

    def test_bucket_swap_carries_untouched_files_verbatim(self, cat):
        t = _make(cat, n=64)
        before = set(_manifest_files(t))
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": -2}, where=k == 9)
        after = set(_manifest_files(t))
        bkt = (9 // t.bucket_chunk) % t.n_buckets
        untouched_before = {f for f in before
                            if t._bucket_of(f) != bkt}
        assert untouched_before <= after  # same paths, never rewritten
        changed = after - before
        assert changed and all(t._bucket_of(f) == bkt for f in changed)

    def test_time_travel_survives_manifest_commits(self, cat):
        t = _make(cat, n=8)
        v1 = t.version
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": 999}, where=k == 1)
        t.delete(where=k == 2)
        assert {r["k"]: r["v"] for r in t.collect()}[1] == 999
        old = {r["k"]: r["v"]
               for r in t.user_df(version=v1).collect()}
        assert old[1] == 10 and 2 in old

    def test_legacy_directory_layout_upgrades_on_first_commit(self, cat,
                                                              spark):
        t = _make(cat, n=8)
        # strip the manifest: simulates a table written before the protocol
        os.remove(t._current_path)
        import shutil
        shutil.rmtree(os.path.join(t.path, "manifests"))
        assert t.count() == 8  # directory-scan fallback
        t.insert([{"k": 100, "v": 1}])
        assert os.path.exists(t._current_path)  # upgraded
        assert t.count() == 9

    def test_view_storage_uses_manifests(self, cat):
        t = _make(cat, n=12)
        v = cat.create_view("mv", t)
        assert os.path.exists(v._current_path)
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": -3}, where=k == 1)
        assert {r["k"]: r["v"] for r in v.collect()}[1] == -3
        t.insert([{"k": 50, "v": 5}])
        assert v.count() == 13
        referenced = set(_manifest_files(v))
        on_disk = set(v._scan_parquet(v._data_dir))
        assert on_disk == referenced
