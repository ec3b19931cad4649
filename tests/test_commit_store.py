"""Pluggable commit backends (commit_store.py): the concurrency and
fault-injection contracts hold on BOTH the pessimistic posix backend
(flock held across the mutation, as the engine always had) and the
object-store backend (no lock; conditional-put commit + whole-mutation
retry — the Delta/Iceberg protocol for S3/GCS, where flock does not
exist). Reference contract: tests/test_concurrent.py semantics."""

from __future__ import annotations

import json
import os
import threading

import pytest

import pixeltable_spark as pxt
from pixeltable_spark.commit_store import (ObjectStoreCommitStore,
                                           PosixCommitStore,
                                           resolve_commit_store)
from pixeltable_spark.exceptions import ConcurrencyError
from pixeltable_spark.exprs import ColumnRef

BACKENDS = ["posix", "object-store"]


def _store(backend):
    s = resolve_commit_store(backend)
    if backend == "object-store":
        # heavy thread contention in tests; retention stays ON — racing
        # writers' in-flight files must survive a winner's vacuum
        s.commit_retries = 100
    return s


def _cat(spark, wh, backend):
    return pxt.Catalog(spark, wh, commit_store=_store(backend))


def _mk(cat, name="t"):
    t = cat.create_table(name, {"k": pxt.Int(False), "v": pxt.Float(True)},
                         primary_key=["k"])
    t.insert([{"k": i, "v": float(i)} for i in range(10)])
    return t


@pytest.mark.parametrize("backend", BACKENDS)
def test_racing_inserters_lose_nothing(spark, tmp_path, backend):
    """4 racing threads x 2 single-row inserts through SEPARATE handles:
    the posix backend serializes them up front; the object-store backend
    lets them conflict and retry — either way no version or row is
    lost and rowid ranges stay disjoint."""
    wh = str(tmp_path / "wh")
    _mk(_cat(spark, wh, backend))
    n_threads, n_inserts = 4, 2
    errs: list = []

    def worker(tid):
        try:
            h = _cat(spark, wh, backend).get_table("t")
            for j in range(n_inserts):
                h.insert([{"k": 1000 + tid * 100 + j, "v": float(tid)}])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,))
          for i in range(n_threads)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    t = _cat(spark, wh, backend).get_table("t")
    total = n_threads * n_inserts
    assert t.count() == 10 + total
    assert t.version == 1 + total, "lost version (last-write-wins)"
    rowids = [r["_rowid"] for r in t.df().select("_rowid").collect()]
    assert len(set(rowids)) == len(rowids) == 10 + total


@pytest.mark.parametrize("backend", BACKENDS)
def test_racing_update_vs_delete(spark, tmp_path, backend):
    wh = str(tmp_path / "wh")
    _mk(_cat(spark, wh, backend))
    barrier = threading.Barrier(2)
    errs: list = []

    def run(fn):
        def _w():
            try:
                h = _cat(spark, wh, backend).get_table("t")
                barrier.wait()
                fn(h)
            except Exception as e:  # noqa: BLE001
                errs.append(e)
        return threading.Thread(target=_w)

    ts = [run(lambda h: h.update(
              {"v": 99.0}, where=ColumnRef("k", h.schema["k"]) < 5)),
          run(lambda h: h.delete(
              where=ColumnRef("k", h.schema["k"]) >= 7))]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    t = _cat(spark, wh, backend).get_table("t")
    assert t.version == 3
    rows = {r["k"]: r["v"] for r in t.collect()}
    assert set(rows) == set(range(7))
    assert all(rows[k] == 99.0 for k in range(5))


@pytest.mark.parametrize("backend", BACKENDS)
def test_crash_after_swap_before_meta_save(spark, tmp_path, backend,
                                           monkeypatch):
    """The CURRENT swap is the commit point on both backends; the
    manifest stamp reconciles version/next_rowid forward after a crash
    between swap and meta save."""
    wh = str(tmp_path / "wh")
    t = _mk(_cat(spark, wh, backend))
    rowid_before = t.next_rowid

    def crash(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(t, "_save_meta", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.insert([{"k": 200, "v": 2.0}])
    monkeypatch.undo()
    fresh = _cat(spark, wh, backend).get_table("t")
    assert fresh.version == 2
    assert fresh.next_rowid == rowid_before + 1
    fresh.insert([{"k": 300, "v": 3.0}])
    assert fresh.version == 3
    rowids = [r["_rowid"] for r in fresh.df().select("_rowid").collect()]
    assert len(set(rowids)) == len(rowids), "rowid collision"


@pytest.mark.parametrize("backend", BACKENDS)
def test_crash_before_swap_keeps_old_snapshot(spark, tmp_path, backend,
                                              monkeypatch):
    wh = str(tmp_path / "wh")
    t = _mk(_cat(spark, wh, backend))
    before = {r["k"]: r["v"] for r in t.collect()}
    orig = t._atomic_write

    def crash_on_current(path, data):
        if os.path.basename(path) == "CURRENT":
            raise RuntimeError("injected crash")
        return orig(path, data)

    # the swap goes through the commit store; crash inside it instead
    def crash_swap(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(t._commit_store, "swap_current", crash_swap)
    k = ColumnRef("k", t.schema["k"])
    with pytest.raises(RuntimeError, match="injected crash"):
        t.update({"v": -1.0}, where=k < 5)
    monkeypatch.undo()
    fresh = _cat(spark, wh, backend).get_table("t")
    assert {r["k"]: r["v"] for r in fresh.collect()} == before
    assert fresh.version == 1
    fresh.update({"v": -2.0}, where=k < 5)    # recovery mutation
    assert {r["k"]: r["v"] for r in fresh.collect()}[0] == -2.0


class TestConditionalPut:
    """Unit contract of the object-store conditional put itself."""

    def test_mismatch_fails_match_succeeds(self, tmp_path):
        store = ObjectStoreCommitStore()
        cur = str(tmp_path / "CURRENT")
        store.swap_current(cur, json.dumps({"manifest": "m1"}), None, "t")
        with pytest.raises(ConcurrencyError, match="CURRENT moved"):
            store.swap_current(cur, json.dumps({"manifest": "m2"}),
                               "not-m1", "t")
        assert json.load(open(cur))["manifest"] == "m1"  # unchanged
        store.swap_current(cur, json.dumps({"manifest": "m2"}), "m1", "t")
        assert json.load(open(cur))["manifest"] == "m2"

    def test_unconditional_put(self, tmp_path):
        store = ObjectStoreCommitStore()
        cur = str(tmp_path / "CURRENT")
        store.swap_current(cur, json.dumps({"manifest": "m9"}), None, "t")
        assert json.load(open(cur))["manifest"] == "m9"


class TestOptimisticSemantics:
    def test_conflict_without_retry_surfaces(self, spark, tmp_path,
                                             monkeypatch):
        """A writer that cannot rebase (refresh disabled to simulate an
        irreconcilable mid-flight conflict) gets ConcurrencyError after
        its retries are exhausted — never a silent lost update."""
        wh = str(tmp_path / "wh")
        store = _store("object-store")
        store.commit_retries = 2
        cat = pxt.Catalog(spark, wh, commit_store=store)
        t = _mk(cat)
        stale_token = t._current_token()
        # another handle commits in between
        other = _cat(spark, wh, "object-store").get_table("t")
        other.insert([{"k": 500, "v": 5.0}])
        # freeze this handle's view of the world: rebase + token pinned
        # to the pre-conflict snapshot
        monkeypatch.setattr(t, "_refresh_from_disk", lambda: None)
        monkeypatch.setattr(t, "_current_token", lambda: stale_token)
        attempts = []
        orig_commit = t._commit_files

        def counting_commit(files, **stamp):
            attempts.append(1)
            return orig_commit(files, **stamp)

        monkeypatch.setattr(t, "_commit_files", counting_commit)
        with pytest.raises(ConcurrencyError, match="CURRENT moved"):
            t.insert([{"k": 600, "v": 6.0}])
        assert len(attempts) == 3  # initial + 2 retries
        # the other writer's commit is intact
        fresh = _cat(spark, wh, "object-store").get_table("t")
        assert fresh.count() == 11

    def test_vacuum_retention_spares_recent_files(self, spark, tmp_path):
        """With a retention window, files de-referenced by a commit are
        NOT deleted immediately (an in-flight racer may still need its
        uncommitted files); reads stay correct via the manifest."""
        wh = str(tmp_path / "wh")
        store = resolve_commit_store("object-store")
        store.commit_retries = 10
        store.vacuum_min_age_s = 3600.0
        cat = pxt.Catalog(spark, wh, commit_store=store)
        t = _mk(cat)
        files_before = set(t._current_files())
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": -1.0}, where=k < 5)
        # the replaced buckets' old files survive on disk (retention) ...
        on_disk = set(t._scan_parquet(t._data_dir))
        assert files_before - set(t._current_files()) <= on_disk
        # ... but the snapshot reads only the manifest's files
        assert t.count() == 10
        assert {r["k"]: r["v"] for r in t.collect()}[0] == -1.0


@pytest.mark.parametrize("backend", BACKENDS)
def test_inflight_writer_files_survive_concurrent_vacuum(spark, tmp_path,
                                                         backend):
    """The Delta VACUUM-retention rationale, fault-injected: writer A's
    data files are on disk but its commit has NOT landed when writer B
    commits (B's commit vacuums everything unreferenced). With the
    retention window on, A's young files survive B's vacuum and A's
    commit then lands and reads correctly — on BOTH backends (the
    posix flock prevents this interleaving through the API, but the
    sparing contract itself is backend-independent)."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    store = _store(backend)
    store.vacuum_min_age_s = 3600.0
    cat = pxt.Catalog(spark, wh, commit_store=store)
    t = _mk(cat)                                   # version 1, k 0..9

    # writer A: slice written to DISK, commit still in flight.
    # Its rows are stamped for the version A will commit at (3: B's
    # racing commit lands at 2 first).
    from pixeltable_spark.catalog import MAXV
    file_schema = spark.read.parquet(
        os.path.join(t.path, t._current_files()[0])).schema
    store_fields = [
        f"CAST({'1000 + k - 100' if f.name == '_rowid' else 3 if f.name == '_v_min' else MAXV if f.name == '_v_max' else f.name} AS {f.dataType.simpleString()}) AS {f.name}"
        for f in file_schema.fields if f.name != "_bkt"]
    a_slice = (spark.createDataFrame(
        [(100 + i, float(i)) for i in range(3)], "k int, v double")
        .selectExpr(*store_fields))
    a_files = t._write_snapshot_files(t._with_bkt(a_slice))
    assert a_files and all(
        os.path.exists(os.path.join(t.path, f)) for f in a_files)

    # writer B commits through the API — its _commit_files runs the
    # vacuum, which sees A's files as unreferenced
    store_b = _store(backend)
    store_b.vacuum_min_age_s = 3600.0
    b = pxt.Catalog(spark, wh, commit_store=store_b).get_table("t")
    b.insert([{"k": 50, "v": 5.0}])                # version 2 + vacuum

    # retention spared A's uncommitted files
    assert all(os.path.exists(os.path.join(t.path, f)) for f in a_files)

    # A's commit now lands, rebased on B's snapshot
    ta = pxt.Catalog(spark, wh, commit_store=store).get_table("t")
    assert ta.version == 2
    cur = ta._current_files()                      # records the token
    ta._commit_files(list(cur) + a_files, version=3, next_rowid=1003)
    ta.version = 3
    ta.next_rowid = 1003
    ta._save_meta()

    fresh = pxt.Catalog(spark, wh, commit_store=_store(backend)) \
        .get_table("t")
    rows = {r["k"]: r["v"] for r in fresh.collect()}
    assert len(rows) == 14                          # 10 + B's 1 + A's 3
    assert rows[50] == 5.0 and rows[102] == 2.0


def test_without_retention_inflight_files_are_collected(spark, tmp_path):
    """Negative control pinning WHY the retention window exists: with
    min_age 0 (the posix default, safe there because the flock
    serializes writers), a racer's uncommitted files are vacuumed the
    moment another commit lands."""
    from pyspark.sql import functions as F

    from pixeltable_spark.catalog import MAXV

    wh = str(tmp_path / "wh")
    store = _store("posix")
    assert store.vacuum_min_age_s == 0.0
    cat = pxt.Catalog(spark, wh, commit_store=store)
    t = _mk(cat)
    file_schema = spark.read.parquet(
        os.path.join(t.path, t._current_files()[0])).schema
    store_fields = [
        f"CAST({1000 if f.name == '_rowid' else 3 if f.name == '_v_min' else MAXV if f.name == '_v_max' else f.name} AS {f.dataType.simpleString()}) AS {f.name}"
        for f in file_schema.fields if f.name != "_bkt"]
    a_slice = (spark.createDataFrame([(100, 0.0)], "k int, v double")
               .selectExpr(*store_fields))
    a_files = t._write_snapshot_files(t._with_bkt(a_slice))
    b = pxt.Catalog(spark, wh, commit_store=_store("posix")).get_table("t")
    b.insert([{"k": 50, "v": 5.0}])
    assert not any(os.path.exists(os.path.join(t.path, f))
                   for f in a_files)


def test_schema_change_conflicts_with_optimistic_racer(spark, tmp_path,
                                                       monkeypatch):
    """Round 10: metadata-only schema ops COMMIT through the store, so
    an optimistic racer's data commit landing mid-rename surfaces as a
    CAS conflict and the rename retries onto its own version — before,
    both writers could claim the same version number for different
    changes (rename only rewrote meta.json)."""
    wh = str(tmp_path / "wh")
    store = _store("object-store")
    store.commit_retries = 10
    cat = pxt.Catalog(spark, wh, commit_store=store)
    t = _mk(cat)                                   # v1
    fired = {}
    orig = t._commit_files

    def racing(files, **stamp):
        if not fired:
            fired["x"] = 1
            other = _cat(spark, wh, "object-store").get_table("t")
            other.insert([{"k": 700, "v": 7.0}])   # racer lands v2
        return orig(files, **stamp)

    monkeypatch.setattr(t, "_commit_files", racing)
    t.rename_column("v", "val")                    # retries, lands v3
    fresh = _cat(spark, wh, "object-store").get_table("t")
    assert fresh.version == 3
    assert fresh.columns() == ["k", "val"]
    assert fresh.count() == 11                     # racer's row intact
    vals = {r["k"]: r["val"] for r in fresh.collect()}
    assert vals[700] == 7.0
    # the two commits hold DISTINCT versions: v2 shows the racer's rows
    # under the OLD name, v3 the renamed schema
    assert [f.name for f in fresh.user_df(version=2).schema.fields] \
        == ["k", "v"]
    assert [f.name for f in fresh.user_df(version=3).schema.fields] \
        == ["k", "val"]


@pytest.mark.parametrize("op", ["delete", "update"])
def test_zero_row_mutation_holds_its_own_version(spark, tmp_path,
                                                 monkeypatch, op):
    """A mutation that matches nothing still bumps the version, so it
    commits through the same CAS as any other. Handle A's zero-row op
    lands between handle B's rebase and B's commit: B's insert then
    conflicts, retries and lands on the next version, and the history
    holds both ops at distinct versions."""
    wh = str(tmp_path / "wh")
    _mk(_cat(spark, wh, "object-store"))           # v1
    a = _cat(spark, wh, "object-store").get_table("t")
    b = _cat(spark, wh, "object-store").get_table("t")
    k = ColumnRef("k", a.schema["k"])
    zero_row = {"delete": lambda: a.delete(where=k == 999),
                "update": lambda: a.update({"v": -1.0}, where=k == 999)}
    done: list = []
    orig = b._commit_files

    def racing(files, **stamp):
        if not done:
            done.append(zero_row[op]())
        return orig(files, **stamp)

    monkeypatch.setattr(b, "_commit_files", racing)
    b.insert([{"k": 100, "v": 1.0}])
    assert int(done[0]) == 0
    fresh = _cat(spark, wh, "object-store").get_table("t")
    hist = [(h["version"], h["op"]) for h in fresh._history]
    assert hist == [(0, "create"), (1, "insert"), (2, op), (3, "insert")]
    assert fresh.version == 3 and fresh.count() == 11


def test_racer_after_rebase_never_shares_a_version(spark, tmp_path,
                                                   monkeypatch):
    """Handle A commits right after handle B's rebase read the table. B's
    conflict token is the one its state was loaded from, so B's insert
    conflicts, retries and lands on the next version; the two inserts
    never share one."""
    wh = str(tmp_path / "wh")
    _mk(_cat(spark, wh, "object-store"))           # v1
    a = _cat(spark, wh, "object-store").get_table("t")
    b = _cat(spark, wh, "object-store").get_table("t")
    orig = b._refresh_from_disk
    done: list = []

    def rebase_then_race():
        orig()
        if not done:
            done.append(a.insert([{"k": 100, "v": 1.0}]))

    monkeypatch.setattr(b, "_refresh_from_disk", rebase_then_race)
    b.insert([{"k": 200, "v": 2.0}])
    fresh = _cat(spark, wh, "object-store").get_table("t")
    hist = [(h["version"], h["op"]) for h in fresh._history]
    assert hist == [(0, "create"), (1, "insert"), (2, "insert"),
                    (3, "insert")]
    assert fresh.version == 3 and fresh.count() == 12
