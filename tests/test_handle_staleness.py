"""Latest-read semantics for stale handles (catalog.py _sync_latest):
a handle whose table/view was mutated through OTHER handles must answer
from the latest committed snapshot, never from a superseded one.
Before this, a stale VIEW handle after a racer's refresh filtered
everything out and silently returned 0 rows."""
import pytest

import pixeltable_spark as pxt
from pixeltable_spark.exprs import ColumnRef


def _mk(spark, tmp_path):
    cat = pxt.Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("t", {"k": pxt.Int(False), "x": pxt.Int()})
    t.insert([{"k": i, "x": i} for i in range(4)])
    return cat, t


def test_stale_table_handle_sees_racer_insert(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    t2 = pxt.Catalog(spark, str(tmp_path / "wh")).get_table("t")
    t2.insert([{"k": 10, "x": 10}])
    assert t.count() == 5                       # not the cached 4
    assert t.version == t2.version


def test_stale_table_handle_sees_racer_schema_change(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    t2 = pxt.Catalog(spark, str(tmp_path / "wh")).get_table("t")
    t2.add_column("z", pxt.Int())
    t2.update({"z": 1}, where=t2.ref().k == 0)
    vals = {r["k"]: r.get("z") for r in t.collect()}
    assert vals[0] == 1 and vals[1] is None


def test_metadata_read_does_not_mark_stale_handle_current(spark,
                                                          tmp_path):
    """A read outside a mutation (stats) on a stale handle must not pass
    for a reload: the next read still sees the racer's commit."""
    cat, t = _mk(spark, tmp_path)
    t2 = pxt.Catalog(spark, str(tmp_path / "wh")).get_table("t")
    t2.insert([{"k": 10, "x": 10}])
    t.stats()
    assert t.count() == 5
    assert t.version == t2.version


def test_failed_schema_change_is_dropped_from_the_handle(spark, tmp_path):
    """A schema change whose backfill fails never commits; the handle
    drops the change it applied in memory before its next mutation."""
    cat, t = _mk(spark, tmp_path)
    boom = ColumnRef("x", t.schema["x"]).apply(lambda x: 1 // 0, pxt.Int())
    with pytest.raises(Exception):
        t.add_computed_column("bad", boom)
    t.insert([{"k": 10, "x": 10}])
    assert "bad" not in t.columns()
    assert t.count() == 5 and t.version == 2


def test_stale_view_handle_catches_up_on_base_movement(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    v = cat.create_view("v", t, predicate=t.ref().x > 1)
    assert v.count() == 2
    # the racer never loads the view: propagation cannot reach it
    t2 = pxt.Catalog(spark, str(tmp_path / "wh")).get_table("t")
    t2.insert([{"k": 10, "x": 10}])
    assert v.count() == 3                       # read-time catch-up
    t2.update({"x": 0}, where=t2.ref().k == 10)
    assert v.count() == 2
    t2.delete(where=t2.ref().k == 3)
    assert v.count() == 1


def test_pinned_version_reads_stay_pinned(spark, tmp_path):
    cat, t = _mk(spark, tmp_path)
    t2 = pxt.Catalog(spark, str(tmp_path / "wh")).get_table("t")
    t2.insert([{"k": 10, "x": 10}])
    # explicit version pin answers from that version, sync or not
    assert t.df(version=1).count() == 4
