"""View chains (table -> view -> view): every level is maintained from
its base's commit delta. After every base commit, the leaf equals a
from-scratch evaluation of the chain's view plans over the base at that
version, with deltas on both sides of the literal bound
(catalog._DELTA_LITERAL_MAX): one rendered `_rowid IN (...)` predicate
for small deltas (catalog._delta_pred), the join of the affected-rowid
frame for large ones."""

import pytest

import pixeltable_spark as pxt
from pixeltable_spark import catalog as catmod


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "wh"))


def assert_same_rows(got, want):
    # the base's version interval is stamped when a row is materialized;
    # a later expiry shows in the base snapshot, not in the view row
    cols = [c for c in want.columns if c not in ("_v_min", "_v_max")]
    got, want = got.select(*cols), want.select(*cols)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_predicate_chain_at_both_delta_sizes(cat):
    n = catmod._DELTA_LITERAL_MAX + 100
    t = cat.create_table("t", {"k": pxt.Int(False), "v": pxt.Float(True)},
                         n_buckets=4)
    # two commits before the views exist: the table's version numbers
    # then differ from the views', so a level that read its base's rows
    # through the wrong version interval would not pass by coincidence
    for lo, hi in ((0, n // 2), (n // 2, n)):
        t.insert([{"k": k, "v": float(k % 40)} for k in range(lo, hi)])
    ref = t.ref()
    v1 = cat.create_view("v1", t, predicate=ref.v >= 10.0,
                         extra_columns={"w": (ref.v * 2.0, pxt.Float())})
    v1ref = v1.ref()
    v2 = cat.create_view("v2", v1, predicate=v1ref.w < 70.0,
                         extra_columns={"z": (v1ref.w + 1.0, pxt.Float())})

    def scratch(version=None):
        """Both view plans re-run over the base table at `version`."""
        return v2._view_plan(v1._view_plan(t.df(version)))

    versions = [(t.version, v2.version)]
    steps = [
        lambda: t.insert([{"k": n + i, "v": float(i)} for i in range(30)]),
        # every base row: rows move into and out of both predicates
        # (v1's delta names more rowids than the literal bound too)
        lambda: t.update({"v": ref.v + 7.0}),
        lambda: t.update({"v": 12.0}, where=t.ref().k < 5),
        lambda: t.update({"v": 0.0}, where=t.ref().k < 0),
        lambda: t.delete(t.ref().k >= n),
        lambda: t.delete(t.ref().k == 7),
    ]
    for step in steps:
        before = (t.version, v1.version, v2.version)
        step()
        assert (t.version, v1.version, v2.version) == \
            tuple(x + 1 for x in before)
        assert_same_rows(v2.df(), scratch())
        versions.append((t.version, v2.version))
    for tv, lv in versions:
        assert_same_rows(v2.df(lv), scratch(tv))
