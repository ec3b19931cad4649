"""Spark job and task budgets for the commit path.

A base table with a computed column, a filtered view and a count/sum
rollup, at the default bucket count. A 1,000-row list insert, a ~1%
predicate update and a point delete each commit the base AND maintain
both dependents; each must stay within its job and task budget. Job
counts are machine-independent, so a plan-shape regression (a commit
action back under AQE, a broadcast join back in view or rollup
maintenance, a multi-job take) fails here on any machine.

Jobs are attributed with ``sc.addJobTag`` and the JVM status tracker's
``getJobIdsForTag``; tasks are the completed tasks of the stages that
ran (skipped stages reuse shuffle output and cost nothing).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark import catalog as catmod

N_BASE = 10_000
N_PARTS = 100          # an update on one `part` touches ~1% of rows
_tags = itertools.count()


def _cost(spark, fn):
    """(result, jobs, tasks) of everything `fn` runs on this thread."""
    sc = spark.sparkContext
    tag = f"budget-{next(_tags)}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    ids = list(jsc.statusTracker().getJobIdsForTag(tag))
    tasks = 0
    for jid in ids:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            s = st.getStageInfo(sid)
            if s is not None:
                tasks += s.numCompletedTasks
    return out, len(ids), tasks


def _row(k: int) -> dict:
    return {"k": k, "part": (k * 7) % N_PARTS, "q": float(k % 50 + 1),
            "price": float(1000 + k % 997), "g": "ANR"[k % 3]}


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    cat = pxt.Catalog(spark, str(tmp_path_factory.mktemp("budget") / "wh"))
    t = cat.create_table("items", {
        "k": pxt.Int(False), "part": pxt.Int(True), "q": pxt.Float(True),
        "price": pxt.Float(True), "g": pxt.String(True)})
    t.insert(spark.createDataFrame([_row(k) for k in range(N_BASE)]))
    ref = t.ref()
    t.add_computed_column("disc", ref.price * 0.9)
    ref = t.ref()
    view = cat.create_view("big", t, predicate=ref.q >= 40,
                           extra_columns={"half": (ref.price * 0.5,
                                                   pxt.Float())})
    roll = cat.create_rollup("by_g", t, ["g"], {"n": ("count", None),
                                                "qty": ("sum", "q")})
    # one op of each kind first: the budgets are per steady-state op
    t.insert([_row(k) for k in range(N_BASE, N_BASE + 10)])
    t.update({"q": 2.0}, where=t.ref().part == 0)
    t.delete(t.ref().k == 1)
    return {"t": t, "view": view, "roll": roll,
            "next": N_BASE + 10}


def _check_dependents(w) -> None:
    t, view, roll = w["t"], w["view"], w["roll"]
    b = (t.df().filter(F.col("q") >= 40)
         .select("k", (F.col("price") * 0.5).alias("half")))
    v = view.df().select("k", "half")
    assert v.exceptAll(b).count() == 0 and b.exceptAll(v).count() == 0
    want = sorted(tuple(r) for r in t.df().groupBy("g").agg(
        F.count(F.lit(1)), F.sum("q")).collect())
    got = sorted((r["g"], r["n"], r["qty"]) for r in roll.df().collect())
    assert got == want


def test_insert_budget(spark, world):
    t = world["t"]
    rows = [_row(k) for k in range(world["next"], world["next"] + 1000)]
    world["next"] += 1000
    # a 1,000-row list is parallelized into defaultParallelism Python
    # partitions, which the batch precheck and the base write each scan
    # once; that is the source's cost, the rest is the commit path's
    src_tasks = 2 * spark.sparkContext.defaultParallelism
    n, jobs, tasks = _cost(spark, lambda: t.insert(rows))
    assert int(n) == 1000
    assert jobs <= 6, jobs
    assert tasks - src_tasks <= 42, (tasks, src_tasks)
    _check_dependents(world)


def test_update_budget(spark, world):
    t = world["t"]
    n, jobs, tasks = _cost(spark, lambda: t.update(
        {"q": 45.0, "price": 1234.0}, where=t.ref().part == 17))
    assert 0 < int(n) < 2 * (N_BASE // N_PARTS)
    assert jobs <= 8, jobs
    assert tasks <= 50, tasks
    _check_dependents(world)


def test_delete_budget(spark, world):
    t = world["t"]
    n, jobs, tasks = _cost(spark, lambda: t.delete(t.ref().k == 4242))
    assert int(n) == 1
    assert jobs <= 8, jobs
    assert tasks <= 50, tasks
    _check_dependents(world)


def test_delta_above_literal_bound_matches_scratch(spark, world,
                                                   monkeypatch):
    """A delta above the literal bound takes the join path for the view
    and the rollup; both still equal a from-scratch recomputation."""
    monkeypatch.setattr(catmod, "_DELTA_LITERAL_MAX", 2)
    t = world["t"]
    t.insert([_row(k) for k in range(world["next"], world["next"] + 50)])
    world["next"] += 50
    _check_dependents(world)
    t.update({"q": 49.0, "g": "N"}, where=t.ref().part == 33)
    _check_dependents(world)
    t.delete(t.ref().part == 34)
    _check_dependents(world)
