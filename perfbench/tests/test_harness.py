"""Tests of the benchmark harness's own code (not of the engine).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import itertools
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402


def _log(seed, n=40):
    return list(itertools.islice(gen.ingest_ops(seed, 500), n))


def test_same_seed_same_op_log():
    assert _log(7) == _log(7)
    assert gen.ingest_warmup(7, 500) == gen.ingest_warmup(7, 500)
    assert _log(7) != _log(8)


def test_same_seed_same_analytics_tables():
    a, b = gen.analytics_tables(3, 2000, 50), gen.analytics_tables(3, 2000, 50)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(gen.analytics_tables(4, 2000, 50)["documents"])


def test_op_log_only_touches_live_keys():
    live = set(range(500))
    for o in _log(5, 300):
        if o["op"] in ("insert", "stream_insert"):
            live |= {r["k"] for r in o["rows"]}
        elif o["op"] == "delete":
            assert o["key"] in live
            live.remove(o["key"])
        elif o["op"] == "lookup":
            assert o["key"] in live


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    assert stats.tail([1.0] * 19) is None
    t = stats.tail([float(i) for i in range(20)])
    assert t["p"] == 50.0 and t["n"] == 20
    t = stats.tail([float(i) for i in range(1000)])
    assert t["p"] == 99.0 and t["value"] == 989.0
    for n in (11, 25, 40, 101, 999):
        t = stats.tail(list(range(n)))
        if t is not None:
            assert sum(1 for v in range(n) if v > t["value"]) >= 10


def test_read_s_leaves_out_the_writes():
    from perfbench.workloads import Run, end_to_end
    run = Run(None, None)
    run.samples = {"insert": [4.0], "lookup": [0.2, 0.4, 0.3],
                   "search": [1.0]}
    res = {"run": run, "round_weights": {"insert": 1, "lookup": 4,
                                         "search": 2}}
    m = end_to_end(res, 1.0)
    assert m["read_s"]["value"] == pytest.approx(4 * 0.3 + 2 * 1.0)
    assert m["round_s"]["value"] == pytest.approx(4.0 + 4 * 0.3 + 2 * 1.0)


def test_trace_overhead_needs_same_seed_and_code(tmp_path):
    import json
    from perfbench.run import result_path, trace_overhead
    state = str(tmp_path)
    os.makedirs(os.path.join(state, "results"))
    with open(result_path(state, "ingest", 3, "abc", 0), "w") as f:
        json.dump({"metrics": {"round_s": {"value": 2.0}}}, f)
    assert trace_overhead(state, "ingest", 3, "abc", 3.0)["value"] == 1.5
    for seed, code in ((4, "abc"), (3, "abd")):
        o = trace_overhead(state, "ingest", seed, code, 3.0)
        assert o["value"] is None and o["why"]


@pytest.fixture(scope="module")
def spark():
    from perfbench.run import pin_environment
    pin_environment(os.path.join(ROOT, ".perfbench"))
    import pixeltable_spark as pxt
    return pxt.get_session(app_name="perfbench_test")


def test_job_tag_counter_counts_one_job(spark):
    from perfbench.tracing import JobCounter
    jc = JobCounter(spark)
    spark.range(10).count()  # outside the scope: not counted
    # without AQE the count is one job; AQE would run each stage as a job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with jc.scope() as c:
            spark.range(10).count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert c["jobs"] == 1
    assert c["tasks"] >= 1 and c["failed_tasks"] == 0
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    with jc.scope() as c:
        spark.range(10).count()
    assert c["jobs"] == len(set(st.getJobIdsForGroup()) - before) >= 1
