"""EmbeddingIndex.search: one Spark job over one snapshot.

Every method and metric scores the live rows of ONE resolved snapshot and
ends in one TakeOrderedAndProject: ranked by `_similarity` (desc for
cosine and ip, asc for l2), ties by rowid, projected to the user columns.
The scores are the same doubles as the Column-built formulas they
replace (functions/array.py cosine_col, zip_with + aggregate for ip and
l2), bit for bit.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark.functions.array import cosine_col
from test_commit_budget import _cost

DIM = 8
N_DISTINCT = 6
N_COPIES = 10          # every vector appears this often: ties everywhere


def _vectors(seed: int, n: int) -> list:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.normal(size=DIM)] for _ in range(n)]


BASE = _vectors(12, N_DISTINCT)
QUERY = [x + 0.3 * y for x, y in zip(BASE[0], _vectors(13, 1)[0])]


def _column_score(metric: str, col: str, query) -> "F.Column":
    """The score as it was built from Column calls: the oracle the one
    SQL string must reproduce bit for bit."""
    a = F.col(col)
    q = F.array(*[F.lit(float(x)) for x in query])
    if metric == "cosine":
        return F.round(cosine_col(a, q), 6)
    if metric == "ip":
        return F.aggregate(F.zip_with(a, q, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, v: acc + v)
    return F.sqrt(F.aggregate(F.zip_with(a, q, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, v: acc + v))


def _bits(x):
    return None if x is None else struct.pack(">d", x)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    cat = pxt.Catalog(spark, str(tmp_path_factory.mktemp("search") / "wh"))
    t = cat.create_table("vecs", {"k": pxt.Int(False), "tag": pxt.String(),
                                  "v": pxt.Array(pxt.Float())})
    n = N_DISTINCT * N_COPIES
    rows = [{"k": i, "tag": f"t{i % 3}", "v": BASE[i % N_DISTINCT]}
            for i in range(n)]
    # two commits: two files, so the driver really merges partial top-ks
    t.insert(rows[: n // 2])
    t.insert(rows[n // 2:] + [{"k": n, "tag": "zero", "v": [0.0] * DIM}])
    idx = {m: pxt.add_embedding_index(t, "v", idx_name=m, metric=m)
           for m in ("cosine", "ip", "l2")}
    idx["lsh"] = pxt.add_embedding_index(t, "v", idx_name="lsh", n_planes=2)
    idx["pq"] = pxt.add_embedding_index(t, "v", idx_name="pq", method="pq",
                                        pq_m=4, pq_k=4, pq_rerank=20)
    live = t.df()
    scores = {m: {r["k"]: (r["_rowid"], r["s"]) for r in live.select(
        "k", "_rowid", _column_score(m, "v", QUERY).alias("s")).collect()}
        for m in ("cosine", "ip", "l2")}
    return {"t": t, "idx": idx, "scores": scores}


def _expected(world, metric: str, k: int) -> list:
    """(k, score) of the top k by the Column-built score, ties by rowid;
    NULL scores last for desc and first for asc, as Spark orders them."""
    sc = world["scores"][metric]
    desc = metric != "l2"

    def key(item):
        rowid, s = item[1]
        nulls_after = (s is None) == desc
        return (nulls_after, 0.0 if s is None else (-s if desc else s), rowid)
    return [(kk, s) for kk, (_, s) in sorted(sc.items(), key=key)[:k]]


@pytest.mark.parametrize("metric", ["cosine", "ip", "l2"])
def test_scores_bit_identical_and_ordered(world, metric):
    n = N_DISTINCT * N_COPIES + 1
    rows = world["idx"][metric].search(QUERY, k=n).collect()
    assert rows[0].asDict().keys() == {"k", "tag", "v", "_similarity"}
    got = [(r["k"], _bits(r["_similarity"])) for r in rows]
    assert got == [(k, _bits(s)) for k, s in _expected(world, metric, n)]


@pytest.mark.parametrize("width", [1, 8])
def test_ties_come_back_in_rowid_order(spark, world, width):
    # k=14 takes a full group of 10 duplicates plus 4 of the next group
    want = [k for k, _ in _expected(world, "cosine", 14)]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        runs = [[r["k"] for r in world["idx"]["cosine"].search(
            QUERY, k=14).collect()] for _ in range(3)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert runs == [want] * 3


@pytest.mark.parametrize("name", ["cosine", "ip", "l2", "lsh"])
def test_search_is_one_job(spark, world, name):
    hits = world["idx"][name].search(QUERY, k=10)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("TakeOrderedAndProject") and "Exchange" not in plan
    rows, jobs, _ = _cost(spark, hits.collect)
    assert 0 < len(rows) <= 10
    assert jobs == 1, jobs


def test_repeated_search_builds_no_read(spark, world, parquet_reads):
    """A repeated search on an unchanged snapshot scores the memoized
    live frame (Table.df): one job and no read planned again."""
    ix = world["idx"]["cosine"]
    first = ix.search(QUERY, k=10).collect()
    parquet_reads.clear()
    rows, jobs, _ = _cost(spark, lambda: ix.search(QUERY, k=10).collect())
    assert rows == first
    assert jobs == 1, jobs
    assert parquet_reads == []


def test_pq_search_jobs(spark, world):
    ix = world["idx"]["pq"]
    # the first search trains the codebooks (one collect), later ones not
    first, jobs_first, _ = _cost(spark, lambda: ix.search(QUERY, k=10)
                                 .collect())
    rows, jobs, _ = _cost(spark, lambda: ix.search(QUERY, k=10).collect())
    assert [r["k"] for r in rows] == [r["k"] for r in first]
    assert len(rows) == 10
    # codebook training, the ADC shortlist broadcast, the top-k
    assert jobs_first <= 3 and jobs <= 2, (jobs_first, jobs)


def test_search_reads_one_snapshot(spark, tmp_path, monkeypatch):
    """A commit between resolving the table and running the search must
    not reach the result: the search returns the k rows of the snapshot
    it resolved. Two snapshots (hits scored on one, joined back to the
    next) returned k-1 rows here. The object-store backend keeps a
    replaced file past its commit (vacuum retention), so the resolved
    snapshot stays readable."""
    root = str(tmp_path / "wh")
    t = pxt.Catalog(spark, root, commit_store="object-store").create_table(
        "docs", {"k": pxt.Int(False), "v": pxt.Array(pxt.Float())})
    vecs = _vectors(21, 30)
    t.insert([{"k": i, "v": v} for i, v in enumerate(vecs)])
    idx = pxt.add_embedding_index(t, "v")
    other = pxt.Catalog(spark, root, commit_store="object-store"
                        ).get_table("docs")
    assert other is not t
    resolve = t.df
    calls = []

    def df_then_delete(*a, **kw):
        out = resolve(*a, **kw)
        if not calls:
            calls.append(1)
            other.delete(other.ref().k == 7)
        return out

    monkeypatch.setattr(t, "df", df_then_delete)
    rows = idx.search(vecs[7], k=10).collect()
    assert calls == [1]
    assert len(rows) == 10
    assert rows[0]["k"] == 7 and rows[0]["_similarity"] == pytest.approx(1.0)
    monkeypatch.undo()
    assert 7 not in {r["k"] for r in idx.search(vecs[7], k=10).collect()}
