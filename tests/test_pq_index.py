"""Product-quantization ANN (operators/similarity.py pq_*): deterministic
codebook training, distributed encoding, JVM-side ADC scoring, and the
ADC + exact-rerank composition."""

from __future__ import annotations

import numpy as np
import pytest

from pixeltable_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    return df, vecs


class TestPq:
    def test_train_deterministic(self, emb):
        df, _ = emb
        b1 = S.pq_train(df, m=8, k=16, iters=5)
        b2 = S.pq_train(df, m=8, k=16, iters=5)
        assert b1.shape == (8, 16, 8) and np.array_equal(b1, b2)

    def test_encode_codes_in_range(self, emb):
        df, vecs = emb
        books = S.pq_train(df, m=8, k=16, iters=5)
        rows = S.pq_encode(df, books).collect()
        assert len(rows) == len(vecs)
        for r in rows:
            assert len(r["codes"]) == 8
            assert all(0 <= c < 16 for c in r["codes"])

    def test_adc_scoring_is_jvm_side(self, emb):
        df, _ = emb
        books = S.pq_train(df, m=8, k=16, iters=5)
        codes = S.pq_encode(df, books)
        plan = (S.pq_topk(codes, books, np.zeros(64), k=5)
                ._jdf.queryExecution().executedPlan().toString())
        # the ADC projection itself must not add a Python eval node —
        # the only Python in the plan is the upstream encode mapInPandas
        assert plan.count("ArrowEvalPython") == 0

    def test_recall_beats_random(self, emb):
        df, vecs = emb
        ids = sorted(vecs)
        X = np.array([vecs[i] for i in ids])
        books = S.pq_train(df, m=16, k=16, iters=10)
        codes = S.pq_encode(df, books).cache()
        recalls = []
        for qi in ids[:3]:
            q = vecs[qi]
            exact = set(np.array(ids)[np.argsort(((X - q) ** 2).sum(1))[:10]]
                        .tolist())
            approx = set(r["vec_id"] for r in
                         S.pq_topk(codes, books, q, k=10).collect())
            recalls.append(len(exact & approx) / 10)
        # random top-10 of N would give ~10/N; PQ must do far better
        assert sum(recalls) / len(recalls) >= 0.3, recalls

    def test_rerank_recovers_exact_top1(self, emb):
        df, vecs = emb
        books = S.pq_train(df, m=8, k=16, iters=5)
        codes = S.pq_encode(df, books).cache()
        for qi in sorted(vecs)[:3]:
            q = vecs[qi]
            top = S.pq_topk_rerank(df, codes, books, q, k=1,
                                   rerank=50).collect()
            # the query vector itself is in the corpus: cos=1.0 must win
            assert top[0]["vec_id"] == qi and top[0]["cos"] == pytest.approx(1.0)


class TestEmbeddingIndexPq:
    def test_pq_method_through_catalog_index(self, spark, tmp_path):
        import pixeltable_spark as pxt
        cat = pxt.Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table("docs", {"doc_id": pxt.Int(False),
                                      "text": pxt.String()})
        t.insert([{"doc_id": i, "text": f"document number {i} about topic {i % 5}"}
                  for i in range(30)])
        idx = pxt.add_embedding_index(t, "text", dim=16, method="pq",
                                      pq_m=4, pq_k=8, pq_rerank=30)
        # query with the exact embedding of doc 7 -> top hit is doc 7
        from pixeltable_spark.functions.llm import DeterministicFakeClient
        import asyncio
        loop = asyncio.new_event_loop()
        try:
            q = loop.run_until_complete(DeterministicFakeClient().embed(
                "document number 7 about topic 2", "fake-embed-1", dim=16))
        finally:
            loop.close()
        hits = idx.search(q, k=3).collect()
        assert hits[0]["doc_id"] == 7
        assert hits[0]["_similarity"] == pytest.approx(1.0)
        # exact search agrees on the top hit
        idx.method = "exact"
        exact = idx.search(q, k=3).collect()
        assert exact[0]["doc_id"] == 7


class TestIvfPq:
    def test_route_probe_and_rerank(self, emb, spark):
        df, vecs = emb
        books = S.pq_train(df, m=8, k=16, iters=5)
        codes = S.pq_encode_bucketed(df, books, n_planes=4).cache()
        qi = sorted(vecs)[7]
        q = vecs[qi]
        # the query vector's own bucket is always probed, so it is in the
        # candidate subset...
        top = S.pq_topk_bucketed(codes, books, q, k=200, n_planes=4)
        assert qi in {r["vec_id"] for r in top.collect()}
        # ...and ADC shortlist + exact rerank puts it at rank 1
        short = S.pq_topk_bucketed(codes, books, q, k=100, n_planes=4)
        cand = df.join(short.select("vec_id"), "vec_id", "left_semi")
        from pyspark.sql import functions as F
        best = (cand.select("vec_id",
                            S.cosine_to_query("embedding", q)
                            .alias("cos"))
                .orderBy(F.col("cos").desc()).first())
        assert best["vec_id"] == qi

    def test_probes_shrink_the_scan(self, emb, spark):
        df, _ = emb
        books = S.pq_train(df, m=8, k=16, iters=5)
        codes = S.pq_encode_bucketed(df, books, n_planes=4).cache()
        total = codes.count()
        import numpy as np
        q = np.ones(64)
        import hashlib
        probed = S.pq_topk_bucketed(codes, books, q, k=total, n_planes=4,
                                    multiprobe_hamming=1)
        n = probed.count()
        # 5 of 16 buckets probed -> roughly 5/16 of rows (loose bound)
        assert 0 < n < total * 0.8, (n, total)
