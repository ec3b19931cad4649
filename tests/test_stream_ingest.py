"""Exactly-once streaming ingest into catalog tables
(Table.insert_stream: foreachBatch + a per-stream batch ledger stamped
into the same manifest commit as the data — Delta's idempotent-writes
txnAppId/txnVersion design; the reference ingests via insert() only,
catalog/table.py:675).

foreachBatch is at-least-once: a micro-batch can replay after a crash
between the sink write and the checkpoint advance. These tests pin that
a replay (same stream_id + batch id) is a durable no-op, across handle
reloads."""

from __future__ import annotations

import pytest

import pixeltable_spark as pxt
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType([T.StructField("k", T.LongType(), False),
                       T.StructField("v", T.DoubleType(), True)])


def _write_chunk(spark, d, lo, n):
    (spark.range(lo, lo + n)
     .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
     .coalesce(1).write.mode("append").parquet(d))


class TestStreamIngest:
    def test_available_now_drain_and_restart(self, spark, tmp_path):
        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        _write_chunk(spark, src, 0, 100)
        cat = pxt.Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table("t", {"k": pxt.Int(False),
                                   "v": pxt.Float(True)})
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = t.insert_stream(stream, ckpt)
        q.awaitTermination(180)
        assert t.count() == 100
        assert t.stream_batches, "batch ledger must be recorded"
        # restart the SAME checkpoint after more input arrives: only the
        # new rows land (Structured Streaming offset tracking + ledger)
        _write_chunk(spark, src, 100, 50)
        stream2 = spark.readStream.schema(SCHEMA).parquet(src)
        q2 = t.insert_stream(stream2, ckpt)
        q2.awaitTermination(180)
        assert t.count() == 150
        ks = sorted(r["k"] for r in t.user_df().select("k").collect())
        assert ks == list(range(150))

    def test_replay_same_stream_id_is_noop(self, spark, tmp_path):
        """A FRESH checkpoint re-delivers everything as batch 0 — the
        at-least-once replay shape. With the same stream_id the ledger
        must reject it; rows never duplicate."""
        src = str(tmp_path / "src")
        _write_chunk(spark, src, 0, 40)
        cat = pxt.Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table("t", {"k": pxt.Int(False),
                                   "v": pxt.Float(True)})
        s1 = spark.readStream.schema(SCHEMA).parquet(src)
        t.insert_stream(s1, str(tmp_path / "ck1"),
                        stream_id="s").awaitTermination(180)
        assert t.count() == 40
        v_after_first = t.version
        s2 = spark.readStream.schema(SCHEMA).parquet(src)
        t.insert_stream(s2, str(tmp_path / "ck2"),
                        stream_id="s").awaitTermination(180)
        assert t.count() == 40, "replayed batch must not duplicate rows"
        assert t.version == v_after_first  # no commit at all

    def test_ledger_survives_reload_and_computed_columns_run(
            self, spark, tmp_path):
        src = str(tmp_path / "src")
        _write_chunk(spark, src, 0, 30)
        wh = str(tmp_path / "wh")
        cat = pxt.Catalog(spark, wh)
        t = cat.create_table("t", {"k": pxt.Int(False),
                                   "v": pxt.Float(True)})
        from pixeltable_spark.exprs import ColumnRef
        t.add_computed_column("v2", ColumnRef("v", t.schema["v"]) * 2.0,
                              pxt.Float())
        s = spark.readStream.schema(SCHEMA).parquet(src)
        t.insert_stream(s, str(tmp_path / "ck"),
                        stream_id="s").awaitTermination(180)
        got = {r["k"]: r["v2"] for r in t.user_df().collect()}
        assert len(got) == 30 and got[7] == 14.0
        # a rebuilt catalog handle sees the ledger (manifest + meta)
        cat2 = pxt.Catalog(spark, wh)
        t2 = cat2.get_table("t")
        assert t2.stream_batches.get("s", -1) >= 0
        # the replay guard holds on the fresh handle: the last ingested
        # batch reads as done, the next one as pending
        bid = t2.stream_batches["s"]
        assert t2.stream_batch_done("s", bid)
        assert t2.stream_batch_done("s", bid - 1)
        assert not t2.stream_batch_done("s", bid + 1)

    def test_ledger_survives_crash_before_meta_save(self, spark, tmp_path,
                                                    monkeypatch):
        """The ledger is durable AT the commit point: a crash between
        the CURRENT swap and the meta.json save must not lose it —
        otherwise the replayed batch would double-insert. Loaders
        reconcile from the manifest stamp, same as version/next_rowid."""
        wh = str(tmp_path / "wh")
        cat = pxt.Catalog(spark, wh)
        t = cat.create_table("t", {"k": pxt.Int(False)})
        t.insert([{"k": 1}])

        calls = {"n": 0}
        orig = type(t)._save_meta

        def crashing(self_):
            calls["n"] += 1
            raise RuntimeError("simulated crash before meta save")

        monkeypatch.setattr(type(t), "_save_meta", crashing)
        # the stamp insert_stream's foreachBatch callback passes
        with pytest.raises(RuntimeError, match="simulated crash"):
            t._insert([{"k": 2}], stream_stamp=("x", 3))
        monkeypatch.setattr(type(t), "_save_meta", orig)
        assert calls["n"] == 1
        # fresh handles reconcile the ledger from the committed manifest
        cat2 = pxt.Catalog(spark, wh)
        t2 = cat2.get_table("t")
        assert t2.stream_batch_done("x", 3), \
            "ledger lost in the commit/meta crash window"
        assert not t2.stream_batch_done("x", 4)
        assert t2.count() == 2  # the data commit itself was durable
