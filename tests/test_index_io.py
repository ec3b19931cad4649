"""Embedding index + IO surface tests."""

from __future__ import annotations

import json
import os
import pickle

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
from pixeltable_spark.index import add_embedding_index
from pixeltable_spark.sources import io as pio


@pytest.fixture()
def doc_table(spark, tmp_path):
    cat = pxt.Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("docs", {"doc_id": pxt.Int(False), "text": pxt.String(False)})
    t.insert([{"doc_id": i, "text": f"document number {i} about topic {i % 3}"}
              for i in range(30)])
    return t


class TestEmbeddingIndex:
    def test_index_backfill_and_search(self, doc_table):
        idx = add_embedding_index(doc_table, "text", dim=8)
        assert "text_embedding" in doc_table.computed
        hits = idx.search_query_text = idx.search(
            query_vec=_embed("document number 7 about topic 1"), k=3)
        rows = hits.collect()
        assert len(rows) == 3
        assert rows[0].doc_id == 7  # exact text -> cosine 1.0 top hit
        assert rows[0]._similarity == pytest.approx(1.0)

    def test_index_maintained_on_insert(self, doc_table):
        idx = add_embedding_index(doc_table, "text", dim=8)
        doc_table.insert([{"doc_id": 100, "text": "a brand new document"}])
        hits = idx.search(_embed("a brand new document"), k=1).collect()
        assert hits[0].doc_id == 100

    def test_ann_search(self, doc_table):
        idx = add_embedding_index(doc_table, "text", dim=8, n_planes=2)
        hits = idx.search(_embed("document number 3 about topic 0"), k=5).collect()
        assert 0 < len(hits) <= 5
        assert all(h._similarity is not None for h in hits)


def _embed(text: str, dim: int = 8) -> list:
    import asyncio
    from pixeltable_spark.functions.llm import DeterministicFakeClient
    loop = asyncio.new_event_loop()
    try:
        return loop.run_until_complete(
            DeterministicFakeClient().embed(text, "fake-embed-1", dim=dim))
    finally:
        loop.close()


class TestIO:
    def test_csv_roundtrip(self, spark, tmp_path, documents_df):
        p = str(tmp_path / "docs_csv")
        pio.export_csv(documents_df.select("doc_id", "lang"), p)
        back = pio.import_csv(spark, p)
        assert back.count() == documents_df.count()

    def test_json_roundtrip(self, spark, tmp_path, documents_df):
        p = str(tmp_path / "docs_json")
        pio.export_json(documents_df.select("doc_id", "lang", "n_chars"), p)
        back = pio.import_json(spark, p)
        assert back.count() == documents_df.count()

    def test_pytorch_export_shards(self, spark, tmp_path, documents_df):
        out = str(tmp_path / "torch")
        paths = pio.export_pytorch(
            documents_df.select("doc_id", "text").repartition(4), out, shard_rows=100)
        assert len(paths) >= 4
        total = 0
        for p in paths:
            with open(p, "rb") as f:
                shard = pickle.load(f)
            assert isinstance(shard[0], dict) and "text" in shard[0]
            total += len(shard)
        assert total == documents_df.count()

    def test_coco_export(self, spark, tmp_path):
        df = spark.createDataFrame([{
            "image_path": "img1.jpg",
            "boxes": [[0.0, 0.0, 10.0, 10.0], [5.0, 5.0, 8.0, 9.0]],
            "labels": ["cat", "dog"],
        }, {
            "image_path": "img2.jpg",
            "boxes": [[1.0, 1.0, 2.0, 2.0]],
            "labels": ["cat"],
        }])
        p = pio.export_coco(df, str(tmp_path / "coco.json"))
        with open(p) as f:
            doc = json.load(f)
        assert len(doc["images"]) == 2
        assert len(doc["annotations"]) == 3
        assert {c["name"] for c in doc["categories"]} == {"cat", "dog"}
        assert doc["annotations"][0]["bbox"] == [0.0, 0.0, 10.0, 10.0]

    def test_coco_streams_many_partitions(self, spark, tmp_path):
        """Streamed writer (toLocalIterator, no collect): a multi-partition
        50k-row export stays valid JSON with every image + annotation."""
        from pyspark.sql import functions as F
        df = (spark.range(50_000).repartition(16)
              .select(F.concat(F.lit("img"), F.col("id")).alias("image_path"),
                      F.array(F.array(F.lit(0.0), F.lit(0.0),
                                      F.lit(1.0), F.lit(1.0))).alias("boxes"),
                      F.array(F.concat(F.lit("c"), F.col("id") % 7))
                      .alias("labels")))
        p = pio.export_coco(df, str(tmp_path / "big_coco.json"))
        with open(p) as f:
            doc = json.load(f)
        assert len(doc["images"]) == 50_000
        assert len(doc["annotations"]) == 50_000
        assert len(doc["categories"]) == 7
        # ids are consecutive and image_ids reference real images
        assert doc["annotations"][-1]["id"] == 49_999

    def test_pandas_roundtrip(self, spark, documents_df):
        pdf = documents_df.limit(10).toPandas()
        back = pio.import_pandas(spark, pdf)
        assert back.count() == 10

    def test_import_rows(self, spark):
        """Mirrors the reference's pxt.io.import_rows: a list of dicts,
        typed by a pixeltable schema."""
        rows = [{"k": 1, "s": "a"}, {"k": 2, "s": None}]
        back = pio.import_rows(spark, rows, schema={
            "k": pxt.Int(False), "s": pxt.String(True)})
        assert back.schema.simpleString() == "struct<k:bigint,s:string>"
        assert sorted(tuple(r) for r in back.collect()) == \
            [(1, "a"), (2, None)]


class TestHfFiftyoneRoundtrip:
    def test_hf_arrow_roundtrip(self, spark, tmp_path):
        """Spark -> Arrow (the datasets.Dataset payload) -> Spark
        (reference io/hf_datasets.py:108 both directions)."""
        from pixeltable_spark.sources import io as pio

        src = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", 2.5)], "k long, s string, v double")
        table = pio.export_huggingface(src)  # pyarrow.Table offline

        class FakeHfDataset:  # datasets.Dataset duck-type: .data.table
            class _Data:
                def __init__(self, t): self.table = t
            def __init__(self, t): self.data = self._Data(t)

        back = pio.import_huggingface_dataset(spark, FakeHfDataset(table))
        key = lambda r: r["k"]  # noqa: E731
        assert sorted((r.asDict() for r in back.collect()), key=key) == \
            sorted((r.asDict() for r in src.collect()), key=key)

    def test_fiftyone_dataset_dir_export(self, spark, tmp_path):
        import json
        from pixeltable_spark.sources import io as pio

        # absolute-pixel boxes + image dims → rescaled to FiftyOne's
        # relative [x, y, w, h]
        df = spark.createDataFrame(
            [("img1.jpg", [[10.0, 5.0, 30.0, 25.0]], ["cat"], 100, 50),
             ("img2.jpg", [], [], 100, 50)],
            "image_path string, boxes array<array<double>>, "
            "labels array<string>, w int, h int")
        out = pio.export_fiftyone(df, str(tmp_path / "fo"),
                                  boxes_col="boxes", labels_col="labels",
                                  width_col="w", height_col="h")
        doc = json.load(open(out))
        by_path = {s["filepath"]: s for s in doc["samples"]}
        dets = by_path["img1.jpg"]["ground_truth"]["detections"]
        assert dets[0]["label"] == "cat"
        assert dets[0]["bounding_box"] == [0.1, 0.1, 0.2, 0.4]
        assert by_path["img2.jpg"]["ground_truth"]["detections"] == []

    def test_fiftyone_relative_boxes_pass_through(self, spark, tmp_path):
        import json
        from pixeltable_spark.sources import io as pio

        df = spark.createDataFrame(
            [("img1.jpg", [[0.1, 0.2, 0.5, 0.6]], ["dog"])],
            "image_path string, boxes array<array<double>>, labels array<string>")
        out = pio.export_fiftyone(df, str(tmp_path / "fo2"),
                                  boxes_col="boxes", labels_col="labels")
        doc = json.load(open(out))
        box = doc["samples"][0]["ground_truth"]["detections"][0]["bounding_box"]
        assert box == pytest.approx([0.1, 0.2, 0.4, 0.4])

    def test_fiftyone_absolute_boxes_without_dims_raise(self, spark, tmp_path):
        from pixeltable_spark.sources import io as pio

        df = spark.createDataFrame(
            [("img1.jpg", [[0.0, 0.0, 10.0, 10.0]], ["cat"])],
            "image_path string, boxes array<array<double>>, labels array<string>")
        with pytest.raises(ValueError, match="width_col"):
            pio.export_fiftyone(df, str(tmp_path / "fo3"),
                                boxes_col="boxes", labels_col="labels")


class TestIcebergContract:
    """export_iceberg contract (reference io/iceberg.py:21): exercised end
    to end when an Iceberg runtime is on the classpath, otherwise skipped
    with the precise missing dependency."""

    def _have_iceberg(self, spark) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:
            return False

    def test_iceberg_roundtrip_or_precise_skip(self, spark, tmp_path):
        from pixeltable_spark.sources import io as pio

        if not self._have_iceberg(spark):
            with pytest.raises(NotImplementedError, match="Iceberg"):
                df = spark.range(3)
                pio.export_iceberg(df, "nonexistent_cat.db.t")
            pytest.skip(
                "iceberg-spark-runtime jar absent from the Spark classpath "
                "(org.apache.iceberg.spark.SparkCatalog not loadable); the "
                "NotImplementedError gate was asserted instead")
        # with the jar present: configure a local hadoop catalog and roundtrip
        spark.conf.set("spark.sql.catalog.pxt_ice",
                       "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set("spark.sql.catalog.pxt_ice.type", "hadoop")
        spark.conf.set("spark.sql.catalog.pxt_ice.warehouse",
                       str(tmp_path / "ice_wh"))
        df = spark.range(5).withColumnRenamed("id", "k")
        spark.sql("CREATE TABLE pxt_ice.db.t (k bigint) USING iceberg")
        from pixeltable_spark.sources import io as pio2
        pio2.export_iceberg(df, "pxt_ice.db.t")
        assert spark.table("pxt_ice.db.t").count() == 5


class TestJdbcRoundtrip:
    """Real JDBC source/sink (SqlDataNode analog, reference io sql.py)
    against the Derby embedded driver that ships in Spark's jars — no
    external database needed."""

    def test_export_then_import(self, spark, tmp_path):
        from pixeltable_spark.sources import io as pio

        url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
        driver = "org.apache.derby.jdbc.EmbeddedDriver"
        src = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", -1.0)],
            "k bigint, s string, v double")
        pio.export_jdbc(src, url, "t_round", mode="overwrite", driver=driver)
        back = pio.import_jdbc(spark, url, "t_round", driver=driver)
        key = lambda r: r["K"] if "K" in r.asDict() else r["k"]  # noqa: E731
        got = sorted((tuple(r) for r in back.collect()))
        want = sorted((tuple(r) for r in src.collect()))
        assert got == want

    def test_sql_name_aliases_roundtrip(self, spark, tmp_path):
        """import_sql/export_sql (reference io/sql.py:14,85 names) over
        the same Derby path: export with if_exists mapping, import by
        table name and by whitespace-detected query."""
        from pixeltable_spark.sources import io as pio

        url = f"jdbc:derby:{tmp_path}/derbydb3;create=true"
        driver = "org.apache.derby.jdbc.EmbeddedDriver"
        src = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, s string")
        pio.export_sql(src, "t_alias", db_connect_str=url,
                       if_exists="replace", driver=driver)
        back = pio.import_sql(spark, "t_alias", db_connect_str=url,
                              driver=driver)
        assert sorted(tuple(r) for r in back.collect()) == \
            sorted(tuple(r) for r in src.collect())
        sub = pio.import_sql(
            spark, 'SELECT "k" FROM t_alias WHERE "k" >= 2',
            db_connect_str=url, driver=driver)
        assert sub.count() == 2
        with pytest.raises(ValueError, match="if_exists"):
            pio.export_sql(src, "t_alias", db_connect_str=url,
                           if_exists="nope", driver=driver)

    def test_import_pushdown_query(self, spark, tmp_path):
        from pixeltable_spark.sources import io as pio

        url = f"jdbc:derby:{tmp_path}/derbydb2;create=true"
        driver = "org.apache.derby.jdbc.EmbeddedDriver"
        src = spark.createDataFrame(
            [(i, float(i) * 2) for i in range(20)], "k bigint, v double")
        pio.export_jdbc(src, url, "t_push", mode="overwrite", driver=driver)
        sub = pio.import_jdbc(
            spark, url, '(SELECT "k", "v" FROM t_push WHERE "k" < 5) q',
            driver=driver)
        assert sub.count() == 5


class TestWebDataset:
    def test_roundtrip(self, spark, tmp_path):
        import json

        from pixeltable_spark.sources.io import (
            export_webdataset,
            import_webdataset,
        )
        rows = [(f"s{i:03d}", bytearray(bytes([i]) * 4), f"caption {i}", i * 1.5)
                for i in range(25)]
        df = spark.createDataFrame(
            rows, "key string, img binary, caption string, score double") \
            .repartition(3)
        shards = export_webdataset(df, str(tmp_path / "wds"), key_col="key",
                                   shard_rows=10)
        assert len(shards) >= 3 and all(s.endswith(".tar") for s in shards)
        back = import_webdataset(spark, str(tmp_path / "wds"))
        got = {r["key"]: r for r in back.collect()}
        assert len(got) == 25
        r7 = got["s007"]
        assert bytes(r7["fields"]["img"]) == bytes([7]) * 4
        assert bytes(r7["fields"]["caption.txt"]).decode() == "caption 7"
        assert json.loads(r7["meta"])["score"] == 10.5

    def test_none_fields_skipped(self, spark, tmp_path):
        from pixeltable_spark.sources.io import (
            export_webdataset,
            import_webdataset,
        )
        df = spark.createDataFrame([("k1", None, "t")],
                                   "key string, img binary, caption string")
        export_webdataset(df, str(tmp_path / "w2"), key_col="key")
        back = import_webdataset(spark, str(tmp_path / "w2")).collect()[0]
        assert "img" not in back["fields"]
        assert "caption.txt" in back["fields"]
