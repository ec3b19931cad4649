"""Reference import-path iterator classes (pixeltable_spark.iterators —
reference pixeltable/iterators/): each `create()` binds the engine's
DataFrame splitter and drives create_view(iterator=...) end-to-end."""

from __future__ import annotations

import numpy as np
import pytest

import pixeltable_spark as pxt
from pixeltable_spark.functions import _provider_util as pu
from pixeltable_spark.functions import audio_codec as ac
from pixeltable_spark.functions import video_codec as vc
from pixeltable_spark.iterators import (AudioSplitter, DocumentSplitter,
                                        FrameIterator, StringSplitter,
                                        TileIterator, VideoSplitter)


@pytest.fixture(scope="module")
def spark():
    return pxt.get_session(shuffle_partitions=8)


class TestIteratorClasses:
    def test_document_splitter_class(self, spark):
        df = spark.createDataFrame(
            [(1, "One two three four five six seven eight nine ten. "
                 "Alpha beta gamma delta.")],
            "doc_id long, text string")
        it = DocumentSplitter.create(document="text",
                                     separators="token_limit", limit=5)
        out = it(df).collect()
        assert len(out) >= 3
        assert all(len(r["text"].split()) <= 5 for r in out)

    def test_string_splitter_sentence(self, spark):
        df = spark.createDataFrame(
            [(1, "First sentence. Second one! Third?")],
            "doc_id long, text string")
        out = StringSplitter.create(text="text").it_check = None
        rows = StringSplitter.create(text="text")(df).collect()
        segs = [r["segment"].strip() for r in sorted(rows,
                                                     key=lambda r: r["pos"])]
        assert segs == ["First sentence.", "Second one!", "Third?"]

    def test_audio_splitter_time(self, spark):
        wav = pu.procedural_wav("it", duration_s=2.0, rate=8000)
        df = spark.createDataFrame([(1, bytearray(wav))],
                                   "media_id long, payload binary")
        it = AudioSplitter.create(audio="payload", duration=0.75,
                                  overlap=0.25)
        rows = sorted(it(df).collect(), key=lambda r: r["pos"])
        assert rows[0]["start_time"] == 0.0
        assert abs(rows[1]["start_time"] - 0.5) < 1e-6  # step = dur - overlap
        # every segment decodes as WAV with the right sample count
        seg = ac.decode(bytes(rows[0]["segment"]))
        assert seg[1] == 8000 and seg[0].shape[0] == 6000  # 0.75 s
        # concatenating step-sliced segments covers the whole signal
        assert abs(rows[-1]["end_time"] - 2.0) < 1e-6

    def test_frame_iterator_num_frames_and_fps(self, spark):
        frames = np.stack([np.full((8, 8, 3), i * 10, dtype=np.uint8)
                           for i in range(12)])
        avi = vc.encode(frames, fps=6.0)
        df = spark.createDataFrame([(1, bytearray(avi))],
                                   "media_id long, payload binary")
        rows = FrameIterator.create(video="payload", num_frames=4)(df).collect()
        idxs = sorted(r["frame_idx"] for r in rows)
        assert len(idxs) == 4 and idxs[0] == 0 and idxs[-1] == 11
        rows2 = FrameIterator.create(video="payload", fps=3.0)(df).collect()
        assert sorted(r["frame_idx"] for r in rows2) == [0, 2, 4, 6, 8, 10]

    def test_video_splitter_class(self, spark):
        frames = np.stack([np.zeros((6, 6, 3), dtype=np.uint8)] * 10)
        avi = vc.encode(frames, fps=5.0)
        df = spark.createDataFrame([(1, bytearray(avi))],
                                   "media_id long, payload binary")
        rows = VideoSplitter.create(video="payload", duration=1.0)(df).collect()
        assert len(rows) == 2  # 10 frames @5fps = 2 s

    def test_tile_iterator_class(self, spark):
        img = pu.procedural_image("tiles", 16, 16)
        df = spark.createDataFrame([(1, bytearray(img))],
                                   "media_id long, payload binary")
        rows = TileIterator.create(image="payload",
                                   tile_size=(8, 8))(df).collect()
        assert len(rows) == 4

    def test_create_view_with_class_iterator(self, spark, tmp_path):
        cat = pxt.Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table(
            "docs", {"doc_id": pxt.ColumnType.int_(),
                     "text": pxt.ColumnType.string()},
            primary_key=["doc_id"])
        t.insert([{"doc_id": 1, "text": "Alpha beta. Gamma delta!"}])
        v = cat.create_view(
            "sents", t, iterator=StringSplitter.create(text="text"))
        segs = sorted(r["segment"].strip() for r in v.collect())
        assert segs == ["Alpha beta.", "Gamma delta!"]
        # incremental propagation on base insert
        t.insert([{"doc_id": 2, "text": "One. Two. Three."}])
        assert v.count() == 5

    def test_columnref_binding(self, spark):
        df = spark.createDataFrame([(1, "a. b.")], "doc_id long, text string")
        t = pxt.TableRef.from_df(df, "d", rowid_cols=["doc_id"])
        it = StringSplitter.create(text=t.text)   # ColumnRef, not a string
        assert len(it(df).collect()) == 2


class TestNestedComponentViews:
    """View over a component view (reference _query.py:1446-1538): one
    pos level per iterator (_pos, _pos_2, ...), composite component
    identity, full mutation propagation through the chain, and
    group_by(<table handle>) resolving to an ancestor's identity."""

    @pytest.fixture()
    def chain(self, spark, tmp_path):
        from pixeltable_spark.iterators import DocumentSplitter
        cat = pxt.Catalog(spark, str(tmp_path / "wh"))
        t = cat.create_table(
            "docs", {"doc_id": pxt.ColumnType.int_(),
                     "text": pxt.ColumnType.string()},
            primary_key=["doc_id"])
        t.insert([{"doc_id": 1, "text": "Alpha beta. Gamma delta epsilon!"},
                  {"doc_id": 2, "text": "One two three. Four five."}])
        v = cat.create_view("sents", t,
                            iterator=StringSplitter.create(text="text"))
        v2 = cat.create_view("chunks", v, iterator=DocumentSplitter.create(
            document="segment", separators="token_limit", limit=2))
        return cat, t, v, v2

    def test_identity_columns_per_level(self, chain):
        _cat, t, v, v2 = chain
        assert t._component_identity_cols() == ["_rowid"]
        assert v._component_identity_cols() == ["_rowid", "_pos"]
        assert v2._component_identity_cols() == ["_rowid", "_pos", "_pos_2"]
        cols = v2.df().columns
        assert "_pos" in cols and "_pos_2" in cols
        # composite identity is unique (keying on _rowid alone would
        # collide sub-components of two sentences of one doc)
        rows = [(r["_rowid"], r["_pos"], r["_pos_2"])
                for r in v2.df().collect()]
        assert len(set(rows)) == len(rows) == 6

    def test_two_level_explode_content(self, chain):
        _cat, _t, _v, v2 = chain
        got = sorted((r["_rowid"], r["_pos"], r["_pos_2"], r["text"])
                     for r in v2.df().collect())
        assert got == [(0, 0, 0, "Alpha beta."), (0, 1, 0, "Gamma delta"),
                       (0, 1, 1, "epsilon!"), (1, 0, 0, "One two"),
                       (1, 0, 1, "three."), (1, 1, 0, "Four five.")]

    def test_mutations_propagate_through_chain(self, chain):
        """Every mutation reaches both levels as its base's commit delta;
        the leaf equals the two view plans re-run over the base, at
        every version, for deltas on both sides of the literal bound."""
        from pixeltable_spark import catalog as catmod
        _cat, t, v, v2 = chain
        doc_id = t.ref().doc_id

        def leaf(df):
            return sorted((r["_rowid"], r["_pos"], r["_pos_2"], r["text"])
                          for r in df.collect())

        versions = []

        def step(mutate):
            before = (t.version, v.version, v2.version)
            mutate()
            assert (t.version, v.version, v2.version) == \
                tuple(x + 1 for x in before)
            versions.append((t.version, v2.version))
            assert leaf(v2.df()) == \
                leaf(v2._view_plan(v._view_plan(t.df())))

        step(lambda: t.insert([{"doc_id": 3,
                                "text": "Six seven eight nine."}]))
        assert v.count() == 5 and v2.count() == 8   # incremental insert
        step(lambda: t.update({"text": "Zip zap."}, where=doc_id == 1))
        texts = {r["text"] for r in v2.df().collect()}
        assert "Zip zap." in texts and "Alpha beta." not in texts
        step(lambda: t.delete(where=doc_id == 2))
        assert v2.count() == 3                       # doc2's chunks gone
        n = catmod._DELTA_LITERAL_MAX + 20
        step(lambda: t.insert([{"doc_id": 10 + i,
                                "text": f"W{i} a b. C d."}
                               for i in range(n)]))
        # more base rows than the literal bound: the join path
        step(lambda: t.update({"text": "Re do mi. Fa."},
                              where=doc_id >= 10))
        step(lambda: t.update({"text": "x."}, where=doc_id < 0))
        assert v2.count() == 3 + 3 * n
        for tv, lv in versions:
            assert leaf(v2.df(lv)) == \
                leaf(v2._view_plan(v._view_plan(t.df(tv))))

    def test_group_by_table_handle(self, chain):
        from pixeltable_spark import functions as pxtf
        _cat, t, v, v2 = chain
        cref = v2.ref()
        by_base = (cref.group_by(t)
                   .select(cref["_rowid"], n=pxtf.count(cref["_rowid"]))
                   .collect())
        assert sorted((r["_rowid"], r["n"]) for r in by_base) == \
            [(0, 3), (1, 3)]
        by_sent = (cref.group_by(v)
                   .select(n=pxtf.count(cref["_rowid"])).collect())
        assert sorted(r["n"] for r in by_sent) == [1, 1, 2, 2]

    def test_collect_orders_by_all_pos_levels(self, chain):
        _cat, _t, _v, v2 = chain
        texts = [r["text"] for r in v2.collect()]
        assert texts == ["Alpha beta.", "Gamma delta", "epsilon!",
                         "One two", "three.", "Four five."]
