"""Word-level interpolated Kneser–Ney bigram LM + perplexity
filtering — the actual CCNet corpus-curation method (Wenzek et al.
2020: train a KenLM n-gram model on a reference corpus, score every
document's perplexity, partition the corpus into head/middle/tail
quality buckets). The existing ``text.ngram_lm_train`` is an
unsmoothed char-trigram MLE stand-in; this module implements the real
smoothing (interpolated KN, the method KenLM uses) at word level, with
every step exact-replayable in ANSI SQL so the whole pipeline sits
under the DuckDB oracle gate.

Model (bigram, discount D, vocab capped at V by frequency):

* tokens  = ``\\S+`` of the lowercased text, ``<s>`` prepended per doc;
  tokens outside the top-V vocabulary map to ``<unk>`` (so the model
  is closed over vocab ∪ {<s>, <unk>} and OOV scoring is exact, not a
  floor constant)
* ``c(w1,w2)``     bigram counts over mapped tokens
* ``ctx(w1)``      = Σ_w2 c(w1,w2)   (context counts, per Chen–Goodman)
* ``nfollow(w1)``  = |{w2 : c(w1,w2) > 0}|
* ``pcont(w2)``    = (N1+(·w2) + 1) / (T + V')   — continuation
  probability with add-one over the V' predictable types (vocab ∪
  {<unk>}; ``<s>`` is context-only), so every in-vocab w2 has mass even
  when the training corpus never produced an ``<unk>`` (the zero-prob
  hole a raw KN estimate has on fully-covered training sets)
* P(w2|w1) = max(c−D,0)/ctx(w1) + D·nfollow(w1)/ctx(w1) · pcont(w2)
  for a known context; an unseen context backs off to pcont(w2).

Perplexity(doc) = exp(−mean log P) over the doc's bigrams.

Scale design: training is one map-only pair explode (zip of the token
array with its own shift — no positional self-join) + one
``groupBy(w1,w2)`` shuffle that is O(corpus tokens) map-side-combined
into O(bigram types); the vocabulary is a bounded top-V driver list
(V ≤ ~10⁵) applied via broadcast joins, never a codegen literal array.
Scoring never shuffles the corpus: each model table joins broadcast
(bigram table bounded by observed types; at vocabularies where it
outgrows broadcast, drop the hint and AQE shuffles on the (w1,w2)
key) and the only corpus-side shuffle is the per-doc partial-agg mean.

Reference anchor: the reference scores quality through model UDFs
(functions/huggingface.py) and has no in-engine LM; this is the
training-pipeline extension the task brief asks for, following the
public CCNet/KenLM design (Wenzek et al. 2020; Heafield 2011).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import spread

BOS = "<s>"
UNK = "<unk>"


@dataclasses.dataclass(frozen=True)
class KNBigramModel:
    """The trained model: three small DataFrames + scalars. All three
    are bounded by *type* counts (not corpus size) and are cached by
    ``train_kn_bigram`` so scoring re-reads plans, not recomputes."""

    bigrams: DataFrame    # (w1, w2, c)
    contexts: DataFrame   # (w1, ctx, nfollow)
    pcont: DataFrame      # (w2, pc)  — covers vocab ∪ {<unk>}
    vocab: DataFrame      # (tok,)    — top-V, excludes <s>/<unk>
    discount: float


def _tokens(text_col: str) -> F.Column:
    """Lowercased ``\\S+`` tokens with ``<s>`` prepended (matches the
    engine-wide token_count contract: regexp extraction, no
    trim-then-split ASCII-space trap)."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
    return F.concat(F.array(F.lit(BOS)), toks)


def _pairs(arr: F.Column) -> F.Column:
    """Consecutive (w1, w2) pairs of a token array — map-only zip of
    the array with its own shift, no positional self-join."""
    n = F.size(arr)
    return F.zip_with(F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1),
                      lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))


def _map_unk(df: DataFrame, col: str, vocab: DataFrame) -> DataFrame:
    """Map one token column to vocab ∪ {<unk>} via a broadcast join
    (never a codegen literal list — vocabularies are 10⁴–10⁵ entries).
    ``<s>`` is reserved and passes through."""
    v = F.broadcast(vocab.withColumnRenamed("tok", f"__v_{col}"))
    return (df.join(v, df[col] == F.col(f"__v_{col}"), "left")
            .withColumn(col, F.when(F.col(col) == BOS, F.lit(BOS))
                             .when(F.col(f"__v_{col}").isNotNull(),
                                   F.col(col))
                             .otherwise(F.lit(UNK)))
            .drop(f"__v_{col}"))


def train_kn_bigram(train_df: DataFrame, text_col: str = "text",
                    vocab_size: int = 1000,
                    discount: float = 0.75) -> KNBigramModel:
    """Train the model on a reference corpus in ONE corpus pass (the
    raw bigram-count aggregation); the vocabulary, the <unk>-mapped
    counts, and the smoothing statistics all reduce the types-bounded
    counts table. Deterministic on any partitioning (vocab tie-break:
    count DESC, token ASC)."""
    spark = train_df.sparkSession
    raw = spread(train_df).select(
        F.explode(_pairs(_tokens(text_col))).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # ONE corpus pass: raw (unmapped) bigram counts, materialized once
    # (eager localCheckpoint truncates the lineage); the vocabulary,
    # the <unk>-mapped counts, and every derived table then reduce the
    # types-bounded counts table, never the corpus again
    raw_counts = (raw.groupBy("w1", "w2")
                  .agg(F.count(F.lit(1)).alias("c"))
                  # lazy: the vocab collect below is a full re-aggregation
                  # of raw_counts (its TakeOrdered computes every
                  # partition), so that one action also materializes the
                  # checkpoint — no separate materialization job
                  .localCheckpoint(eager=False))
    # top-V vocabulary from predicted-position counts (w2 covers every
    # token except the prepended <s>, which is reserved); collected to
    # the driver — at V ≤ ~10⁵ that is the memory a broadcast of it
    # costs anyway, and it makes the <unk>-map joins local-relation
    # broadcasts instead of re-executed plan chains
    vocab_rows = (raw_counts.groupBy(F.col("w2").alias("tok"))
                  .agg(F.sum("c").alias("c"))
                  .orderBy(F.col("c").desc(), F.col("tok"))
                  .limit(int(vocab_size)).select("tok").collect())
    from ..localframe import local_df
    vocab = local_df(spark, vocab_rows, "tok string",
                     literal_threshold=2048) \
        if vocab_rows else spark.createDataFrame([], "tok string")
    # <unk>-mapped bigram counts: re-aggregate the COUNTS table under
    # the mapping — O(raw bigram types), zero corpus work. The vocab
    # collect above materialized raw_counts, so the checkpoint and its
    # count reduce a bounded, already-checkpointed types table: they
    # plan narrowed (AQE off + raw_counts' own materialized width) —
    # with AQE on, these few-row aggregations cost ~10 stage-jobs plus
    # driver replanning gaps per training call. The model's tables go
    # back to this session: later user queries read them under AQE.
    from ..tinyplan import materialized_width, narrow
    counts = narrow(raw_counts, materialized_width(raw_counts))
    bigrams = (_map_unk(_map_unk(counts, "w1", vocab), "w2", vocab)
               .groupBy("w1", "w2").agg(F.sum("c").alias("c"))
               # lazy: n_types = bigrams.count() below materializes it
               .localCheckpoint(eager=False))
    # continuation counts + add-one over the predictable types
    n_types = bigrams.count()
    bigrams = narrow(bigrams, None)
    contexts = bigrams.groupBy("w1").agg(
        F.sum("c").alias("ctx"), F.count(F.lit(1)).alias("nfollow"))
    v_pred = len(vocab_rows) + 1  # vocab ∪ {<unk>}
    pcont_counts = (bigrams.groupBy("w2")
                    .agg(F.count(F.lit(1)).alias("n1")))
    pcont = (vocab.select(F.col("tok").alias("w2"))
             .unionByName(local_df(spark, [(UNK,)], "w2 string"))
             .join(F.broadcast(pcont_counts), "w2", "left")
             .select("w2",
                     ((F.coalesce(F.col("n1"), F.lit(0)) + F.lit(1))
                      / F.lit(float(n_types + v_pred))).alias("pc")))
    return KNBigramModel(bigrams=bigrams, contexts=contexts,
                         pcont=pcont, vocab=vocab,
                         discount=float(discount))


def kn_perplexity(df: DataFrame, model: KNBigramModel,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document perplexity under the model: (id, ppl, n_bigrams).
    Documents with no tokens still yield one (<s>, <unk>)-free bigram?
    No — a token-less doc has only the prepended ``<s>`` and no
    bigrams, so it is absent from the output (same cardinality
    contract as ngram_lm_score: left-join to keep them)."""
    d = model.discount
    pairs = spread(df).select(
        F.col(id_col),
        F.explode(_pairs(_tokens(text_col))).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    mapped = _map_unk(_map_unk(pairs, "w1", model.vocab), "w2",
                      model.vocab)
    j = (mapped
         .join(F.broadcast(model.bigrams), ["w1", "w2"], "left")
         .join(F.broadcast(model.contexts), ["w1"], "left")
         .join(F.broadcast(model.pcont), ["w2"], "left"))
    known = (F.greatest(F.coalesce(F.col("c"), F.lit(0)) - F.lit(d),
                        F.lit(0.0)) / F.col("ctx")
             + F.lit(d) * F.col("nfollow") / F.col("ctx") * F.col("pc"))
    logp = F.when(F.col("ctx").isNull(), F.log(F.col("pc"))) \
            .otherwise(F.log(known))
    return (j.groupBy(id_col)
            .agg(F.round(F.exp(-F.avg(logp)), 4).alias("ppl"),
                 F.count(F.lit(1)).alias("n_bigrams")))


def perplexity_buckets(scored: DataFrame, id_col: str = "doc_id",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet's corpus partition: rank documents by perplexity and cut
    into equal-frequency buckets (1 = head / lowest-ppl ... n = tail).
    NTILE over a tie-free (ppl, id) order — deterministic across
    engines and partitionings. One window over the scored docs (the
    scored table is one row per doc — tiny next to the corpus; at 10⁹
    docs swap NTILE for a percentile_approx two-pass if the single
    window's sort shuffle ever shows up in profiles)."""
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("ppl"), F.col(id_col))
    return scored.select(id_col, "ppl", "n_bigrams",
                         F.ntile(n_buckets).over(w).alias("bucket"))
