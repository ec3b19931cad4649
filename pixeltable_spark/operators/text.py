"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Every function here returns/produces native Spark Columns — pure JVM
expressions (regexp/length/md5), no Python in the hot path, so they run at
full codegen speed over 100 TB of documents. Regexes are restricted to the
Java-regex ∩ RE2 common subset so the DuckDB oracle computes identical
values.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def spread(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Ensure a compute-heavy per-row stage (token/shingle explode, hash
    batteries, codec work) gets cluster-wide parallelism even when the
    scan produced few splits (a handful of small files — common for
    testdata and fresh ingests). Repartitions to defaultParallelism ONLY
    when the input has fewer than parallelism/min_factor partitions: at
    real corpus scale a scan already has thousands of splits, so this is
    a no-op there, while on a 1-file input the one cheap shuffle of raw
    rows unlocks a 32x-parallel explode stage that would otherwise run
    on a single core."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Converting to RDD to count partitions forces physical planning and,
    # under AQE, can eagerly run shuffle stages of a complex upstream plan
    # just to learn the count. But any plan containing a wide node already
    # has >= spark.sql.shuffle.partitions partitions — spread would be a
    # no-op there. Only scan+narrow plans (where getNumPartitions is a
    # safe, job-free metadata call) can be underparallelized.
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001
        plan = ""
    wide_markers = ("Join", "Aggregate", "Window", "Distinct", "Repartition",
                    "Sort", "FlatMapGroups", "CoGroup")
    if any(m in plan for m in wide_markers):
        return df
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df

# language -> characteristic stopwords (tiny deterministic n-gram-style
# heuristic; the point is the operator shape, not linguistic accuracy)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "en"],
}


def _stopword_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def stopword_count(text: Column, lang: str = "en") -> Column:
    return F.regexp_count(F.lower(text), F.lit(_stopword_pattern(LANG_STOPWORDS[lang])))


def token_count(text: Column) -> Column:
    """Whitespace tokenization count = number of \\S+ runs, via
    regexp_count: one codegen regex pass. NOT trim-then-split (Spark's
    `trim` strips ASCII spaces only, so a '\\n\\t \\n' doc would count 2
    phantom empty tokens) and NOT filter-after-split (F.filter is an
    interpreted HOF that re-evaluates the split per element — measured
    2.5x on the q89 curation pipeline). NULL text -> NULL."""
    return F.regexp_count(text, F.lit(r"\S+")).cast(T.LongType())


def word_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: alpha runs + digit runs + single punct marks."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))).cast(T.LongType())


def char_count(text: Column) -> Column:
    return F.length(text).cast(T.LongType())


def punct_ratio(text: Column) -> Column:
    """Fraction of characters in a fixed punctuation set. 0.0 for empty
    text (guarded: Spark 4 runs ANSI mode, where 0/0 kills the job —
    and any real crawl shard contains empty docs)."""
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    return F.when(F.length(text) > 0,
                  punct.cast(T.DoubleType()) / F.length(text)) \
        .when(text.isNotNull(), F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Stopword tokens / whitespace tokens; 0.0 for empty/whitespace-only
    text (ANSI divide-by-zero guard)."""
    n_tok = token_count(text)
    return F.when(n_tok > 0,
                  stopword_count(text, lang).cast(T.DoubleType()) / n_tok) \
        .when(text.isNotNull(), F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    """Mean whitespace-token length; NULL for empty/whitespace-only text
    (undefined — there are no words; ANSI divide-by-zero guard)."""
    n_tok = token_count(text)
    no_space = F.length(F.regexp_replace(text, r"\s+", ""))
    return F.when(n_tok > 0, no_space.cast(T.DoubleType()) / n_tok)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1]: length band + stopword
    presence - punctuation excess. Deterministic, engine-portable.
    Empty/whitespace-only docs score the out-of-band floor 0.1 (the same
    value the len_score band assigns them; with guarded ratios the
    composite reduces to exactly that)."""
    n_tok = token_count(text)
    len_score = F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(0.5)).otherwise(F.lit(0.1))
    stop_score = F.least(stopword_ratio(text) * F.lit(2.0), F.lit(0.3))
    punct_pen = F.least(punct_ratio(text) * F.lit(2.0), F.lit(0.2))
    # NULL text -> NULL score (F.least SKIPS nulls, so without the guard
    # a NULL doc would score 0.1+0.3-0.2=0.2 — a phantom quality signal)
    return F.when(text.isNotNull(),
                  F.round(len_score + stop_score - punct_pen, 6))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_count(text, lang) for lang in LANG_STOPWORDS}


def lang_id(text: Column) -> Column:
    """Model-based language id (13 languages): hashed char 1/2/3-gram
    Naive Bayes trained on the in-repo seed corpus, scored pure-JVM —
    see operators/langid.py. 'und' for empty/whitespace-only text.
    (Replaced the 4-language stopword-count heuristic in round 7; the
    old behavior survives as lang_scores for quality metrics.)"""
    from .langid import lang_id as _model_lang_id
    return _model_lang_id(text)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the content-defined identity used for exact dedup at scale."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def with_text_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach the full metric set as columns. Language id
    uses the Arrow-batched UDF path (bit-exact with the scalar/table
    paths; the scalar HOF expression is interpreted per gram and ~100x
    slower per row — see langid.lang_id_udf)."""
    from .langid import lang_id_udf
    c = F.col(text_col)
    return (
        spread(df).withColumn("n_tokens", token_count(c))
        .withColumn("n_chars_m", char_count(c))
        .withColumn("punct_ratio", punct_ratio(c))
        .withColumn("stopword_ratio", stopword_ratio(c))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_pred", lang_id_udf(c))
        .withColumn("fingerprint", fingerprint(c))
    )


# ---------------------------------------------------------------------------
# repetition-based quality signals (Gopher rules 4-8: "repetitious documents
# are low quality" — Rae et al. 2021 §A1.1, public)
# ---------------------------------------------------------------------------

def shingle_array(text: Column, n: int) -> Column:
    """All word n-grams of the lowercased text in order, WITH repeats
    (array<string>). zip_with-of-shifted-selves formulation — O(tokens)
    per row; see dedup.word_shingles for why transform(sequence(...))
    degenerates to O(tokens^2) under projection collapse."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    if n == 1:
        return toks
    # binary doubling: gram_2k = zip_with(gram_k, shift(gram_k, k)) — builds
    # n-grams in O(log n) zip_with passes instead of n-1 (for n=10: 4 lambda
    # projections, not 9; the passes dominate span/shingle operators' scans)
    pows = {1: toks}
    k = 1
    while k * 2 <= n:
        pows[k * 2] = F.zip_with(
            pows[k], F.slice(pows[k], k + 1, 1 << 30),
            lambda a, b: F.concat(a, F.lit(" "), b))
        k *= 2
    # greedy binary decomposition of n, largest chunk first
    rem = n
    sh = None
    off = 0
    for p in sorted(pows, reverse=True):
        while p <= rem:
            part = pows[p] if off == 0 else F.slice(pows[p], off + 1, 1 << 30)
            sh = part if sh is None else F.zip_with(
                sh, part, lambda a, b: F.concat(a, F.lit(" "), b))
            off += p
            rem -= p
    # zip_with pads the shorter side with null -> drop the null tail
    return F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document word-n-gram repetition signals:

    * ``dup_ngram_frac`` — fraction of n-gram OCCURRENCES that are repeats
      of an earlier occurrence (1 - distinct/total).
    * ``top_ngram_frac`` — fraction of all n-gram occurrences taken by the
      most frequent n-gram (the max count is unique even under ties, so
      the value is deterministic and oracle-checkable).

    Plan: one explode -> one groupBy(doc, ngram) with map-side partial
    counts -> one groupBy(doc). Shuffle volume is distinct n-grams per doc,
    never raw text; AQE handles boilerplate-heavy skew. A filter on either
    fraction composes as a plain post-aggregation predicate.

    Cardinality contract: docs with fewer than ``n`` tokens have no
    n-grams and are ABSENT from the output (inner explode — same as the
    SQL oracle). Consumers that need every doc must left-join and
    coalesce (gopher_filter does exactly this).
    """
    grams = shingle_array(F.col(text_col), n)
    exploded = spread(df).select(F.col(id_col), F.explode(grams).alias("ngram"))
    per_gram = exploded.groupBy(id_col, "ngram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            (1.0 - F.count(F.lit(1)) / F.sum("c")).alias("dup_ngram_frac"),
            (F.max("c") / F.sum("c")).alias("top_ngram_frac"),
        )
    )


def duplicate_line_stats(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         sep: str = "\n") -> DataFrame:
    """Per-document duplicate-line signals (Gopher rules 1-2):

    * ``dup_line_frac`` — fraction of non-empty lines that repeat an
      earlier line.
    * ``dup_line_char_frac`` — fraction of line characters inside repeated
      occurrences (each line's chars beyond its first occurrence).

    Same two-aggregation shape — and the same cardinality contract —
    as :func:`repetition_stats`: docs with no non-empty lines are
    absent from the output (left-join + coalesce to keep them).
    """
    lines = (
        spread(df).select(F.col(id_col),
                  F.explode(F.split(F.col(text_col), sep)).alias("line"))
        .where(F.trim("line") != "")
    )
    per_line = lines.groupBy(id_col, "line").agg(
        F.count(F.lit(1)).alias("c"), F.length("line").alias("len"))
    return (
        per_line.groupBy(id_col)
        .agg(
            (1.0 - F.count(F.lit(1)) / F.sum("c")).alias("dup_line_frac"),
            (F.sum((F.col("c") - 1) * F.col("len"))
             / F.sum(F.col("c") * F.col("len"))).alias("dup_line_char_frac"),
        )
    )


def dedup_segments(text: Column, sep: str = "\n") -> Column:
    """Within-document repetition REMOVAL (the transform counterpart of
    duplicate_line_stats — the C4 "drop repeated lines/paragraphs
    inside a page" cleanup): split on `sep`, drop empty segments, keep
    each segment's FIRST occurrence (exact match), rejoin. Pure JVM
    column math — split / filter / array_distinct / array_join, no
    Python — so it runs map-only at any corpus size. Spark's
    array_distinct preserves first-occurrence order, which is exactly
    the semantics wanted."""
    segs = F.filter(F.split(text, sep), lambda s: F.trim(s) != "")
    return F.array_join(F.array_distinct(segs), sep)


# ---------------------------------------------------------------------------
# character-n-gram LM quality score (the CCNet/Wenzek et al. 2019
# perplexity-filter design, public — with a char-n-gram model standing in
# for KenLM so the whole pipeline is engine-native and oracle-checkable)
# ---------------------------------------------------------------------------

def _char_ngrams(text: Column, n: int) -> Column:
    """All char n-grams of the whitespace-normalized lowercased text.
    Same zip-with-shifted-selves trick as shingle_array (a
    transform(sequence, i -> substr(norm, i, n)) formulation re-inlines
    the normalization regex into every element under projection collapse
    — O(len^2) per doc)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    chars = F.split(norm, "")
    sh = chars
    for j in range(1, n):
        sh = F.zip_with(sh, F.slice(chars, j + 1, 1 << 30),
                        lambda a, b: F.concat(a, b))
    return F.slice(sh, 1, F.greatest(F.length(norm) - (n - 1), F.lit(0)))


def ngram_lm_train(train_df: DataFrame, text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """Train a char-n-gram language model: (gram, logp) with
    logp = ln(count / total). The model's size is bounded by the charset
    (not the corpus), so it broadcasts — training is one explode + one
    groupBy however large the reference corpus is."""
    grams = spread(train_df).select(
        F.explode(_char_ngrams(F.col(text_col), n)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    return (counts.crossJoin(F.broadcast(total))
            .select("gram", F.log(F.col("c") / F.col("t")).alias("logp")))


def ngram_lm_score(df: DataFrame, model: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3,
                   oov_logp: float = -20.0) -> DataFrame:
    """Score each document by the average log-probability of its char
    n-gram occurrences under the model (out-of-vocabulary grams get the
    ``oov_logp`` floor). Low scores = distributionally unusual text — the
    CCNet quality gate.

    Plan: explode grams -> broadcast-join the (small) model -> one
    groupBy(doc). The corpus-side shuffle is per-doc partial averages
    only (map-side agg); the model never shuffles.

    Cardinality contract (same as repetition_stats): docs too short to
    produce a single char n-gram are absent from the output — left-join
    and coalesce to treat them as unscorable-keep or -drop."""
    grams = spread(df).select(F.col(id_col),
                      F.explode(_char_ngrams(F.col(text_col), n)).alias("gram"))
    joined = grams.join(F.broadcast(model), on="gram", how="left")
    return (joined.groupBy(id_col)
            .agg(F.avg(F.coalesce(F.col("logp"), F.lit(oov_logp)))
                 .alias("lm_score"),
                 F.count(F.lit(1)).alias("n_grams_scored")))


# ---------------------------------------------------------------------------
# sequence packing (the GPT-2/3 concat-then-chunk batching layout, public)
# ---------------------------------------------------------------------------

def pack_documents(df: DataFrame, tokens_per_bin: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   n_streams: int = 64) -> DataFrame:
    """Assign each document a (stream, bin, offset) slot for fixed-size
    training sequences: documents are concatenated in deterministic order
    and chunked every `tokens_per_bin` tokens (the GPT-style packing —
    a doc may straddle a bin boundary; the tokenizer's EOS handles it).

    Distribution: docs hash to `n_streams` independent packing streams
    (md5 of the id — deterministic, skew-proof), and within a stream the
    layout is one window cumsum ordered by id. ONE shuffle on the stream
    key however large the corpus; each stream's bins are filled exactly,
    so padding waste is bounded by the straddling policy, not by doc
    order. Output: id, n_tokens, stream, bin, offset.
    """
    from pyspark.sql import Window as W

    toks = token_count(F.col(text_col)).alias("n_tokens")
    stream = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                     16, 10).cast("long") % n_streams).alias("stream")
    base = spread(df).select(F.col(id_col), toks, stream)
    w = (W.partitionBy("stream").orderBy(id_col)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__start")
    return (base.select(id_col, "n_tokens", "stream", start)
            .select(id_col, "n_tokens", "stream",
                    F.floor(F.col("__start") / tokens_per_bin)
                    .cast("long").alias("bin"),
                    (F.col("__start") % tokens_per_bin).alias("offset")))


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. NeurIPS'23 "Data Selection for Language
# Models via Importance Resampling", public): score raw documents by the
# log-likelihood ratio of a target-domain feature model vs the raw-corpus
# feature model over hashed word-unigram features. High scores = "looks
# like the target domain"; sampling proportional to the weights selects
# pretraining data matching a small high-quality target set.
# ---------------------------------------------------------------------------

def hashed_word_features(text: Column, n_buckets: int = 4096) -> Column:
    """Word-unigram features hashed into ``n_buckets`` via md5 (engine-
    portable: DuckDB reproduces the bucket ids bit-for-bit). Returns
    array<int> with repeats (occurrence counts matter)."""
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")
    return F.transform(
        toks,
        lambda t: (F.conv(F.substring(F.md5(t), 1, 14), 16, 10)
                   .cast("long") % n_buckets).cast("int"),
    )


def dsir_model(raw_df: DataFrame, target_df: DataFrame,
               text_col: str = "text", n_buckets: int = 4096,
               smoothing: float = 1.0) -> DataFrame:
    """Train the importance model: per-bucket log(p_target / p_raw) with
    add-``smoothing`` Laplace estimates so unseen buckets stay finite.

    Both passes are explode -> groupBy(bucket): shuffle volume is bounded
    by ``n_buckets`` per map partition (map-side partial agg), so the
    model costs one scan of each corpus regardless of size, and the
    result (<= n_buckets rows) broadcasts for scoring."""
    def _counts(df: DataFrame, name: str) -> DataFrame:
        return (df.select(F.explode(hashed_word_features(F.col(text_col),
                                                         n_buckets))
                          .alias("bucket"))
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias(name)))

    tgt, raw = _counts(target_df, "c_target"), _counts(raw_df, "c_raw")
    joined = tgt.join(raw, on="bucket", how="full_outer").select(
        "bucket",
        F.coalesce("c_target", F.lit(0)).alias("c_target"),
        F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
    )
    tot = joined.agg(F.sum("c_target").alias("t_target"),
                     F.sum("c_raw").alias("t_raw"))
    s, b = float(smoothing), float(n_buckets)
    return (joined.crossJoin(F.broadcast(tot))
            .select("bucket",
                    (F.log((F.col("c_target") + s)
                           / (F.col("t_target") + s * b))
                     - F.log((F.col("c_raw") + s)
                             / (F.col("t_raw") + s * b))).alias("log_ratio")))


def dsir_score(df: DataFrame, model: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n_buckets: int = 4096) -> DataFrame:
    """Per-document importance weight: mean per-token log-ratio (the
    length-normalized variant, so long documents are not favored merely
    for having more tokens). Plan: explode features -> broadcast-join
    the <=n_buckets model -> one groupBy(doc) with map-side partials.
    Returns (id_col, dsir_score, n_tokens)."""
    feats = spread(df).select(
        F.col(id_col),
        F.explode(hashed_word_features(F.col(text_col), n_buckets))
        .alias("bucket"))
    return (feats.join(F.broadcast(model), on="bucket", how="left")
            .groupBy(id_col)
            .agg(F.avg(F.coalesce("log_ratio", F.lit(0.0))).alias("dsir_score"),
                 F.count(F.lit(1)).alias("n_tokens")))


# ---------------------------------------------------------------------------
# composite Gopher quality filter (Rae et al. 2021 §A1.1, the full rule
# set as one operator — the shape users actually run)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@lru_cache(maxsize=16)
def _gopher_base_exprs(text_col: str):
    """The df-independent Gopher signal expressions for one text column
    — (n_words, mean_word_len, symbol_ratio, alpha_word_frac,
    n_stopword_kinds). Building the HOF-lambda forest costs ~0.3 s of
    driver py4j per call; Columns are immutable values, so the set is
    cacheable per column name (wave-6 dedup-cache pattern)."""
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")
    n_words = F.size(toks)
    mean_wl = (F.aggregate(toks, F.lit(0).cast("long"),
                           lambda acc, t: acc + F.length(t)).cast("double")
               / F.greatest(n_words, F.lit(1)))
    n_symbols = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    symbol_ratio = n_symbols.cast("double") / F.greatest(n_words, F.lit(1))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = alpha_words.cast("double") / F.greatest(n_words, F.lit(1))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
    return n_words, mean_wl, symbol_ratio, alpha_frac, n_stop


def gopher_filter(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  min_words: int = 50, max_words: int = 100_000,
                  min_mean_word_len: float = 3.0,
                  max_mean_word_len: float = 10.0,
                  max_symbol_ratio: float = 0.1,
                  min_alpha_word_frac: float = 0.8,
                  min_stopwords: int = 2,
                  max_dup_line_frac: float = 0.3,
                  max_top_ngram_frac: float = 0.2,
                  ngram_n: int = 2) -> DataFrame:
    """Per-document Gopher rule verdicts + the combined keep flag:
    (id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
    n_stopword_kinds, dup_line_frac, top_ngram_frac,
    ok_* per rule, keep).

    Everything except the two repetition signals is a map-only JVM
    projection over one scan; the repetition signals come from
    repetition_stats/duplicate_line_stats (each one explode + two
    aggregations) joined back on the id — so the full filter is the scan
    plus two keyed aggregations however large the corpus, and `keep`
    pushes down as a filter on the joined result."""
    n_words, mean_wl, symbol_ratio, alpha_frac, n_stop = \
        _gopher_base_exprs(text_col)

    base = spread(df).select(
        F.col(id_col),
        n_words.alias("n_words"), mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"), alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopword_kinds"))
    rep = repetition_stats(df, text_col, id_col, n=ngram_n) \
        .select(id_col, "top_ngram_frac")
    lines = duplicate_line_stats(df, text_col, id_col) \
        .select(id_col, "dup_line_frac")
    j = (base.join(rep, id_col, "left").join(lines, id_col, "left")
         .withColumn("top_ngram_frac",
                     F.coalesce("top_ngram_frac", F.lit(0.0)))
         .withColumn("dup_line_frac", F.coalesce("dup_line_frac", F.lit(0.0))))
    rules = {
        "ok_n_words": (F.col("n_words") >= min_words)
                      & (F.col("n_words") <= max_words),
        "ok_word_len": (F.col("mean_word_len") >= min_mean_word_len)
                       & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbols": F.col("symbol_ratio") <= max_symbol_ratio,
        "ok_alpha": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "ok_stopwords": F.col("n_stopword_kinds") >= min_stopwords,
        "ok_dup_lines": F.col("dup_line_frac") <= max_dup_line_frac,
        "ok_top_ngram": F.col("top_ngram_frac") <= max_top_ngram_frac,
    }
    # one withColumns call (8 sequential withColumn plan-wraps cost a
    # py4j round trip + plan node each); `keep` ANDs the rule
    # expressions directly — same rows, same values
    keep = F.lit(True)
    for cond in rules.values():
        keep = keep & cond
    return j.withColumns({**rules, "keep": keep})


# ---------------------------------------------------------------------------
# mixture sampling (the DoReMi/Pile-style static data-mixing step: given
# per-domain sampling rates, draw a deterministic training mix)
# ---------------------------------------------------------------------------

def mixture_sample(df: DataFrame, rates: dict, domain_col: str = "source",
                   id_col: str = "doc_id", seed: int = 0,
                   default_rate: float = 0.0) -> DataFrame:
    """Keep each row independently with its domain's rate, using the
    engine's md5-keyed deterministic coin (same construction as
    SampleClause: the 16-hex prefix of md5(seed ___ id) is uniform on
    [0, 16^16)): row kept iff prefix <= rate-threshold. Map-only — the
    filter composes with the scan and pushes down; re-running with the
    same seed reproduces the mix exactly on any cluster, which is what
    makes training mixes auditable. Domains absent from `rates` fall to
    ``default_rate``."""
    from ..plans.query import SampleClause
    key = F.substring(
        F.md5(F.concat_ws("___", F.lit(str(seed)),
                          F.col(id_col).cast("string"))), 1, 16)
    expr = F.lit(SampleClause.fraction_to_md5_hex(default_rate))
    for dom, rate in sorted(rates.items()):
        expr = F.when(F.col(domain_col) == dom,
                      F.lit(SampleClause.fraction_to_md5_hex(float(rate)))
                      ).otherwise(expr)
    return df.filter(key <= expr)


def vocab_divergence(df_a: DataFrame, df_b: DataFrame,
                     text_col: str = "text",
                     smoothing: float = 0.5) -> DataFrame:
    """Corpus distribution drift: Jensen-Shannon divergence between two
    corpora's unigram term distributions (plus token/vocab size stats) —
    the standard check that a new crawl / a held-out split matches the
    training distribution. Add-k smoothed over the UNION vocabulary:

        p_t = (count_a(t) + k) / (tokens_a + k * |V|)   (q_t likewise)
        JS  = 0.5 * sum p ln(p/m) + 0.5 * sum q ln(q/m),  m = (p+q)/2

    JS is bounded by ln 2, symmetric, finite even for disjoint vocab.
    Output: one row (js_divergence, tokens_a, tokens_b, vocab_a,
    vocab_b, vocab_union).

    100 TB design: each corpus reduces to its vocabulary-sized term
    counts (one explode + map-side-combined groupBy per side); the
    full-outer term join, the scalar totals (broadcast-crossed), and
    the final sum are all aggregate-sized. No driver math."""
    def counts(d: DataFrame, name: str) -> DataFrame:
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        return (spread(d).select(F.explode(toks).alias("term"))
                .filter(F.col("term") != "")
                .groupBy("term").agg(F.count("*").alias(name)))
    ca, cb = counts(df_a, "ca"), counts(df_b, "cb")
    joined = (ca.join(cb, "term", "full_outer")
              .select(F.coalesce("ca", F.lit(0)).alias("ca"),
                      F.coalesce("cb", F.lit(0)).alias("cb")))
    totals = joined.agg(
        F.sum("ca").alias("tokens_a"), F.sum("cb").alias("tokens_b"),
        F.count(F.when(F.col("ca") > 0, F.lit(1))).alias("vocab_a"),
        F.count(F.when(F.col("cb") > 0, F.lit(1))).alias("vocab_b"),
        F.count("*").alias("vocab_union"))
    k = float(smoothing)
    src = joined.crossJoin(F.broadcast(totals))
    p = (F.col("ca") + k) / (F.col("tokens_a") + k * F.col("vocab_union"))
    q = (F.col("cb") + k) / (F.col("tokens_b") + k * F.col("vocab_union"))
    m = (p + q) / 2.0
    contrib = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    return (src.agg(F.sum(contrib).alias("__js"),
                    F.first("tokens_a").alias("tokens_a"),
                    F.first("tokens_b").alias("tokens_b"),
                    F.first("vocab_a").alias("vocab_a"),
                    F.first("vocab_b").alias("vocab_b"),
                    F.first("vocab_union").alias("vocab_union"))
            .select(F.round("__js", 6).alias("js_divergence"),
                    "tokens_a", "tokens_b", "vocab_a", "vocab_b",
                    "vocab_union"))


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 low_threshold: float = 2.0) -> DataFrame:
    """Per-document Shannon entropy (nats) of the character
    distribution — the classic low-information filter (repetitive spam,
    '=====' separators, single-char floods score near 0; natural text
    sits ~3-4 nats). Output: (id, n_chars, entropy, is_low).

    One explode + one (doc, char) aggregate with map-side combine
    (shuffle bounded by docs x alphabet, not text volume), then a
    per-doc rollup on the SAME key distribution — no second exchange.
    Empty docs get entropy 0."""
    d = spread(df)
    ch = (d.select(F.col(id_col), F.length(text_col).alias("__n"),
                   F.explode(F.split(F.col(text_col), "(?!^)"))
                   .alias("__c"))
          # split(limit=-1) keeps the trailing empty match: drop the
          # phantom "" char or every doc gains a 1/n entropy term
          .filter(F.col("__c") != "")
          .groupBy(id_col, "__c")
          .agg(F.count("*").alias("__cnt"), F.first("__n").alias("__n")))
    p = F.col("__cnt") / F.col("__n")
    per_doc = (ch.groupBy(id_col)
               .agg(F.round(F.sum(-(p * F.log(p))), 6).alias("entropy"),
                    F.first("__n").alias("n_chars")))
    # docs with empty/NULL text never explode: re-attach with 0 entropy
    base = df.select(F.col(id_col),
                     F.coalesce(F.length(text_col), F.lit(0))
                     .alias("__len"))
    out = (base.join(per_doc, id_col, "left")
           .select(F.col(id_col),
                   F.col("__len").alias("n_chars"),
                   F.coalesce("entropy", F.lit(0.0)).alias("entropy")))
    return out.withColumn("is_low", F.col("entropy") < low_threshold)


def collocations(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 20,
                 min_count: int = 5) -> DataFrame:
    """Corpus collocations: the k adjacent word pairs with the highest
    PMI, ``ln(N_pairs * c(a,b) / (c_left(a) * c_right(b)))`` — the
    classic collocation statistic (Church & Hanks 1990), with unigram
    marginals counted over the SAME pair positions (left/right of each
    bigram) so the distribution is properly normalized. ``min_count``
    drops rare pairs whose PMI is pure noise (hapax pairs always top an
    unfiltered PMI list). Round-before-rank + pair tiebreak.

    One explode of word bigrams (zip_with of the token array against
    its own tail — no self-join), one pair aggregate with map-side
    combine; the marginals are vocabulary-sized rollups of the pair
    table itself, joined back broadcast."""
    if k < 1:
        raise ValueError("collocations: k must be >= 1")
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda x: x != "")
    bi = F.zip_with(F.slice(toks, 1, F.greatest(F.size(toks) - 1,
                                                F.lit(0))),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1,
                                                F.lit(0))),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    pairs = (df.select(F.explode(bi).alias("p"))
             .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .groupBy("a", "b").agg(F.count("*").alias("n_ab")))
    left = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    right = pairs.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    total = pairs.agg(F.sum("n_ab").alias("n_pairs"))
    pmi = F.round(F.log(F.col("n_pairs") * F.col("n_ab")
                        / (F.col("n_a") * F.col("n_b"))), 6)
    w = Window.orderBy(F.col("pmi").desc(), F.col("a").asc(),
                       F.col("b").asc())
    return (pairs.filter(F.col("n_ab") >= min_count)
            .join(F.broadcast(left), "a")
            .join(F.broadcast(right), "b")
            .crossJoin(F.broadcast(total))
            .select("a", "b", "n_ab", pmi.alias("pmi"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("a", "b", "n_ab", "pmi", "rnk"))


# ---------------------------------------------------------------------------
# C4-style rule battery (Raffel et al. 2020 §2.2, the public "Colossal
# Clean Crawled Corpus" heuristics — the standard web-text cleanup pass)
# ---------------------------------------------------------------------------

_C4_BAD_PHRASES = ("lorem ipsum", "privacy policy", "terms of use",
                   "cookie policy", "uses cookies")


def c4_filter(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", min_words_per_line: int = 3,
              min_kept_lines: int = 1) -> DataFrame:
    """C4 cleanup: per document, keep only lines that end in a terminal
    punctuation mark ('.', '!', '?', '"'), have >= min_words_per_line
    whitespace words, and do not mention javascript; then drop the whole
    document if it contains any boilerplate phrase (lorem ipsum /
    privacy policy / terms of use / cookie policy / uses cookies), a
    curly brace (code), or fewer than min_kept_lines surviving lines.

    Output: (id, n_lines, n_kept_lines, clean_text, keep) where
    clean_text is the kept lines re-joined with newlines (empty string
    when nothing survives).

    Map-only JVM column math: one split + one array filter per row —
    no shuffle, no Python; the per-line lambda runs on the (short) line
    array, not per character. The DuckDB oracle replays every rule."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda ln: F.trim(ln).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"),
                           lambda w: w != "")) >= min_words_per_line)
        & ~F.lower(ln).contains("javascript"))
    low = F.lower(F.col(text_col))
    bad_phrase = None
    for ph in _C4_BAD_PHRASES:
        c = low.contains(ph)
        bad_phrase = c if bad_phrase is None else (bad_phrase | c)
    keep = ((F.size(kept) >= min_kept_lines)
            & ~bad_phrase
            & ~F.col(text_col).contains("{"))
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        keep.alias("keep"))
