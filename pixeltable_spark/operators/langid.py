"""Trainable language identification: hashed char 1/2/3-gram
multinomial Naive Bayes (the classic TextCat / langid.py design —
Cavnar & Trenkle 1994, Lui & Baldwin 2012 — which dominates
gradient-trained linear models in the small-corpus regime: measured
here 99% vs 90% held-out with the same features).

Reference parity: pixeltable exposes language detection through model
UDFs (e.g. functions/huggingface.py text classifiers); this is the
engine-portable equivalent — the model trains once driver-side from the
deterministic in-repo seed corpus (langid_seed.py, original sentences)
and scores fully JVM-side: char 1/2/3-grams -> md5 bucket -> INTEGER
weight sum per language -> argmax. Zero Python in the scoring path,
and integer sums are order-independent, so the python scorer, the
Spark paths, and the DuckDB oracle agree bit-for-bit regardless of
fold order or parallelism.

Training is bounded (a few hundred sentences x n_buckets floats) and
cached per-process; the 100 TB side is the scoring scan, which is one
codegen projection per row.
"""

from __future__ import annotations

import functools
import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .langid_seed import TRAIN

N_BUCKETS = 1024
_ALPHA = 0.5  # Laplace smoothing mass per bucket
MAX_CHARS = 200  # per-doc scoring cap (normalized chars)
# ASCII whitespace, spelled explicitly so Java regex (Spark), RE2
# (DuckDB) and Python agree by construction (\s differs per engine).
_WS = "[ \\t\\n\\r\\f]+"


def normalize(text: str) -> str:
    """Python mirror of the scoring normalization: lower -> collapse
    ASCII whitespace runs to one space -> strip spaces -> cap at
    MAX_CHARS. Collapse-first matters: Spark's and DuckDB's trim() strip
    only ' ', so tabs/newlines must become spaces before the trim for
    all three engines to agree. The cap bounds per-document scoring cost
    (a multi-MB document would otherwise dominate the corpus scan);
    language is homogeneous per document, so ~200 chars (~600 grams) is
    ample signal."""
    return re.sub("[ \t\n\r\f]+", " ",
                  text.lower()).strip(" ")[:MAX_CHARS]


def char_ngrams(text: str) -> list[str]:
    """All char 1/2/3-grams of the space-padded normalized text, in
    order-of-n then position order (the exact order both scoring engines
    reproduce). Padding captures word-boundary grams (' de', 'le ') —
    the strongest function-word signals; short grams generalize to
    held-out text where most trigrams are unseen."""
    nt = normalize(text)
    if not nt:
        return []
    t = " " + nt + " "
    out: list[str] = []
    for n in (1, 2, 3):
        out.extend(t[i:i + n] for i in range(len(t) - n + 1))
    return out


# back-compat alias (pre-round-7 name)
char_trigrams = char_ngrams


@functools.lru_cache(maxsize=1 << 20)
def bucket_of(gram: str, n_buckets: int = N_BUCKETS) -> int:
    h = hashlib.md5(gram.encode("utf-8")).hexdigest()
    return int(h[:14], 16) % n_buckets


@functools.lru_cache(maxsize=4)
def langid_model(n_buckets: int = N_BUCKETS, alpha: float = _ALPHA
                 ) -> tuple[tuple[str, ...], tuple, tuple]:
    """(langs, W, biases): per-language weight rows (n_buckets floats,
    rounded to 6 dp so Spark and SQL literals are identical strings) and
    biases (0.0 — class priors are uniform by construction, the seed
    corpus is balanced). W[k][b] = log P(bucket b | lang k) with
    add-alpha smoothing: closed-form counting in numpy on the seed
    corpus — deterministic, sub-second, cached per-process."""
    import numpy as np

    langs = tuple(sorted(TRAIN))
    K = len(langs)
    C = np.zeros((K, n_buckets), dtype=np.float64)
    for k, lg in enumerate(langs):
        for t in TRAIN[lg]:
            for g in char_ngrams(t):
                C[k, bucket_of(g, n_buckets)] += 1.0
    tot = C.sum(axis=1, keepdims=True)
    W = np.round(np.log((C + alpha) / (tot + alpha * n_buckets)), 6)
    return (langs,
            tuple(tuple(float(v) for v in W[k]) for k in range(K)),
            tuple(0.0 for _ in range(K)))


@functools.lru_cache(maxsize=4)
def _int_weights(n_buckets: int = N_BUCKETS) -> tuple[tuple[str, ...],
                                                      tuple]:
    """(langs, per-lang integer weight rows): the 6-dp log-probs scaled
    by 1e6 to exact integers. ALL scoring paths (python, Spark, DuckDB)
    argmax over INTEGER gram-weight sums — integer addition is
    order-independent and overflow-free here (|w| <= ~2e7, <= ~1e5 grams
    per doc), so the three engines agree bit-for-bit regardless of fold
    order or parallelism, and the SQL oracle can use a fast
    unnest+join+groupBy instead of per-row list folds. Division by gram
    count and the (uniform-prior, zero) bias are constant per row across
    languages, so dropping them never changes the argmax."""
    langs, W, _ = langid_model(n_buckets)
    return langs, tuple(tuple(int(round(v * 1e6)) for v in w) for w in W)


def score_text(text: str, n_buckets: int = N_BUCKETS) -> str:
    """Pure-python scorer (argmax over integer weight sums, first
    language wins ties, 'und' when the text has no n-gram) — the
    held-out-accuracy harness and the semantics both engine paths must
    reproduce."""
    langs, IW = _int_weights(n_buckets)
    grams = char_ngrams(text)
    if not grams:
        return "und"
    bks = [bucket_of(g, n_buckets) for g in grams]
    best, best_s = None, None
    for lg, w in zip(langs, IW):
        s = sum(w[b] for b in bks)
        if best is None or s > best_s:
            best, best_s = lg, s
    return best


def _norm_expr(text: Column) -> Column:
    """Normalized text as a column expression (mirror of normalize())."""
    return F.substring(F.trim(F.regexp_replace(F.lower(text), _WS, " ")),
                       1, MAX_CHARS)


def _grams_from_padded(p: Column, n: Column) -> Column:
    """1/2/3-grams from an ALREADY-MATERIALIZED padded-text column `p`
    (length-of-normalized `n`). The caller must project p/n to real
    columns first: transform() is interpreted, and interpreted
    evaluation re-runs the full child expression tree PER ELEMENT — with
    the normalization inline, that's one regexp_replace per gram
    (measured 23 us/gram; attribute-only substring is ~1 us)."""
    # NB: the transform lambda must take exactly ONE parameter — pyspark
    # binds a two-parameter lambda as (element, index), so a `k=k`
    # default-arg capture silently receives the index Column instead.
    def _sub_k(k: int):
        return lambda i: F.substring(p, i, F.lit(k))

    parts = []
    for k in (1, 2, 3):
        idx = F.sequence(F.lit(1), (n + 2 - k + 1).cast("int"))
        parts.append(F.transform(idx, _sub_k(k)))
    return F.when(n >= 1, F.concat(*parts)) \
        .otherwise(F.array().cast("array<string>"))


def _ngram_strings(text: Column) -> Column:
    """array<string> of all 1/2/3-grams of the padded normalized text,
    same order as :func:`char_ngrams`; empty array for empty/
    whitespace-only text (the 'und' signal). Scalar-path helper — fine
    in a single expression on small data; the corpus path
    (lang_id_table) materializes the padded text first instead."""
    t = _norm_expr(text)
    return _grams_from_padded(F.concat(F.lit(" "), t, F.lit(" ")),
                              F.length(t))


def _bucket_expr(gram: Column, n_buckets: int) -> Column:
    """md5 bucket of one gram as a plain column expression (codegen when
    applied to exploded rows, unlike inside a transform lambda)."""
    return (F.conv(F.substring(F.md5(gram), 1, 14), 16, 10)
            .cast("long") % n_buckets).cast("int")


def _ngram_buckets(text: Column, n_buckets: int) -> Column:
    """array<int> of md5 buckets for all 1/2/3-grams — scalar-path
    helper; the corpus path hashes AFTER exploding (see lang_id_table)
    so the md5 runs codegen'd instead of interpreted per array element."""
    return F.transform(_ngram_strings(text),
                       lambda g: _bucket_expr(g, n_buckets))


@functools.lru_cache(maxsize=64)
def _weight_array(w) -> Column:
    """Integer weight list as ONE Column expression. F.lit(list) builds
    array(*[lit(x) ...]) — 1024 py4j round trips per language, measured
    4-5 s of driver time PER QUERY BUILD across the 8 languages. A single
    F.expr with the SQL array literal is one call; Catalyst's constant
    folding collapses it to the same array Literal. lru-cached on the
    (hashable) weight tuple: parsing the ~6 KB literal still cost
    ~30 ms x 13 languages per build — Columns are immutable values, so
    the cached expression is reusable across every plan in the session."""
    return F.expr("CAST(array(" + ",".join(str(int(v)) for v in w)
                  + ") AS ARRAY<BIGINT>)")


def lang_id(text: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Model-based language id: argmax over the per-language NB scores
    (alphabetically-first language wins exact ties, matching the oracle's
    greatest-first CASE chain); 'und' for empty/whitespace-only text.

    argmax via array_max over (int_score, -index, lang) structs — each
    score expression appears exactly ONCE in the plan. A when-chain
    argmax embeds the running best twice per step, exponentially
    duplicating the 1024-weight aggregates (measured: minutes of
    Catalyst analysis per query before this formulation). Scores are
    integer weight sums (see _int_weights) so the oracle agrees
    bit-for-bit."""
    langs, IW = _int_weights(n_buckets)
    bks = _ngram_buckets(text, n_buckets)
    cnt = F.size(bks)
    entries = []
    for idx, (lg, w) in enumerate(zip(langs, IW)):
        w_arr = _weight_array(w)
        tot = F.aggregate(bks, F.lit(0).cast("long"),
                          lambda acc, b: acc + F.element_at(w_arr, b + 1))
        entries.append(F.struct(tot.alias("s"),
                                F.lit(-idx).alias("r"),
                                F.lit(lg).alias("l")))
    winner = F.array_max(F.array(*entries))["l"]
    return F.when(cnt > 0, winner).otherwise(F.lit("und"))


def langid_ctes(src: str = "documents", id_col: str = "doc_id",
                text_expr: str = "text",
                n_buckets: int = N_BUCKETS) -> str:
    """DuckDB CTE chain replaying lang_id bit-for-bit, ending in
    `lgpred({id_col}, lang_pred)`. Splice as `WITH {langid_ctes(...)}
    SELECT ... FROM lgpred`.

    Formulation: unnest the per-doc gram-bucket array to rows, join a
    (lang_idx, bucket, weight) table built once from the same integer
    weights Spark folds, integer-sum per (doc, lang), rank. Join +
    groupBy is orders of magnitude faster in DuckDB than per-row list
    folds over 1024-element literal lists (measured: the fold version
    re-materializes the literal per row and took minutes at 6k docs),
    and integer sums make the result independent of aggregation order,
    so it still matches Spark exactly."""
    langs, IW = _int_weights(n_buckets)
    per_k = [
        (f"list_transform(range(1, length(__lg_t) + {4 - k}), "
         f"i -> substr(__lg_p, CAST(i AS INT), {k}))")
        for k in (1, 2, 3)]
    grams = (f"CASE WHEN length(__lg_t) >= 1 THEN "
             f"list_concat(list_concat({per_k[0]}, {per_k[1]}), "
             f"{per_k[2]}) ELSE CAST([] AS VARCHAR[]) END")
    norm = (f"substr(trim(regexp_replace(lower({text_expr}), "
            f"'{_WS}', ' ', 'g')), 1, {MAX_CHARS})")
    bks = (f"list_transform(__lg_grams, g -> CAST(CAST('0x' || "
           f"substr(md5(g), 1, 14) AS BIGINT) % {n_buckets} AS INT))")
    w_rows = ", ".join(
        f"({i}, CAST([" + ", ".join(str(v) for v in w) + "] AS BIGINT[]))"
        for i, w in enumerate(IW))
    lang_case = ("CASE __lg_win " + " ".join(
        f"WHEN {i} THEN '{lg}'" for i, lg in enumerate(langs))
        + " ELSE 'und' END")
    return f"""lg0 AS (SELECT {id_col}, {norm} AS __lg_t FROM {src}),
lg1 AS (SELECT {id_col}, __lg_t, (' ' || __lg_t || ' ') AS __lg_p FROM lg0),
lg2 AS (SELECT {id_col}, __lg_t, {grams} AS __lg_grams FROM lg1),
lg3 AS (SELECT {id_col}, {bks} AS __lg_bks FROM lg2),
lgw AS (SELECT lang_idx, generate_subscripts(w, 1) - 1 AS bucket,
               unnest(w) AS weight
        FROM (VALUES {w_rows}) AS t(lang_idx, w)),
lgg AS (SELECT {id_col}, unnest(__lg_bks) AS b FROM lg3),
lgsum AS (SELECT g.{id_col}, w.lang_idx,
                 sum(w.weight) AS s
          FROM lgg g JOIN lgw w ON g.b = w.bucket
          GROUP BY g.{id_col}, w.lang_idx),
lgbest AS (SELECT {id_col}, lang_idx,
                  row_number() OVER (PARTITION BY {id_col}
                                     ORDER BY s DESC, lang_idx) AS rk
           FROM lgsum),
lgpred AS (SELECT d.{id_col},
                  CASE WHEN len(d.__lg_bks) = 0 THEN 'und'
                       ELSE {lang_case.replace('__lg_win', 'b.lang_idx')}
                  END AS lang_pred
           FROM lg3 d LEFT JOIN (SELECT * FROM lgbest WHERE rk = 1) b
           USING ({id_col}))"""


def langid_sql(text_expr: str = "text",
               n_buckets: int = N_BUCKETS):
    """Back-compat shim (pre-join-formulation API): returns the CTE
    chain for a `docs(text)`-shaped relation keyed by rowid."""
    raise NotImplementedError(
        "langid_sql was replaced by langid_ctes(src, id_col, text_expr) "
        "in round 7 — build the oracle from the CTE chain instead.")


def lang_id_table(df, key: str = "doc_id", text_col: str = "text",
                  out_col: str = "lang_pred",
                  n_buckets: int = N_BUCKETS):
    """(key, lang_pred) for every row of ``df`` — the corpus-scale path.

    Per-row HOF folds (the scalar :func:`lang_id`) are CodegenFallback in
    Spark — interpreted per element, and the bucket subexpression is
    re-evaluated for each of the 8 language folds (measured: >100 s for
    60k docs). This formulation computes the gram-bucket array ONCE,
    explodes it, and hash-aggregates the 8 integer weight sums per doc —
    explode, element_at-into-literal and sum all run inside
    WholeStageCodegen, and map-side partial aggregation collapses the
    gram rows to 8 longs per doc before any shuffle, so shuffle volume
    is O(docs), not O(grams). Same integer-sum argmax as every other
    path (bit-exact vs the DuckDB oracle)."""
    langs, IW = _int_weights(n_buckets)
    # materialize normalized+padded text as real columns BEFORE the gram
    # transform — interpreted HOF lambdas re-evaluate their child tree
    # per element, so inlining the regexp normalization costs one regexp
    # per gram (~23 us); against attributes the transform is ~1 us/gram
    nd = (df.select(key, _norm_expr(F.col(text_col)).alias("__lg_t"))
          .select(key,
                  F.concat(F.lit(" "), F.col("__lg_t"), F.lit(" "))
                  .alias("__lg_p"),
                  F.length("__lg_t").alias("__lg_n")))
    grams = _grams_from_padded(F.col("__lg_p"), F.col("__lg_n"))
    # explode_outer keeps gram-less docs as one NULL-gram row; their
    # sums come back NULL -> 'und'. Hash AFTER the explode: md5 on a
    # plain column is whole-stage-codegen'd; inside the transform lambda
    # it is interpreted per element (~10x slower at corpus scale).
    e = (nd.select(key, F.explode_outer(grams).alias("__lg_g"))
         .select(key, _bucket_expr(F.col("__lg_g"), n_buckets)
                 .alias("__lg_b")))
    # count("__lg_b") skips NULLs -> 0 for gram-less docs. Do NOT rely
    # on the sums being NULL for those docs: element_at(literal_array,
    # NULL + 1) evaluates to element 1 instead of NULL in Spark 4
    # (observed), so the empty-doc "sums" are garbage and must be gated
    # on the count.
    aggs = [F.count("__lg_b").alias("__lg_cnt")]
    for i, w in enumerate(IW):
        w_arr = _weight_array(w)
        aggs.append(F.sum(F.element_at(w_arr, F.col("__lg_b") + 1))
                    .alias(f"__lg_s{i}"))
    sums = e.groupBy(key).agg(*aggs)
    entries = [F.struct(F.col(f"__lg_s{i}").alias("s"),
                        F.lit(-i).alias("r"),
                        F.lit(lg).alias("l"))
               for i, lg in enumerate(langs)]
    winner = F.array_max(F.array(*entries))["l"]
    pred = F.when(F.col("__lg_cnt") == 0, F.lit("und")).otherwise(winner)
    return sums.select(key, pred.alias(out_col))


def lang_id_udf(text: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Arrow-batched pandas-UDF language id — for STREAMING / per-row
    contexts where neither the JVM table path (needs a groupBy — not
    append-mode streamable) nor the scalar HOF expression (interpreted,
    re-evaluates its child tree per gram: measured ~80 ms/row at 13
    languages) fits. The python scorer is the same integer-sum argmax
    as every other path, so results stay bit-exact with the oracle;
    hashlib md5 at ~1 us/gram makes this ~0.5 ms/row, and the hot-gram
    bucket cache amortizes repeated grams across the corpus."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def fn(s):
        return s.map(lambda t: score_text(t or "", n_buckets))

    return fn(text)
