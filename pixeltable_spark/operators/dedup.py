"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Spark-first design notes (100 TB):
* exact dedup = hash-groupBy on a content fingerprint — one shuffle keyed by
  the md5, perfectly parallel, AQE handles skew (empty/boilerplate docs).
* MinHash: shingle explode -> per-doc min over K independent md5-derived
  hash functions (one groupBy with K min() aggregates — map-side partial
  aggregation keeps shuffle volume at K values/doc). LSH banding buckets
  signatures so candidate generation is an equi-join on (band, bucket-key) —
  never an n² cross join.
* SimHash: per-token md5-derived bit parities, summed per doc per bit
  (again one groupBy, 2^b weights), Hamming-style near-dup via equality on
  the 16-bit key or banding.
* n-gram Jaccard: candidate pairs from a self-equi-join on shared shingles
  (shuffle on shingle), |intersection| via count, Jaccard from per-doc
  shingle counts — the classic similarity-join, no cross product.
* embedding near-dup: cosine-threshold pairs via LSH hyperplane buckets
  (see similarity.py) or block-local brute force.

All hashing uses md5 (engine-portable) so the DuckDB oracle can reproduce
results bit-for-bit.
"""

from __future__ import annotations

from functools import lru_cache, reduce
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint, spread


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts: fingerprint, group size,
    representative = min id. One shuffle on the fingerprint."""
    return (
        spread(df).withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("rep_id"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative row per identical text (min id wins).
    Window-free formulation: join back on (fp, min_id)."""
    reps = exact_dup_groups(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text (array<string>).
    Computed with native higher-order functions — no UDF. The zip-with-
    shifted-selves kernel lives in text.shingle_array: O(tokens) per row
    (a transform(sequence(...), i -> element_at(toks, i+j)) formulation is
    catastrophically slower — projection collapse inlines the regex split
    into every element access, making it O(tokens^2) splits per doc)."""
    from .text import shingle_array
    return F.array_distinct(shingle_array(text, n))


@lru_cache(maxsize=64)
def _word_shingles_cached(text_col: str, n: int) -> Column:
    """df-independent shingle expression, built once per (column, n):
    the zip_with chain costs dozens of py4j round trips per build and
    every dedup operator rebuilds it per call. Columns are immutable
    values — reuse across DataFrames/queries is safe."""
    return word_shingles(F.col(text_col), n)


def explode_shingles(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3) -> DataFrame:
    df = spread(df)   # few-split scans would explode on one core
    return df.select(
        F.col(id_col),
        F.explode(_word_shingles_cached(text_col, n)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """K-permutation MinHash. The K hash functions are the K disjoint
    8-hex-char (32-bit) slices of md5 per shingle — ceil(K/4) hash
    invocations regardless of K (md5 is the per-row hot cost at 100 TB);
    K > 4 derives further independent slices from salted md5s.
    sig_i = min_s substr(md5(salt_{i//4} || s), 8*(i%4)+1, 8).

    One explode + one groupBy with K min() aggregates; partial (map-side)
    aggregation reduces shuffle to K short strings per doc regardless of
    doc size. Output: id, sig_0..sig_{K-1}.
    """
    ex = explode_shingles(df, text_col, id_col, shingle_n)
    hash_cols, aggs = _minhash_exprs(num_hashes)
    ex = ex.select(F.col(id_col), *hash_cols)
    return ex.groupBy(id_col).agg(*aggs)


@lru_cache(maxsize=16)
def _minhash_band_exprs(num_hashes: int, bands: int) -> tuple:
    """df-independent banding/verify expressions for minhash_lsh_pairs
    (see _simhash_exprs): (select list [sig array, exploded band struct],
    first-agreeing-band expression over the a/b join aliases).

    Band i agrees iff every sig row in the band matches; md5 keys agree
    exactly when the underlying sig tuples do ("|"-joined fixed-width hex
    can't collide), so `first agreeing band == join band` dedups exactly.
    """
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rows_per_band + r}")
                                     for r in range(rows_per_band)]))
            .alias("key"),
        )
        for b in range(bands)
    ]
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(num_hashes)])
    band_agree = [
        reduce(lambda x, y: x & y,
               [F.element_at(F.col("a.sig"), i * rows_per_band + r + 1)
                == F.element_at(F.col("b.sig"), i * rows_per_band + r + 1)
                for r in range(rows_per_band)])
        for i in range(bands)
    ]
    first_agree = F.array_position(F.array(*band_agree), F.lit(True)) - 1
    return ((sig_arr.alias("sig"),
             F.explode(F.array(*band_cols)).alias("bk")), first_agree)


@lru_cache(maxsize=16)
def _minhash_exprs(num_hashes: int) -> tuple:
    """df-independent minhash expression set (see _simhash_exprs)."""
    n_md5 = (num_hashes + 3) // 4
    # materialize each salted md5 once so the K slices don't recompute it
    hash_cols = tuple(
        (F.md5(F.col("shingle")) if j == 0
         else F.md5(F.concat(F.lit(f"mh{j}|"), F.col("shingle")))).alias(f"__h{j}")
        for j in range(n_md5)
    )
    aggs = tuple(
        F.min(F.substring(F.col(f"__h{i // 4}"), 8 * (i % 4) + 1, 8)).alias(f"sig_{i}")
        for i in range(num_hashes)
    )
    return hash_cols, aggs


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band of
    their MinHash signature. Equi-join on (band_idx, band_key) — candidate
    generation never goes n².

    Pair dedup across bands is "first agreeing band wins": each banded row
    carries the doc's full signature, and a pair is emitted only in the
    lowest band whose keys agree (a pure post-join projection filter).
    On clustered corpora the qualifying-pair multiset is far larger than
    the banded input, so a ``distinct()`` over it would be the dominant
    shuffle — this formulation removes that shuffle entirely at the cost
    of K small sig strings per banded row."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # materialize signatures once — the aliased self-join would re-run the
    # shingle explode + K min() aggregates for both sides (no exchange
    # reuse across aliases); K longs/doc caches at any scale
    sigs = minhash_signatures(df, text_col, id_col, num_hashes,
                              shingle_n).localCheckpoint(eager=False)
    banded_expr, first_agree = _minhash_band_exprs(num_hashes, bands)
    banded = sigs.select(
        F.col(id_col), *banded_expr,
    ).select(F.col(id_col), "sig",
             F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.key") == F.col("b.key"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .filter(F.col("a.band") == first_agree)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@lru_cache(maxsize=8)
def _simhash_exprs(bits: int) -> tuple:
    """df-independent simhash expression set, built once per `bits`:
    the ~10 py4j round trips per bit (x32 bits, rebuilt per call) were
    ~0.4 s of driver wall per plan build. Columns are immutable values,
    so reuse across DataFrames/queries is safe."""
    h = F.md5(F.col("shingle"))
    aggs = []
    for b in range(bits):
        # bit b = parity of hex char b of ONE md5 per token (balanced 0/1 map)
        parity = F.ascii(F.substring(h, b + 1, 1)) % 2
        aggs.append(F.sum(parity * 2 - 1).alias(f"s_{b}"))
    val = F.lit(0).cast(T.LongType())
    for b in range(bits):
        val = val + F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return tuple(aggs), val


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash over word tokens. Bit b of token t = parity of the first hex
    char of md5('b<b>|' || t); document bit b = majority sign of
    sum(2*parity-1). Output: id, simhash (long in [0, 2^bits)).

    Single explode + single groupBy with `bits` sum() aggregates — shuffle
    is `bits` ints per doc."""
    assert bits <= 32, "md5 yields 32 hex-char parities"
    ex = explode_shingles(df, text_col, id_col, n=1)
    aggs, val = _simhash_exprs(bits)
    sums = ex.groupBy(id_col).agg(*aggs)
    return sums.select(F.col(id_col), val.alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        prefix_filter: bool = False) -> DataFrame:
    """Pairs with Jaccard(shingles_a, shingles_b) >= threshold.

    Candidates come from a self-equi-join on shingle (shuffle keyed by
    shingle — no cross join); |A∩B| = count of shared shingles; |A∪B| from
    per-doc sizes. Returns id_a < id_b with jaccard rounded to 6 dp.

    max_df is the hot-key ceiling (standard prefix filtering): a shingle
    occurring in k documents contributes k^2 rows to the self-join, so ONE
    boilerplate line shared by 10^6 docs would explode to 10^12 rows. With
    max_df set, shingles with document frequency > max_df are excluded from
    the shingle universe — both intersection AND union — so the result is
    the exact Jaccard over the restricted universe (discriminative
    shingles), not an approximation with mismatched denominators. Set it at
    scale; None preserves full-universe semantics.

    prefix_filter enables the AllPairs/PPJoin prefix optimization
    (Bayardo et al. WWW'07, public): each doc only joins on its
    ``|x| - ceil(t*|x|) + 1`` globally-rarest shingles — any pair with
    Jaccard >= t must share one of them — and the surviving candidate
    pairs verify exactly against both docs' full shingle sets. Result is
    IDENTICAL to the plain self-join; the join input shrinks from every
    repeated shingle occurrence to just the prefixes, which is the
    difference between quadratic blowup and linear candidates on
    boilerplate-heavy corpora."""
    # (doc, shingle) is consumed 3-4x below (doc frequency, sizes, both
    # join sides / sets) and each consumer would otherwise re-run the
    # O(tokens) shingle kernel over the full text column. Materialize it
    # once: localCheckpoint spills to executor-local disk, so at 100 TB
    # this trades one extra write of the shingle table for 3 re-scans of
    # the raw text — the right side of the trade whenever shingles are
    # narrower than documents (always, for prose).
    ex = explode_shingles(df, text_col, id_col, n).localCheckpoint(eager=False)
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    if max_df is not None:
        keep = dfreq.filter(F.col("df_") <= max_df).select("shingle")
        ex = ex.join(keep, "shingle")
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))

    if prefix_filter:
        from pyspark.sql import Window as W
        # global shingle order: rarest first (df asc, shingle tie-break) —
        # both docs of a pair rank by the same total order, which the
        # prefix-filter theorem requires
        ranked = (ex.join(dfreq, "shingle")
                  .withColumn("rk", F.row_number().over(
                      W.partitionBy(id_col).orderBy("df_", "shingle"))))
        pref = (ranked.join(sizes, id_col)
                .filter(F.col("rk")
                        <= F.col("sz") - F.ceil(threshold * F.col("sz")) + 1)
                .select(id_col, "shingle"))
        a, b = pref.alias("a"), pref.alias("b")
        cand = (a.join(b, on=[F.col("a.shingle") == F.col("b.shingle"),
                              F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"))
                .distinct())
        sets = ex.groupBy(id_col).agg(F.collect_set("shingle").alias("ss"))
        inter = (cand
                 .join(sets.select(F.col(id_col).alias("id_a"),
                                   F.col("ss").alias("ss_a")), "id_a")
                 .join(sets.select(F.col(id_col).alias("id_b"),
                                   F.col("ss").alias("ss_b")), "id_b")
                 .select("id_a", "id_b",
                         F.size(F.array_intersect("ss_a", "ss_b")).alias("c")))
    else:
        # shingles that occur in only one document cannot produce a pair —
        # dropping them before the self-join shrinks the join input
        # massively (most shingles are unique) without changing the result
        repeated = dfreq.filter(F.col("df_") > 1)
        if max_df is not None:
            repeated = repeated.filter(F.col("df_") <= max_df)
        ex2 = ex.join(repeated.select("shingle"), "shingle")
        a, b = ex2.alias("a"), ex2.alias("b")
        inter = (
            a.join(b, on=[F.col("a.shingle") == F.col("b.shingle"),
                          F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(
            F.col("c").cast(T.DoubleType())
            / (F.col("sz_a") + F.col("sz_b") - F.col("c")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

_PAIR_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
    T.StructField("cos", T.DoubleType()),
])

# rows of the left matrix processed per dgemm call — bounds kernel memory to
# ~_MM_CHUNK * group_size doubles regardless of group size
_MM_CHUNK = 4096


def _emit_pairs(ids_a, mat_a, ids_b, mat_b, threshold, upper_triangle):
    """Chunked BLAS cosine between two id/vector blocks; yields DataFrames of
    (id_a, id_b, cos) with cos >= threshold and id_a < id_b."""
    import numpy as np
    import pandas as pd

    norms_a = np.sqrt((mat_a * mat_a).sum(axis=1))
    norms_b = np.sqrt((mat_b * mat_b).sum(axis=1))
    for lo in range(0, len(ids_a), _MM_CHUNK):
        hi = min(lo + _MM_CHUNK, len(ids_a))
        cos = (mat_a[lo:hi] @ mat_b.T) / np.outer(norms_a[lo:hi], norms_b)
        cos = np.round(cos, 6)
        mask = (cos >= threshold) & (ids_a[lo:hi, None] != ids_b[None, :])
        if upper_triangle:
            mask &= ids_a[lo:hi, None] < ids_b[None, :]
        li, ri = np.nonzero(mask)
        ia, ib = ids_a[lo:hi][li], ids_b[ri]
        if not upper_triangle:
            # cross-block pairs: normalize to unordered (min, max)
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        yield pd.DataFrame({"id_a": ia, "id_b": ib, "cos": cos[li, ri]})


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             n_planes: int = 0,
                             n_blocks: int = 8) -> DataFrame:
    """All pairs with cosine >= threshold.

    Fully distributed — no vector ever travels to the driver:

    * n_planes == 0 (exact): block-pair decomposition. Each row hashes into
      one of n_blocks blocks; every unordered block pair (bi <= bj) becomes
      one applyInPandas group holding just those two blocks, which run a
      chunked BLAS dgemm against each other (diagonal groups do the upper
      triangle). Work is the inherent O(n^2/2) of exact all-pairs but split
      into n_blocks*(n_blocks+1)/2 independent tasks whose memory is
      2n/n_blocks vectors — raise n_blocks as the corpus grows. Shuffle
      volume: each row is replicated n_blocks times (once per partner
      block), keyed well enough for AQE to balance.
    * n_planes > 0 (LSH, the 100 TB path): candidates = same hyperplane
      bucket (similarity.hyperplane_bucket); one shuffle on the bucket key,
      per-bucket BLAS in the same kernel. Standard recall/cost trade.

    Replaces the round-1 design that collect()ed every vector to the driver
    (reference capability: index/embedding_index.py:268-297)."""
    import numpy as np

    from .similarity import _infer_dim, hyperplane_bucket

    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))

    if n_planes > 0:
        bucketed = base.withColumn(
            "__bkt", hyperplane_bucket(F.col("__vec"), n_planes,
                                       dim=_infer_dim(base, "__vec")))

        def bucket_kernel(pdf):
            import numpy as np
            import pandas as pd
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["__vec"]), dtype=np.float64)
            outs = list(_emit_pairs(ids, mat, ids, mat, threshold, True))
            return pd.concat(outs) if outs else pd.DataFrame(
                {"id_a": [], "id_b": [], "cos": []})

        return bucketed.groupBy("__bkt").applyInPandas(bucket_kernel, _PAIR_SCHEMA)

    # exact: replicate each row to every (own-block, partner-block) pair key
    blk = F.pmod(F.xxhash64(F.col("__id").cast("string")), F.lit(n_blocks)).cast("int")
    tagged = base.withColumn("__blk", blk)
    pair_keys = F.array_distinct(F.array(*[
        F.struct(F.least(F.col("__blk"), F.lit(o)).alias("bi"),
                 F.greatest(F.col("__blk"), F.lit(o)).alias("bj"))
        for o in range(n_blocks)
    ]))
    rep = tagged.withColumn("__pk", F.explode(pair_keys)).select(
        "__id", "__vec", "__blk",
        F.col("__pk.bi").alias("__bi"), F.col("__pk.bj").alias("__bj"))

    def block_pair_kernel(pdf):
        import numpy as np
        import pandas as pd
        bi, bj = int(pdf["__bi"].iloc[0]), int(pdf["__bj"].iloc[0])
        if bi == bj:
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["__vec"]), dtype=np.float64)
            outs = list(_emit_pairs(ids, mat, ids, mat, threshold, True))
        else:
            a = pdf[pdf["__blk"] == bi]
            b = pdf[pdf["__blk"] == bj]
            if len(a) == 0 or len(b) == 0:
                outs = []
            else:
                outs = list(_emit_pairs(
                    a["__id"].to_numpy(dtype=np.int64),
                    np.array(list(a["__vec"]), dtype=np.float64),
                    b["__id"].to_numpy(dtype=np.int64),
                    np.array(list(b["__vec"]), dtype=np.float64),
                    threshold, False))
        return pd.concat(outs) if outs else pd.DataFrame(
            {"id_a": [], "id_b": [], "cos": []})

    return rep.groupBy("__bi", "__bj").applyInPandas(block_pair_kernel, _PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# benchmark contamination (n-gram overlap vs an eval/benchmark corpus —
# the GPT-3/PaLM decontamination check, Brown et al. 2020 §C, public)
# ---------------------------------------------------------------------------

def ngram_contamination(df: DataFrame, bench_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text", n: int = 8,
                        broadcast_bench: bool = True) -> DataFrame:
    """Per-document contamination against a benchmark corpus: the number
    and fraction of the document's DISTINCT word n-grams that also occur
    anywhere in the benchmark set.

    Plan: both sides explode to distinct n-grams; the benchmark side is
    collapsed to its distinct n-gram set and broadcast (eval benchmarks
    are tiny next to a 100 TB corpus), so the probe is a broadcast
    left-semi-style join — the corpus never shuffles. Per-doc distinct
    counts come from one groupBy. Set ``broadcast_bench=False`` for a
    benchmark too large to broadcast (falls back to a shuffle equi-join
    on the n-gram).

    Returns (id_col, n_grams, n_contaminated, contamination_frac),
    including zero rows for clean documents (left join).
    """
    corpus = explode_shingles(df, text_col, id_col, n)
    bench = (bench_df.select(
        F.explode(word_shingles(F.col(bench_text_col), n)).alias("shingle"))
        .distinct())
    if broadcast_bench:
        bench = F.broadcast(bench)
    hits = (corpus.join(bench.withColumn("__hit", F.lit(1)),
                        on="shingle", how="left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated")))
    return hits.withColumn(
        "contamination_frac", F.col("n_contaminated") / F.col("n_grams"))


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over candidate pairs
# (alternating large-star/small-star — Kiveris et al., "Connected
#  Components in MapReduce and Beyond", SOCC'14, public)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Resolve candidate duplicate PAIRS (e.g. minhash_lsh_pairs output)
    into clusters: returns (id, component) where component = min id
    reachable through the pair graph.

    Implementation is the alternating large-star/small-star iteration:

    * large-star: every node points each LARGER neighbor at its current
      minimum neighbor (or itself) — edges (v, m) for v > m.
    * small-star: every node points its smaller-or-equal neighbors at the
      minimum — collapsing chains.

    Both steps are one groupBy(node) each over the current edge set; edge
    count never grows beyond the input and converges in O(log n) rounds
    (vs O(diameter) for naive label propagation — the difference between
    8 and 500 shuffles on a chain-shaped 100 TB dup graph). Each round
    localCheckpoints to cut lineage, and convergence is detected by an
    edge-set count fixpoint (cheap count per round, no full compare).
    """
    # normalize to undirected unique edges u<v, drop self loops; checkpoint
    # so the (possibly expensive) pair-generation lineage runs exactly once
    # instead of once per star round
    e = (pairs.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
         .distinct()
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("u").alias("id"))
             .union(e.select(F.col("v").alias("id")))
             .distinct())

    # The star rounds plan in a narrowed session (tinyplan.narrow): AQE
    # OFF plus a shuffle width taken from the checkpointed edge set
    # itself; `nodes` keeps the result in this session. With AQE on,
    # every round's single action fans out into one Spark JOB PER
    # SHUFFLE STAGE (~7/round) plus a driver replanning gap between them
    # — measured ~0.65 s/round of pure driver overhead on edge sets
    # whose executor work totals a few ms. The width is scale-adaptive,
    # not a constant: the eager checkpoint above ran UNDER AQE, so its
    # materialized partition count is the byte-coalesced width of the
    # real pair volume (1 at bench scale, hundreds+ on a 100 TB dup
    # graph). Partitioning cannot change results (the loop is
    # groupBy/join/distinct on exact keys).
    from ..tinyplan import materialized_width, narrow
    e = narrow(e, materialized_width(e))
    prev_sig = None
    for _ in range(max_iter):
        # large-star: group neighbors of each node (both directions),
        # connect strictly-larger neighbors to min(neighborhood ∪ self)
        nbrs = e.select("u", "v").union(e.select(F.col("v").alias("u"),
                                                 F.col("u").alias("v")))
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (nbrs.join(m, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        e = (large.where(F.col("u") != F.col("v"))
             .select(F.least("u", "v").alias("u"),
                     F.greatest("u", "v").alias("v"))
             .distinct())
        # small-star: for edges u>=v (here canonical u<v: group by the
        # larger endpoint), point all smaller neighbors + self at the min
        m2 = e.groupBy("v").agg(F.min("u").alias("m"))
        small = (e.join(m2, "v")
                 .select(F.col("u"), F.col("m").alias("w"))
                 .union(m2.select(F.col("v").alias("u"),
                                  F.col("m").alias("w"))))
        e = (small.where(F.col("u") != F.col("w"))
             .select(F.least("u", "w").alias("u"),
                     F.greatest("u", "w").alias("v"))
             .distinct()
             .localCheckpoint(eager=False))
        # fixpoint: the edge set is stable when (count, sum(u), sum(v))
        # stops changing. The global agg computes EVERY partition of e,
        # so this one action also materializes the lazy checkpoint — one
        # job per round instead of an eager-checkpoint job plus an agg
        # job (the next round reads e twice, so it must be materialized
        # here); with AQE off it really is ONE job, not one per stage
        sig = tuple(e.agg(F.count(F.lit(1)), F.sum("u"),
                          F.sum("v")).first())
        if sig == prev_sig:
            break
        prev_sig = sig

    # after convergence every edge is (member, root): component = min
    # endpoint; isolated nodes are their own component
    comp = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    comp = comp.groupBy("id").agg(F.min("component").alias("component"))
    return (nodes.join(comp, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")))


def dedup_clusters(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 8, bands: int = 4,
                   shingle_n: int = 3, max_iter: int = 25) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs ->
    connected components -> (id, component). Keep `component == id` rows
    to retain one representative per cluster."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, num_hashes=k, bands=bands,
                              shingle_n=shingle_n)
    return connected_components(pairs, "id_a", "id_b", max_iter)


def cluster_representatives(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", quality=None,
                            k: int = 8, bands: int = 4, shingle_n: int = 3,
                            max_iter: int = 25) -> DataFrame:
    """Quality-aware duplicate resolution: the rows of ``df`` that survive
    keeping ONE representative per near-dup cluster — the doc maximizing
    `quality` (a Column, a column name, or None for text length), ties
    broken by min id. Docs outside every cluster keep themselves.

    This is the resolution step real curation pipelines run after pair
    detection (CCNet/RefinedWeb keep the longest/cleanest member, not an
    arbitrary one). Plan: dedup_clusters (banded LSH + O(log n)
    large-star/small-star) -> left join components (unpaired docs form
    singleton components) -> one groupBy(component) with a single
    min(struct(-quality, id)) aggregate -> left-semi join back. Nothing
    driver-side; the only new shuffles are the component attach and the
    per-cluster argmax."""
    comps = dedup_clusters(df, text_col, id_col, k, bands, shingle_n,
                           max_iter)
    with_comp = (df.join(comps.withColumnRenamed("id", id_col),
                         id_col, "left")
                 .withColumn("component",
                             F.coalesce("component", F.col(id_col))))
    if quality is None:
        q = F.length(F.col(text_col)).cast("long")
    elif isinstance(quality, str):
        q = F.col(quality)
    else:
        q = quality
    reps = (with_comp.groupBy("component")
            .agg(F.min(F.struct((-q).alias("nq"),
                                F.col(id_col).alias("rid"))).alias("m"))
            .select(F.col("m.rid").alias(id_col)))
    return df.join(reps, id_col, "left_semi")


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 16,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding (the standard SimHash dedup trick, e.g. Manku et
    al. WWW'07): split the fingerprint into max_hamming+1 bands — any
    pair within distance d agrees EXACTLY on at least one band, so
    candidates come from equi-joins on (band_idx, band_value), never n².
    Exact Hamming is then verified JVM-side with bit_count(xor).
    Returns (id_a, id_b, hamming).

    The banding + first-band-wins pair dedup is shared with
    ``hamming_pairs`` (simhash is just one producer of an integer hash
    column)."""
    sh = simhash(df, text_col, id_col, bits)
    return hamming_pairs(sh, "simhash", id_col, bits=bits,
                         max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# cross-document line-level dedup (the CCNet §3 "paragraph dedup" design:
# hash every line, drop lines that occur in many documents — removes
# boilerplate headers/footers/cookie banners without touching unique prose)
# ---------------------------------------------------------------------------

def line_doc_freq(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Per-line document frequency across the corpus: (line_key, doc_freq)
    where line_key = md5 of the whitespace-trimmed line. Two-level
    aggregation — groupBy(line, doc) then groupBy(line) — keeps the
    count-distinct exact with map-side partials at each level; shuffle
    volume is distinct (line, doc) keys, never raw text (the 128-bit md5
    travels instead of the line)."""
    lines = (
        spread(df).select(F.col(id_col),
                  F.explode(F.split(F.col(text_col), sep)).alias("line"))
        .where(F.trim("line") != "")
        .select(id_col, F.md5(F.trim("line")).alias("line_key"))
    )
    per_doc = lines.groupBy("line_key", id_col).agg(F.count(F.lit(1)).alias("_c"))
    return per_doc.groupBy("line_key").agg(
        F.count(F.lit(1)).alias("doc_freq"))


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", sep: str = "\n",
                max_doc_freq: int = 2) -> DataFrame:
    """Rebuild each document with lines occurring in more than
    ``max_doc_freq`` documents removed (CCNet boilerplate scrub).

    Plan: posexplode lines -> join per-line doc_freq on the md5 line key
    (shuffle keyed by a 16-byte hash, so the wide line text is carried
    exactly once) -> filter -> rebuild with one groupBy(doc) whose
    array_sort-by-pos keeps the surviving lines in original order.
    Three shuffles total, all keyed and partial-aggregated; no window
    over the whole corpus, no driver state. Empty lines are preserved
    verbatim (they carry formatting, and counting them as "duplicates"
    would blank every document).

    Returns (id_col, text_col) with the scrubbed text.
    """
    freq = line_doc_freq(df, text_col, id_col, sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("line_key", F.md5(F.trim("line")))
    kept = (
        lines.join(freq, on="line_key", how="left")
        .where((F.trim("line") == "")
               | F.col("doc_freq").isNull()
               | (F.col("doc_freq") <= max_doc_freq))
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("_ls"))
        .select(id_col,
                F.array_join(F.transform("_ls", lambda s: s["line"]), sep)
                .alias(text_col))
    )
    # documents whose every line was scrubbed still appear, as empty text
    return (df.select(id_col).join(rebuilt, on=id_col, how="left")
              .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)))


# ---------------------------------------------------------------------------
# repeated-substring spans (the ExactSubstr dedup design of Lee et al.
# 2022 "Deduplicating Training Data Makes Language Models Better",
# approximated at n-gram granularity: a span is flagged when one of its
# word n-grams occurs >= min_count times corpus-wide — the practical
# distributed stand-in for their suffix-array match, exact at the n-gram
# level)
# ---------------------------------------------------------------------------

def repeated_ngram_spans(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 10,
                         min_count: int = 2) -> DataFrame:
    """Merged token spans covered by corpus-repeated word n-grams:
    (id, span_start, span_end) in token offsets, span = union of
    [pos, pos+n) windows of every n-gram whose TOTAL occurrence count
    (within-doc repeats included, as ExactSubstr counts) reaches
    ``min_count``.

    Plan: posexplode n-grams -> count by 16-byte md5 key (map-side
    partials; the n-gram text never shuffles) -> semi-join hits back ->
    per-doc lag/cumsum window merges overlapping windows into maximal
    spans (the q22 sessionize shape). Three keyed shuffles; no driver
    state; hot boilerplate n-grams are exactly the rows the count
    prefilter keeps, so AQE's skew splitting applies to the join.

    ``keyed`` is materialized once: the count branch and the join-back
    branch shuffle different payloads, so exchange reuse never fires and
    the n-gram construction (9 chained zip_with + md5 per token — the
    single most expensive projection here) would otherwise run twice."""
    from pyspark.sql import Window as W

    from .text import shingle_array
    grams = spread(df).select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col(text_col), n)).alias("pos", "gram"))
    keyed = (grams.select(id_col, "pos", F.md5("gram").alias("k"))
             .localCheckpoint(eager=False))
    hot = (keyed.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count).select("k"))
    hits = keyed.join(hot, "k").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    spans = (hits
             .withColumn("new", F.when(
                 F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0))
             .withColumn("span", F.sum("new").over(
                 w.rowsBetween(W.unboundedPreceding, W.currentRow)))
             .groupBy(id_col, "span")
             .agg(F.min("pos").alias("span_start"),
                  (F.max("pos") + n).alias("span_end"))
             .select(id_col, "span_start", "span_end"))
    return spans


def hamming_pairs(df: DataFrame, hash_col: str, id_col: str = "doc_id",
                  bits: int = 64, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs over ANY precomputed integer hash column (simhash,
    image aHash/dHash/pHash, audio fingerprints): Hamming(a, b) <=
    max_hamming via the same pigeonhole banding as simhash_pairs — a
    pair within distance d agrees exactly on one of d+1 bands, so
    candidates are equi-joins, never n². Returns (id_a, id_b, hamming).

    Cross-band pair dedup is "first agreeing band wins": both hashes ride
    along in the pair row, so "no earlier band agrees" is a pure
    projection filter — no ``distinct()`` shuffle over the pair multiset,
    which on clustered corpora dwarfs the banded input."""
    n_bands = max_hamming + 1
    widths = [bits // n_bands + (1 if b < bits % n_bands else 0)
              for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    sh = (df.select(F.col(id_col), F.col(hash_col).alias("__h"))
          .localCheckpoint(eager=False))

    def band_key(col: Column, b: int) -> Column:
        return (F.shiftrightunsigned(col, offsets[b])
                .bitwiseAND((1 << widths[b]) - 1 if widths[b] < 64 else -1))

    band_cols = [
        F.struct(F.lit(b).alias("band"), band_key(F.col("__h"), b).alias("key"))
        for b in range(n_bands)
    ]
    banded = (sh.select(F.col(id_col), F.col("__h"),
                        F.explode(F.array(*band_cols)).alias("bk"))
              .select(id_col, "__h", F.col("bk.band").alias("band"),
                      F.col("bk.key").alias("key")))
    a, b = banded.alias("a"), banded.alias("b")
    band_agree = [band_key(F.col("a.__h"), i) == band_key(F.col("b.__h"), i)
                  for i in range(n_bands)]
    first_agree = F.array_position(F.array(*band_agree), F.lit(True)) - 1
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.key") == F.col("b.key"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .filter(F.col("a.band") == first_agree)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.__h").bitwiseXOR(
                    F.col("b.__h"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )

# ---------------------------------------------------------------------------
# cross-corpus dedup: a fresh crawl against the existing training set
# ---------------------------------------------------------------------------

def dedup_flags_against(df: DataFrame, ref_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3,
                        broadcast_ref: bool = False) -> DataFrame:
    """Per-document duplicate flags of ``df`` against a REFERENCE corpus
    (the dedup-new-crawl-vs-training-set shape): ``dup_exact`` — the
    normalized-text fingerprint occurs in the reference; ``dup_near`` —
    any MinHash LSH band key collides with a reference document's.

    Plan: both sides reduce to their key sets (fingerprints; band keys —
    K strings/doc regardless of text size), then two left semi-join-
    shaped membership joins keyed on 16-byte hashes. The big side never
    shuffles raw text. Set ``broadcast_ref=True`` when the reference key
    set is small (a benchmark, a blocklist); leave False for
    training-set-sized references (AQE picks the join strategy).
    Returns (id_col, dup_exact, dup_near)."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    ref_fp = (ref_df.select(fingerprint(F.col(text_col)).alias("fp"))
              .distinct())

    def band_keys(frame: DataFrame) -> DataFrame:
        assert num_hashes % bands == 0
        rpb = num_hashes // bands
        sigs = minhash_signatures(frame, text_col, id_col, num_hashes,
                                  shingle_n)
        cols = [
            F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rpb + r}")
                                     for r in range(rpb)])).alias("key")
            for b in range(bands)
        ]
        return sigs.select(F.col(id_col), F.explode(F.array(*cols)).alias("key"))

    ref_keys = band_keys(ref_df).select("key").distinct()
    if broadcast_ref:
        ref_fp, ref_keys = F.broadcast(ref_fp), F.broadcast(ref_keys)
    exact_hit = (fp.join(ref_fp.withColumn("__x", F.lit(True)), "fp", "left")
                 .groupBy(id_col)
                 .agg(F.max(F.coalesce("__x", F.lit(False))).alias("dup_exact")))
    near_hit = (band_keys(df)
                .join(ref_keys.withColumn("__n", F.lit(True)), "key", "left")
                .groupBy(id_col)
                .agg(F.max(F.coalesce("__n", F.lit(False))).alias("dup_near")))
    return (df.select(id_col)
            .join(exact_hit, id_col, "left")
            .join(near_hit, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
                    F.coalesce("dup_near", F.lit(False)).alias("dup_near")))


def dedup_against(df: DataFrame, ref_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  near: bool = True, **kw) -> DataFrame:
    """Rows of ``df`` that survive cross-corpus dedup: exact-duplicate
    rows always drop; ``near=True`` also drops LSH band collisions."""
    flags = dedup_flags_against(df, ref_df, text_col, id_col, **kw)
    drop = (F.col("dup_exact") | F.col("dup_near")) if near         else F.col("dup_exact")
    keep = flags.where(~drop).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Weighted (multiset) Jaccard + ICWS sketches
# ---------------------------------------------------------------------------
# Set-based Jaccard (minhash/ngram_jaccard_pairs above) ignores term
# frequency: "spam spam spam ham" and "spam ham" are identical sets. The
# weighted measure J_w(A,B) = sum_t min(fA,fB) / sum_t max(fA,fB) over
# term-frequency vectors is the standard fix (and the measure ICWS — Ioffe,
# "Improved Consistent Sampling, Weighted Minhash and L1 Sketching",
# ICDM 2010 — sketches). Reference analog: pixeltable ships string/split
# plumbing but no weighted dedup; this is part of the beyond-reference
# training-data-curation family.


def term_freqs(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(id, term, cnt) unigram term frequencies of the lowercased
    whitespace-tokenized text. One explode + one groupBy; map-side combine
    shrinks the shuffle to distinct (doc, term) pairs."""
    df = spread(df)   # few-split scans would explode on one core
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = (df.select(F.col(id_col), F.explode(toks).alias("term"))
          .filter(F.col("term") != ""))
    return ex.groupBy(id_col, "term").agg(F.count("*").alias("cnt"))


def _capped_term_freqs(df: DataFrame, text_col: str, id_col: str,
                       max_df: Optional[int]) -> DataFrame:
    """term_freqs minus terms in more than max_df docs. The hot set is
    tiny (stopwords/boilerplate), so it ships as a BROADCAST anti-join —
    the corpus-side term rows never shuffle for the cap."""
    tc = term_freqs(df, text_col, id_col)
    if max_df is not None:
        hot = (tc.groupBy("term").agg(F.count("*").alias("df_"))
               .filter(F.col("df_") > max_df).select("term"))
        tc = tc.join(F.broadcast(hot), "term", "left_anti")
    return tc


def weighted_jaccard_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", threshold: float = 0.3,
                           max_df: Optional[int] = None) -> DataFrame:
    """Exact weighted Jaccard pairs: (id_a, id_b, wjaccard) for every pair
    with J_w >= threshold. Since sum_t max(fA,fB) = totA + totB - sum_t
    min(fA,fB), only intersecting terms ever join: one term equi-join ->
    per-pair sum(least(cnt,cnt)), then two broadcast-size joins against the
    per-doc totals. No n^2 stage; candidate count is bounded by co-occurring
    terms, exactly like ngram_jaccard_pairs.

    ``max_df`` drops terms appearing in more than max_df docs BEFORE totals
    are computed (a proper Jaccard on the reduced vocabulary): the hot-term
    skew guard for boilerplate corpora — the dropped set is tiny (stopwords)
    so it ships as a broadcast anti-join. Off by default because it changes
    the measure."""
    tc = _capped_term_freqs(df, text_col, id_col, max_df)
    # one materialization feeds totals AND both join sides (no exchange
    # reuse across self-join aliases otherwise)
    tc = tc.localCheckpoint(eager=False)
    tot = tc.groupBy(id_col).agg(F.sum("cnt").alias("tot"))
    a, b = tc.alias("a"), tc.alias("b")
    inter = (
        a.join(b, on=[F.col("a.term") == F.col("b.term"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.sum(F.least(F.col("a.cnt"), F.col("b.cnt"))).alias("im")))
    ta = tot.select(F.col(id_col).alias("id_a"), F.col("tot").alias("tot_a"))
    tb = tot.select(F.col(id_col).alias("id_b"), F.col("tot").alias("tot_b"))
    wj = F.col("im") / (F.col("tot_a") + F.col("tot_b") - F.col("im"))
    return (inter.join(ta, "id_a").join(tb, "id_b")
            .filter(wj >= threshold)
            .select("id_a", "id_b", F.round(wj, 6).alias("wjaccard")))


def _icws_uniform(term: Column, salt: str) -> Column:
    """Uniform draw in (0, 1] from xxhash64(salt || term): top 53 bits ->
    (0, 1] with full double granularity. xxhash64 is ~4x cheaper than the
    md5+conv slicing minhash uses; ICWS has no SQL oracle (engine-specific
    ln/floor ulps — see q95), so hash portability buys nothing here."""
    h53 = F.shiftrightunsigned(
        F.xxhash64(F.concat(F.lit(salt), term)), 11)
    return (h53.cast("double") + F.lit(1.0)) / F.lit(9007199254740992.0)


def _icws_uniform_sql(term_sql: str, salt: str) -> str:
    """SQL-text twin of _icws_uniform — parses to the identical Catalyst
    tree (same functions, same double literals), so values are bit-exact.
    Rendering the K-sample battery as SQL strings replaces ~700 py4j
    round trips per plan build (~1 s of driver wall, measured via
    cProfile on warm q95) with one parse per sample."""
    return ("((cast(shiftrightunsigned(xxhash64(concat('%s', %s)), 11) "
            "as double) + 1.0D) / 9007199254740992.0D)"
            % (salt, term_sql))


def icws_signatures(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    num_samples: int = 8) -> DataFrame:
    """ICWS (Ioffe 2010) signatures: K consistent weighted samples per doc,
    each an element drawn with probability proportional to its weight such
    that P[sample_k(A) == sample_k(B)] = J_w(A, B) exactly.

    Per sample k and term with weight w (its in-doc frequency):
        r ~ Gamma(2,1) = -ln(u1*u2),  c ~ Gamma(2,1) = -ln(u3*u4),
        beta ~ U(0,1],  t = floor(ln(w)/r + beta),
        ln y = r*(t - beta),  ln a = ln c - ln y - r,
    and the sample is the (term, t) minimizing ln a. All draws are
    md5-derived from (k, term) — deterministic, and consistent across docs
    (the same term gets the same r/c/beta in every doc, which is what makes
    collision probability equal J_w).

    Plan shape: the term_freqs explode, then 2 materialized md5s per sample
    and K min(struct(ln_a, term, t)) aggregates in ONE groupBy — map-side
    partial aggregation ships K structs per doc regardless of doc size
    (the minhash_signatures shape, with Gamma math in place of slicing).
    min(struct) gives a deterministic total order (no min_by tie
    nondeterminism). Output: id, s_0..s_{K-1} as "term|t" strings."""
    tc = term_freqs(df, text_col, id_col)
    # AQE coalesces the small term_freqs shuffle to very few partitions;
    # the md5/gamma battery below is the expensive stage, so re-expand to
    # full parallelism, keyed by id: HashPartitioning(id) already satisfies
    # the groupBy(id) distribution, so the aggregate adds NO extra exchange
    sc = df.sparkSession.sparkContext
    tc = tc.repartition(sc.defaultParallelism, id_col)
    lnw = "ln(cast(cnt as double))"
    # The whole per-(term, k) battery lives in ONE projection whose output
    # structs the aggregate min()s by plain column reference (the barrier
    # column keeps CollapseProject from folding it into the Aggregate).
    # The battery is rendered as SQL text (one parse per sample) instead
    # of Column-by-Column: building K=12 samples through the functions
    # API costs ~700 py4j round trips ≈ 1 s of driver wall PER PLAN BUILD
    # (cProfile, warm q95); the parsed trees are node-identical (same
    # functions, same double literals — pinned bit-exact by
    # tests/test_weighted_jaccard.py and the q95 numpy-replay oracle).
    # The real executor-side costs here were the 1-partition AQE coalesce
    # (fixed by the repartition above) and md5+conv vs xxhash64 draws
    # (see _icws_uniform).
    struct_sqls = []
    for k in range(num_samples):
        u1, u2, u3, u4 = (_icws_uniform_sql("term", f"icws{k}u{s}|")
                          for s in range(4))
        beta = _icws_uniform_sql("term", f"icws{k}b|")
        r = f"(-(ln({u1}) + ln({u2})))"
        ln_c = f"ln(-(ln({u3}) + ln({u4})))"
        t = f"floor((({lnw} / {r}) + {beta}))"
        ln_y = f"({r} * (cast({t} as double) - {beta}))"
        ln_a = f"(({ln_c} - {ln_y}) - {r})"
        struct_sqls.append(
            f"named_struct('a', {ln_a}, 't', term, 'tk', {t}) as __pk{k}")
    ex = tc.selectExpr(
        f"`{id_col}`", *struct_sqls,
        "monotonically_increasing_id() as __nocollapse")
    sigs = ex.groupBy(id_col).agg(
        *[F.min(f"__pk{k}").alias(f"__m{k}") for k in range(num_samples)])
    return sigs.selectExpr(
        f"`{id_col}`",
        *[f"concat_ws('|', __m{k}.t, __m{k}.tk) as s_{k}"
          for k in range(num_samples)])


def icws_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               num_samples: int = 8, threshold: float = 0.5,
               rows_per_band: Optional[int] = None) -> DataFrame:
    """Approximate weighted-Jaccard near-dup pairs from ICWS signatures:
    candidates via minhash-style banding (band key = md5 of rows_per_band
    consecutive samples; equi-join on (band, key) — never n^2), estimate =
    fraction of agreeing samples over the FULL signature, emitted once via
    first-agreeing-band-wins (the same distinct()-free projection filter
    as minhash_lsh_pairs). E[est] = J_w.

    rows_per_band is the skew knob: banding single samples (r=1) floods
    hot buckets on corpora with a corpus-wide similarity floor (a popular
    heavy term's sample captures thousands of docs -> m^2 join rows).
    P[band collision] = J_w^r, so the default r — the largest power of two
    with (1/2)^r still giving >=1 expected agreeing band at threshold 0.5
    — keeps buckets sparse while catching everything near the threshold:
    recall at J >= t is 1-(1-t^r)^(K/r)."""
    if rows_per_band is None:
        rows_per_band = max(1, min(4, num_samples // 2))
    assert num_samples % rows_per_band == 0
    bands = num_samples // rows_per_band
    sig_cols = [f"s_{i}" for i in range(num_samples)]
    # EAGER checkpoint: four lineages read sigs (both banded join sides +
    # both verify sides) and a lazy checkpoint materializes too late to
    # stop per-branch recomputation of the whole explode+agg; K samples
    # per doc is tiny at any scale, so paying the materialization up
    # front is strictly cheaper than 4x the signature job
    sigs = icws_signatures(df, text_col, id_col, num_samples) \
        .localCheckpoint()
    # 64-bit sample hashes instead of the "term|t" strings: one long per
    # sample in the shuffle, long comparisons in the verify (collision
    # 2^-64 -- immaterial to a K-sample estimate). SQL-text rendering for
    # the same reason as icws_signatures (py4j chatter per plan build);
    # the 0x1f band separator renders as the \\u001F parser escape.
    sig_arr = "array(%s)" % ", ".join(
        f"xxhash64({c})" for c in sig_cols)
    band_keys = "array(%s)" % ", ".join(
        "xxhash64(concat_ws('\\u001F', %s))" % ", ".join(
            sig_cols[b * rows_per_band + r] for r in range(rows_per_band))
        for b in range(bands))
    packed = sigs.selectExpr(f"`{id_col}`", f"{sig_arr} as sig",
                             f"{band_keys} as bk")
    # candidate generation is SLIM -- ids only. A corpus-wide boilerplate
    # band can put thousands of docs in one bucket, and every pair of that
    # bucket materializes inside the single join task that owns the key
    # (AQE cannot split one key): with the verify math inlined there, the
    # hot task serializes the whole stage. Skinny candidates stream out of
    # the hot task fast; the explicit repartition then spreads the verify.
    banded = packed.select(
        F.col(id_col), F.posexplode(F.col("bk")).alias("band", "key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, on=[F.col("a.band") == F.col("b.band"),
                          F.col("a.key") == F.col("b.key"),
                          F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.band").alias("band")))
    sc = df.sparkSession.sparkContext
    cand = cand.repartition(sc.defaultParallelism, "id_a", "id_b")
    sa = packed.select(F.col(id_col).alias("id_a"),
                       F.col("sig").alias("sig_a"))
    sb = packed.select(F.col(id_col).alias("id_b"),
                       F.col("sig").alias("sig_b"))
    j = cand.join(sa, "id_a").join(sb, "id_b")
    # first AGREEING BAND wins (the distinct()-free pair dedup). The
    # verify math is all element_at/when chains -- whole-stage codegen;
    # zip_with/filter/array_position HOFs are interpreted (~2us/element)
    # and dominate at millions of candidate rows. Rendered as SQL text
    # (same nodes, one parse) -- see icws_signatures.
    eq = [f"(element_at(sig_a, {i + 1}) = element_at(sig_b, {i + 1}))"
          for i in range(num_samples)]
    matches = reduce(lambda x, y: f"({x} + {y})",
                     [f"cast({e} as int)" for e in eq])
    est = f"(cast({matches} as double) / {float(num_samples)!r}D)"
    band_agree = [
        reduce(lambda x, y: f"({x} AND {y})",
               [eq[i * rows_per_band + r] for r in range(rows_per_band)])
        for i in range(bands)
    ]
    first_agree = "-1"
    for i in range(bands - 1, -1, -1):
        first_agree = (f"(CASE WHEN {band_agree[i]} THEN {i} "
                       f"ELSE {first_agree} END)")
    return (j.filter(f"(band = {first_agree})")
            .filter(f"({est} >= {float(threshold)!r}D)")
            .selectExpr("id_a", "id_b",
                        f"round({est}, 6) as est_wjaccard"))
