"""Dataset profiling: per-column statistics in ONE pass over the table.

The 100 TB workflow before any curation decision is "what does this
corpus look like": row counts, null rates, cardinalities, value ranges,
quantiles. The reference exposes per-column metadata through
``Table.describe()`` / column stats (reference catalog/table.py), but has
no distributed profiler; this is the Spark-first analog.

Two modes:

* ``exact=True`` — exact distinct counts (count(distinct)) and exact
  interpolated percentiles (``percentile``, the quantile_cont formula),
  bit-reproducible by the DuckDB oracle. One wide aggregate; Catalyst
  plans the distinct-counts via expand, so cost grows with the number of
  profiled columns — right for a correctness gate or a sampled profile.
* ``exact=False`` — the scale path: HyperLogLog++ distinct
  (``approx_count_distinct``) and KLL-sketch quantiles
  (``percentile_approx``). Single pass, map-side partials, no expand;
  this is what you run on the full 100 TB corpus.

Output is long-format — one row per (column, statistic) — so the result
schema is stable no matter which columns are profiled.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "float",
                    "double", "decimal")
# exact mean: each double rounds to 18 decimal places (a per-value
# rounding, so the sum no longer depends on the order partitions merge
# in); |sum| < 1e20 fits
_MEAN_DEC = T.DecimalType(38, 18)


def _exact_mean(x: Column) -> Column:
    """Mean of double `x` that does not depend on partitioning: the
    decimal sum is exact, and rounding it once to a double before the
    division gives the value a correctly rounded (fsum) double sum
    gives. A float `avg` sums in merge order, so a mean on a rounding
    boundary (q87: 0.0499185) flipped its 6th decimal between runs.
    NaN, infinities and values or sums outside the decimal range fall
    back to `avg`."""
    dec = x.try_cast(_MEAN_DEC)
    total = F.try_sum(dec)
    exact = (F.count(dec) == F.count(x)) & total.isNotNull()
    return F.when(exact, total.cast("double") / F.count(x)).otherwise(
        F.avg(x)).cast("double")


def profile_table(df: DataFrame, cols: Sequence[str] | None = None,
                  percentiles: Sequence[float] = (0.25, 0.5, 0.75),
                  exact: bool = True,
                  accuracy: int = 10_000) -> DataFrame:
    """Profile ``cols`` (default: every numeric column): one output row
    per (column, stat) with stats n, n_null, n_distinct, min, max, mean,
    p<q> for each requested percentile. All values are doubles; the
    single wide aggregate means one job / one shuffle-free reduction
    however many columns are profiled."""
    if cols is None:
        cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString().startswith(NUMERIC_PREFIXES)]
    if not cols:
        # df.agg() with zero expressions raises an opaque py4j error;
        # an empty profile is a legitimate result for an all-string table
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "col_name string, stat string, value double")
    tags = [f"p{int(round(p * 100)):02d}" for p in percentiles]
    pcts = F.array(*[F.lit(float(p)) for p in percentiles])
    # few-split scans (one testdata file, a fresh ingest) would run the
    # whole melt/expand + map-side partial aggregation on ONE core
    # (measured: the 2.1 s count_distinct job and the 1.4 s percentile
    # job of a 600k x 4 profile were both single-map-task). spread() is
    # a no-op at real corpus scale (thousands of splits) and projecting
    # to the profiled columns first keeps the one-time shuffle slim.
    from .text import spread
    df = spread(df.select(*cols))
    if exact:
        # MELT + groupBy(col_name): the exact `percentile` aggregate
        # buffers every value and sorts them in its FINAL merge, so a
        # single wide df.agg() funnels ALL profiled columns' buffers
        # through ONE reducer task (measured 2.4 s of a 4.2 s profile at
        # 600k rows x 4 cols). Melting to (col_name, value) rows and
        # grouping by col_name gives each column its own reducer — the
        # same sorts run in parallel. Exact mode is inherently
        # value-buffering (the 100 TB path is exact=False), so the melt
        # shuffle of n_rows x n_cols doubles is not the scale concern.
        # Exact distincts keep their OWN global aggregate over the
        # native column types: count_distinct on the double-cast melt
        # would collapse int64 keys beyond 2^53.
        melted = df.select(F.inline(F.array(*[
            F.struct(F.lit(c).alias("col_name"),
                     F.col(c).cast("double").alias("value"))
            for c in cols])))
        g = melted.groupBy("col_name").agg(
            F.count("value").cast("double").alias("n"),
            F.count(F.when(F.col("value").isNull(), 1))
            .cast("double").alias("n_null"),
            F.min("value").cast("double").alias("min"),
            F.max("value").cast("double").alias("max"),
            _exact_mean(F.col("value")).alias("mean"),
            F.percentile(F.col("value"), pcts).alias("__pcts"))
        dist = df.agg(*[F.count_distinct(F.col(c)).cast("double")
                        .alias(f"__d{i}") for i, c in enumerate(cols)])
        dist_long = dist.select(F.inline(F.array(*[
            F.struct(F.lit(c).alias("col_name"),
                     F.col(f"__d{i}").alias("n_distinct"))
            for i, c in enumerate(cols)])))
        # dist_long (a global agg) yields one row per column even over an
        # EMPTY table; driving the join from it preserves the old
        # contract that an empty input still profiles as n=0 rows
        g = (dist_long.join(g, "col_name", "left")
             .withColumn("n", F.coalesce(F.col("n"), F.lit(0.0)))
             .withColumn("n_null", F.coalesce(F.col("n_null"),
                                              F.lit(0.0))))
        pairs = F.array(
            *[F.struct(F.col("col_name"), F.lit(s).alias("stat"),
                       F.col(s).alias("value"))
              for s in ("n", "n_null", "n_distinct", "min", "max",
                        "mean")],
            *[F.struct(F.col("col_name"), F.lit(t).alias("stat"),
                       F.element_at(F.col("__pcts"), i + 1)
                       .cast("double").alias("value"))
              for i, t in enumerate(tags)])
        return (g.select(F.explode(pairs).alias("ps"))
                .select("ps.col_name", "ps.stat", "ps.value"))
    aggs = []
    # (col, stat, alias): positional alias, immune to '__' in column names
    stats: list[tuple[str, str, str]] = []

    def add(col: str, stat: str, expr) -> None:
        alias = f"__prof_{len(stats)}"
        aggs.append(expr.cast("double").alias(alias))
        stats.append((col, stat, alias))

    for c in cols:
        x = F.col(c)
        add(c, "n", F.count(x))
        add(c, "n_null", F.count(F.when(x.isNull(), 1)))
        add(c, "n_distinct", F.approx_count_distinct(x))
        add(c, "min", F.min(x))
        add(c, "max", F.max(x))
        add(c, "mean", F.avg(x))
        # ONE percentile aggregate per column (array of percentages =
        # one shared value buffer), then unpack — q percentiles as
        # separate aggregates would build q copies of the value buffer
        arr = F.percentile_approx(x, pcts, F.lit(accuracy))
        for i, tag in enumerate(tags):
            add(c, tag, F.element_at(arr, i + 1))
    wide = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(c).alias("col_name"), F.lit(s).alias("stat"),
                 F.col(a).alias("value"))
        for c, s, a in stats
    ])
    return (wide.select(F.explode(pairs).alias("ps"))
            .select("ps.col_name", "ps.stat", "ps.value"))


def histogram(df: DataFrame, col: str, bins: int = 10,
              lo: float | None = None, hi: float | None = None,
              by: Sequence[str] = ()) -> DataFrame:
    """Equi-width histogram of a numeric column, optionally per group:
    (by..., bin, bin_lo, bin_hi, n). Omitted `lo`/`hi` are taken from a
    one-row global min/max aggregate (broadcast-crossed in — IEEE double
    math, so bin edges are engine-deterministic given the same data).
    Values above `hi` clamp into the last bin, below `lo` into the
    first (closed outer edges, the numpy.histogram convention); empty
    bins are not emitted (join against a spine if you need density —
    see gap_fill for the pattern).

    One shuffle: the (keys, bin) rollup with map-side combine. The
    bounds pass is metadata-cheap (min/max only) and skipped entirely
    when explicit bounds are given — give them at 100 TB."""
    if bins < 1:
        raise ValueError("histogram: bins must be >= 1")
    x = F.col(col).cast("double")
    if lo is None or hi is None:
        bounds = df.agg(F.min(x).alias("__lo"), F.max(x).alias("__hi"))
        src = df.crossJoin(F.broadcast(bounds))
        lo_c = F.col("__lo") if lo is None else F.lit(float(lo))
        hi_c = F.col("__hi") if hi is None else F.lit(float(hi))
    else:
        src, lo_c, hi_c = df, F.lit(float(lo)), F.lit(float(hi))
    w = (hi_c - lo_c) / bins
    idx = F.when(w > 0, F.least(
        F.greatest(F.floor((x - lo_c) / w), F.lit(0)),
        F.lit(bins - 1)).cast("int")).otherwise(F.lit(0))
    keys = [F.col(k) for k in by]
    binned = src.filter(x.isNotNull()).select(
        *keys, idx.alias("bin"), lo_c.alias("__l"), w.alias("__w"))
    # __l/__w are row-constant (literals or the broadcast 1-row bounds),
    # so grouping on them adds no cardinality — it just carries them
    # through to the edge computation
    return (binned.groupBy(*[k for k in by], "bin", "__l", "__w")
            .agg(F.count("*").alias("n"))
            .select(*keys, "bin",
                    (F.col("__l") + F.col("bin") * F.col("__w"))
                    .alias("bin_lo"),
                    (F.col("__l") + (F.col("bin") + 1) * F.col("__w"))
                    .alias("bin_hi"), "n"))


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations in long format (col_a, col_b,
    corr), upper triangle only (col_a < col_b by the given order).
    ONE aggregation pass — every corr() is algebraic, so all pairs ride
    a single map-side-combined job; no per-pair scans, no driver math.
    O(k^2) aggregate buffers for k columns: fine for the tens-of-columns
    profiling case, cap k upstream for very wide tables."""
    if len(cols) < 2:
        raise ValueError("corr_matrix: need at least 2 columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    wide = df.agg(*[
        F.corr(F.col(a).cast("double"), F.col(b).cast("double"))
        .alias(f"__c_{i}") for i, (a, b) in enumerate(pairs)])
    arr = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.round(F.col(f"__c_{i}"), 6).alias("corr"))
        for i, (a, b) in enumerate(pairs)])
    return (wide.select(F.explode(arr).alias("p"))
            .select("p.col_a", "p.col_b", "p.corr"))
