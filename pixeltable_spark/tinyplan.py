"""Bounded-section execution: plan a frame whose intermediate volume is
known to be small in a sibling Spark session with AQE off and a
data-derived shuffle partition count.

Why: with AQE on, EVERY shuffle stage of an action materializes as its
own Spark job, with a driver replanning pass between stage jobs. That is
the right trade for wide data-dependent plans (runtime coalescing, skew
splits, join-strategy rewrites), but for sections that reduce a
*bounded* table — an iterative fixpoint loop over a checkpointed edge
set, model/sketch tables bounded by a vocab or register count, the
commit path of a small mutation — the runtime statistics can never
change the plan, so the per-stage job floor (measured 30-145 ms/job
depending on boot) and the replanning gaps are pure overhead. Measured
on the connected-components loop: 8-9 jobs per star round with AQE vs 1
without, identical results.

The width is NEVER a constant: callers derive it from facts they
already hold — the materialized partition count of an eagerly-
checkpointed frame (byte-coalesced by AQE when it materialized), or,
on the commit path, the number of buckets the commit's files touch (one
bucket = one output file, ~``bucket_chunk`` rows).

Mechanism: :func:`narrow` re-homes a frame's analyzed plan into a
sibling session (``spark.newSession()``: shared SparkContext, cache and
catalog, its own SQL confs), cached per parent session and exact width.
Every action on the narrowed frame, or on a frame derived from it, is
planned with the sibling's confs. A sibling copies the parent's SQL
confs when it is created, so confs set at runtime before then reach it.
No session's confs are ever written afterwards, so no caller can change
the plan of another thread's query: a serving thread's request or a
user query beside an ``insert_stream`` micro-batch commit plans under
the session's own confs, AQE included. Frames that leave a bounded
section go back to the parent (``narrow(df, None)``).

Skew guard: a width above 2x the cluster's default parallelism is not
small, so :func:`narrow` keeps the frame in the parent session (AQE and
its skew-join splits included). At 100 TB wide commits and fixpoint
loops therefore run exactly as they would without the mode.

Partitioning cannot change results for the sections this is applied to
(exact-key groupBy/join/distinct pipelines, global aggregates, and
bucket-hash-partitioned writes — each bucket still lands in exactly one
task, so the files written are identical); the oracle gate re-verifies
every touched query.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame

_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUF_KEY = "spark.sql.shuffle.partitions"


def _too_wide(spark, width: int) -> bool:
    try:
        return width > 2 * spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — no context info: treat as small
        return False


def _session(spark, width: Optional[int]):
    """The session a bounded section at `width` plans in: `spark`'s
    parent when `width` is None or above the skew guard, else the
    parent's sibling for max(1, width), created on first use (two
    threads racing to create one keep the first)."""
    parent = getattr(spark, "_pxt_parent", spark)
    if width is None:
        return parent
    width = max(1, int(width))
    if _too_wide(parent, width):
        return parent
    siblings = parent.__dict__.setdefault("_pxt_siblings", {})
    sib = siblings.get(width)
    if sib is None:
        sib = parent.newSession()
        own = sib.conf.getAll
        want = {**parent.conf.getAll, _AQE_KEY: "false",
                _SHUF_KEY: str(width)}
        for key, val in want.items():
            if own.get(key) != val:
                sib.conf.set(key, val)
        sib._pxt_parent = parent
        sib = siblings.setdefault(width, sib)
    return sib


def narrow(df: DataFrame, width: Optional[int]) -> DataFrame:
    """`df` planned for a bounded section at `width` (data-derived by
    the caller, floored at 1): its analyzed plan re-homed into the
    sibling session for that width, or into the parent session when
    `width` is None or above the skew guard. Returns `df` itself when
    it already lives there."""
    spark = df.sparkSession
    target = _session(spark, width)
    if target is spark:
        return df
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(jds.ofRows(target._jsparkSession,
                                df._jdf.queryExecution().analyzed()),
                     target)


@contextmanager
def tiny_plan(spark, width: int):
    """For code outside the engine: yields the session to build a
    bounded section's frames in — the sibling for `width`, or the
    parent above the skew guard. No session's confs change."""
    yield _session(spark, max(1, int(width)))


def materialized_width(df) -> int:
    """Partition count of an already-materialized (checkpointed)
    DataFrame — the scale proxy handed to :func:`narrow`. The frame
    was materialized under AQE, so this is the byte-coalesced width of
    the real data volume (1 at bench scale, hundreds+ at 100 TB)."""
    try:
        return max(1, df.rdd.getNumPartitions())
    except Exception:  # noqa: BLE001 — fall back to a safe small width
        return 1
