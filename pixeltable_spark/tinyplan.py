"""Scoped "tiny plan" execution mode: AQE off + a data-derived shuffle
partition count for sections whose intermediate volume is known to be
small. The engine's one mechanism for flipping session confs.

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
already hold, e.g. the materialized partition count of an eagerly-
checkpointed frame (itself byte-coalesced by AQE when it materialized),
or, on the commit path, the number of buckets the commit's files touch
(one bucket = one output file, ~``bucket_chunk`` rows), for a rollup
the buckets of the base files it re-aggregates. A commit that touches
one bucket of a 12k-row table runs its probe, rewrite and write as
single-task stages; one touching hundreds of buckets gets that many
tasks.

Skew guard: a scope whose width exceeds 2x the cluster's default
parallelism is not small, so it keeps the session's confs (AQE and its
skew-join splits included) — the mode only ever applies to work that
fits in about two waves of tasks. At 100 TB that means wide commits
and fixpoint loops run exactly as they would without the mode.

Thread safety: the confs are session-global, so set -> run -> restore
runs under one module-level re-entrant lock. Scopes on different
threads (an ``insert_stream`` micro-batch thread committing while the
main thread updates another table, serving threads) serialize; a scope
nested on the same thread keeps the outermost settings. Work outside
any scope on another thread still sees the scope's confs while it is
active — only scoped sections are isolated from each other. Unscoped
work that runs two jobs over one shuffled plan and needs both to see the
same partitions must fix them first (``Table.insert`` materializes a
shuffled DataFrame source before its precheck for this reason).

Partitioning cannot change results for the sections this is applied to
(exact-key groupBy/join/distinct pipelines, global aggregates, and
bucket-hash-partitioned writes — each bucket still lands in exactly one
task, so the files written are identical); the oracle gate re-verifies
every touched query.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUF_KEY = "spark.sql.shuffle.partitions"

_LOCK = threading.RLock()
_depth = 0  # scopes entered by the lock-holding thread


def _too_wide(spark, nparts: int) -> bool:
    try:
        return nparts > 2 * spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — no context info: treat as small
        return False


@contextmanager
def tiny_plan(spark, nparts: int):
    """Run the enclosed plan-building AND its actions with AQE disabled
    and ``spark.sql.shuffle.partitions`` set to ``nparts`` (data-derived
    by the caller, floored at 1). Re-entrant on one thread: nested
    scopes keep the outermost settings. Confs are restored on exit;
    plans built inside but executed after the scope are planned with
    the restored session confs (callers must materialize inside the
    scope when that matters). A width above the skew guard leaves the
    confs untouched."""
    global _depth
    nparts = max(1, int(nparts))
    with _LOCK:
        saved: list[tuple[str, str | None]] = []
        if _depth == 0 and not _too_wide(spark, nparts):
            for key, val in ((_AQE_KEY, "false"), (_SHUF_KEY, str(nparts))):
                try:
                    saved.append((key, spark.conf.get(key, None)))
                    spark.conf.set(key, val)
                except Exception:  # noqa: BLE001 — conf is an optimization
                    pass
        _depth += 1
        try:
            yield
        finally:
            _depth -= 1
            for key, old in saved:
                try:
                    if old is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, old)
                except Exception:  # noqa: BLE001 — restore is best-effort
                    pass


def materialized_width(df) -> int:
    """Partition count of an already-materialized (checkpointed)
    DataFrame — the scale proxy handed to :func:`tiny_plan`. The frame
    was materialized under AQE, so this is the byte-coalesced width of
    the real data volume (1 at bench scale, hundreds+ at 100 TB)."""
    try:
        return max(1, df.rdd.getNumPartitions())
    except Exception:  # noqa: BLE001 — fall back to a safe small width
        return 1
