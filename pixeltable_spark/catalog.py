"""Versioned table catalog: create_table / insert / update / delete /
computed columns / views / component views / snapshots / revert / history.

The analog of the reference's catalog + store layer (reference
catalog/table.py:52-1111, catalog/view.py:38-328, store.py:27-58 MVCC
layout, plan.py:255-487 insert/update plans) — re-architected for a
parquet lakehouse:

Physical layout (reference store.py:27-58):
* every row-version carries ``_rowid`` (monotonic insert order),
  ``_v_min`` / ``_v_max``: live at version V iff ``_v_min <= V < _v_max``.
* a table is a directory of parquet files; mutations are copy-on-write
  epochs (write new data dir, swap) — the same mechanics Delta Lake uses,
  spelled out explicitly so versioning semantics (revert, time travel,
  per-row lineage) are first-class rather than delegated.
* computed columns materialize at insert time over ONLY the inserted
  slice (incremental computation — the reference's defining capability);
  update(cascade=True) recomputes transitively dependent columns.
* per-cell error capture: on_error='ignore' stores a sibling
  ``_cellmd_<col>`` struct {errortype, errormsg} instead of failing the
  batch (reference exprs/column_property_ref.py:18-31).

Views are materialized to their own storage keyed by base ``_rowid``
(+ ``_pos`` for iterator/component views) and maintained incrementally:
base.insert() runs the view's plan over just the new base rows
(reference catalog/table_version.py:1076-1091 propagation).

Scale: inserts append parquet part-files (no rewrite); updates/deletes
rewrite only because local parquet lacks MERGE — on a real deployment the
same code paths emit Delta MERGE. All computation is DataFrame-level:
the computed-column DAG compiles to one withColumns projection, views'
incremental loads are plain filtered scans.
"""

from __future__ import annotations

import builtins
import datetime
import functools
import json
import os
import shutil
import threading
import time
import uuid as _uuid
from collections import OrderedDict
from contextlib import contextmanager
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import telemetry, tinyplan
from .commit_store import _current_manifest, resolve_commit_store
from .exceptions import (AlreadyExistsError, ConcurrencyError,
                         Error, NotFoundError)
from .table_metadata import (ColumnMetadata, IndexMetadata, TableMetadata,
                             UpdateStatus, VersionMetadata, version_metadata)
from .exprs import Expr
from .localframe import _NoLiteral, _esc, _value_sql, local_df as _local_df
from .plans.query import TableRef
from .type_system import ColumnType, schema_to_struct

MAXV = 1 << 62
_ROWID, _VMIN, _VMAX, _POS = "_rowid", "_v_min", "_v_max", "_pos"
# view-local version interval (a view has its own version counter, distinct
# from the base's _v_min/_v_max which pass through the view plan)
_VVMIN, _VVMAX = "_vv_min", "_vv_max"
# bucket partition column: (_rowid // bucket_chunk) % n_buckets — the
# write-clustering unit (mutations are file-granular)
_BKT = "_bkt"
# hidden rename target for atomic namespace deletes (see Catalog._gc_tombstones)
_TOMBSTONE_PFX = ".dropped-"
SYSTEM_COLS = {_ROWID, _VMIN, _VMAX, _POS, _VVMIN, _VVMAX, _BKT}
# an IN-list of at most this many values prunes files value by value;
# a longer one prunes by its min/max band (nearly as selective, and the
# per-file driver cost stays O(1))
_IN_PRUNE_MAX = 64
# a commit delta of at most this many distinct tuples (affected rowids
# for views, group keys for rollups) reaches its dependents as one
# rendered literal predicate (_delta_pred); a larger delta takes the
# null-safe join. The bound was measured when the predicate cost one
# py4j literal per key (Column.isin): the literal IN beat the join by
# 5-19% up to 384 keys and was level or slower from 512 (one update's
# maintenance, local Spark, 4 cores, 12k- and 120k-row bases). A
# rendered string builds in ~1-3 ms at any of these sizes, so the
# crossover wants re-measuring; until then the bound stays
_DELTA_LITERAL_MAX = 256
# read frames a handle keeps (Table._frames), least recently used out
# first: the live snapshot, its pruned scans and a few time-travel reads
_FRAMES_MAX = 8
_FRAMES_LOCK = threading.Lock()


@functools.lru_cache(maxsize=None)
def _ccol(name: str) -> Column:
    """Cached unresolved Column for the fixed system columns: each
    ``F.col`` is a ~1-2.5 ms py4j round trip and the mutation/visibility
    paths rebuild the same handful of references hundreds of times per
    battery. Unresolved Columns are immutable and session-independent
    (one JVM per process), so reuse is safe."""
    return F.col(name)


@functools.lru_cache(maxsize=512)
def _vis_pred(v: int, vmin: str = _VMIN, vmax: str = _VMAX) -> Column:
    """Cached MVCC visibility predicate for version v (the single
    hottest rebuilt expression: every df()/time-travel read and every
    propagation pass filters on it — 4 py4j round trips per build)."""
    return (_ccol(vmin) <= v) & (_ccol(vmax) > v)


@functools.lru_cache(maxsize=64)
def _bkt_col(chunk: int, n_buckets: int) -> Column:
    """Cached bucket expression (see Table._with_bkt): depends only on
    (bucket_chunk, n_buckets), yet was rebuilt (~10 py4j round trips)
    for every store read of every commit."""
    return F.pmod(F.floor(_ccol(_ROWID) / F.lit(chunk)),
                  F.lit(n_buckets)).cast("int")


def _stage(entry: dict, part, build: Callable[[], DataFrame]) -> DataFrame:
    """`entry[part]` of a read-frame memo entry (Table._frames), built on
    first use; of two racing builds the first stored wins."""
    df = entry.get(part)
    return df if df is not None else entry.setdefault(part, build())


def _collect_bounded(df: DataFrame, width: int) -> list:
    """`df`'s distinct rows, at most _DELTA_LITERAL_MAX + 1 of them (the
    extra row says the delta is over the literal bound), in ONE job at
    `width`. coalesce(1) before the limit keeps the take to one task —
    a bare limit().collect() rescans 1, then 4, then 11 partitions, a
    job each."""
    return (tinyplan.narrow(df, width).distinct().coalesce(1)
            .limit(_DELTA_LITERAL_MAX + 1).collect())


def _delta_pred(spark: SparkSession, fields: Sequence[T.StructField],
                keys: Sequence[tuple]) -> Optional[Column]:
    """Null-safe membership of the `fields` columns in the literal key
    tuples `keys`, rendered as ONE SQL string: one py4j call at any key
    count, where Column.isin ships one literal per key. One column is
    `c IN (...)`, plus `OR c IS NULL` for a NULL key: the plain IN that
    parquet pushdown reads. Several are `named_struct(...) IN
    (named_struct(...), ...)`: struct equality matches a NULL field to
    NULL, so NULL group keys match (group-by semantics). Each literal
    is cast to its column's type, as localframe._sql_plan does.

    None when a value is not a provably exact literal, and the caller
    joins instead: nested values and anything else _value_sql declines;
    datetimes, collected as naive local time, which does not
    round-trip across a DST fold; NaN and float zeros, which GROUP BY
    folds (-0.0 with 0.0) but a pushed-down parquet filter tells apart;
    strings under escapedStringLiterals."""
    rendered: dict[tuple, None] = {}
    has_str = False
    try:
        for key in keys:
            lits = []
            for f, v in zip(fields, key):
                if isinstance(v, datetime.datetime) or (
                        isinstance(v, float) and (v != v or v == 0)):
                    return None
                has_str = has_str or isinstance(v, str)
                lits.append("CAST(%s AS %s)" % (
                    _value_sql(v), f.dataType.simpleString()))
            rendered[tuple(lits)] = None
    except _NoLiteral:
        return None
    if has_str and spark.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false") == "true":
        return None  # the escapes assume the default lexer mode
    cols = ["`" + f.name.replace("`", "``") + "`" for f in fields]
    if len(cols) == 1:
        null = "CAST(NULL AS %s)" % fields[0].dataType.simpleString()
        vals = [k[0] for k in rendered if k[0] != null]
        terms = ["%s IN (%s)" % (cols[0], ", ".join(vals))] if vals else []
        if len(vals) < len(rendered):
            terms.append(cols[0] + " IS NULL")
        return F.expr(" OR ".join(terms) or "FALSE")

    def struct(xs: Sequence[str]) -> str:
        return "named_struct(%s)" % ", ".join(
            _esc(f.name) + ", " + x for f, x in zip(fields, xs))
    return F.expr("%s IN (%s)" % (struct(cols), ", ".join(
        struct(k) for k in rendered)))


def _band_ranges(bands: dict) -> list[tuple]:
    """Pruning conjuncts of per-column (min, max) bands."""
    return [(c, op, v) for c, (lo, hi) in bands.items()
            for op, v in ((">=", lo), ("<=", hi))]


def _has_exchange(df: DataFrame) -> bool:
    """True when `df`'s physical plan shuffles. Such a plan's output
    partitioning is decided per action: AQE coalesces each shuffle read
    by its map outputs' byte sizes, which column pruning changes from
    one consumer to the next."""
    try:
        return "Exchange" in df._jdf.queryExecution().executedPlan() \
            .toString()
    except Exception:  # noqa: BLE001 — unknown plan: assume it shuffles
        return True

# -- Bloom-filter file skipping ---------------------------------------------
# Per-file Bloom filters stored in the manifest alongside min/max stats:
# a point lookup (`col == v`) on a 100 TB table prunes every file whose
# bloom proves absence BEFORE Spark lists it — min/max stats can't do this
# for high-cardinality unsorted keys (every file spans ~the full range).
# Manifest format versioning (reference parity: metadata/__init__.py:21
# VERSION + :42 register_converter): v1 = unstamped pre-round-7
# manifests, v2 = stamped monolithic (full file list + stats inline),
# v3 = log-structured (the manifest lists immutable SEGMENT files, each
# holding the files added/removed by one commit — the Delta _delta_log /
# Iceberg manifest-list design), v4 = segment entries carry a SUMMARY
# ({"p": path, "n": files added, "r": files removed, "lo"/"hi": per-
# column min/max over the added files} — the Iceberg manifest-list
# partition-summary design) so a selective scan opens only the segments
# whose summary admits a match instead of materializing the full
# file->stats map. Bump MANIFEST_FORMAT_VERSION on any breaking
# manifest-schema change and register an upgrade fn for the OLD version.
MANIFEST_FORMAT_VERSION = 4


def _upgrade_manifest_v1(m: dict) -> dict:
    """v1 -> v2: identical layout, just stamp the version (v1 predates
    the stamp; files/stats keys are unchanged)."""
    out = dict(m)
    out["format_version"] = 2
    return out


def _upgrade_manifest_v2(m: dict) -> dict:
    """v2 -> v3: a v2 manifest keeps its inline files/stats (readers
    resolve both shapes — see _resolve_manifest); the next commit
    writes the segmented form."""
    out = dict(m)
    out["format_version"] = 3
    return out


def _upgrade_manifest_v3(m: dict) -> dict:
    """v3 -> v4: bare segment-path strings become summary-less entry
    dicts (no summary = unknowable = that segment is never skipped);
    the next commit writes summaries for its new segment."""
    out = dict(m)
    if "segments" in out:
        out["segments"] = [s if isinstance(s, dict) else {"p": s}
                           for s in out["segments"]]
    out["format_version"] = 4
    return out


_MANIFEST_UPGRADES = {1: _upgrade_manifest_v1, 2: _upgrade_manifest_v2,
                      3: _upgrade_manifest_v3}


def _seg_path(entry) -> str:
    """Segment relpath from a v4 entry dict (or a legacy bare string)."""
    return entry["p"] if isinstance(entry, dict) else entry

# Same design as Delta Lake bloom-filter indexes / Iceberg bloom write
# props; built only for NEW files at commit time (one column-pruned read).
_BLOOM_PFX = "__bloom__"
_NULLS_PFX = "__nulls__"
_NDV_PFX = "__ndv__"
_BLOOM_MAX_BITS = 1 << 21  # 256 KiB cap per (file, column)


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n values at target false-positive
    rate: m = -n ln p / (ln 2)^2, k = (m/n) ln 2."""
    import math
    n = max(n, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max(m, 64), _BLOOM_MAX_BITS)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_key(v) -> Optional[bytes]:
    """Canonical byte encoding so build-side and probe-side hash the same
    bytes for equal values (5 and 5.0 must collide; bool is not int)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"b1" if v else b"b0"
    if isinstance(v, float):
        import math
        if not math.isfinite(v):
            # inf/-inf/nan: int(v) raises, and they can never equal an int,
            # so skip canonicalization and use a distinct stable encoding
            # ("inf"/"-inf"/"nan") — build and probe sides agree.
            return b"f" + repr(v).encode()
        if v == int(v) and abs(v) < (1 << 62):
            v = int(v)
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, float):
        return b"f" + repr(v).encode()
    if isinstance(v, str):
        return b"s" + v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return b"y" + bytes(v)
    return None


def _bloom_positions(key: bytes, m: int, k: int) -> list[int]:
    """k bit positions via double hashing over one md5 (Kirsch-Mitzenmacher)."""
    import hashlib
    d = hashlib.md5(key).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, fpp: float) -> Optional[dict]:
    """{"m","k","b"(base64 bitmap)} over the non-null values, or None when
    nothing encodable (bloom absent = file unprunable, always safe)."""
    import base64
    keys = [kb for v in values if (kb := _bloom_key(v)) is not None]
    if not keys:
        return None
    m, k = _bloom_params(len(keys), fpp)
    bits = bytearray((m + 7) // 8)
    for kb in keys:
        for pos in _bloom_positions(kb, m, k):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": k, "b": base64.b64encode(bytes(bits)).decode()}


def _bloom_might_contain(bloom: dict, v) -> bool:
    import base64
    try:
        kb = _bloom_key(v)
    except Exception:
        # unencodable literal -> can't prove absence; never crash pruning
        return True
    if kb is None:
        return True
    bits = base64.b64decode(bloom["b"])
    for pos in _bloom_positions(kb, bloom["m"], bloom["k"]):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


_STR_STAT_MAX = 64


def _truncate_str_stats(lo: str, hi: str,
                        limit: int = _STR_STAT_MAX) -> tuple:
    """Bound string min/max stats to `limit` chars for the manifest (the
    Delta 32-char-truncation design: a documents table would otherwise
    ship document prefixes in every manifest). Widening only, so pruning
    stays conservative: lo[:limit] <= lo; hi becomes the prefix with its
    last char bumped, which upper-bounds every string starting with that
    prefix. Returns (lo, None) when no valid upper bound exists (all
    prefix chars at the max code point) — caller drops the stat."""
    if len(lo) > limit:
        lo = lo[:limit]
    if len(hi) > limit:
        p = hi[:limit]
        i = len(p) - 1
        while i >= 0 and ord(p[i]) >= 0x10FFFF:
            i -= 1
        if i < 0:
            return lo, None
        hi = p[:i] + chr(ord(p[i]) + 1)
    return lo, hi


def _cellmd_col(name: str) -> str:
    return f"_cellmd_{name}"


_CELLMD_TYPE = T.StructType([
    T.StructField("errortype", T.StringType()),
    T.StructField("errormsg", T.StringType()),
])


class ComputedColumn:
    def __init__(self, name: str, expr: Expr, col_type: ColumnType,
                 on_error: str = "abort"):
        self.name = name
        self.expr = expr
        self.col_type = col_type
        self.on_error = on_error


class Catalog:
    """Directory-tree namespace of tables/views/snapshots
    (reference catalog/dir.py, globals.py:854 create_dir)."""

    def __init__(self, spark: SparkSession, root: str,
                 commit_store=None):
        """`commit_store` selects the commit-protocol backend for every
        table in this catalog: 'posix' (default — flock-serialized
        writers, shared-filesystem deployments) or 'object-store' /
        'optimistic' (no lock across mutations, conditional-put commit
        with retry-on-conflict — the S3/GCS protocol; see
        commit_store.py). A CommitStore instance is also accepted;
        PXT_SPARK_COMMIT_STORE overrides the default."""
        self.spark = spark
        self.root = root
        self.commit_store = resolve_commit_store(commit_store)
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, Table] = {}
        self._gc_tombstones()

    @property
    def spark(self) -> SparkSession:
        """The catalog's session; once it is stopped, the active one, so
        a restarted application keeps its catalog and table handles."""
        s = self._spark
        if s._sc._jsc is None:
            s = self._spark = SparkSession.getActiveSession() or s
        return s

    @spark.setter
    def spark(self, s: SparkSession) -> None:
        self._spark = s

    def _gc_tombstones(self) -> None:
        """Reap half-deleted namespace trees. drop_dir/drop_table commit
        by RENAMING the target to a hidden tombstone (one atomic rename),
        then delete the tombstone tree; a crash mid-delete leaves only a
        tombstone, which every reader skips and this reaps lazily — the
        catalog is always in exactly one of the two consistent states."""
        try:
            entries = os.listdir(self.root)
        except OSError:
            return
        for e in entries:
            if e.startswith(_TOMBSTONE_PFX):
                shutil.rmtree(os.path.join(self.root, e),
                              ignore_errors=True)

    # -- namespace ---------------------------------------------------------
    def create_dir(self, path: str) -> None:
        os.makedirs(os.path.join(self.root, *path.split(".")), exist_ok=True)

    def _tbl_dir(self, name: str) -> str:
        return os.path.join(self.root, *name.split("."))

    def _is_table_dir(self, d: str) -> bool:
        return os.path.exists(os.path.join(d, "meta.json"))

    def list_dirs(self, path: str = "", recursive: bool = True) -> list[str]:
        """Directory paths under `path` (reference globals.py list_dirs).
        A directory is any namespace node that is not itself a table."""
        base = self._tbl_dir(path) if path else self.root
        out = []
        for dirpath, dirnames, _files in os.walk(base):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            # don't descend into table storage
            if self._is_table_dir(dirpath):
                dirnames[:] = []
                continue
            if dirpath != base:
                rel = os.path.relpath(dirpath, self.root)
                out.append(rel.replace(os.sep, "."))
            if not recursive and dirpath != base:
                dirnames[:] = []
        return sorted(out)

    def get_dir_contents(self, path: str = "",
                         recursive: bool = False) -> dict:
        """{'dirs': [...], 'tables': [...]} under `path`
        (reference globals.py get_dir_contents)."""
        base = self._tbl_dir(path) if path else self.root
        dirs, tables = [], []
        if not os.path.isdir(base):
            raise NotFoundError(f"no such directory: {path!r}")
        for entry in sorted(os.listdir(base)):
            full = os.path.join(base, entry)
            if not os.path.isdir(full) or entry.startswith("."):
                continue  # hidden entries incl. drop tombstones
            rel = (f"{path}.{entry}" if path else entry)
            if self._is_table_dir(full):
                tables.append(rel)
            else:
                dirs.append(rel)
                if recursive:
                    sub = self.get_dir_contents(rel, recursive=True)
                    dirs.extend(sub["dirs"])
                    tables.extend(sub["tables"])
        return {"dirs": dirs, "tables": tables}

    def get_dir_tree(self, path: str = "") -> dict:
        """Nested {'dirs': {name: subtree}, 'tables': [names]}
        (reference globals.py get_dir_tree)."""
        c = self.get_dir_contents(path)
        return {
            "dirs": {d.rsplit(".", 1)[-1]: self.get_dir_tree(d)
                     for d in c["dirs"]},
            "tables": [t.rsplit(".", 1)[-1] for t in c["tables"]],
        }

    def ls(self, path: str = "") -> list[dict]:
        """Flat listing with kinds (reference globals.py ls): one dict
        per entry with name/kind ('dir' | 'table' | 'view' |
        'snapshot')."""
        c = self.get_dir_contents(path)
        out = [{"name": d, "kind": "dir"} for d in c["dirs"]]
        for t in c["tables"]:
            with open(os.path.join(self._tbl_dir(t), "meta.json")) as f:
                kind = json.load(f).get("kind", "table")
            out.append({"name": t, "kind": kind})
        return out

    def drop_dir(self, path: str, force: bool = False) -> None:
        """Remove a namespace directory (reference globals.py drop_dir):
        refuses a non-empty directory unless force=True, which drops
        contained tables/dirs recursively."""
        d = self._tbl_dir(path)
        if not os.path.isdir(d) or self._is_table_dir(d):
            raise NotFoundError(f"no such directory: {path!r}")
        contents = self.get_dir_contents(path, recursive=True)
        if (contents["dirs"] or contents["tables"]) and not force:
            raise ValueError(
                f"directory {path!r} is not empty; pass force=True to drop "
                f"{len(contents['tables'])} table(s)")
        for t in contents["tables"]:
            self._tables.pop(t, None)
        self._atomic_drop(d)

    def move(self, src: str, dst: str) -> None:
        """Rename/move a table or directory within the namespace
        (reference globals.py move). Cached handles are re-keyed; a
        moved table keeps its storage (one directory rename)."""
        sd, dd = self._tbl_dir(src), self._tbl_dir(dst)
        if not os.path.isdir(sd):
            raise NotFoundError(f"no such table or directory: {src!r}")
        if os.path.exists(dd):
            raise ValueError(f"destination exists: {dst!r}")
        os.makedirs(os.path.dirname(dd), exist_ok=True)
        os.rename(sd, dd)
        moved = [(n, t) for n, t in self._tables.items()
                 if n == src or n.startswith(src + ".")]
        for n, t in moved:
            del self._tables[n]
            new_name = dst + n[len(src):]
            t.name = new_name
            t.path = self._tbl_dir(new_name)
            self._tables[new_name] = t

    # -- tables ------------------------------------------------------------
    def create_table(self, name: str, schema: dict[str, ColumnType],
                     primary_key: Optional[Sequence[str]] = None,
                     if_exists: str = "error",
                     n_buckets: Optional[int] = None,
                     bucket_chunk: Optional[int] = None) -> "Table":
        """`n_buckets` sizes the write-clustering unit
        (`_bkt = (_rowid // bucket_chunk) % n`, default 16): mutations
        are file-granular, so n_buckets bounds files-per-bulk-commit and
        scan parallelism; size it to expected-table-size /
        target-file-size on a real deployment."""
        # accept bare type factories (pxt.String), instances
        # (pxt.String(False)), AND Column specs (pxt.Column(type=...,
        # primary_key=...) / pxt.Column(value=expr) — the reference's
        # schema-literal surface, catalog/model.py:31)
        from .model import Column as _ColSpec
        computed_specs: list = []
        plain: dict[str, ColumnType] = {}
        spec_pk: list[str] = []
        for k, v in schema.items():
            if isinstance(v, _ColSpec):
                if v.value is not None:
                    computed_specs.append((k, v))
                    continue
                plain[k] = v.col_type()
                if v.primary_key:
                    spec_pk.append(k)
            elif callable(v) and not isinstance(v, ColumnType):
                plain[k] = v()
            else:
                plain[k] = v
        schema = plain
        if spec_pk:
            # de-dup: a column marked primary_key in its Column spec AND
            # listed in the explicit primary_key argument appears once
            primary_key = list(dict.fromkeys(
                list(primary_key or []) + spec_pk))
        d = self._tbl_dir(name)
        if os.path.exists(d):
            if if_exists == "replace":
                self._atomic_drop(d)
            elif if_exists == "ignore":
                return self.get_table(name)
            else:
                raise AlreadyExistsError(f"table {name!r} already exists")
        t = Table._create(self, name, d, schema, list(primary_key or []))
        if n_buckets is not None:
            t.n_buckets = int(n_buckets)
        if bucket_chunk is not None:
            t.bucket_chunk = max(1, int(bucket_chunk))
            t._save_meta()
        self._tables[name] = t
        # computed Column(value=...) specs evaluate after the plain
        # columns exist; a failing expression must not leave a
        # half-created table behind (plain columns committed, computed
        # columns missing — a retry would then hit AlreadyExistsError),
        # so the whole create rolls back on any spec failure
        try:
            for cname, spec in computed_specs:
                from .model import _bind_value
                t.add_computed_column(cname, _bind_value(spec, t),
                                      on_error=spec.on_error)
        except BaseException:
            self._tables.pop(name, None)
            if os.path.exists(d):
                self._atomic_drop(d)
            raise
        return t

    def get_table(self, name: str) -> "Table":
        if name not in self._tables:
            d = self._tbl_dir(name)
            try:
                with open(os.path.join(d, "meta.json")) as f:
                    kind = json.load(f).get("kind", "table")
            except FileNotFoundError as e:
                raise NotFoundError(f"no such table: {name!r}") from e
            cls = {"view": View, "rollup": Rollup}.get(kind, Table)
            self._tables[name] = cls._load(self, name, d)
        return self._tables[name]

    def _atomic_drop(self, d: str) -> None:
        """Delete a namespace tree with one consistent commit point: the
        RENAME onto a hidden tombstone is atomic; the (possibly long,
        crash-prone) recursive delete then runs on the tombstone, which
        readers skip and _gc_tombstones reaps if this process dies
        mid-way. A multi-second rmtree of a half-dropped directory can
        never be observed under its real name."""
        tomb = os.path.join(self.root,
                            _TOMBSTONE_PFX + _uuid.uuid4().hex[:12])
        os.rename(d, tomb)  # the commit point
        shutil.rmtree(tomb, ignore_errors=True)

    def drop_table(self, name: str) -> None:
        d = self._tbl_dir(name)
        if os.path.exists(d):
            self._atomic_drop(d)
        self._tables.pop(name, None)

    def list_tables(self) -> list[str]:
        out = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            if "meta.json" in filenames:
                rel = os.path.relpath(dirpath, self.root)
                out.append(rel.replace(os.sep, "."))
        return sorted(out)

    # -- views / snapshots -------------------------------------------------
    def create_view(self, name: str, base: "Table",
                    predicate: Optional[Expr] = None,
                    extra_columns: Optional[dict[str, tuple[Expr, ColumnType]]] = None,
                    iterator: Optional[Callable[[DataFrame], DataFrame]] = None,
                    n_buckets: Optional[int] = None,
                    bucket_chunk: Optional[int] = None,
                    ) -> "View":
        v = View._create(self, name, self._tbl_dir(name), base,
                         {"predicate": predicate,
                          "extra": extra_columns or {}, "iterator": iterator},
                         n_buckets=n_buckets, bucket_chunk=bucket_chunk)
        base._views.append(v)
        self._tables[name] = v
        return v

    def create_snapshot(self, name: str, base: "Table") -> "Snapshot":
        return Snapshot(base, base.version)

    def create_rollup(self, name: str, base: "Table",
                      group_by: Sequence[str], aggs: dict,
                      n_buckets: Optional[int] = None,
                      bucket_chunk: Optional[int] = None) -> "Rollup":
        """Incrementally-maintained aggregate view (see Rollup): one
        row per ``group_by`` group with the declared aggregates,
        refreshed per base commit by recomputing only delta-affected
        groups. ``aggs``: {out_name: (fn, col)} with fn one of
        count/sum/avg/min/max/count_distinct/stddev (col None for
        count)."""
        if isinstance(base, Rollup):
            raise Error("create_rollup: rollups over rollups are not "
                        "supported — aggregate the base directly")
        if isinstance(base, View):
            # views carry their column set in storage, not in .schema;
            # ``_rowid`` (alone) groups a COMPONENT view back to its
            # base rows — the per-document chunk-stats shape
            cols = set(base.df().columns) - SYSTEM_COLS
            if list(group_by) == ["_rowid"]:
                cols |= {"_rowid"}
        else:
            cols = set(base.schema) | set(base.computed)
        for g in group_by:
            if g not in cols:
                raise NotFoundError(f"unknown group column {g!r}")
        for out, spec in aggs.items():
            fn, col = (spec if isinstance(spec, (tuple, list))
                       else (spec, None))
            if fn not in _ROLLUP_AGGS:
                raise ValueError(
                    f"unknown aggregate {fn!r} for {out!r} "
                    f"(have {sorted(_ROLLUP_AGGS)})")
            if col is not None and col not in cols:
                raise NotFoundError(f"unknown agg column {col!r}")
        norm = {out: (spec if isinstance(spec, (tuple, list))
                      else (spec, None))
                for out, spec in aggs.items()}
        r = Rollup._create(self, name, self._tbl_dir(name), base,
                           {"group_cols": group_by, "aggs": norm},
                           n_buckets=n_buckets, bucket_chunk=bucket_chunk)
        base._views.append(r)
        self._tables[name] = r
        return r


def _locked_mutation(fn):
    """Run a Table mutation inside the commit-store's mutation guard
    (see Table._write_lock): the posix backend serializes racing
    writers up front; the object-store backend lets them race and
    surfaces conflicts at the commit point, in which case the WHOLE
    mutation is retried here against the rebased snapshot (the
    Delta/Iceberg commit-retry loop). Aborted attempts leave only
    unreferenced files, which vacuum reclaims after the retention
    window."""
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        retries = self._commit_store.commit_retries
        attempt = 0
        while True:
            try:
                with self._write_lock():
                    return fn(self, *args, **kwargs)
            except ConcurrencyError:
                if self._lock_depth:
                    raise  # nested mutation: let the outermost retry
                attempt += 1
                if attempt > retries:
                    raise
                time.sleep(min(0.05 * (2 ** attempt), 1.0))
    return wrapper


class Table:
    """Insertable, versioned table (reference catalog/insertable_table.py,
    catalog/table.py:52-1111)."""

    def __init__(self, catalog: Catalog, name: str, path: str):
        self.catalog = catalog
        self._commit_store = catalog.commit_store
        self.name = name
        self.path = path
        self.schema: dict[str, ColumnType] = {}
        self.primary_key: list[str] = []
        self.computed: dict[str, ComputedColumn] = {}
        self.version = 0
        self.next_rowid = 0
        self._history: list[dict] = []
        self._views: list[View] = []
        # bucket count for the partitioned store layout; 16 suits local
        # testing — a real deployment sizes this so a bucket ~ 1 GB
        self.n_buckets = 16
        # rows per contiguous rowid run within one bucket: _bkt =
        # (_rowid // chunk) % n_buckets. The chunk is sized to one
        # FILE's worth of rows (2^20), which buys three things at once:
        # a small append's contiguous rowids land in 1-2 buckets (1-2
        # files per commit, never one tiny file per bucket); a bulk
        # commit emits one file per chunk, each holding a CONTIGUOUS
        # rowid run, so per-file min/max on rowid — and on any
        # load-ordered key — are near-disjoint and narrow mutations
        # stats-prune to the few files that can match; and bucket sizes
        # stay balanced as chunks wrap around the bucket ring. Tables
        # persisted before this knob load chunk=1 (the old pure-mod
        # striping) so their stored _bkt= dirs stay consistent.
        self.bucket_chunk = 1 << 20
        # col -> target false-positive rate for per-file bloom skipping
        self.bloom_cols: dict[str, float] = {}
        # col -> HLL precision for manifest-resident NDV sketches
        # (approx_count_distinct from metadata — ndv.py)
        self.ndv_cols: dict[str, int] = {}
        # name -> EmbeddingIndex (index.py), persisted in computed.pkl
        self._indexes: dict = {}
        # earliest version still reconstructible: optimize(purge_before=v)
        # physically drops row-versions expired at/before v, so time travel
        # below v would silently miss rows — raise instead (see
        # _validate_version)
        self.version_floor = 0
        # streaming-ingest idempotency ledger: stream_id -> last ingested
        # micro-batch id, made durable IN the manifest commit itself
        # (Delta's txnAppId/txnVersion design) so foreachBatch replays
        # after a crash are detected even when the crash landed between
        # the commit swap and the meta save. insert_stream's callback
        # passes its (stream_id, batch_id) down to that commit.
        self.stream_batches: dict[str, int] = {}
        # the CURRENT token this handle's state reflects (pinned for a
        # mutation by _write_lock), the mutation nesting depth, and
        # _resolve_manifest's (token, snapshot) memo + segment counter
        self._manifest_at_read: Optional[str] = None
        self._lock_depth = 0
        self._resolve_cache: Optional[tuple[str, dict]] = None
        self._segment_reads = 0
        # memoized read frames, keyed per resolved file set (_frames)
        self._frame_memo: OrderedDict = OrderedDict()
        # versioned schema: one snapshot per schema-changing version, so
        # time travel and revert see the columns AS OF that version
        # (reference: schema_version in catalog metadata,
        # catalog/table_version.py bump_schema_version). Each entry:
        # {"version": v, "cols": [[logical, physical, type_dict,
        # is_computed], ...]}. drop_column is METADATA-ONLY (the Delta
        # "drop column" shape): the physical column stays in the files,
        # recorded in `retired` (physical -> type dict; None marks a
        # cellmd struct) so the reader schema keeps resolving it.
        self.schema_history: list[dict] = []
        self.retired: dict[str, Optional[dict]] = {}
        # column-ID mapping (Delta column-mapping design): post-waist
        # column name (live logical name or retired alias) -> FILE column
        # name, only where they differ. Filled by rename_column and
        # drop-then-re-add, which are thereby METADATA-ONLY — the last
        # schema ops that used to rewrite data (the reference gets this
        # free from Postgres, catalog/table.py:221-459). Reads rename
        # file->alias at the single read waist (_waist_rename); writes
        # rename alias->file in _write_snapshot_files. Values stay
        # injective (each file column backs at most one alias).
        self.phys_map: dict[str, str] = {}
        # set once a metadata-only add_column leaves existing files
        # without the new column: reads then always pass the explicit
        # reader schema so the column surfaces as NULL
        self._explicit_read_schema = False
        # dropped computed-column definitions, kept so revert() can
        # restore them (physical name -> ComputedColumn)
        self.computed_retired: dict[str, ComputedColumn] = {}

    # -- creation / persistence -------------------------------------------
    @classmethod
    def _create(cls, catalog: Catalog, name: str, path: str,
                schema: dict[str, ColumnType], primary_key: list[str]) -> "Table":
        t = cls(catalog, name, path)
        t.schema = dict(schema)
        t.primary_key = primary_key
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        t._log("create")
        t._snapshot_schema()
        t._save_meta()
        return t

    # -- versioned schema ---------------------------------------------------
    def _snapshot_schema(self, version: Optional[int] = None) -> None:
        """Record the current logical schema under `version` (default:
        the current one; one entry per schema-changing version;
        same-version re-snapshot replaces)."""
        v = self.version if version is None else version
        cols = [[n, n, ct.as_dict(), False] for n, ct in self.schema.items()]
        cols += [[cc.name, cc.name, cc.col_type.as_dict(), True]
                 for cc in self.computed.values()]
        self.schema_history = [s for s in self.schema_history
                               if s["version"] != v]
        self.schema_history.append({"version": v, "cols": cols})

    def _schema_at(self, version: int) -> Optional[dict]:
        """The schema snapshot in effect at `version` (latest snapshot
        with version <= it), or None for legacy tables without history."""
        if not self.schema_history:
            return None
        past = [s for s in self.schema_history if s["version"] <= version]
        return past[-1] if past else self.schema_history[0]

    def _full_read_schema(self) -> T.StructType:
        """Reader schema for the store, in FILE column names: current
        columns + every retired column still addressable by time travel,
        each translated through phys_map (post-waist alias -> file
        column). Files written after a drop simply lack the retired
        column and read as NULL (their row-versions postdate the drop
        anyway); files written before a re-add lack the new incarnation's
        fresh file column likewise."""
        st = self._store_schema()
        have = {f.name for f in st.fields}
        fields = [T.StructField(self.phys_map.get(f.name, f.name),
                                f.dataType, f.nullable)
                  for f in st.fields]
        for alias, tdict in self.retired.items():
            if alias in have:
                continue
            dt = _CELLMD_TYPE if tdict is None \
                else ColumnType.from_dict(tdict).spark_type()
            fields.append(T.StructField(
                self.phys_map.get(alias, alias), dt, True))
        return T.StructType(fields)

    def _reader_schema(self) -> Optional[T.StructType]:
        """Explicit reader schema when knowable without touching files —
        saves the footer-inference Spark job per read construction. Exact
        for plain tables (manifest-derived); View overrides with a
        per-version cache of the observed file schema (its store layout
        is plan-derived, not declared)."""
        return self._full_read_schema()

    def _note_file_schema(self, schema: T.StructType) -> None:
        """Hook for View's schema cache (no-op for plain tables)."""

    def _waist_rename(self, df: DataFrame) -> DataFrame:
        """The READ waist of column mapping: rename file columns to their
        post-waist aliases in one projection (handles swap renames
        atomically, unlike chained withColumnRenamed). Identity when no
        column was ever renamed — zero overhead for the common case."""
        if not self.phys_map:
            return df
        rev = {fcol: alias for alias, fcol in self.phys_map.items()}
        if not any(c in rev for c in df.columns):
            return df
        return df.select(*[F.col(c).alias(rev.get(c, c))
                           for c in df.columns])

    def _to_file_cols(self, df: DataFrame) -> DataFrame:
        """The WRITE waist: rename post-waist aliases back to their file
        column names before anything is written."""
        if not self.phys_map:
            return df
        if not any(c in self.phys_map for c in df.columns):
            return df
        return df.select(*[F.col(c).alias(self.phys_map.get(c, c))
                           for c in df.columns])

    def _translate_ranges(self, ranges):
        """Pruning conjuncts arrive in post-waist names; manifest stats
        are keyed by file column names."""
        if not ranges or not self.phys_map:
            return ranges
        return [(self.phys_map.get(c, c), op, v) for c, op, v in ranges]

    def _fresh_phys(self, name: str) -> str:
        """A file column name never used by this table: live aliases,
        retired aliases, and every mapped file column are all avoided."""
        taken = (set(self.schema) | set(self.computed) | set(self.retired)
                 | set(self.phys_map) | set(self.phys_map.values()))
        while True:
            cand = f"{name}__p{_uuid.uuid4().hex[:8]}"
            if cand not in taken:
                return cand

    @classmethod
    def _load(cls, catalog: Catalog, name: str, path: str) -> "Table":
        t = cls(catalog, name, path)
        t._load_meta()
        return t

    def _save_meta(self) -> None:
        meta = {
            "kind": "table",
            "name": self.name,
            "version": self.version,
            "next_rowid": self.next_rowid,
            "primary_key": self.primary_key,
            "history": self._history,
            "n_buckets": self.n_buckets,
            "bucket_chunk": self.bucket_chunk,
            "bloom_cols": self.bloom_cols,
            "ndv_cols": self.ndv_cols,
            "version_floor": self.version_floor,
            "stream_batches": self.stream_batches,
            "schema": {k: v.as_dict() for k, v in self.schema.items()},
            "schema_history": self.schema_history,
            "retired": self.retired,
            "phys_map": self.phys_map,
            "explicit_read_schema": self._explicit_read_schema,
            # the manifest this meta is in sync with: loaders trust meta
            # only while CURRENT still points here; when CURRENT has
            # moved past it (a crash between commit and meta save), the
            # manifest's own version/next_rowid stamp wins
            "manifest": self._manifest_at_read,
        }
        # atomic (tmp + fsync + rename): a concurrent reader must never
        # see a truncated meta.json / computed.pkl
        self._atomic_write(os.path.join(self.path, "meta.json"),
                           json.dumps(meta))
        # computed-column exprs carry arbitrary python callables ->
        # cloudpickle (same serializer Spark uses for UDF closures)
        from pyspark import cloudpickle
        cpath = os.path.join(self.path, "computed.pkl")
        tmp = cpath + ".tmp-" + _uuid.uuid4().hex[:8]
        # embedding-index definitions persist WITH the table (reference
        # stores index md in its catalog; a reloaded handle must keep
        # serving idx.search()/similarity())
        idx_specs = {
            name: {"column": ix.column, "embed_col": ix.embed_col,
                   "n_planes": ix.n_planes, "method": ix.method,
                   "pq_m": ix.pq_m, "pq_k": ix.pq_k,
                   "pq_rerank": ix.pq_rerank, "metric": ix.metric,
                   "embed_fn": ix.embed_fn}
            for name, ix in self._indexes.items()}
        with open(tmp, "wb") as f:
            cloudpickle.dump({"__live__": self.computed,
                              "__retired__": self.computed_retired,
                              "__indexes__": idx_specs}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, cpath)

    def _load_meta(self) -> None:
        with open(os.path.join(self.path, "meta.json")) as f:
            meta = json.load(f)
        self.version = meta["version"]
        self.next_rowid = meta["next_rowid"]
        self.primary_key = meta["primary_key"]
        self._history = meta["history"]
        self.n_buckets = meta.get("n_buckets", 16)
        self.bucket_chunk = meta.get("bucket_chunk", 1)
        self.bloom_cols = meta.get("bloom_cols", {})
        self.ndv_cols = {k: int(v) for k, v in
                         meta.get("ndv_cols", {}).items()}
        self.version_floor = meta.get("version_floor", 0)
        self.stream_batches = {k: int(v) for k, v in
                               meta.get("stream_batches", {}).items()}
        self.schema = {
            k: ColumnType.from_dict(d) for k, d in meta["schema"].items()
        }
        self.schema_history = meta.get("schema_history") or []
        self.retired = meta.get("retired") or {}
        self.phys_map = meta.get("phys_map") or {}
        self._explicit_read_schema = bool(
            meta.get("explicit_read_schema", False))
        cpath = os.path.join(self.path, "computed.pkl")
        if os.path.exists(cpath):
            from pyspark import cloudpickle
            with open(cpath, "rb") as f:
                loaded = cloudpickle.load(f)
            if isinstance(loaded, dict) and "__live__" in loaded:
                self.computed = loaded["__live__"]
                self.computed_retired = loaded.get("__retired__", {})
                specs = loaded.get("__indexes__")
                if specs is not None:  # {} clears a racer's drop too
                    from .index import EmbeddingIndex
                    self._indexes = {
                        name: EmbeddingIndex(
                            self, s["column"], s["embed_col"],
                            s["n_planes"], method=s["method"],
                            pq_m=s["pq_m"], pq_k=s["pq_k"],
                            pq_rerank=s["pq_rerank"], name=name,
                            metric=s["metric"], embed_fn=s["embed_fn"])
                        for name, s in specs.items()}
            else:  # legacy format: the live dict itself
                self.computed = loaded
        if not self.schema_history:
            # legacy table: synthesize a single snapshot at version 0
            # (pre-history schema mutations are not reconstructible)
            self._snapshot_schema()
            self.schema_history[0]["version"] = 0
        # reconcile with the COMMITTED state: when CURRENT points past
        # the manifest this meta was saved against (a crash between the
        # commit swap and the meta save), the manifest's version stamp
        # is the durable truth and wins — otherwise meta stands (every
        # version bump is a commit, so meta is the cache of this one)
        cur_manifest = self._current_token()
        if cur_manifest:
            try:
                if meta.get("manifest") != cur_manifest:
                    m = self._load_manifest(cur_manifest)
                    if "version" in m:
                        self.version = m["version"]
                        self.next_rowid = m.get("next_rowid",
                                                self.next_rowid)
                    for sid, bid in m.get("stream_batches", {}).items():
                        self.stream_batches[sid] = max(
                            int(bid), self.stream_batches.get(sid, -1))
                    ss = m.get("schema_state")
                    if ss is not None:
                        # a schema-change commit landed but its meta
                        # save did not: the manifest's stamped state
                        # matches the committed files and wins over
                        # meta's (Delta: schema changes are log actions)
                        self.retired = ss.get("retired", self.retired)
                        self.schema_history = ss.get(
                            "schema_history", self.schema_history)
                        self.phys_map = ss.get("phys_map", self.phys_map)
                        self._explicit_read_schema = bool(ss.get(
                            "explicit_read_schema",
                            self._explicit_read_schema))
                        if "primary_key" in ss:
                            self.primary_key = list(ss["primary_key"])
                        if "bloom_cols" in ss:
                            self.bloom_cols = dict(ss["bloom_cols"])
                        if "ndv_cols" in ss:
                            self.ndv_cols = dict(ss["ndv_cols"])
                        if "schema" in ss:  # crashed mid-revert restore
                            self.schema = {
                                k: ColumnType.from_dict(v)
                                for k, v in ss["schema"].items()}
                        if "computed" in ss:
                            live: dict = {}
                            for n in ss["computed"]:
                                cc = (self.computed.get(n)
                                      or self.computed_retired.get(n))
                                if cc is not None:
                                    cc.name = n
                                    live[n] = cc
                            for n, cc in list(self.computed.items()):
                                if n not in live:
                                    self.computed_retired[n] = cc
                            self.computed = live
                self._manifest_at_read = cur_manifest
            except (OSError, KeyError, json.JSONDecodeError):
                pass  # pre-stamp manifest or unreadable: meta stands

    def _log(self, op: str, **kw: Any) -> None:
        self._history.append({"version": self.version, "op": op,
                             "ts": time.time(), **kw})

    # -- storage -----------------------------------------------------------
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    # -- multi-writer safety -------------------------------------------------
    # Mutations from ANY process are protected by the catalog's pluggable
    # CommitStore (commit_store.py). The posix backend holds a per-table
    # advisory flock for the whole mutation (data write + manifest swap +
    # meta save); the object-store backend holds nothing and detects
    # conflicts at the commit point via a conditional put, with the whole
    # mutation retried by _locked_mutation (the Delta/Iceberg commit
    # protocol). Either way, on guard acquire the handle REBASES on the
    # latest committed state (reload meta.json / computed.pkl / CURRENT),
    # so N concurrent inserters produce N distinct versions with disjoint
    # rowid ranges — no last-write-wins. The reference gets this
    # serialization from Postgres row locks (tests/test_concurrent.py).

    _LOCK_TIMEOUT_S = float(os.environ.get("PXT_SPARK_LOCK_TIMEOUT", "120"))

    @contextmanager
    def _write_lock(self):
        if self._lock_depth:  # reentrant: a mutation inside a mutation
            self._lock_depth += 1
            try:
                yield
            finally:
                self._lock_depth -= 1
            return
        with self._commit_store.mutation_guard(self.path, self.name,
                                               self._LOCK_TIMEOUT_S):
            self._lock_depth = 1
            try:
                # pin this mutation's base snapshot + conflict token:
                # all in-mutation reads resolve the manifest pinned
                # HERE, and the commit's conditional swap verifies
                # against it. Without the pin, an optimistic racer's
                # commit landing mid-mutation would be silently merged
                # under a stale version stamp (duplicate versions). The
                # token is read BEFORE the rebase: state loaded after it
                # can only be newer (the CAS fails and the mutation
                # retries), never older. "" = no CURRENT yet (the
                # If-None-Match case).
                token = self._current_token()
                self._refresh_from_disk()
                self._manifest_at_read = token
                yield
            except BaseException:
                # a mutation that raised may leave changes it never
                # committed on this handle (a schema edit before its
                # write failed): the next rebase reloads from disk
                self._manifest_at_read = None
                raise
            finally:
                self._lock_depth = 0

    def _current_token(self) -> str:
        """Commit conflict token: CURRENT's manifest relpath, or "" when
        the table has no CURRENT yet."""
        return _current_manifest(self._current_path) or ""

    def _refresh_from_disk(self) -> None:
        """Rebase this handle on the latest committed state (another
        process may have committed since this object loaded, or a
        crashed writer may have committed a manifest without saving
        meta.json — _load_meta reconciles from the manifest stamp, the
        committed truth; meta.json is the cache).

        `_manifest_at_read` is the CURRENT token the handle's state
        reflects: set by the load and by each commit, never by a read.
        Every version bump moves CURRENT, so the token alone says
        whether the handle is behind. The handle then takes the token
        read BEFORE the reload, as _write_lock does."""
        token = self._current_token()
        if token == self._manifest_at_read:
            return
        if os.path.exists(os.path.join(self.path, "meta.json")):
            self._load_meta()
        self._manifest_at_read = token

    # -- manifest commit protocol ------------------------------------------
    # Every mutation writes NEW parquet files only, then atomically commits
    # a manifest (the list of files forming the current snapshot) by
    # renaming a temp file over CURRENT — the same single-pointer-swap
    # design as Delta's _delta_log / Iceberg's metadata pointer, which the
    # directory-swap scheme it replaces could not provide (a crash between
    # two os.rename calls lost the table; on S3 there is no directory
    # rename at all). Readers resolve CURRENT → manifest → exact file list;
    # files from crashed writes are simply never referenced, and a
    # post-commit vacuum deletes unreferenced files.

    @property
    def _current_path(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _load_manifest(self, relpath: str) -> dict:
        """Load + version-gate a manifest (reference parity:
        metadata/__init__.py:21 VERSION / :42 register_converter — the
        reference stamps a schema_version and chains per-version
        converters; same contract here for the file-manifest format).

        Missing format_version = v1 (pre-round-7 manifests). Older
        versions are upgraded in-memory through _MANIFEST_UPGRADES and
        re-stamped on the next commit; a NEWER version than this build
        understands is refused with a clear message instead of being
        misread."""
        with open(os.path.join(self.path, relpath)) as f:
            m = json.load(f)
        ver = m.get("format_version", 1)
        if ver > MANIFEST_FORMAT_VERSION:
            raise RuntimeError(
                f"table {self.name!r}: manifest {relpath} has format_"
                f"version {ver}, but this build understands at most "
                f"{MANIFEST_FORMAT_VERSION} — upgrade pixeltable_spark "
                "to open this warehouse")
        while ver < MANIFEST_FORMAT_VERSION:
            m = _MANIFEST_UPGRADES[ver](m)
            ver = m["format_version"]
        return m

    def _atomic_write(self, path: str, data: str) -> None:
        tmp = path + ".tmp-" + _uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)  # atomic on POSIX

    def _scan_parquet(self, root: str) -> list[str]:
        """All .parquet files under `root`, as paths relative to
        self.path (skips in-flight .tmp-* write dirs)."""
        out = []
        for dirpath, dirnames, files in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(".tmp-")]
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(dirpath, f),
                                               self.path))
        return sorted(out)

    def _resolve_manifest(self, relpath: str,
                          ranges: Sequence[tuple] = ()) -> dict:
        """Materialize a manifest into {"files": [...], "stats": {...},
        "segments": [...]?, "version"?, "next_rowid"?}. A v3 segmented
        manifest is replayed: each segment's `remove` list drops files,
        its `add` map (file -> footer stats) inserts/overrides them —
        later segments win, so a re-add with refreshed stats (bloom
        backfill) supersedes the old entry. v1/v2 manifests carry
        files/stats inline and pass through. Memoized per manifest
        relpath (manifests and segments are immutable once written).

        `ranges` (FILE-column conjuncts) prune a replay the memo does
        not hold: a segment without removes whose v4 summary refutes
        them (_prune_files, reading the summary's lo/hi as one file's
        min/max) is never opened, so a selective scan of a 10^6-file
        table reads a bounded subset of segments and never builds the
        full map (the Iceberg manifest-list pruning design). Segments
        with removes always replay: their removes must apply. A replay
        that skipped a segment still holds every file that can match;
        it is not memoized."""
        cache = self._resolve_cache
        if cache is not None and cache[0] == relpath:
            return cache[1]
        m = self._load_manifest(relpath)
        if "segments" in m:
            stats: dict[str, dict] = {}
            partial = False
            for entry in m["segments"]:
                if ranges and not entry.get("r") and "lo" in entry:
                    summary = {c: [lo, entry["hi"][c]]
                               for c, lo in entry["lo"].items()}
                    if not self._prune_files([""], {"": summary}, ranges):
                        partial = True
                        continue
                with open(os.path.join(self.path,
                                       _seg_path(entry))) as f:
                    seg = json.load(f)
                self._segment_reads += 1
                for r in seg.get("remove", ()):
                    stats.pop(r, None)
                stats.update(seg.get("add", {}))
            out = {"files": sorted(stats), "stats": stats,
                   "segments": list(m["segments"])}
            for k in ("version", "next_rowid"):
                if k in m:
                    out[k] = m[k]
            if partial:
                return out
        else:
            out = m
            out.setdefault("stats", {})
        self._resolve_cache = (relpath, out)
        return out

    def _snapshot(self, ranges: Sequence[tuple] = ()) -> dict:
        """The snapshot this handle reads, as _resolve_manifest returns
        it; every read, probe and commit takes its files and stats from
        one call. Inside a mutation it is the token _write_lock pinned,
        so the whole mutation sees one snapshot even if an optimistic
        racer commits mid-flight (the stale pin then fails the CAS and
        the mutation retries); outside, it is CURRENT. A token whose
        manifest a racing commit already vacuumed falls back to
        CURRENT.

        Without CURRENT a table has committed nothing: at version 0 the
        snapshot is empty (a new table, also one whose first commit
        crashed or lost a race — the files in its data dir are not
        committed). A table at a later version without CURRENT was
        written before manifests: its data dir is its snapshot, and its
        next commit upgrades it. `ranges`: see _resolve_manifest."""
        token = self._manifest_at_read if self._lock_depth else None
        if token is None:
            token = self._current_token()
        while token:
            try:
                return self._resolve_manifest(token, ranges)
            except OSError:
                now = self._current_token()
                if now == token:
                    raise
                token = now
        if self.version == 0 or not os.path.isdir(self._data_dir):
            return {"files": [], "stats": {}}
        return {"files": self._scan_parquet(self._data_dir), "stats": {}}

    def _current_files(self) -> list[str]:
        """The file list of this handle's snapshot (see _snapshot)."""
        return self._snapshot()["files"]

    def _current_stats(self) -> dict:
        """The per-file stats of this handle's snapshot (see _snapshot)."""
        return self._snapshot()["stats"]

    @staticmethod
    def _bucket_of(relpath: str) -> Optional[int]:
        for part in relpath.split(os.sep):
            if part.startswith(_BKT + "="):
                try:
                    return int(part.split("=", 1)[1])
                except ValueError:
                    return None
        return None

    def _bucket_width(self, files: Sequence[str] = (),
                      span: Optional[tuple] = None) -> int:
        """Execution width of a commit action: the buckets it touches —
        the `_bkt=` dirs of `files` plus the buckets the `_rowid` range
        `span` = (lo, hi) maps to — clamped to [1, n_buckets]. One
        bucket is one output file of ~bucket_chunk rows, so this is the
        action's data volume in file units, known on the driver without
        a job. Legacy flat files count as the whole table; the flat
        schema-bearing marker of an empty snapshot holds no rows."""
        n = max(1, int(self.n_buckets))
        chunk = max(1, int(self.bucket_chunk))
        bkts = {self._bucket_of(f) for f in files
                if not f.endswith("-empty.parquet")}
        if None in bkts:
            return n
        if span is not None:
            lo, hi = int(span[0]) // chunk, int(span[1]) // chunk
            if hi - lo + 1 >= n:
                return n
            bkts.update(c % n for c in range(lo, hi + 1))
        return max(1, min(len(bkts), n))

    def _write_snapshot_files(self, df: DataFrame,
                              preserve_partitioning: bool = False,
                              skip_repartition: bool = False,
                              width: Optional[int] = None
                              ) -> list[str]:
        """Write `df` (given `_bkt`, see _with_bkt) as NEW parquet files
        into the stable `_bkt=N/` layout (flat when unbucketed) and
        return their relative paths. Existing files are never touched;
        nothing becomes visible until _commit_files. `skip_repartition`
        marks a frame known to be one narrow partition (literal insert):
        one task already writes exactly one file per touched bucket.

        Bucketed writes hash-partition on `_bkt` first: each bucket is
        co-located in ONE task, so a commit writes exactly one file per
        bucket it touches (without it every upstream task emits a file
        per bucket it holds — tasks x buckets small files per commit,
        each paying a footer-stats read at commit and a scan split
        forever after). `width` is the commit action's execution width
        from the caller (see _bucket_width: the buckets the commit
        touches): `df` is narrowed to that width (tinyplan.narrow), so
        the repartition and every other shuffle of its plan run with AQE
        off, in one job, one task per touched bucket. The width cannot
        change the files written (a task holding several buckets still
        writes one file per bucket dir); it only sizes the stages, so a
        small commit on a table that sits in one bucket schedules
        single-task stages instead of n_buckets or defaultParallelism
        no-op tasks, while a commit touching hundreds of buckets gets
        that many tasks (and, past the skew guard, AQE). width=None plans in the main
        session: whole-table rewrites and a user's DataFrame source
        query plan under AQE. optimize(zorder_by=...) passes
        preserve_partitioning=True — its range-partition-on-z layout IS
        the point and must reach the writer untouched."""
        df = self._to_file_cols(self._with_bkt(df))
        tmp = os.path.join(self._data_dir, ".tmp-" + _uuid.uuid4().hex[:8])
        partitioned = _BKT in df.columns
        df = tinyplan.narrow(df, width)
        if partitioned and not preserve_partitioning \
                and not skip_repartition:
            df = df.repartition(_ccol(_BKT))
        w = df.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy(_BKT)
        w.parquet(tmp)
        snap = _uuid.uuid4().hex[:12]
        moved: list[str] = []
        i = 0
        for dirpath, _dirs, files in os.walk(tmp):
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, tmp)
                dest_dir = (self._data_dir if rel_dir == "."
                            else os.path.join(self._data_dir, rel_dir))
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, f"snap-{snap}-{i:05d}.parquet")
                os.rename(os.path.join(dirpath, f), dest)
                moved.append(os.path.relpath(dest, self.path))
                i += 1
        shutil.rmtree(tmp, ignore_errors=True)
        if not moved:
            # empty snapshot: one schema-bearing empty file so readers can
            # always infer the store schema from the file list
            os.makedirs(self._data_dir, exist_ok=True)
            sub = os.path.join(self._data_dir, ".tmp-" + _uuid.uuid4().hex[:8])
            df.drop(_BKT).limit(0).coalesce(1).write.mode("overwrite").parquet(sub)
            for f in sorted(os.listdir(sub)):
                if f.endswith(".parquet"):
                    dest = os.path.join(self._data_dir,
                                        f"snap-{snap}-empty.parquet")
                    os.rename(os.path.join(sub, f), dest)
                    moved.append(os.path.relpath(dest, self.path))
                    break
            shutil.rmtree(sub, ignore_errors=True)
        return moved

    def _collect_stats(self, relpaths: Sequence[str]) -> dict:
        """Per-file min/max column statistics from the parquet FOOTERS
        (no data scan — the stats are already there). Only
        JSON-portable scalar types are kept; columns without usable
        stats are simply absent (pruning treats absent as unknowable).
        This is the Delta/Iceberg data-skipping design: at 100 TB the
        planner prunes files from the manifest without opening them.
        Footer reads are threaded (pyarrow releases the GIL on I/O and
        decode) so a bulk commit's stats pass is bounded by storage
        parallelism, not files x round-trip latency."""
        import pyarrow.parquet as pq

        def _one(rel: str):
            try:
                md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
            except Exception:  # noqa: BLE001 — stats are an optimization
                return rel, None
            cols: dict[str, list] = {}
            nulls: dict[str, list] = {}   # col -> [null_count, rows]
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    c = rgm.column(ci)
                    st = c.statistics
                    # null counts prune IS [NOT] NULL independently of
                    # min/max usability (Delta stores nullCount likewise)
                    if st is not None and st.null_count is not None:
                        prev_n = nulls.get(c.path_in_schema)
                        if c.path_in_schema not in nulls or prev_n:
                            if prev_n:
                                prev_n[0] += st.null_count
                                prev_n[1] += rgm.num_rows
                            else:
                                nulls[c.path_in_schema] = [st.null_count,
                                                           rgm.num_rows]
                    else:
                        nulls[c.path_in_schema] = None  # unknowable
                    if st is None or not st.has_min_max:
                        cols[c.path_in_schema] = None  # poison: unknowable
                        continue
                    lo, hi = st.min, st.max
                    if not isinstance(lo, (int, float, str, bool)):
                        cols[c.path_in_schema] = None
                        continue
                    if isinstance(lo, str):
                        lo, hi = _truncate_str_stats(lo, hi)
                        if hi is None:
                            cols[c.path_in_schema] = None
                            continue
                    prev = cols.get(c.path_in_schema)
                    if c.path_in_schema in cols and prev is None:
                        continue
                    if prev is None:
                        cols[c.path_in_schema] = [lo, hi]
                    else:
                        cols[c.path_in_schema] = [min(prev[0], lo),
                                                  max(prev[1], hi)]
            entry = {k: v for k, v in cols.items() if v is not None}
            for k, v in nulls.items():
                if v is not None:
                    entry[_NULLS_PFX + k] = v
            # bloom filters: the one place a NEW file's data (one pruned
            # column per bloom) is read at commit time — carried-over
            # files keep their manifest entry and are never re-read
            for bcol, fpp in self.bloom_cols.items():
                fcol = self.phys_map.get(bcol, bcol)
                try:
                    tbl = pq.read_table(os.path.join(self.path, rel),
                                        columns=[fcol])
                    bloom = _bloom_build(tbl.column(0).to_pylist(), fpp)
                except Exception:  # noqa: BLE001 — stats are an optimization
                    bloom = None
                if bloom is not None:
                    entry[_BLOOM_PFX + fcol] = bloom
            # NDV sketches (ndv.py): like blooms, a column-pruned read
            # per registered column — but over LIVE row-versions only
            # (_v_max == MAXV): dead rows would inflate the estimate,
            # and a row can only die through a rewrite of this very
            # file, which refreshes this sketch with it
            for ncol, prec in self.ndv_cols.items():
                from .ndv import ndv_build
                fcol = self.phys_map.get(ncol, ncol)
                try:
                    tbl = pq.read_table(os.path.join(self.path, rel),
                                        columns=[fcol, _VMAX])
                    vals = [v for v, vm in zip(tbl.column(0).to_pylist(),
                                               tbl.column(1).to_pylist())
                            if vm == MAXV]
                    sk = ndv_build(vals, prec)
                except Exception:  # noqa: BLE001 — stats are an optimization
                    sk = None
                if sk is not None:
                    entry[_NDV_PFX + fcol] = sk
            return rel, entry

        if len(relpaths) > 4:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(
                    max_workers=min(16, len(relpaths))) as ex:
                results = list(ex.map(_one, relpaths))
        else:
            results = [_one(r) for r in relpaths]
        return {rel: entry for rel, entry in results if entry is not None}

    @staticmethod
    def _prune_files(files: Sequence[str], stats: dict,
                     ranges: Sequence[tuple]) -> list[str]:
        """Drop files whose min/max stats prove no row can satisfy ALL of
        the (col, op, literal) conjuncts. Comparisons are null-rejecting
        and parquet min/max ignore nulls, so pruning on them is safe for
        files that also hold nulls. A None inside an IN-list stands for
        the null-safe match `col IS NULL` (rollup group keys): only a
        file whose null count is KNOWN to be zero drops it."""
        def _admits_eq(st: dict, col: str, v) -> bool:
            """Can a row with col == v exist in a file with these stats?"""
            if v is None:
                nc = st.get(_NULLS_PFX + col)
                return not (nc and nc[0] == 0)
            bloom = st.get(_BLOOM_PFX + col)
            if bloom and not _bloom_might_contain(bloom, v):
                return False
            mm = st.get(col)
            if not mm:
                return True
            try:
                return mm[0] <= v <= mm[1]
            except TypeError:
                return True

        # normalize ONCE before the per-file loop: a large IN-list would
        # otherwise cost O(values x files) driver-side bloom probes — at
        # manifest scale (10^6 files) that is the bottleneck, and a
        # min/max band check prunes nearly as well past ~64 values
        norm: list[tuple] = []
        for col, op, v in ranges:
            if op == "in" and len(v) > _IN_PRUNE_MAX:
                try:
                    norm.append((col, ">=", min(v)))
                    norm.append((col, "<=", max(v)))
                except TypeError:
                    pass  # mixed types: no pruning on this conjunct
                continue
            norm.append((col, op, v))
        ranges = norm

        keep = []
        for f in files:
            st = stats.get(f) or {}
            skip = False
            for col, op, v in ranges:
                if op in ("isnull", "notnull"):
                    nc = st.get(_NULLS_PFX + col)
                    if nc and ((op == "isnull" and nc[0] == 0)
                               or (op == "notnull" and nc[0] == nc[1])):
                        skip = True
                        break
                    continue
                if op == "==":
                    if not _admits_eq(st, col, v):
                        skip = True
                        break
                    continue
                if op == "in":  # v is the literal list; file survives if
                    if not any(_admits_eq(st, col, x) for x in v):  # any can
                        skip = True
                        break
                    continue
                mm = st.get(col)
                if not mm:
                    continue
                lo, hi = mm
                try:
                    if ((op == "<" and not (lo < v))
                            or (op == "<=" and not (lo <= v))
                            or (op == ">" and not (hi > v))
                            or (op == ">=" and not (hi >= v))):
                        skip = True
                        break
                except TypeError:  # incomparable types: keep the file
                    continue
            if not skip:
                keep.append(f)
        return keep

    # a segmented manifest checkpoints (one full-file-map segment) once it
    # accumulates this many delta segments: replay cost stays bounded
    # while commit cost stays O(files changed), amortized — the Delta
    # checkpoint-every-N-commits design
    _CHECKPOINT_SEGMENTS = 24

    def _commit_files(self, files: Sequence[str], *,
                      version: Optional[int] = None,
                      next_rowid: Optional[int] = None,
                      schema_state: Optional[dict] = None,
                      stream_stamp: Optional[tuple[str, int]] = None
                      ) -> None:
        """The commit point, log-structured: write ONE immutable segment
        holding only this commit's delta (files added with their footer
        stats + files removed), write a small manifest that lists the
        segment chain, swap CURRENT onto it (atomic rename), then
        best-effort vacuum of unreferenced files. A crash before the
        CURRENT swap leaves the old snapshot intact; a crash after it
        leaves only unreferenced garbage for the next vacuum.

        Commit cost is O(files changed + segment-chain length), NOT
        O(total files): carried-over files are never re-listed or
        re-statted — at 100 TB (10^5-10^7 files) the old monolithic
        manifest was a GB-scale driver-side JSON rewrite per commit.
        Every _CHECKPOINT_SEGMENTS commits the chain collapses into one
        checkpoint segment (full file map), bounding replay cost (same
        contract as Delta's _delta_log checkpoints / Iceberg's manifest
        list).

        The keyword arguments are the commit's stamp: the POST-commit
        `version`, `next_rowid` and, for a schema change, the complete
        `schema_state` (see _schema_stamp), and for a streamed batch the
        `stream_stamp` (stream_id, batch_id) its ledger records. Left
        out, the commit is storage-only (optimize, add_bloom_filter): it
        stamps the handle's unchanged version and next_rowid. Version
        bumps come through _commit_version."""
        os.makedirs(os.path.join(self.path, "manifests"), exist_ok=True)
        # optimistic concurrency pre-check: if CURRENT already moved since
        # this mutation read its base snapshot, abort cheaply before the
        # stats collection; the AUTHORITATIVE check is the commit store's
        # conditional swap below (atomic with the publish)
        expected = self._manifest_at_read
        now = self._current_token()
        # expected == "" means this mutation rebased on a table with NO
        # CURRENT — one appearing since is a racer's first commit
        if now and expected is not None and now != expected:
            raise ConcurrencyError(
                f"concurrent modification of table {self.name!r}: "
                f"CURRENT moved from {expected or '<none>'} to {now} "
                "during this mutation; re-read and retry")
        prev = self._snapshot()
        prev_files = set(prev["files"])
        prev_stats = prev["stats"]
        prev_segments = prev.get("segments")

        def _fresh(f: str) -> bool:
            # carried-over AND has every bloom + ndv entry
            st = prev_stats.get(f)
            return st is not None and all(
                _BLOOM_PFX + self.phys_map.get(c, c) in st
                for c in self.bloom_cols) and all(
                _NDV_PFX + self.phys_map.get(c, c) in st
                for c in self.ndv_cols)

        fset = set(files)
        # (re)statted files: genuinely new ones, plus carried files whose
        # stats entry is missing a newly-enabled bloom column (re-added in
        # the new segment; replay lets the later entry win)
        new_files = [f for f in files if not _fresh(f)]
        new_stats = self._collect_stats(new_files)
        removed = sorted(prev_files - fset)
        srel = os.path.join("manifests", f"s-{_uuid.uuid4().hex[:12]}.json")
        if prev_segments is None \
                or len(prev_segments) >= self._CHECKPOINT_SEGMENTS:
            # checkpoint: one segment with the FULL file map (also the
            # v1/v2-inline -> v3 migration path). O(all) once, amortized.
            add = {f: (new_stats[f] if f in new_stats
                       else prev_stats.get(f, {})) for f in files}
            segment = {"add": add, "remove": []}
            segments = [self._seg_entry(srel, segment)]
        else:
            segment = {"add": {f: new_stats.get(f, {}) for f in new_files},
                       "remove": removed}
            segments = list(prev_segments) + [self._seg_entry(srel,
                                                              segment)]
        mrel = os.path.join("manifests", f"m-{_uuid.uuid4().hex[:12]}.json")
        # stamp the POST-commit logical state into the manifest: the
        # CURRENT swap is the commit point, so version/next_rowid must
        # become durable WITH it — a crash between the swap and the
        # meta.json save otherwise lets the next writer reuse a
        # committed version number (duplicate live row-versions) or
        # recycle committed rowids (key collisions). Loaders reconcile:
        # the manifest stamp, when present, wins over meta.json.
        manifest = {"format_version": MANIFEST_FORMAT_VERSION,
                    "segments": segments,
                    "version": (self.version if version is None
                                else version),
                    "next_rowid": (self.next_rowid if next_rowid is None
                                   else next_rowid)}
        # streaming-ingest ledger: durable WITH the data commit, so a
        # foreachBatch replay after any crash sees the batch as done
        stream_map = dict(self.stream_batches)
        if stream_stamp is not None:
            sid, bid = stream_stamp
            stream_map[sid] = max(int(bid), stream_map.get(sid, -1))
        if stream_map:
            manifest["stream_batches"] = stream_map
        if schema_state is not None:
            # physical-rename durability: the retired map + snapshots
            # that match the files THIS commit writes travel WITH it
            manifest["schema_state"] = schema_state
        # NOTE: the in-memory ledger advances only after the swap
        # succeeds (below) — a failed conditional swap leaves it as it
        # was, and the retried mutation passes the stamp again
        # segments before the manifest, manifest before the swap: every
        # referenced object is durable by the time CURRENT can reach it
        self._atomic_write(os.path.join(self.path, srel),
                           json.dumps(segment))
        self._atomic_write(os.path.join(self.path, mrel),
                           json.dumps(manifest))
        # the commit point: a conditional swap through the commit store
        # (atomic with the conflict check on optimistic backends)
        self._commit_store.swap_current(
            self._current_path,
            json.dumps({"format_version": MANIFEST_FORMAT_VERSION,
                        "manifest": mrel}),
            expected, self.name)
        # the handle moves with the commit point
        self._manifest_at_read = mrel
        self.version = manifest["version"]
        self.next_rowid = manifest["next_rowid"]
        self.stream_batches = stream_map
        # prime the resolver cache with the state just committed
        stats = {f: prev_stats[f] for f in files if _fresh(f)}
        stats.update(new_stats)
        for f in fset - set(stats):
            stats[f] = {}
        self._resolve_cache = (mrel, {
            "files": sorted(fset), "stats": stats, "segments": segments,
            "version": manifest["version"],
            "next_rowid": manifest["next_rowid"]})
        self._vacuum(set(files), keep_manifest=mrel,
                     keep_segments={os.path.basename(_seg_path(s))
                                    for s in segments})

    @staticmethod
    def _seg_entry(srel: str, segment: dict) -> dict:
        """The manifest's v4 entry for one segment: path, add/remove
        counts, and the per-column min/max SUMMARY over the added
        files' footer stats. A column appears only when EVERY added
        file has usable min/max for it (otherwise the segment is
        unknowable on that column and never skipped because of it)."""
        add = segment.get("add", {})
        lo: dict = {}
        hi: dict = {}
        stats_list = list(add.values())
        common: Optional[set] = None
        for st in stats_list:
            cols = {c for c in st
                    if not c.startswith((_BLOOM_PFX, _NULLS_PFX,
                                         _NDV_PFX))}
            common = cols if common is None else (common & cols)
        for col in common or ():
            try:
                lo[col] = min(st[col][0] for st in stats_list)
                hi[col] = max(st[col][1] for st in stats_list)
            except TypeError:  # mixed types across files: unknowable
                lo.pop(col, None)
                hi.pop(col, None)
        entry = {"p": srel, "n": len(add),
                 "r": len(segment.get("remove", ()))}
        if lo:
            entry["lo"], entry["hi"] = lo, hi
        return entry

    def _vacuum(self, keep: set, keep_manifest: str,
                keep_segments: Optional[set] = None) -> None:
        """Remove data files and manifests no longer referenced by CURRENT.
        Runs strictly after the commit point, so a crash here only delays
        cleanup. (On an object store this directory walk becomes a prefix
        listing — same contract.) Under an optimistic commit store,
        files younger than the store's retention window are spared: an
        in-flight racing writer's uncommitted data/segment files look
        unreferenced until its commit lands (the Delta VACUUM retention
        rationale)."""
        min_age = self._commit_store.vacuum_min_age_s

        def _old_enough(path: str) -> bool:
            if not min_age:
                return True
            try:
                return time.time() - os.path.getmtime(path) >= min_age
            except OSError:
                return False  # vanished underneath us: nothing to do

        for rel in self._scan_parquet(self._data_dir):
            if rel not in keep and _old_enough(os.path.join(self.path, rel)):
                try:
                    os.remove(os.path.join(self.path, rel))
                except OSError:
                    pass
        # prune stray non-parquet write debris (_SUCCESS etc.) and stale
        # tmp dirs / empty bucket dirs. NEVER reach inside a .tmp-* tree
        # except through the age-gated rmtree of its root: a racing
        # writer's task-attempt dirs are briefly EMPTY right after
        # creation, and an eager os.rmdir of one kills that writer's
        # task mid-write (reproduced by the object-store racing suite)
        for dirpath, dirnames, files in os.walk(self._data_dir, topdown=False):
            rel = os.path.relpath(dirpath, self._data_dir)
            inside_tmp = any(p.startswith(".tmp-")
                             for p in rel.split(os.sep)) if rel != "." \
                else False
            for d in list(dirnames):
                full = os.path.join(dirpath, d)
                if d.startswith(".tmp-"):
                    if not inside_tmp and _old_enough(full):
                        shutil.rmtree(full, ignore_errors=True)
                elif not inside_tmp:
                    try:
                        os.rmdir(full)  # only succeeds when empty
                    except OSError:
                        pass
            if inside_tmp:
                continue
            for f in files:
                if not f.endswith(".parquet"):
                    try:
                        os.remove(os.path.join(dirpath, f))
                    except OSError:
                        pass
        mdir = os.path.join(self.path, "manifests")
        if os.path.isdir(mdir):
            keep_names = {os.path.basename(keep_manifest)}
            keep_names.update(keep_segments or ())
            for f in os.listdir(mdir):
                if f not in keep_names and f.endswith(".json") \
                        and _old_enough(os.path.join(mdir, f)):
                    try:
                        os.remove(os.path.join(mdir, f))
                    except OSError:
                        pass

    def _read_files(self, files: Sequence[str]) -> DataFrame:
        """These files of this table, raw (system + user columns, no
        visibility filter), through the read waist. Read under an
        explicit schema whenever it is knowable: footer inference burns
        one Spark job (~0.1 s) per read construction — measured ~30 such
        jobs across a mutation battery. Explicit schemas are also what
        lets retired/renamed columns read correctly (pre-drop files keep
        their values, post-drop files surface NULLs)."""
        rs = self._reader_schema()
        rd = (self.catalog.spark.read.schema(rs) if rs is not None
              else self.catalog.spark.read)
        return self._waist_rename(
            rd.parquet(*[os.path.join(self.path, f) for f in files]))

    def _frames(self, ranges: Optional[Sequence[tuple]] = None) -> dict:
        """The memo entry of this handle's snapshot read, its files
        pruned by `ranges` ((col, op, literal) conjuncts for manifest-
        stats file skipping). The key is everything the frames depend
        on: session, table path, resolved files (names are content-
        unique), reader schema, phys_map and bucket formula, so no
        frame of a superseded snapshot, schema or session is served.
        "raw" is the files through the read waist, without visibility
        filter (None without files; `limit(0)` over one file when
        pruning refutes every file, so the schema survives); _stage
        builds the rest on first use."""
        tr = self._translate_ranges(ranges) if ranges else ()
        snap = self._snapshot(tr)
        files = (self._prune_files(snap["files"], snap["stats"], tr)
                 if tr else snap["files"])
        pruned_all = not files
        if pruned_all:
            # no row can match, but the caller still applies the
            # row-level predicate: one file keeps the schema (a replay
            # that skipped every segment holds none — resolve in full)
            files = (snap["files"] or (self._current_files() if tr
                                       else []))[:1]
        rs = self._reader_schema()
        key = (self.catalog.spark, self.path, tuple(files), pruned_all,
               rs and rs.json(), tuple(sorted(self.phys_map.items())),
               self.bucket_chunk, self.n_buckets)
        memo = self._frame_memo
        with _FRAMES_LOCK:
            entry = memo.get(key)
            if entry is not None:
                memo.move_to_end(key)
                return entry
        raw = self._read_files(files) if files else None
        if pruned_all and raw is not None:
            raw = raw.limit(0)
        elif rs is None and raw is not None:
            # only views infer, and a view's columns are never renamed:
            # the read schema is the file schema
            self._note_file_schema(raw.schema)
        with _FRAMES_LOCK:
            entry = memo.setdefault(key, {"raw": raw})
            memo.move_to_end(key)
            while len(memo) > _FRAMES_MAX:
                memo.popitem(last=False)
        return entry

    def _has_data(self) -> bool:
        return bool(self._current_files())

    def _with_bkt(self, df: DataFrame) -> DataFrame:
        """Ensure the bucket partition column:
        _bkt = (_rowid // bucket_chunk) % n_buckets. Buckets are the
        WRITE-CLUSTERING unit (one file per touched bucket per commit);
        mutations themselves are file-granular (_mutation_subset). The
        chunk keeps a small append's contiguous rowids in O(batch/chunk)
        buckets while striping bulk loads evenly, and makes per-file
        _rowid min/max ranges near-disjoint — which is what lets view
        propagation prune by base rowid."""
        if _BKT in df.columns or _ROWID not in df.columns:
            return df
        chunk = max(1, int(self.bucket_chunk))
        return df.withColumn(_BKT, _bkt_col(chunk, self.n_buckets))

    def _store_df(self, ranges: Optional[Sequence[tuple]] = None,
                  entry: Optional[dict] = None) -> DataFrame:
        """All row-versions, including expired ones (+ `_bkt`), of the
        memo `entry` (default: this snapshot's, pruned by `ranges`)."""
        e = self._frames(ranges) if entry is None else entry
        return _stage(e, "store", lambda: self._with_bkt(
            e["raw"] if e["raw"] is not None else self.catalog.spark
            .createDataFrame([], self._store_schema())))

    def _live(self, v: int, ranges: Sequence[tuple] = ()) -> tuple:
        """(memo entry, rows live at v) over the files whose stats admit
        v and `ranges`: time travel opens only files that existed at v."""
        e = self._frames([(_VMIN, "<=", v), (_VMAX, ">", v), *ranges])
        return e, _stage(e, ("live", v), lambda: self._store_df(
            entry=e).filter(_vis_pred(v)))

    def _store_schema(self) -> T.StructType:
        fields = [
            T.StructField(_ROWID, T.LongType(), False),
            T.StructField(_VMIN, T.LongType(), False),
            T.StructField(_VMAX, T.LongType(), False),
        ]
        fields += list(schema_to_struct(self.schema).fields)
        for cc in self.computed.values():
            fields.append(T.StructField(cc.name, cc.col_type.spark_type()))
            if cc.on_error == "ignore":
                fields.append(T.StructField(_cellmd_col(cc.name), _CELLMD_TYPE))
        return T.StructType(fields)

    def _commit_version(self, new_v: int, written: Sequence[str] = (),
                        replaced: Sequence[str] = (), *,
                        next_rowid: Optional[int] = None,
                        schema_state: Optional[dict] = None,
                        stream_stamp: Optional[tuple[str, int]] = None,
                        propagate: Optional[Callable] = None,
                        op: Optional[str] = None, **log_kw: Any
                        ) -> list[str]:
        """The one commit step of every version bump: publish the current
        files minus `replaced` plus `written` as version `new_v` in ONE
        CAS commit stamped from these arguments (see _commit_files),
        move the handle to it, persist (_persist, which logs `op`), and
        hand the written files to the dependents through `propagate`
        (_propagate_insert or _propagate_changes). A mutation that
        matched nothing and a dependent handed an empty delta commit
        with nothing written: the unchanged file list is published
        under the new version, so every bump moves CURRENT exactly
        once. Returns the files the commit added."""
        written = list(written)
        # a pre-manifest table's snapshot is its data dir, which already
        # holds the written files
        drop = set(replaced) | set(written)
        keep = [f for f in self._current_files() if f not in drop]
        if keep and len(written) == 1 \
                and written[0].endswith("-empty.parquet"):
            # the schema-bearing empty marker is only needed for an
            # EMPTY snapshot, and its flat (unbucketed) path would
            # otherwise flip a bucketed store into the legacy
            # whole-table-rewrite mode and mix dir structures under
            # partition discovery
            try:
                os.remove(os.path.join(self.path, written[0]))
            except OSError:
                pass
            written = []
        self._commit_files(keep + written, version=new_v,
                           next_rowid=next_rowid, schema_state=schema_state,
                           stream_stamp=stream_stamp)
        self._persist(op, **log_kw)
        if propagate is not None:
            propagate(written)
        return written

    def _persist(self, op: Optional[str], **log_kw: Any) -> None:
        """Save the handle's state after a commit (the cache of it; the
        manifest stamp is the durable truth), logging `op` if given."""
        if op is not None:
            self._log(op, **log_kw)
        self._save_meta()

    @property
    def _interval(self) -> tuple[str, str]:
        """The row-version interval columns: views and rollups version
        their rows with the view-local pair."""
        return (_VVMIN, _VVMAX) if isinstance(self, View) else (_VMIN, _VMAX)

    def _new_row_versions(self, new_v: int,
                          sub: Optional[DataFrame] = None,
                          born: Optional[DataFrame] = None) -> DataFrame:
        """A commit's rewrite at `new_v`: the rows of `sub` (the matched
        files, see _mutation_subset) with its `__m` rows expired at
        `new_v`, plus the `born` rows stamped live over [new_v, MAXV).
        At least one of the two is given."""
        lo, hi = self._interval
        parts = []
        if sub is not None:
            parts.append(sub.withColumn(
                hi, F.when(F.col("__m"), F.lit(new_v)).otherwise(_ccol(hi))))
        if born is not None:
            parts.append(born.withColumn(lo, F.lit(new_v))
                         .withColumn(hi, F.lit(MAXV)))
        return functools.reduce(DataFrame.unionByName, [
            self._with_bkt(p.drop("__m")) for p in parts])

    def _mutation_subset(self, prepare, ranges: Sequence[tuple] = (),
                         live_col: str = _VMAX,
                         live_floor: Optional[int] = None,
                         probe_keys: Optional[Sequence[str]] = None,
                         ) -> "tuple[Optional[DataFrame], list[str], int, set]":
        """File-granular mutation planning — the Delta MERGE two-pass
        shape (the reference mutates rows in place via Postgres,
        store.py:27-58; on immutable parquet the analog is copy-on-write
        of exactly the files that hold matched rows).

        Pass 1 prunes the manifest with the mutation predicate's
        conjuncts plus liveness (a fully-expired file cannot hold a
        mutable row), then scans ONLY the surviving files — column-pruned
        to the predicate columns + the parquet `_metadata` virtual column
        — to learn which files actually contain matches. Pass 2 re-reads
        exactly those files in full as the rewrite input. Mutation cost
        therefore scales with files-holding-matches, never with bucket
        width or table size: a 1000-row keyed update on a 10^6-file
        table opens the handful of files the stats/blooms admit and
        rewrites only those that matched. The probe is one job at the
        candidates' bucket width (see _bucket_width).

        `prepare(df)` must return df with a boolean `__m` column marking
        matched LIVE rows (it may join auxiliary inputs first, e.g.
        batch_update's broadcast key batch). Returns
        (sub, matched_files, n): `sub` is the full-width content of the
        matched files re-marked by `prepare`, or None when nothing
        matched (the caller still bumps the version — a no-op mutation
        is a commit). Legacy flat-layout tables force matched_files =
        ALL current files so their first mutation migrates them to the
        bucketed layout in one pass (previous behavior)."""
        from urllib.parse import unquote, urlparse

        snap = self._snapshot()
        files = snap["files"]
        if not files:
            return None, [], 0, set()
        legacy = any(self._bucket_of(f) is None for f in files)
        floor = self.version if live_floor is None else live_floor
        cand = self._prune_files(
            files, snap["stats"],
            self._translate_ranges([(live_col, ">", floor), *ranges]))
        if not cand:
            return None, [], 0, set()
        probe = prepare(self._read_files(cand).withColumn(
            "__file", F.col("_metadata.file_path")))
        aggs = [F.count(F.lit(1)).alias("__n")]
        if probe_keys:
            # batch_update folds its matched-keys collect into THIS probe
            # (bounded by the batch size) instead of a second job over
            # the matched files
            aggs.append(F.collect_set(F.struct(*probe_keys)).alias("__ks"))
        probe_rows = (tinyplan.narrow(probe, self._bucket_width(cand))
                      .filter(F.col("__m")).groupBy("__file").agg(*aggs)
                      .collect())
        per_file = {r["__file"]: r["__n"] for r in probe_rows}
        keys: set = set()
        if probe_keys:
            keys = {tuple(k) for r in probe_rows for k in r["__ks"]}
        n = int(sum(per_file.values()))
        if n == 0:
            return None, [], 0, set()
        if legacy:
            matched = list(files)
        else:
            matched = sorted(
                os.path.relpath(unquote(urlparse(u).path), self.path)
                for u in per_file)
        sub = prepare(self._with_bkt(self._read_files(matched)))
        return sub, matched, n, keys

    @_locked_mutation
    def add_bloom_filter(self, col: str, fpp: float = 0.01) -> None:
        """Enable per-file Bloom-filter skipping for equality predicates on
        `col` (beyond-reference scale feature; same role as Delta bloom
        indexes / Iceberg `write.parquet.bloom-filter-enabled`). Backfills
        blooms for the current snapshot's files (one column-pruned read
        per file), then every commit builds them for new files only.
        min/max stats can't prune point lookups on high-cardinality
        unsorted keys — every file spans ~the full range; a bloom proves
        absence and the file never opens."""
        target = dict(self.schema)
        for cc in self.computed.values():
            target[cc.name] = cc.col_type
        if col not in target:
            raise NotFoundError(f"unknown column {col!r}")
        if not 0.0 < fpp < 0.5:
            raise ValueError(f"fpp must be in (0, 0.5), got {fpp}")
        self.bloom_cols[col] = float(fpp)
        self._save_meta()
        files = self._current_files()
        if files:
            # re-commit the same file list: _commit_files recomputes stats
            # for any file missing a bloom entry (= all of them right now)
            self._commit_files(files)
        self._log("add_bloom_filter", column=col, fpp=fpp)

    @_locked_mutation
    def drop_bloom_filter(self, col: str) -> None:
        """Stop building blooms for `col`. Existing manifest entries stay
        (harmless — still-correct pruning) until files are rewritten."""
        self.bloom_cols.pop(col, None)
        self._save_meta()
        self._log("drop_bloom_filter", column=col)

    @_locked_mutation
    def add_ndv_stats(self, col: str, precision: int = None) -> None:
        """Maintain a per-file HyperLogLog sketch of `col` in the
        manifest (ndv.py), so ``approx_count_distinct(col)`` answers
        from METADATA — O(live files) driver work, zero data scan, at
        any table size (the Snowflake/BigQuery table-stats design).
        Backfills the current snapshot (one column-pruned read per
        file); every later commit sketches only its new/rewritten
        files, so estimates stay true through inserts, updates and
        deletes without a global rebuild. ``precision`` p gives 2^p
        registers with ~1.04/sqrt(2^p) standard error (default p=11 ≈
        2.3%)."""
        from .ndv import DEFAULT_P

        target = dict(self.schema)
        for cc in self.computed.values():
            target[cc.name] = cc.col_type
        if col not in target:
            raise NotFoundError(f"unknown column {col!r}")
        p = DEFAULT_P if precision is None else int(precision)
        if not 4 <= p <= 16:
            raise ValueError(f"precision must be in [4, 16], got {p}")
        self.ndv_cols[col] = p
        self._save_meta()
        files = self._current_files()
        if files:
            # re-commit the same file list: _commit_files recomputes
            # stats for any file missing an ndv entry (= all right now)
            self._commit_files(files)
        self._log("add_ndv_stats", column=col, precision=p)

    @_locked_mutation
    def drop_ndv_stats(self, col: str) -> None:
        """Stop sketching `col`. Existing manifest entries stay until
        files are rewritten (harmless — just unused)."""
        self.ndv_cols.pop(col, None)
        self._save_meta()
        self._log("drop_ndv_stats", column=col)

    def approx_count_distinct(self, col: str) -> int:
        """Approximate COUNT(DISTINCT col) over the CURRENT version,
        answered entirely from the manifest's per-file sketches — no
        data scan, no Spark job; O(live files) metadata fold on the
        driver. Requires ``add_ndv_stats(col)``; raises if any live
        file lacks a sketch (e.g. a racer committed through a handle
        that predates the registration) — re-run ``add_ndv_stats`` to
        backfill. Estimate error is ~1.04/sqrt(2^p) (p=11 → ~2.3%)."""
        from .ndv import ndv_estimate, ndv_merge

        if col not in self.ndv_cols:
            raise NotFoundError(
                f"no NDV sketch registered for {col!r} — call "
                f"add_ndv_stats({col!r}) first")
        fcol = self.phys_map.get(col, col)
        snap = self._snapshot()
        files, stats = snap["files"], snap["stats"]
        if not files:
            return 0
        sketches = []
        missing = []
        for f in files:
            sk = (stats.get(f) or {}).get(_NDV_PFX + fcol)
            if sk is None:
                missing.append(f)
            else:
                sketches.append(sk)
        if missing:
            raise Error(
                f"{len(missing)} live file(s) have no NDV sketch for "
                f"{col!r} (committed before registration?) — re-run "
                f"add_ndv_stats({col!r}) to backfill")
        return int(round(ndv_estimate(ndv_merge(sketches))))

    def _zorder_expr(self, df: DataFrame, cols: Sequence[str]):
        """Morton z-value Column over `cols`: per-column equal-frequency
        quantile bucket (8 bits, approxQuantile sketch -> pyspark.ml
        Bucketizer, both distributed) with the bits of all columns
        interleaved. Sorting the rewrite by this value makes every
        file's min/max tight on EVERY zorder column simultaneously, so
        the manifest prunes multi-column range/point predicates —
        sorting by (a, b) lexicographically only ever tightens `a`.
        Same design as Delta OPTIMIZE ZORDER BY (range-id interleave)."""
        from functools import reduce

        from pyspark.ml.feature import Bucketizer

        BITS, NQ = 8, 256
        ncols = len(cols)
        num = {"int", "bigint", "smallint", "tinyint", "float", "double",
               "decimal"}
        srcs: list = []          # numeric-path source expr per col (or None)
        str_cols: list = []      # string-path col names (or None)
        for c in cols:
            dt = dict(df.dtypes).get(c, "")
            base = dt.split("(")[0]
            if base in num:
                srcs.append(F.col(c).cast("double"))
                str_cols.append(None)
            elif base in ("timestamp", "timestamp_ntz"):
                srcs.append(F.col(c).cast("double"))
                str_cols.append(None)
            elif base == "date":
                srcs.append(F.col(c).cast("timestamp").cast("double"))
                str_cols.append(None)
            elif base == "string":
                # Delta computes range-partition ids per zorder column;
                # same here: RangePartitioner (distributed sampling,
                # works on any orderable type) assigns each string an
                # equal-frequency rank in [0, NQ). A fixed-prefix byte
                # key collapses prefix-heavy corpora ("alpha-…",
                # "beta-0…" share 6 bytes) into a handful of ranks whose
                # bits sink to the bottom of the z-value — range ids
                # keep full 8-bit resolution no matter the prefixes.
                # Clustering quality only: min/max stats stay truthful
                # on the real strings, so pruning correctness never
                # depends on this rank.
                srcs.append(None)
                str_cols.append(c)
            else:
                raise ValueError(
                    f"zorder_by column {c!r} has unsupported type {dt!r}; "
                    "z-order supports numeric/date/timestamp/string")
        num_idx = [i for i in range(ncols) if srcs[i] is not None]
        allq = []
        if num_idx:
            tmp = df.select(*[srcs[i].alias(f"__zsrc{i}") for i in num_idx])
            # one distributed Greenwald-Khanna pass for every numeric col
            probs = [i / NQ for i in range(1, NQ)]
            allq = tmp.stat.approxQuantile(
                [f"__zsrc{i}" for i in num_idx], probs, 1.0 / (2 * NQ))
        inf = float("inf")
        staged = df
        bucket_cols = []
        for i in range(ncols):
            name = f"__zb{i}"
            if str_cols[i] is not None:
                # one range shuffle per string column (optimize is a
                # full rewrite anyway); partition ids are ascending in
                # key order, ties co-located -> an equal-frequency rank
                staged = (staged.repartitionByRange(NQ, F.col(str_cols[i]))
                          .withColumn(name,
                                      F.spark_partition_id().cast("double")))
                bucket_cols.append(F.least(F.col(name).cast("long"),
                                           F.lit(NQ - 1)))
                continue
            qi = num_idx.index(i)
            splits = sorted({q for q in allq[qi] if q == q})  # dedupe, no NaN
            if not splits:  # constant column: single bucket
                staged = staged.withColumn(name, F.lit(0.0))
            else:
                staged = staged.withColumn(
                    f"__zsrc{i}", F.coalesce(srcs[i], F.lit(inf)))
                staged = Bucketizer(
                    splits=[-inf] + splits + [inf],
                    inputCol=f"__zsrc{i}", outputCol=name,
                    handleInvalid="keep").transform(staged).drop(f"__zsrc{i}")
            bucket_cols.append(F.least(F.col(name).cast("long"),
                                       F.lit(NQ - 1)))
        terms = []
        for j, bc in enumerate(bucket_cols):
            for i in range(BITS):
                terms.append(F.shiftleft(
                    F.shiftright(bc, i).bitwiseAND(F.lit(1)), i * ncols + j))
        z = reduce(lambda a, b: a.bitwiseOR(b), terms)
        return staged.withColumn("__z", z).drop(
            *[f"__zb{i}" for i in range(ncols)])

    def _record_optimize(self, purge_before: Optional[int]) -> None:
        """Persist optimize()'s metadata effects: purge raises the
        time-travel floor (versions below it are physically gone)."""
        if purge_before is not None:
            self.version_floor = max(self.version_floor,
                                     min(int(purge_before), self.version))
        self._save_meta()

    @_locked_mutation
    def optimize(self, purge_before: Optional[int] = None,
                 zorder_by: Optional[Sequence[str]] = None,
                 target_files: Optional[int] = None) -> dict:
        """Compact the store: rewrite every bucket that has more than one
        data file into a single file (the Delta OPTIMIZE / Iceberg
        rewrite_data_files maintenance op). Logical content, version
        counter, and time travel are unchanged — this is a storage-only
        commit. With ``purge_before=v``, row-versions already expired at
        v (_v_max <= v) are dropped during the rewrite, reclaiming MVCC
        garbage at the cost of time travel earlier than v.

        With ``zorder_by=[cols...]`` the WHOLE table is rewritten
        clustered by the interleaved-bit z-value of those columns
        (Delta OPTIMIZE ZORDER BY): rows close in every dimension land
        in the same files, so the manifest's min/max stats prune
        multi-column predicates — not just the leading sort key.
        ``target_files`` bounds the rewrite's output file count
        (default: the session's parallelism). Subsequent row mutations
        re-cluster only the buckets they touch; re-run optimize to
        restore perfect clustering (same contract as Delta).

        Small files are the classic death-by-metadata failure at scale:
        every insert commits at least one file per touched bucket, and a
        100 TB table fed by streaming inserts ends up scanning millions
        of tiny files. Compaction cost scales with the affected buckets'
        data; untouched buckets carry over without being read.

        Returns {"compacted_buckets": n, "files_before": a, "files_after": b}.
        """
        cur = self._current_files()
        if zorder_by and not cur:
            return {"compacted_buckets": 0, "files_before": 0,
                    "files_after": 0}
        by_bucket: dict[Optional[int], list[str]] = {}
        for f in cur:
            by_bucket.setdefault(self._bucket_of(f), []).append(f)
        crowded = [b for b, fs in by_bucket.items()
                   if b is not None and len(fs) > 1]
        if not (zorder_by or None in by_bucket or crowded
                or purge_before is not None):
            return {"compacted_buckets": 0, "files_before": len(cur),
                    "files_after": len(cur)}
        store = self._store_df()
        if purge_before is not None:
            store = store.filter(_ccol(_VMAX) > purge_before)
        keep: list[str] = []
        extra = {"zorder_by": list(zorder_by)} if zorder_by else {}
        if zorder_by:
            spark = self.catalog.spark
            n_out = int(target_files or spark.sparkContext.defaultParallelism)
            staged = self._zorder_expr(store, list(zorder_by))
            # range-partition on z ALONE (not _bkt: buckets hash rowids, so
            # each bucket is a uniform z-sample and leading with it would
            # leave every file full-range). Each task owns one contiguous
            # z-slice; the partitionBy(_bkt) write then splits the slice
            # into bucket-pure files whose rows all lie in that slice, so
            # per-file min/max stay tight on EVERY zorder column while the
            # bucket mutation unit survives. File count = target_files x
            # occupied buckets — size target_files so file ~ 128 MB.
            staged = (staged.repartitionByRange(max(n_out, 1), F.col("__z"))
                      .sortWithinPartitions(_BKT, "__z").drop("__z"))
            written = self._write_snapshot_files(
                staged, preserve_partitioning=True)
            compacted = self.n_buckets
        elif None in by_bucket:
            # legacy files have no bucket identity: a full rewrite migrates
            # to the bucketed layout and compacts in one pass
            written = self._write_snapshot_files(store)
            compacted = len(by_bucket)
        else:
            targets = crowded if purge_before is None else [
                b for b in by_bucket if b is not None]
            sub = store.filter(_delta_pred(
                self.catalog.spark, [T.StructField(_BKT, T.IntegerType())],
                [(b,) for b in targets]))
            # one shuffle task per bucket -> exactly one output file per bucket
            sub = sub.repartition(max(len(targets), 1), _ccol(_BKT))
            keep = [f for f in cur if self._bucket_of(f) not in set(targets)]
            written = self._write_snapshot_files(sub)
            compacted = len(targets)
        self._commit_files(keep + written)
        after = self._current_files()
        self._log("optimize", **extra, files_before=len(cur),
                  files_after=len(after))
        self._record_optimize(purge_before)
        return {"compacted_buckets": compacted, **extra,
                "files_before": len(cur), "files_after": len(after)}

    # -- read path ---------------------------------------------------------
    def _validate_version(self, version: Optional[int]) -> int:
        """Resolve + validate a time-travel version argument. A version
        that never existed (> current) or is no longer reconstructible
        (below the optimize(purge_before=...) floor) raises NotFoundError
        instead of silently passing the visibility predicate — on a table
        at version 1, every live row satisfies `_v_min <= 99 < _v_max`,
        so an unvalidated df(version=99) returns plausible-looking wrong
        data (reference validates via its version catalog,
        catalog/table.py:1087-1111)."""
        if version is None:
            return self.version
        v = int(version)
        if v > self.version or v < 0:
            raise NotFoundError(
                f"table {self.name!r} has no version {version} "
                f"(current version is {self.version})")
        if v < self.version_floor:
            raise NotFoundError(
                f"table {self.name!r} version {version} predates "
                f"optimize(purge_before={self.version_floor}) and is no "
                "longer reconstructible")
        return v

    def _sync_latest(self) -> None:
        """Latest-read semantics for version=None reads: if another
        process committed past this handle's cached state, reload it
        (one small CURRENT read per query — a stale handle must never
        keep answering from a superseded snapshot; a stale VIEW handle
        after a racer's refresh otherwise filters everything out and
        silently returns 0 rows). Pinned-version reads and in-mutation
        reads (write lock held) never sync — their snapshot is the
        point."""
        if not self._lock_depth:
            self._refresh_from_disk()

    def df(self, version: Optional[int] = None) -> DataFrame:
        """Live rows at a version (default: current) — the version-interval
        visibility predicate (reference store.py:39-42). Until the
        snapshot, schema or version moves, every call returns the same
        memoized DataFrame (_frames)."""
        if version is None:
            self._sync_latest()
        return self._live(self._validate_version(version))[1]

    def user_df(self, version: Optional[int] = None) -> DataFrame:
        if version is None:
            return self.df().select(*self.column_names())
        # time travel sees the schema AS OF that version: columns added
        # later are absent, columns dropped later resolve through their
        # retired physical names (reference: versioned schema metadata)
        v = self._validate_version(version)
        snap = self._schema_at(v)
        if snap is None:
            return self.df(v).select(*self.column_names())
        return self.df(v).select(*self._snap_projection(snap))

    def _snap_projection(self, snap: dict) -> list:
        """Projection for one schema snapshot: retired physicals alias
        back to their logical names, and scalar columns whose type was
        later altered cast back to the type recorded at that version."""
        out = []
        for logical, phys, tdict, _c in snap["cols"]:
            col = F.col(phys)
            want = ColumnType.from_dict(tdict)
            cur = self.schema.get(phys) if phys in self.schema else None
            if (cur is not None and cur.kind != want.kind
                    and want.kind.name in ("INT", "FLOAT", "BOOL",
                                           "STRING")):
                col = col.cast(want.spark_type())
            out.append(col.alias(logical))
        return out

    def ref(self, version: Optional[int] = None) -> TableRef:
        """Bind as a queryable TableRef (system cols hidden, _rowid kept as
        the insertion-order key for head/tail/sample). A pinned version
        binds the schema AS OF that version (snapshot projection).
        Memoized with df()'s frame."""
        return self.scan(version=version)

    @staticmethod
    def _extract_ranges(pred) -> list[tuple]:
        """(col, op, literal) conjuncts usable for file skipping: walks
        top-level ANDs, keeps `col <op> literal` / `literal <op> col`
        comparisons on scalar columns, ignores everything else (which
        simply doesn't prune)."""
        from .exprs import (ColumnRef, Comparison, CompoundPredicate,
                            InPredicate, IsNull, Literal)
        _FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=",
                 "==": "==", "!=": "!="}
        out: list[tuple] = []

        def visit(e) -> None:
            if isinstance(e, CompoundPredicate) and e.op == "and":
                for c in e.components:
                    visit(c)
                return
            if isinstance(e, IsNull) \
                    and isinstance(e.components[0], ColumnRef):
                out.append((e.components[0].name, "isnull", None))
                return
            if isinstance(e, CompoundPredicate) and e.op == "not" \
                    and len(e.components) == 1 \
                    and isinstance(e.components[0], IsNull) \
                    and isinstance(e.components[0].components[0], ColumnRef):
                out.append((e.components[0].components[0].name,
                            "notnull", None))
                return
            if isinstance(e, InPredicate) \
                    and isinstance(e.components[0], ColumnRef) \
                    and all(isinstance(v, (int, float, str, bool))
                            for v in e.values):
                # a file survives if ANY listed value admits a match; with
                # a bloom on the column this prunes batched point lookups
                out.append((e.components[0].name, "in", list(e.values)))
                return
            if isinstance(e, Comparison) and e.op != "!=":
                a, b = e.components
                if isinstance(a, ColumnRef) and isinstance(b, Literal) \
                        and isinstance(b.val, (int, float, str, bool)):
                    out.append((a.name, e.op, b.val))
                elif isinstance(b, ColumnRef) and isinstance(a, Literal) \
                        and isinstance(a.val, (int, float, str, bool)):
                    out.append((b.name, _FLIP[e.op], a.val))

        visit(pred)
        return out

    def scan(self, where=None, version: Optional[int] = None):
        """Pruned read: drops data files via manifest min/max stats for
        the simple conjuncts of `where` BEFORE Spark ever lists them,
        then applies the full predicate row-level. Returns a Query
        (`scan()` is `ref()`). On a 100 TB table a selective scan opens
        only the files whose stats admit matches — the Delta/Iceberg
        data-skipping read path. The projected frame is memoized per
        pruned file set (_frames)."""
        if version is None:
            self._sync_latest()
        v = self._validate_version(version)
        snap = self._schema_at(v) if version is not None else None
        schema = {_ROWID: ColumnType.int_(False)}
        if snap is not None:
            proj = [(_ROWID, _ROWID)] + [(phys, logical) for logical, phys,
                                         _t, _c in snap["cols"]]
            schema.update({logical: ColumnType.from_dict(tdict)
                           for logical, _p, tdict, _c in snap["cols"]})
        else:
            schema.update(self.schema)
            schema.update({c.name: c.col_type for c in self.computed.values()})
            schema.update({_cellmd_col(c.name): ColumnType.json() for c in
                           self.computed.values() if c.on_error == "ignore"})
            proj = [(c, c) for c in schema]
        ranges = self._extract_ranges(where) if where is not None else ()
        e, live = self._live(v, ranges)
        df = _stage(e, ("ref", v, tuple(proj)), lambda: live.select(
            *[p if p == a else F.col(p).alias(a) for p, a in proj]))
        tr = TableRef(df, self.name, schema, rowid_cols=[_ROWID])
        # backpointer for query-handle mutations (Query.update/delete/
        # recompute_columns, reference _query.py:1800-1875); a pinned
        # version marks the handle immutable (snapshot semantics)
        tr._catalog_tbl = self
        tr._pinned_version = version
        return tr.where(where) if where is not None else tr

    def column_names(self) -> list[str]:
        return list(self.schema) + list(self.computed)

    def _component_identity_cols(self) -> list[str]:
        """The storage columns that identify ONE row of this table inside
        a dependent component view's frame: the base rowid, plus one
        ordinal per iterator level for component views (reference groups
        a component view by its base row via these — _query.py:1446-1538).
        Consumed by Query.group_by(table_handle)."""
        return [_ROWID]

    # -- reference-style query/column sugar --------------------------------
    # the reference queries directly off the catalog handle
    # (t.select(t.col).where(...)); delegate to the versioned ref()
    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        schema = self.__dict__.get("schema") or {}
        computed = self.__dict__.get("computed") or {}
        if name in schema or name in computed:
            return getattr(self.ref(), name)
        raise AttributeError(
            f"table {self.__dict__.get('name')!r} has no column {name!r}")

    def __getitem__(self, name: str):
        # column-FIRST (unlike attribute access, which an instance
        # attribute like `name`/`version` can shadow): t['name'] is the
        # escape hatch that always means the column, as in the reference
        if name in (self.__dict__.get("schema") or {}) \
                or name in (self.__dict__.get("computed") or {}):
            return getattr(self.ref(), name)
        return getattr(self, name)

    def select(self, *items, **named):
        return self.ref().select(*items, **named)

    def where(self, pred):
        return self.ref().where(pred)

    def group_by(self, *exprs):
        return self.ref().group_by(*exprs)

    def order_by(self, *exprs, asc=True):
        return self.ref().order_by(*exprs, asc=asc)

    def limit(self, n, offset=0):
        return self.ref().limit(n, offset)

    def sample(self, **kw):
        return self.ref().sample(**kw)

    def distinct(self):
        return self.ref().distinct()

    def join(self, other, on=None, how="inner"):
        other = other.ref() if hasattr(other, "ref") else other
        return self.ref().join(other, on, how)

    def head(self, n=10):
        return self.ref().head(n)

    def tail(self, n=10):
        return self.ref().tail(n)

    def count(self) -> int:
        return self.df().count()

    def columns(self) -> list:
        """User-visible column names, stored then computed (reference
        catalog/table.py columns())."""
        return list(self.schema) + list(self.computed)

    def show(self, n: int = 20):
        """Print + return the first n rows (reference Table.show)."""
        return self.ref()._q().show(n)

    def get_base_table(self) -> "Optional[Table]":
        """The base table of a view, None for base tables (reference
        catalog/table.py get_base_table)."""
        return getattr(self, "base", None)

    def history(self, n: Optional[int] = None):
        """Version history, most recent first (reference
        catalog/table.py:1111 history)."""
        return self.history_report(n)

    def add_columns(self, schema: dict, defaults: Optional[dict] = None
                    ) -> None:
        """Add several plain columns at once (reference
        catalog/table.py add_columns)."""
        for name, ct in schema.items():
            self.add_column(name, ct,
                            default=(defaults or {}).get(name))

    # -- embedding indexes as table methods (reference catalog/table.py
    # add_embedding_index/drop_embedding_index/drop_index) --------------
    def add_embedding_index(self, column: str, *,
                            idx_name: Optional[str] = None,
                            embedding: Optional[Callable] = None,
                            string_embed: Optional[Callable] = None,
                            metric: str = "cosine",
                            if_exists: str = "error", **kw):
        from .index import add_embedding_index as _add
        fn = embedding if embedding is not None else string_embed
        # accept @udf-wrapped functions: unwrap to the plain callable
        fn = getattr(fn, "fn", None) or getattr(fn, "__wrapped__", None) \
            or fn
        return _add(self, column, embed_fn=fn, idx_name=idx_name,
                    metric=metric, if_exists=if_exists, **kw)

    def drop_embedding_index(self, column: Optional[str] = None,
                             idx_name: Optional[str] = None) -> None:
        from .index import drop_embedding_index as _drop
        _drop(self, column=column, idx_name=idx_name)

    def drop_index(self, idx_name: str) -> None:
        from .index import drop_embedding_index as _drop
        _drop(self, idx_name=idx_name)

    def to_pytorch_dataset(self, out_dir: str, **kw):
        """Export as pickled shards for a torch IterableDataset
        (reference _query.py:2002 to_pytorch_dataset)."""
        from .sources.io import export_pytorch
        return export_pytorch(self.user_df(), out_dir, **kw)

    def to_coco_dataset(self, out_path: str, **kw) -> str:
        """COCO detection-format export (reference _query.py:2039)."""
        from .sources.io import export_coco
        return export_coco(self.user_df(), out_path, **kw)

    def collect(self):
        from .results import ResultSet
        schema = dict(self.schema)
        for cc in self.computed.values():
            schema[cc.name] = cc.col_type
        return ResultSet([r.asDict(recursive=True)
                          for r in self.user_df().orderBy(_ROWID).collect()],
                         schema)

    def cursor(self):
        """Streaming row iteration (reference _query.py ResultCursor via
        Table.cursor()): one partition at a time, insertion order."""
        ref = self.ref()
        cols = list(self.schema) + list(self.computed)
        q = ref._q().order_by(ref[_ROWID]).select(*[ref[c] for c in cols])
        return q.cursor()

    # -- computed columns --------------------------------------------------
    @_locked_mutation
    def add_computed_column(self, name: str, expr: Expr,
                            col_type: Optional[ColumnType] = None,
                            on_error: str = "abort") -> None:
        """Add + backfill a computed column (reference catalog/table.py:333,
        plan.py:1230 create_add_column_plan). Backfill touches every live
        row once; new inserts compute incrementally."""
        if name in self.schema or name in self.computed:
            raise ValueError(f"duplicate column {name!r}")
        self._exhume_if_retired(name)
        cc = ComputedColumn(name, expr, col_type or expr.col_type, on_error)
        self.computed[name] = cc
        store = (self._eval_computed(self._store_df(), [cc])
                 if self._has_data() else None)
        self._commit_schema_change("add_computed_column", store,
                                   column=name)

    def _eval_computed(self, df: DataFrame, ccs: Sequence[ComputedColumn]) -> DataFrame:
        """Evaluate computed columns in declaration (topo) order — each may
        reference earlier ones (the RowBuilder DAG,
        reference exprs/row_builder.py:59-482, collapses to sequential
        withColumn over the slice: Catalyst fuses them into one projection)."""
        for cc in ccs:
            if cc.on_error == "ignore":
                df = self._eval_with_cellmd(df, cc)
            else:
                df = df.withColumn(cc.name, cc.expr.compile())
        return df

    def _eval_with_cellmd(self, df: DataFrame, cc: ComputedColumn) -> DataFrame:
        """Per-cell error capture (reference exec/exec_context.py
        ignore_errors; cellmd in exprs/data_row.py:24-83): evaluate via the
        Python path under try/except, store (value, errortype, errormsg)."""
        import pandas as pd

        expr = cc.expr
        refs = expr.column_refs()
        names = [r.name for r in refs]
        ret = T.StructType([
            T.StructField("value", cc.col_type.spark_type()),
            T.StructField("errortype", T.StringType()),
            T.StructField("errormsg", T.StringType()),
        ])

        from .exprs import _from_pandas

        def batch(*series):  # -> pd.DataFrame of (value, errortype, errormsg)
            vals, ets, ems = [], [], []
            n = len(series[0]) if series else 0
            for i in range(n):
                row = {nm: _from_pandas(series[j].iloc[i]) for j, nm in enumerate(names)}
                try:
                    vals.append(expr.eval_py(row))
                    ets.append(None)
                    ems.append(None)
                except Exception as e:  # noqa: BLE001
                    vals.append(None)
                    ets.append(type(e).__name__)
                    ems.append(str(e))
            return pd.DataFrame({"value": vals, "errortype": ets, "errormsg": ems})

        udf = F.pandas_udf(batch, returnType=ret)
        tmp = "__cellmd_tmp"
        df = df.withColumn(tmp, udf(*[F.col(n) for n in names]))
        return (
            df.withColumn(cc.name, F.col(f"{tmp}.value"))
            .withColumn(_cellmd_col(cc.name),
                        F.struct(F.col(f"{tmp}.errortype").alias("errortype"),
                                 F.col(f"{tmp}.errormsg").alias("errormsg")))
            .drop(tmp)
        )

    # -- schema evolution (reference catalog/table.py:221-459) -------------
    def _schema_stamp(self) -> dict:
        """The complete post-change schema state, stamped into the next
        manifest commit so the commit point carries the schema change
        (Delta: schema changes are transaction-log actions). Loaders
        reconcile from it when a crash lands between the CURRENT swap
        and the meta save."""
        return {
            "schema": {n: ct.as_dict() for n, ct in self.schema.items()},
            "schema_history": self.schema_history,
            "retired": self.retired,
            "phys_map": self.phys_map,
            "explicit_read_schema": self._explicit_read_schema,
            "computed": list(self.computed),
            "primary_key": list(self.primary_key or []),
            "bloom_cols": dict(self.bloom_cols),
            "ndv_cols": dict(self.ndv_cols),
        }

    def _commit_schema_change(self, op: str,
                              store: Optional[DataFrame] = None,
                              **log_kw: Any) -> None:
        """Commit a schema change (already applied to this handle) at the
        next version: snapshot the schema, then one commit stamped with
        the full schema state. `store`, when given, is the whole table
        under the new schema (a backfill) and replaces every current
        file; without it the change is METADATA-ONLY and publishes the
        same file list — one tiny segment + manifest JSON + the swap,
        no data file touched at any table size. Either way the change
        goes through the conditional swap, so a racer's commit landing
        mid-change fails this CAS and the whole op retries against the
        rebased state (two optimistic writers can never claim the same
        version number for different changes)."""
        new_v = self.version + 1
        self._snapshot_schema(new_v)
        written: list[str] = []
        replaced: Sequence[str] = ()
        if store is not None:
            replaced = self._current_files()
            written = self._write_snapshot_files(store)
        self._commit_version(new_v, written, replaced,
                             schema_state=self._schema_stamp(), op=op,
                             **log_kw)

    @_locked_mutation
    def add_column(self, name: str, col_type: ColumnType,
                   default: Any = None) -> None:
        """Add a plain (non-computed) column; existing rows get `default`.
        With no default this is METADATA-ONLY (Delta/Iceberg add-column
        shape): existing files simply lack the new column and read NULL
        through the explicit reader schema — no rewrite at any table
        size. A non-NULL default still backfills (one rewrite)."""
        if name in self.schema or name in self.computed:
            raise ValueError(f"duplicate column {name!r}")
        if not col_type.nullable and default is None:
            raise ValueError("non-nullable add_column requires a default")
        self._exhume_if_retired(name)
        self.schema[name] = col_type
        store = None
        if self._has_data() and default is None:
            # existing files lack the new column: from now on reads go
            # through the explicit reader schema so it surfaces as NULL
            self._explicit_read_schema = True
        elif self._has_data():
            store = self._store_df().withColumn(
                name, F.lit(default).cast(col_type.spark_type()))
            store = store.select(
                *[f.name for f in self._store_schema().fields],
                *[p for p in self.retired if p in store.columns])
        self._commit_schema_change("add_column", store, column=name)

    def _check_view_deps(self, name: str) -> None:
        """Refuse to drop a column a dependent view reads (reference
        raises for dependent views; silently resolving the retired
        physical would freeze the view's predicate on stale data)."""
        vdeps = []
        for v in self._views:
            refs = []
            if getattr(v, "predicate", None) is not None:
                refs += list(v.predicate.column_refs())
            for e, _t in getattr(v, "extra", {}).values():
                refs += list(e.column_refs())
            if any(r.name == name for r in refs):
                vdeps.append(v.name)
            # rollups reference columns by NAME in their spec (group
            # keys + aggregate inputs) — dropping/renaming one out
            # from under them would silently break maintenance
            if name in getattr(v, "group_cols", ()) or any(
                    col == name
                    for _fn, col in getattr(v, "aggs", {}).values()):
                vdeps.append(v.name)
        if vdeps:
            raise ValueError(
                f"column {name!r} is referenced by views {vdeps}")

    def _exhume_if_retired(self, name: str,
                           assign_fresh: bool = True) -> None:
        """A new column is reusing a retired alias: shunt the retired
        incarnation to a mangled alias (`name__vN`) so every past schema
        snapshot keeps addressing the OLD values, and the new column
        starts clean. METADATA-ONLY (Delta column-mapping design): the
        mangled alias keeps pointing at the original FILE column through
        phys_map, and the new incarnation gets a FRESH file column name
        — old files lack it and read NULL, new files lack the old one
        likewise. No rewrite at any table size (round 9 rewrote the
        whole table here)."""
        if name not in self.retired:
            return
        mangled = f"{name}__v{self.version}"
        old_md = _cellmd_col(name)
        new_md = _cellmd_col(mangled)
        self.retired[mangled] = self.retired.pop(name)
        if old_md in self.retired:
            self.retired[new_md] = self.retired.pop(old_md)
            self.phys_map[new_md] = self.phys_map.pop(old_md, old_md)
        # the mangled alias inherits the old incarnation's file column
        self.phys_map[mangled] = self.phys_map.pop(name, name)
        for snap in self.schema_history:
            for c in snap["cols"]:
                if c[1] == name:
                    c[1] = mangled
        if name in self.computed_retired:
            self.computed_retired[mangled] = self.computed_retired.pop(name)
        if assign_fresh:
            # the re-added incarnation writes under a file column no
            # file has ever carried (its cellmd likewise, preassigned
            # in case the new column is computed with on_error=ignore)
            fresh = self._fresh_phys(name)
            self.phys_map[name] = fresh
            self.phys_map[_cellmd_col(name)] = _cellmd_col(fresh)

    @_locked_mutation
    def drop_column(self, name: str) -> None:
        """METADATA-ONLY drop (the Delta/Iceberg drop-column shape, vs the
        reference's Postgres schema change): the physical column stays in
        the stored files and is recorded in `retired`, so (a) the drop is
        O(1) regardless of table size — no 100 TB rewrite — and (b) time
        travel to a pre-drop version and revert() still see the values
        (reference keeps them via its versioned schema,
        catalog/table_version.py:868-880)."""
        if name in (self.primary_key or []):
            # reference catalog/table_version.py:875
            raise ValueError(f"cannot drop primary key column {name!r}")
        if name in self.computed:
            self._check_view_deps(name)
            cc = self.computed.pop(name)
            self.computed_retired[name] = cc
            self.retired[name] = cc.col_type.as_dict()
            if cc.on_error == "ignore":
                self.retired[_cellmd_col(name)] = None  # cellmd struct
        elif name in self.schema:
            deps = [cc.name for cc in self.computed.values()
                    if any(r.name == name for r in cc.expr.column_refs())]
            if deps:
                raise ValueError(
                    f"column {name!r} is referenced by computed columns {deps}")
            self._check_view_deps(name)
            self.retired[name] = self.schema[name].as_dict()
            del self.schema[name]
        else:
            raise ValueError(f"unknown column {name!r}")
        self.bloom_cols.pop(name, None)
        self.ndv_cols.pop(name, None)
        # indexes over the dropped column (or backed by it) die with it
        for iname in [k for k, ix in self._indexes.items()
                      if ix.column == name or ix.embed_col == name]:
            del self._indexes[iname]
        self._commit_schema_change("drop_column", column=name)

    @_locked_mutation
    def alter_column(self, name: str, col_type: ColumnType) -> None:
        """Change a plain column's type (reference catalog/table.py
        alter_column); stored values are cast, incompatible casts become
        NULL (Spark cast semantics)."""
        if name not in self.schema:
            raise ValueError(f"unknown or non-alterable column {name!r}")
        if name in (self.primary_key or []):
            # reference catalog/local_table.py:669
            raise ValueError(
                f"cannot alter the type of primary key column {name!r}")
        # capture the store read BEFORE the schema flips: the files
        # still hold the OLD physical type, and the explicit reader
        # schema (built from self.schema) must describe what is on disk
        store = self._store_df() if self._has_data() else None
        self.schema[name] = col_type
        if store is not None:
            store = store.withColumn(
                name, F.col(name).cast(col_type.spark_type()))
        self._commit_schema_change("alter_column", store, column=name,
                                   new_type=col_type.kind.name)

    @_locked_mutation
    def rename_column(self, old: str, new: str) -> None:
        """METADATA-ONLY rename (Delta column-mapping design; the
        reference's Postgres ALTER is metadata-only too,
        catalog/table.py:221-459): the file column keeps its name, the
        new logical name maps onto it through phys_map — O(1) at any
        table size, no rewrite."""
        if new in self.schema or new in self.computed:
            raise ValueError(f"duplicate column {new!r}")
        if old in self.schema or old in self.computed:
            # a dependent view's predicate/extra exprs reference columns
            # by logical name: renaming underneath them would break the
            # view exactly like dropping would (same guard as drop)
            self._check_view_deps(old)
        if new in self.retired:
            # the target name is a retired alias: shunt the retired
            # incarnation to a mangled alias first so past snapshots
            # keep resolving it (same shape as _exhume_if_retired)
            self._exhume_if_retired(new, assign_fresh=False)
        was_computed = old in self.computed
        if old in self.schema:
            self.schema = {new if k == old else k: v for k, v in self.schema.items()}
        elif was_computed:
            cc = self.computed.pop(old)
            cc.name = new
            self.computed[new] = cc
        else:
            raise ValueError(f"unknown column {old!r}")
        # rewrite computed-column refs to the renamed column (every
        # occurrence, not just the first-per-name that column_refs() dedups)
        from .exprs import ColumnRef as _CR

        def _walk(e):
            if isinstance(e, _CR) and e.name == old:
                e.name = new
            for c in e.components:
                _walk(c)

        for cc in self.computed.values():
            _walk(cc.expr)
        for cc in self.computed_retired.values():
            _walk(cc.expr)
        # the LOGICAL rename applies to all row-versions: the new alias
        # takes over the old alias's file column, and cellmd follows
        self.phys_map[new] = self.phys_map.pop(old, old)
        if self.phys_map[new] == new:     # round-trip rename: identity
            del self.phys_map[new]
        if was_computed:
            old_md, new_md = _cellmd_col(old), _cellmd_col(new)
            self.phys_map[new_md] = self.phys_map.pop(old_md, old_md)
            if self.phys_map[new_md] == new_md:
                del self.phys_map[new_md]
        # past schema snapshots keep the old LOGICAL name but must point
        # at the new post-waist alias so time travel keeps resolving
        for snap in self.schema_history:
            for c in snap["cols"]:
                if c[1] == old:
                    c[1] = new
        if old in self.bloom_cols:
            self.bloom_cols[new] = self.bloom_cols.pop(old)
        if old in self.ndv_cols:
            self.ndv_cols[new] = self.ndv_cols.pop(old)
        if old in (self.primary_key or []):
            self.primary_key = [new if c == old else c
                                for c in self.primary_key]
        for ix in self._indexes.values():
            if ix.column == old:
                ix.column = new
            if ix.embed_col == old:
                ix.embed_col = new
        self._commit_schema_change("rename_column", old=old, new=new)

    # -- mutations ---------------------------------------------------------
    def _enforce_pk(self) -> bool:
        """Whether inserts check primary-key uniqueness: on for a keyed
        table unless PXT_SPARK_ENFORCE_PK=0 (bulk loads that guarantee
        uniqueness upstream)."""
        return bool(self.primary_key) and \
            os.environ.get("PXT_SPARK_ENFORCE_PK", "1") != "0"

    def _insert_precheck(self, src: DataFrame) -> tuple[dict, list]:
        """ONE Spark job over the incoming batch, grouped by partition id,
        computing everything insert needs from the batch itself:
        per-partition row counts (drives distributed rowid assignment),
        NOT NULL violation counts (store-side constraint the reference
        gets from Postgres — catalog/table_version.py:1246,
        io/table_data_conduit.py:172), and the batch PK min/max (prunes
        the collision probe to the files whose stats overlap the batch).
        Round 9 ran these as three to four separate jobs per insert —
        measured 19-32% per-commit regression on the mutation batteries;
        folding them into one grouped agg restores one-scan cost.

        Returns (partition_counts, pk_ranges); raises on a NULL in a
        required column. The NULL aggs are added only when the incoming
        schema cannot prove non-null; the count pass itself was always
        paid (rowid assignment needs it), so clean batches now pay
        exactly one scan where round 9 paid two to four."""
        src_fields = {f.name: f for f in src.schema.fields}
        check = [c for c, ct in self.schema.items()
                 if not ct.nullable and src_fields[c].nullable]
        pk = list(self.primary_key or [])
        rng_col = pk[0] if self._enforce_pk() and len(pk) == 1 else None
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        aggs += [F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{i}")
                 for i, c in enumerate(check)]
        if rng_col is not None:
            aggs += [F.min(rng_col).alias("__lo"),
                     F.max(rng_col).alias("__hi")]
        rows = (src.withColumn("__pid", F.spark_partition_id())
                .groupBy("__pid").agg(*aggs).collect())
        for i, c in enumerate(check):
            if any((r[f"__null_{i}"] or 0) > 0 for r in rows):
                raise ValueError(
                    f"missing required column {c!r} "
                    "(NULL value in inserted data)")
        counts = {r["__pid"]: r["__cnt"] for r in rows}
        ranges: list[tuple] = []
        if rng_col is not None:
            los = [r["__lo"] for r in rows if r["__lo"] is not None]
            his = [r["__hi"] for r in rows if r["__hi"] is not None]
            if los:
                ranges = [(rng_col, ">=", min(los)),
                          (rng_col, "<=", max(his))]
        return counts, ranges

    def _precheck_local(self, rows: Sequence[dict]) -> tuple:
        """Driver-side replica of _insert_precheck for literal row lists
        (the rows are already in hand — a Spark job over them buys
        nothing). NOT NULL was checked by insert's Python loop; the
        partition-count map of a one-partition literal frame is trivial;
        the PK range mirrors min/max-after-cast EXACTLY for plain
        int/str keys (Python str order == UTF8String byte order under
        UTF-8) and declines anything else — (None, None) sends the
        caller to the Spark precheck, never a lax range (a too-tight
        range could mask a PK collision; too-loose is merely slower)."""
        counts = {0: len(rows)}
        pk = list(self.primary_key or [])
        if not (self._enforce_pk() and len(pk) == 1):
            return counts, []
        c = pk[0]
        st = self.schema[c].spark_type()
        vals = []
        for r in rows:
            v = r.get(c) if isinstance(r, dict) else None
            if v is None:
                return None, None
            vals.append(v)
        if isinstance(st, T.LongType):
            lo, hi = -(1 << 63), (1 << 63) - 1
            ok = all(type(v) is int and lo <= v <= hi for v in vals)
        elif isinstance(st, T.IntegerType):
            lo, hi = -(1 << 31), (1 << 31) - 1
            ok = all(type(v) is int and lo <= v <= hi for v in vals)
        elif isinstance(st, T.StringType):
            ok = all(type(v) is str for v in vals)
        else:
            ok = False   # float/date/... PKs: let Spark compute the range
        if not ok:
            return None, None
        return counts, [(c, ">=", builtins.min(vals)),
                        (c, "<=", builtins.max(vals))]

    def _enforce_pk_unique(self, src: DataFrame,
                           ranges: Sequence[tuple]) -> None:
        """ONE Spark job combining the intra-batch duplicate probe and the
        existing-key collision probe (round 9 ran them separately): group
        the batch by its key, left-join the table's LIVE keys — the scan
        stats-pruned to the batch's key range from _insert_precheck —
        and pull one offending key of each kind out of a single agg.
        The same work a store-side unique index does, paid at insert;
        callers gate on _enforce_pk before calling."""
        pk = list(self.primary_key or [])
        keys = src.groupBy(*pk).agg(F.count(F.lit(1)).alias("__n"))
        if self._has_data():
            live = (self._store_df(ranges)
                    .filter(_vis_pred(self.version))
                    .select(*pk)
                    .withColumn("__hit", F.lit(1)))
            keys = keys.join(live, on=pk, how="left")
        else:
            keys = keys.withColumn("__hit", F.lit(None).cast("int"))
        probe = keys.agg(
            F.any_value(F.when(F.col("__n") > 1, F.struct(*pk)),
                        True).alias("dup"),
            F.any_value(F.when(F.col("__hit").isNotNull(), F.struct(*pk)),
                        True).alias("hit")).first()
        if probe["dup"] is not None:
            key = tuple(probe["dup"][c] for c in pk)
            raise ValueError(
                f"duplicate primary key {key!r} within inserted rows")
        if probe["hit"] is not None:
            key = tuple(probe["hit"][c] for c in pk)
            raise ValueError(
                f"primary key {key!r} already exists in table "
                f"{self.name!r}")

    def insert(self, rows: "list[dict] | DataFrame | TableRef | str | None" = None,
               *, source_format: Optional[str] = None,
               schema_overrides: Optional[dict] = None,
               on_error: str = "abort", print_stats: bool = False,
               return_rows: bool = False, **kwargs: Any) -> int:
        """Append rows: validate, assign _rowid/_v_min, evaluate computed
        columns over ONLY the new slice, persist, then propagate to views
        (reference catalog/table.py:675-804, plan.py:255-324).

        Sources: a list of dicts, a DataFrame/TableRef, a file path/URL
        (csv/parquet/json/excel — `source_format` overrides the
        extension, `schema_overrides` casts named columns), or a single
        row as keyword args (`t.insert(k=1, v=2.0)`, reference sugar).
        `on_error='ignore'` downgrades a failing computed cell to NULL
        (plus cellmd for tolerance-declared columns) instead of
        aborting the batch; the returned status carries `num_excs`.
        `return_rows=True` reads the committed slice back into
        UpdateStatus.rows (driver-bound — use only for small batches)."""
        if rows is None:
            if not kwargs:
                raise ValueError(
                    "insert: provide a source or single-row column kwargs")
            rows = [kwargs]
        elif kwargs:
            raise ValueError(
                "insert: pass EITHER a source OR column kwargs, not both")
        return self._insert(rows, source_format=source_format,
                            schema_overrides=schema_overrides,
                            on_error=on_error, print_stats=print_stats,
                            return_rows=return_rows)

    @telemetry.traced("table.insert", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def _insert(self, rows: "list[dict] | DataFrame | TableRef | str", *,
                source_format: Optional[str] = None,
                schema_overrides: Optional[dict] = None,
                on_error: str = "abort", print_stats: bool = False,
                return_rows: bool = False,
                stream_stamp: Optional[tuple[str, int]] = None) -> int:
        """insert()'s body, under the insert span and the mutation guard
        (a retried attempt passes `stream_stamp` again): `stream_stamp`,
        insert_stream's (stream_id, batch_id), is recorded by the same
        commit as the batch's rows."""
        if on_error not in ("abort", "ignore"):
            raise ValueError("on_error must be 'abort' or 'ignore'")
        spark = self.catalog.spark
        if isinstance(rows, str):
            from .sources import io as _io
            fmt = (source_format
                   or os.path.splitext(rows)[1].lstrip(".").lower())
            fmt = {"xlsx": "excel", "xls": "excel", "jsonl": "json"}.get(
                fmt, fmt)
            readers = {"csv": _io.import_csv, "parquet": _io.import_parquet,
                       "json": _io.import_json, "excel": _io.import_excel}
            if fmt not in readers:
                raise ValueError(
                    f"insert: cannot infer a reader for {rows!r} "
                    f"(got format {fmt!r}); pass source_format=")
            src_df = readers[fmt](spark, rows)
            for c, ct in (schema_overrides or {}).items():
                ct = ct() if callable(ct) and not isinstance(ct, ColumnType) \
                    else ct
                src_df = src_df.withColumn(
                    c, F.col(c).cast(ct.spark_type()))
            rows = src_df
        lit_1p = False
        # a driver-held row list is commit-path work end to end: its
        # precheck and store write run at the width of the buckets its
        # rowid range spans. A DataFrame/TableRef/file source is the
        # user's query — it plans in the main session (AQE).
        width = None
        if isinstance(rows, TableRef):
            src = rows.df()
        elif isinstance(rows, DataFrame):
            src = rows
        else:
            for i, r in enumerate(rows):
                for c, ct in self.schema.items():
                    if not ct.nullable and r.get(c) is None:
                        raise ValueError(
                            f"missing required column {c!r} in row {i}")
            src = _local_df(spark, rows, schema_to_struct(self.schema))
            # literal one-partition plan: the whole slice stays narrow
            # (casts/computed cols/bucket col are projections), so the
            # batch-side precheck job, the rowid window exchange and the
            # bucket repartition all collapse (see _precheck_local)
            lit_1p = getattr(src, "_pxt_1p", False)
            width = self._bucket_width(
                span=(self.next_rowid, self.next_rowid + len(rows) - 1))
        missing = [c for c in self.schema if c not in src.columns]
        for c in missing:
            if not self.schema[c].nullable:
                raise ValueError(f"missing required column {c!r}")
            src = src.withColumn(c, F.lit(None).cast(self.schema[c].spark_type()))
        src = src.select(*[F.col(c).cast(self.schema[c].spark_type()) for c in self.schema])
        if width is not None:
            # narrowed before the write's error Observation attaches:
            # an Observation reports only from the session that runs it
            src = tinyplan.narrow(src, width)
        elif _has_exchange(src):
            # the precheck counts rows per source partition and the write
            # hands out _rowid offsets from those counts, in two jobs:
            # both must read the same partitions, so a shuffled source
            # is materialized once (a scan's partitioning is fixed)
            src = src.localCheckpoint(eager=True)
        counts = pk_ranges = None
        if lit_1p:
            counts, pk_ranges = self._precheck_local(rows)
        if counts is None:
            counts, pk_ranges = self._insert_precheck(src)
        if self._enforce_pk():
            # the collision probe also reads the table's live keys:
            # sized by the buckets the table holds, not the batch's
            self._enforce_pk_unique(tinyplan.narrow(src, width and (
                self._bucket_width(self._current_files()))), pk_ranges)

        new_version = self.version + 1
        t0 = time.time()
        slice_df, n = self._assign_rowids(src, self.next_rowid,
                                          counts=counts,
                                          single_partition=lit_1p)
        slice_df = (
            slice_df
            .withColumn(_VMIN, F.lit(new_version))
            .withColumn(_VMAX, F.lit(MAXV))
        )
        ccs = list(self.computed.values())
        num_excs = 0
        obs = None
        if on_error == "ignore" and ccs:
            # every computed column evaluates through the per-cell
            # try/except path; columns DECLARED tolerant keep their
            # cellmd, the rest store NULL for failing cells (their
            # cellmd column doesn't exist in the store schema).
            # The error tally rides the WRITE job via an Observation
            # (CollectMetrics plan node) — round 9 persisted the slice
            # and ran a separate agg job for it
            from pyspark.sql import Observation
            ccs = [cc if cc.on_error == "ignore" else
                   ComputedColumn(cc.name, cc.expr, cc.col_type, "ignore")
                   for cc in ccs]
            slice_df = self._eval_computed(slice_df, ccs)
            obs = Observation()
            slice_df = slice_df.observe(obs, *[
                F.sum(F.when(
                    F.col(f"{_cellmd_col(cc.name)}.errortype").isNotNull(),
                    1).otherwise(0)).alias(f"__e{i}")
                for i, cc in enumerate(ccs)])
        else:
            slice_df = self._eval_computed(slice_df, ccs)
        slice_df = slice_df.select(*[f.name for f in self._store_schema().fields])
        new_files = self._write_snapshot_files(
            slice_df, skip_repartition=lit_1p, width=width)
        if obs is not None:
            num_excs = int(sum(v or 0 for v in obs.get.values()))
        new_files = self._commit_version(
            new_version, new_files, next_rowid=self.next_rowid + n,
            stream_stamp=stream_stamp, propagate=self._propagate_insert,
            op="insert", rows=n)
        out_rows = None
        if return_rows and new_files:
            nf = self._read_files(new_files)
            keep = [c for c in self.column_names() if c in nf.columns]
            out_rows = [r.asDict(recursive=True)
                        for r in nf.orderBy(_ROWID).select(*keep).collect()]
        elif return_rows:
            out_rows = []
        if print_stats:
            print(f"insert: {n} rows, {num_excs} excs, "
                  f"{len(new_files)} files, version {new_version}, "
                  f"{time.time() - t0:.2f}s")
        return UpdateStatus(n, op="insert", num_excs=num_excs,
                            rows=out_rows)

    def insert_stream(self, source: DataFrame, checkpoint_dir: str,
                      stream_id: Optional[str] = None,
                      trigger_interval: Optional[str] = None):
        """Exactly-once Structured Streaming ingest into this table:
        each micro-batch lands as one versioned insert (computed columns
        + view propagation included), and a per-stream batch ledger is
        stamped into the SAME manifest commit as the data — Delta's
        idempotent-writes txnAppId/txnVersion design. foreachBatch is
        only at-least-once (a batch can replay after a failure between
        the sink write and the checkpoint advance); the ledger makes the
        replay a no-op, so restart-after-crash never duplicates rows.

        `source` is an unbounded DataFrame (spark.readStream...). With
        the default trigger the query drains all available input and
        stops (Trigger.AvailableNow — batch parity); pass
        `trigger_interval` (e.g. "10 seconds") for a continuous
        micro-batch query. Returns the StreamingQuery. The ledger
        assumes one writer per stream_id (the Structured Streaming
        checkpoint contract); concurrent DIFFERENT streams or batch
        writers interleave safely through the normal commit protocol."""
        sid = stream_id or ("ckpt:" + os.path.abspath(checkpoint_dir))

        def _ingest(batch_df, batch_id: int) -> None:
            if self.stream_batch_done(sid, batch_id):
                return  # replayed batch: already durable in a manifest
            self._insert(batch_df, stream_stamp=(sid, int(batch_id)))

        w = (source.writeStream
             .foreachBatch(_ingest)
             .option("checkpointLocation", checkpoint_dir))
        if trigger_interval:
            w = w.trigger(processingTime=trigger_interval)
        else:
            w = w.trigger(availableNow=True)
        return w.start()

    def stream_batch_done(self, stream_id: str, batch_id: int) -> bool:
        """True when `batch_id` of `stream_id` is already durable in a
        committed manifest — the idempotent-replay check insert_stream's
        foreachBatch applies before inserting."""
        return int(batch_id) <= self.stream_batches.get(stream_id, -1)

    def _assign_rowids(self, src: DataFrame, start: int,
                       counts: Optional[dict] = None,
                       single_partition: bool = False
                       ) -> tuple[DataFrame, int]:
        """Monotonic _rowid continuing from `start`, assigned scalably:
        per-partition counts (tiny driver collect) give each partition an
        offset; the ranking window is PARTITION-LOCAL, so no single-reducer
        bottleneck at any batch size — the standard distributed
        zipWithIndex formulation, DataFrame-native. `counts` lets insert
        pass the per-partition counts its constraint precheck already
        computed (same deterministic partitioning assumption the
        two-pass path always made), skipping the count job."""
        from pyspark.sql import Window as W

        if single_partition and counts is not None:
            # literal local frame (one partition, pid 0):
            # monotonically_increasing_id IS the row index there, so the
            # pid-offset window — and its exchange — collapses to a
            # narrow projection. Same rowids as the window path: the
            # window orders by __mid, which is this very id.
            n = sum(counts.values())
            out = src.withColumn(
                _ROWID, F.lit(start) + F.monotonically_increasing_id())
            return out, n

        tagged = src.withColumn("__pid", F.spark_partition_id()) \
                    .withColumn("__mid", F.monotonically_increasing_id())
        if counts is None:
            counts = {r["__pid"]: r["cnt"] for r in
                      tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        offsets, acc = {}, start
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        n = acc - start
        off_col = F.lit(start)
        if counts:
            mapping = F.create_map(
                *[x for pid in counts for x in (F.lit(pid), F.lit(offsets[pid]))])
            off_col = mapping[F.col("__pid")]
        w = W.partitionBy("__pid").orderBy("__mid")
        out = (
            tagged.withColumn(_ROWID, off_col + F.row_number().over(w) - 1)
            .drop("__pid", "__mid")
        )
        return out, n

    @telemetry.traced("table.update", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def update(self, value_spec: dict[str, Any], where: Optional[Expr] = None,
               cascade: bool = True, return_rows: bool = False) -> int:
        """Expire matching row-versions, re-insert updated versions at the
        new version; cascade recomputes dependent computed columns
        (reference catalog/table.py:940-975, plan.py:415-487).
        `return_rows=True` populates UpdateStatus.rows with each updated
        row's new stored values (driver-bound — small updates only)."""
        new_version = self.version + 1
        for col in value_spec:
            if col not in self.schema:
                raise ValueError(f"unknown or non-updatable column {col!r}")
            if col in (self.primary_key or []):
                # reference catalog/table_version.py:1246: PK values are
                # row identity (batch_update matches on them) — mutating
                # one in place can collide with an existing key
                raise ValueError(
                    f"column {col!r} is a primary key column and cannot "
                    "be updated")
        live = _vis_pred(self.version)
        pred = where.compile() if where is not None else F.lit(True)
        ranges = self._extract_ranges(where) if where is not None else []
        # file-granular COW: stats-prune candidates, probe for the files
        # that actually hold matches, rewrite only those
        sub, matched_files, n, _pk = self._mutation_subset(
            lambda df: df.withColumn("__m", live & pred), ranges)
        new_files: list[str] = []
        if sub is not None:
            # new row-versions for matched rows
            updated = sub.filter(F.col("__m"))
            for col, val in value_spec.items():
                val_col = val.compile() if isinstance(val, Expr) else F.lit(val)
                updated = updated.withColumn(
                    col, val_col.cast(self.schema[col].spark_type()))
            if cascade:
                updated = self._eval_computed(
                    updated, list(self.computed.values()))
            new_files = self._write_snapshot_files(
                self._new_row_versions(new_version, sub, updated),
                width=self._bucket_width(matched_files))
        new_files = self._commit_version(
            new_version, new_files, matched_files,
            propagate=self._propagate_changes, op="update", rows=n)
        out_rows = None
        if return_rows:
            out_rows = []
            if new_files:
                nf = self._read_files(new_files).filter(
                    _ccol(_VMIN) == new_version)
                keep = [c for c in self.column_names() if c in nf.columns]
                out_rows = [r.asDict(recursive=True)
                            for r in nf.orderBy(_ROWID).select(*keep)
                            .collect()]
        return UpdateStatus(n, op="update",
                            updated_cols=tuple(value_spec), rows=out_rows)

    @telemetry.traced("table.batch_update", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def batch_update(self, rows: list[dict], cascade: bool = True,
                     if_not_exists: str = "error",
                     return_rows: bool = False) -> int:
        """Batched per-row updates matched by primary key — ONE plan for the
        whole batch: a keys DataFrame joined against the store, one version
        bump, one rewrite (reference catalog/table.py:978-1024, plan.py:619,
        exec/row_update_node.py; the MERGE shape). Rows may update different
        column subsets; unmentioned columns keep their values.
        `if_not_exists` directs rows whose key matches nothing: 'error'
        (default, reference parity), 'ignore' (skip silently), or
        'insert' (the upsert — inserted rows land in the SAME commit and
        version as the updates). `return_rows=True` populates
        UpdateStatus.rows with the new stored values of every affected
        row, inserted ones included."""
        if if_not_exists not in ("error", "ignore", "insert"):
            raise ValueError(
                "if_not_exists must be 'error', 'ignore' or 'insert'")
        if not rows:
            return 0
        # rows may address their target by primary key OR by the _rowid
        # pseudo-column (reference local_table.py:972: _rowid can be used
        # instead of the primary key)
        by_rowid = all(_ROWID in row for row in rows)
        if by_rowid:
            key_cols = [_ROWID]
            if if_not_exists == "insert":
                raise ValueError(
                    "batch_update: if_not_exists='insert' is incompatible "
                    "with _rowid-addressed rows (rowids are engine-assigned)")
        else:
            if not self.primary_key:
                raise ValueError(
                    "batch_update requires a primary key (or _rowid values "
                    "in every row)")
            key_cols = list(self.primary_key)
        upd_cols: list[str] = []
        seen_keys = set()
        for row in rows:
            for pk in key_cols:
                if pk not in row:
                    raise ValueError("batch_update rows must include primary key values")
            key = tuple(row[pk] for pk in key_cols)
            if key in seen_keys:
                raise ValueError(f"duplicate primary key in batch: {key!r}")
            seen_keys.add(key)
            for k in row:
                if k in key_cols:
                    continue
                if k not in self.schema:
                    raise ValueError(f"unknown or non-updatable column {k!r}")
                if k in (self.primary_key or []):
                    raise ValueError(
                        f"column {k!r} is a primary key column and cannot "
                        "be updated")
                if k not in upd_cols:
                    upd_cols.append(k)

        fields = [T.StructField(
            pk, T.LongType() if pk == _ROWID
            else self.schema[pk].spark_type(), False) for pk in key_cols]
        for c in upd_cols:
            fields.append(T.StructField(f"__upd_{c}", self.schema[c].spark_type(), True))
            fields.append(T.StructField(f"__has_{c}", T.BooleanType(), False))
        fields.append(T.StructField("__matched", T.BooleanType(), False))
        data = [
            tuple([row[pk] for pk in key_cols]
                  + [x for c in upd_cols for x in (row.get(c), c in row)]
                  + [True])
            for row in rows
        ]
        spark = self.catalog.spark
        upd_df = _local_df(spark, data, T.StructType(fields))

        new_version = self.version + 1
        live = _vis_pred(self.version)
        helper_cols = ["__matched"] + [x for c in upd_cols
                                       for x in (f"__upd_{c}", f"__has_{c}")]

        def prepare(df):
            j = df.join(F.broadcast(upd_df), on=key_cols, how="left")
            return j.withColumn(
                "__m", live & F.coalesce(F.col("__matched"), F.lit(False)))

        # a single-column key batch prunes files via pk min/max + blooms
        # (the MERGE point-lookup fast path); multi-column keys fall back
        # to liveness-only pruning
        ranges: list[tuple] = []
        if len(key_cols) == 1 and len(rows) <= 8192:
            pk = key_cols[0]
            vals = [row[pk] for row in rows]
            if all(isinstance(v, (int, float, str, bool)) for v in vals):
                ranges = [(pk, "in", vals)]
        # which batch keys matched rides the probe job itself (bounded by
        # the batch size) — round 9 ran a second distinct-collect over
        # the matched files for it
        sub, matched_files, n, matched_keys = self._mutation_subset(
            prepare, ranges, probe_keys=key_cols)

        def _key(row):
            return tuple(row[pk] for pk in key_cols)

        missing: list[dict] = []
        if if_not_exists != "ignore" or return_rows:
            missing = [row for row in rows if _key(row) not in matched_keys]
            if missing and if_not_exists == "error":
                raise ValueError(
                    f"batch_update: {len(missing)} row(s) have no matching "
                    f"primary key or rowid "
                    f"(first: { {k: missing[0][k] for k in key_cols} }); "
                    "pass if_not_exists='ignore' or 'insert'")
        inserts = missing if if_not_exists == "insert" else []
        ins_df = None
        ins_span = None
        n_new = 0
        if inserts:
            for i, r in enumerate(inserts):
                for c, ct in self.schema.items():
                    if not ct.nullable and r.get(c) is None:
                        raise ValueError(
                            f"batch_update(if_not_exists='insert'): missing "
                            f"required column {c!r} in unmatched row {i}")
            src = _local_df(
                spark, [tuple(row.get(c) for c in self.schema)
                        for row in inserts], schema_to_struct(self.schema))
            ins_df, n_new = self._assign_rowids(src, self.next_rowid)
            ins_df = (ins_df.withColumn(_VMIN, F.lit(new_version))
                      .withColumn(_VMAX, F.lit(MAXV)))
            ins_df = self._eval_computed(ins_df,
                                         list(self.computed.values()))
            ins_df = ins_df.select(
                *[f.name for f in self._store_schema().fields])
            ins_span = (self.next_rowid, self.next_rowid + n_new - 1)
        out = ins_df
        if sub is not None:
            updated = sub.filter(F.col("__m"))
            for c in upd_cols:
                updated = updated.withColumn(
                    c, F.when(F.col(f"__has_{c}"), F.col(f"__upd_{c}"))
                        .otherwise(F.col(c)).cast(self.schema[c].spark_type()))
            updated = updated.drop(*helper_cols)
            if cascade:
                updated = self._eval_computed(
                    updated, list(self.computed.values()))
            out = self._new_row_versions(
                new_version, sub.drop(*helper_cols), updated)
            if ins_df is not None:
                out = out.unionByName(self._with_bkt(ins_df))
        new_files: list[str] = []
        if out is not None:
            # upserted rows extend the rewrite past the matched buckets
            new_files = self._write_snapshot_files(
                out, width=self._bucket_width(matched_files, ins_span))
        new_files = self._commit_version(
            new_version, new_files, matched_files,
            next_rowid=self.next_rowid + n_new,
            propagate=self._propagate_changes, op="batch_update",
            rows=n + n_new)
        out_rows = None
        if return_rows:
            affected = [_key(row) for row in rows
                        if _key(row) in matched_keys] \
                + [_key(row) for row in inserts]
            out_rows = []
            if affected:
                kdf = _local_df(
                    spark, affected, T.StructType(
                        [T.StructField(pk, self.schema[pk].spark_type(),
                                       False) for pk in self.primary_key]))
                out_rows = [r.asDict(recursive=True) for r in
                            self.user_df().join(F.broadcast(kdf),
                                                on=self.primary_key,
                                                how="left_semi").collect()]
        return UpdateStatus(n + n_new, op="batch_update",
                            updated_cols=tuple(upd_cols), rows=out_rows)

    @telemetry.traced("table.delete", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def delete(self, where: Optional[Expr] = None) -> int:
        """Expire matching rows (reference catalog/table.py:1062)."""
        new_version = self.version + 1
        live = _vis_pred(self.version)
        pred = where.compile() if where is not None else F.lit(True)
        ranges = self._extract_ranges(where) if where is not None else []
        sub, matched_files, n, _pk = self._mutation_subset(
            lambda df: df.withColumn("__m", live & pred), ranges)
        new_files: list[str] = []
        if sub is not None:
            new_files = self._write_snapshot_files(
                self._new_row_versions(new_version, sub),
                width=self._bucket_width(matched_files))
        self._commit_version(new_version, new_files, matched_files,
                             propagate=self._propagate_changes, op="delete",
                             rows=n)
        return UpdateStatus(n, op="delete")

    @telemetry.traced("table.recompute_columns", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def recompute_columns(self, *cols: "str | Sequence[str]",
                          where: Optional[Expr] = None,
                          errors_only: bool = False,
                          cascade: bool = True) -> int:
        """Force recomputation of computed columns on a row subset
        (reference catalog/table.py:1025-1061): varargs column names,
        `errors_only=True` restricts to rows whose single target column
        recorded a per-cell error (cellmd.errortype), and
        `cascade=True` (default) also recomputes every computed column
        that transitively depends on a recomputed one (reference
        plan.py:446 get_dependent_columns)."""
        if len(cols) == 1 and isinstance(cols[0], (list, tuple)):
            cols = tuple(cols[0])  # legacy list form
        if not cols:
            raise ValueError("recompute_columns: name at least one column")
        ccs = [self.computed[c] for c in cols]
        if errors_only:
            if len(cols) != 1:
                raise ValueError(
                    "errors_only is only allowed for a single column")
            if ccs[0].on_error != "ignore":
                raise ValueError(
                    "errors_only requires a column with per-cell error "
                    "tolerance (on_error='ignore')")
        if cascade:
            names = {cc.name for cc in ccs}
            changed = True
            while changed:
                changed = False
                for cc in self.computed.values():
                    if cc.name in names:
                        continue
                    if {r.name for r in cc.expr.column_refs()} & names:
                        names.add(cc.name)
                        changed = True
            # declaration order == topo order for the re-evaluation
            ccs = [cc for cc in self.computed.values() if cc.name in names]
        new_version = self.version + 1
        live = _vis_pred(self.version)
        pred = where.compile() if where is not None else F.lit(True)
        if errors_only:
            pred = pred & F.col(
                f"{_cellmd_col(cols[0])}.errortype").isNotNull()
        ranges = self._extract_ranges(where) if where is not None else []
        sub, matched_files, n, _pk = self._mutation_subset(
            lambda df: df.withColumn("__m", live & pred), ranges)
        new_files: list[str] = []
        if sub is not None:
            recomputed = self._eval_computed(sub.filter(F.col("__m")), ccs)
            new_files = self._write_snapshot_files(
                self._new_row_versions(new_version, sub, recomputed),
                width=self._bucket_width(matched_files))
        self._commit_version(new_version, new_files, matched_files,
                             propagate=self._propagate_changes,
                             op="recompute", rows=n, columns=list(cols))
        return UpdateStatus(n, op="recompute")

    @telemetry.traced("table.revert", attrs_fn=lambda self, *a, **k: {"table": self.name, "version": self.version})
    @_locked_mutation
    def revert(self) -> None:
        """Undo the latest version (reference catalog/table.py:1079):
        rows born at V disappear, rows expired at V come back."""
        if self.version == 0:
            raise ValueError("nothing to revert")
        v = self.version
        # rows born or expired at v live ONLY in files whose max(_v_max)
        # >= v (born: MAXV; expired-at-v: exactly v) — so the liveness
        # floor is v-1 here, unlike the v of forward mutations
        sub, matched_files, n, _pk = self._mutation_subset(
            lambda df: df.withColumn(
                "__m", (_ccol(_VMIN) == v) | (_ccol(_VMAX) == v)),
            live_floor=v - 1)
        new_files: list[str] = []
        if sub is not None:
            # written before the schema rewinds: the files are written
            # under the column mapping the rows were read with
            new_files = self._write_snapshot_files(
                sub.drop("__m").filter(_ccol(_VMIN) < v)
                .withColumn(_VMAX, F.when(_ccol(_VMAX) == v, F.lit(MAXV))
                            .otherwise(_ccol(_VMAX))),
                width=self._bucket_width(matched_files))
        self._history = [h for h in self._history if h["version"] < v]
        # the commit point carries the rewound version + schema state
        # (CAS vs optimistic racers, like the forward schema ops)
        schema_state = (self._schema_stamp()
                        if self._restore_schema_at(v - 1) else None)
        self._commit_version(v - 1, new_files, matched_files,
                             schema_state=schema_state)
        self._propagate_refresh()

    def _restore_schema_at(self, target_version: int) -> bool:
        """Rewind the logical schema to its state at `target_version`
        (reference revert restores the catalog's schema version too):
        columns added by the reverted version retire, dropped columns
        come back — computed definitions resurface from the retired
        store."""
        if not any(s["version"] > target_version
                   for s in self.schema_history):
            return False  # no schema change is being reverted
        self.schema_history = [s for s in self.schema_history
                               if s["version"] <= target_version]
        snap = self.schema_history[-1] if self.schema_history else None
        if snap is None:
            return False
        new_schema: dict[str, ColumnType] = {}
        new_computed: dict[str, ComputedColumn] = {}
        for logical, phys, tdict, is_comp in snap["cols"]:
            ct = ColumnType.from_dict(tdict)
            if is_comp:
                cc = (self.computed.get(logical)
                      or self.computed_retired.get(phys)
                      or self.computed_retired.get(logical))
                if cc is not None:
                    cc.name = logical
                    new_computed[logical] = cc
                else:  # definition lost (legacy): degrade to plain
                    new_schema[logical] = ct
            else:
                new_schema[logical] = ct
        # columns the revert removes -> retired (their data stays)
        for name, ct in self.schema.items():
            if name not in new_schema and name not in new_computed:
                self.retired[name] = ct.as_dict()
        for name, cc in self.computed.items():
            if name not in new_computed and name not in new_schema:
                self.computed_retired[name] = cc
                self.retired[name] = cc.col_type.as_dict()
                if cc.on_error == "ignore":
                    self.retired[_cellmd_col(name)] = None
        # a restored column whose snapshot points at a MANGLED alias
        # (it was dropped, re-added under the same name, and both steps
        # are now reverted): move the alias back onto its logical name.
        # METADATA-ONLY (Delta column mapping): only phys_map and the
        # alias-keyed maps change; the file columns stay put. Round 9
        # rewrote the whole table here.
        mangled = [(logical, phys) for logical, phys, _t, _c
                   in snap["cols"] if phys != logical]
        for logical, phys in mangled:
            if logical in self.retired or logical in self.computed_retired:
                # the occupant is a just-retired newer incarnation:
                # shelve it under a fresh alias
                fresh = f"{logical}__r{target_version}_" \
                        f"{len(self.retired)}"
                self.phys_map[fresh] = self.phys_map.pop(logical, logical)
                if logical in self.retired:
                    self.retired[fresh] = self.retired.pop(logical)
                if logical in self.computed_retired:
                    self.computed_retired[fresh] = \
                        self.computed_retired.pop(logical)
                for s in self.schema_history:
                    for c in s["cols"]:
                        if c[1] == logical:
                            c[1] = fresh
            self.phys_map[logical] = self.phys_map.pop(phys, phys)
            if self.phys_map[logical] == logical:
                del self.phys_map[logical]
            md_phys, md_logical = _cellmd_col(phys), _cellmd_col(logical)
            if md_phys in self.phys_map or md_phys in self.retired:
                self.phys_map[md_logical] = \
                    self.phys_map.pop(md_phys, md_phys)
                if self.phys_map[md_logical] == md_logical:
                    del self.phys_map[md_logical]
                if md_phys in self.retired:
                    self.retired[md_logical] = self.retired.pop(md_phys)
            if phys in self.retired:
                self.retired[logical] = self.retired.pop(phys)
            if phys in self.computed_retired:
                self.computed_retired[logical] = \
                    self.computed_retired.pop(phys)
            for s in self.schema_history:
                for c in s["cols"]:
                    if c[1] == phys:
                        c[1] = logical
        for entry in snap["cols"]:
            if entry[1] != entry[0]:
                entry[1] = entry[0]
        # columns the revert restores -> leave the retired store
        for logical, phys, _t, is_comp in snap["cols"]:
            self.retired.pop(phys, None)
            cc = new_computed.get(logical)
            if cc is not None:
                self.computed_retired.pop(phys, None)
                self.computed_retired.pop(logical, None)
                if cc.on_error == "ignore":
                    self.retired.pop(_cellmd_col(phys), None)
        self.schema, self.computed = new_schema, new_computed
        return True

    def get_versions(self) -> list[VersionMetadata]:
        """Programmatic version metadata, most recent LAST (reference
        Table.get_versions)."""
        return [version_metadata(h) for h in self._history]

    def history_report(self, n: Optional[int] = None):
        """Human-readable version report as a pandas DataFrame, most
        recent first (reference catalog/table.py:1111 history())."""
        import pandas as pd
        rows = list(reversed(self.get_versions()))
        if n is not None:
            rows = rows[:n]
        return pd.DataFrame(rows)

    def list_views(self, *, recursive: bool = True) -> list[str]:
        """Paths of views/snapshots over this table (reference
        catalog/table.py list_views)."""
        out = []
        for v in self._views:
            out.append(v.name)
            if recursive:
                out.extend(v.list_views(recursive=True))
        return out

    def stats(self) -> dict:
        """Zero-scan table statistics from the manifest — the
        ops-facing summary a planner or operator consults before
        touching data (Delta DESCRIBE DETAIL / Snowflake table-stats
        analog): file count, total bytes, and per-column min/max,
        null fraction, and (where ``add_ndv_stats`` is registered)
        the approximate distinct count. Pure driver-side metadata
        fold over the per-file footer stats already in the manifest;
        O(live files), no Spark job, at any table size."""
        snap = self._snapshot()
        files, fstats = snap["files"], snap["stats"]
        total_bytes = 0
        for f in files:
            try:
                total_bytes += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                pass
        cols: dict[str, dict] = {}
        names = list(self.schema) + list(self.computed)
        for cname in names:
            fcol = self.phys_map.get(cname, cname)
            lo = hi = None
            nulls = rows = 0
            known_nulls = True
            for f in files:
                st = fstats.get(f) or {}
                mm = st.get(fcol)
                if mm:
                    try:
                        lo = mm[0] if lo is None else builtins.min(lo, mm[0])
                        hi = mm[1] if hi is None else builtins.max(hi, mm[1])
                    except TypeError:
                        lo = hi = None
                nc = st.get(_NULLS_PFX + fcol)
                if nc:
                    nulls += nc[0]
                    rows += nc[1]
                else:
                    known_nulls = False
            entry: dict[str, Any] = {"min": lo, "max": hi}
            if known_nulls and rows:
                entry["null_frac"] = nulls / rows
            if cname in self.ndv_cols:
                try:
                    entry["approx_ndv"] = self.approx_count_distinct(cname)
                except Error:
                    pass  # some files predate registration: omit
            cols[cname] = entry
        return {"n_files": len(files), "total_bytes": total_bytes,
                "version": self.version, "columns": cols}

    def get_metadata(self) -> TableMetadata:
        """Reference-shaped table metadata (reference
        catalog/table_metadata.py:65 TableMetadata)."""
        cols: dict[str, ColumnMetadata] = {}
        for cname, ct in self.schema.items():
            cols[cname] = ColumnMetadata(
                name=cname, type_=ct.kind.name.lower(), version_added=0,
                is_stored=True, is_primary_key=cname in self.primary_key,
                is_computed=False, computed_with=None, comment=None)
        for cname, cc in self.computed.items():
            cols[cname] = ColumnMetadata(
                name=cname, type_=cc.col_type.kind.name.lower(),
                version_added=0, is_stored=True, is_primary_key=False,
                is_computed=True, computed_with=repr(cc.expr), comment=None)
        indices: dict[str, IndexMetadata] = {}
        for iname, ix in self._indexes.items():
            indices[iname] = IndexMetadata(
                name=iname, columns=[ix.column], index_type="embedding",
                parameters={"metric": ix.metric,
                            "method": ix.method})
        kind = ("view" if isinstance(self, View)
                else "snapshot" if isinstance(self, Snapshot) else "table")
        return TableMetadata(
            name=self.name, path=self.name, kind=kind, columns=cols,
            indices=indices, is_versioned=True,
            is_view=kind == "view", is_snapshot=kind == "snapshot",
            version=self.version, schema_version=self.version,
            comment=None, primary_key=list(self.primary_key) or None,
            base=getattr(getattr(self, "base", None), "name", None))

    def describe(self) -> str:
        """Readable schema + version summary (reference Table.describe
        renders a styled table; plain text here)."""
        md = self.get_metadata()
        lines = [f"{md['kind']} {md['name']!r} (version {md['version']})"]
        for c in md["columns"].values():
            tag = " computed" if c["is_computed"] else ""
            pk = " pk" if c["is_primary_key"] else ""
            lines.append(f"  {c['name']}: {c['type_']}{pk}{tag}")
        for i in md["indices"].values():
            lines.append(f"  index {i['name']} on {i['columns']}")
        return "\n".join(lines)

    # -- compute without persistence (reference catalog/table.py:806) ------
    def compute(self, rows: list[dict]) -> list[dict]:
        """Ephemeral evaluation of the computed-column DAG on uninserted
        rows (prototyping path, no version bump, nothing persisted)."""
        spark = self.catalog.spark
        df = spark.createDataFrame(rows, schema_to_struct(self.schema))
        df = self._eval_computed(df, list(self.computed.values()))
        return [r.asDict(recursive=True) for r in df.collect()]

    # -- view propagation --------------------------------------------------
    # Every commit hands each dependent its delta: the rows of the files
    # it just wrote, the ONLY place rows born or expired at this version
    # can live (reference plan.py:717-836 create_view_update_plan /
    # create_view_load_plan). A commit that wrote no files hands over an
    # empty delta (no frame, no delta rows); its dependents still commit
    # a version, with nothing written.
    def _delta_scan(self, files: Sequence[str]) -> Optional[DataFrame]:
        """Rows of `files` (this commit's new files) born or expired at
        the current version — O(delta) at any table size — or None
        without files."""
        if not files:
            return None
        lo, hi = self._interval
        v = self.version
        return self._read_files(files).filter(
            (_ccol(lo) == v) | (_ccol(hi) == v))

    def _propagate_insert(self, delta_files: Sequence[str]) -> None:
        """Insert propagation: dependents receive the born rows of the
        commit's new files, and their `_rowid` bounds from the files'
        footer stats."""
        if not self._views:
            return
        src = self._delta_scan(delta_files)
        rows = self._collect_delta(src, delta_files, insert=True)
        bounds = self._bounds_from_stats(delta_files)
        for v in self._views:
            v._load_increment(src, rows, bounds)

    def _propagate_refresh(self) -> None:
        for v in self._views:
            v._full_refresh()

    def _propagate_changes(self, delta_files: Sequence[str]) -> None:
        """Update/delete propagation: dependents expire and recompute ONLY
        the rows the commit's delta names, instead of a full
        re-materialization. The affected-rowid BOUNDS (used by every
        dependent's view-file probe pruning) come free from the delta
        files' footer stats. Delta-file bounds can only be LOOSER than
        the true affected bounds (carried-over rows widen them), and
        ranges only prune, so looser is still correct."""
        if not self._views:
            return
        changed = self._delta_scan(delta_files)
        rows = self._collect_delta(changed, delta_files, insert=False)
        bounds = self._bounds_from_stats(delta_files)
        for view in self._views:
            view._apply_base_update(changed, rows, bounds)

    def _collect_delta(self, delta: DataFrame, files: Sequence[str],
                       insert: bool) -> Optional[list]:
        """The commit delta's distinct tuples over the columns the
        dependents key on (View: `_rowid` of changed rows; Rollup: its
        group columns), collected ONCE per base commit for all of them
        (see _collect_bounded) at the delta files' bucket width: [] with
        no files (the empty delta), None when no dependent keys on the
        delta; a list longer than _DELTA_LITERAL_MAX sends the
        dependents to their join paths."""
        if not files:
            return []
        cols: list[str] = []
        for v in self._views:
            for c in v._delta_key_cols(insert):
                if c not in cols:
                    cols.append(c)
        if not cols:
            return None
        return _collect_bounded(delta.select(*cols), self._bucket_width(files))

    def _bounds_from_stats(self, files: Sequence[str]) -> Optional[tuple]:
        """(min, max) `_rowid` across `files` from the manifest's footer
        stats — no Spark job. None when any file lacks rowid stats (the
        caller then falls back to the aggregation job)."""
        st = self._current_stats()
        got = [st.get(f, {}).get(_ROWID) for f in files]
        if got and all(g is not None for g in got):
            return (int(builtins.min(g[0] for g in got)),
                    int(builtins.max(g[1] for g in got)))
        return None


class View(Table):
    """Materialized view over a base table: predicate + extra computed
    columns, optionally exploded by an iterator (component view)
    (reference catalog/view.py:38-146).

    Rows are keyed by the base's _rowid (+_pos when an iterator explodes).
    Every base commit — insert, update or delete, from a table, a view
    or a rollup — reaches the view as that commit's delta (see
    Table._propagate_insert / _propagate_changes): insert-propagation
    evaluates the view plan over ONLY the base rows born at the latest
    base version (reference plan.py:761-836
    create_view_load_plan(propagates_insert=True)), update/delete
    propagation over only the rowids the delta names. The view's own
    commit is then the delta of its children, so every level of a chain
    is maintained from its base's delta."""

    def __init__(self, catalog: Catalog, name: str, path: str):
        super().__init__(catalog, name, path)
        self.base: Optional[Table] = None
        self.predicate: Optional[Expr] = None
        self.extra: dict[str, tuple[Expr, ColumnType]] = {}
        self.iterator: Optional[Callable[[DataFrame], DataFrame]] = None
        self._loaded_base_version = -1
        # earliest view version still reconstructible (a full refresh
        # rewrites storage and truncates history below it)
        self._version_floor = 0
        # (version, StructType) — see _reader_schema
        self._file_schema_cache: Optional[tuple] = None

    def _reader_schema(self) -> Optional[T.StructType]:
        """A view's store layout is plan-derived (base cols + extras +
        _pos levels + _vv intervals), not declared, so it cannot be
        reconstructed from the manifest like a table's. Instead the
        schema observed by the first (inference) read of each view
        version is cached and reused: within one maintenance cycle the
        view store is read several times, and only the first pays the
        footer-inference job. Any commit bumps `version`, invalidating
        the cache."""
        c = self._file_schema_cache
        if c is not None and c[0] == self.version:
            return c[1]
        return None

    def _note_file_schema(self, schema: T.StructType) -> None:
        self._file_schema_cache = (self.version, schema)

    def _carry_schema_cache(self) -> None:
        """Re-key the cached file schema to the CURRENT version — called
        only by the propagation paths, which never change the store
        layout (they write the same plan output schema)."""
        if self._file_schema_cache is not None:
            self._file_schema_cache = (self.version,
                                       self._file_schema_cache[1])

    @classmethod
    def _create(cls, catalog: Catalog, name: str, path: str, base: Table,
                spec: dict, n_buckets: Optional[int] = None,
                bucket_chunk: Optional[int] = None) -> "View":
        """A new view (or rollup, through `cls`) of `base` with `spec`
        (see _spec_dict), materialized by a full refresh."""
        v = cls(catalog, name, path)
        v.base = base
        v._apply_spec(spec)
        if n_buckets is not None:
            v.n_buckets = int(n_buckets)
        if bucket_chunk is not None:
            v.bucket_chunk = max(1, int(bucket_chunk))
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        v._full_refresh()
        return v

    _meta_kind = "view"

    def _save_view_meta(self) -> None:
        from pyspark import cloudpickle
        meta = {"kind": self._meta_kind, "name": self.name,
                "base": self.base.name,
                "version": self.version,
                "version_floor": self._version_floor,
                "loaded_base_version": self._loaded_base_version,
                "n_buckets": self.n_buckets,
                "bucket_chunk": self.bucket_chunk}
        self._atomic_write(os.path.join(self.path, "meta.json"),
                           json.dumps(meta))
        vpath = os.path.join(self.path, "view.pkl")
        tmp = vpath + ".tmp-" + _uuid.uuid4().hex[:8]
        with open(tmp, "wb") as f:
            cloudpickle.dump(self._spec_dict(), f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, vpath)

    def _spec_dict(self) -> dict:
        return {"predicate": self.predicate, "extra": self.extra,
                "iterator": self.iterator}

    def _apply_spec(self, spec: dict) -> None:
        """Set the definition persisted by _spec_dict."""
        self.predicate = spec["predicate"]
        self.extra = spec["extra"]
        self.iterator = spec["iterator"]

    def _persist(self, op: Optional[str], **log_kw: Any) -> None:
        """A view's commit is always maintenance from its base: record
        the base version it caught up to, keep the file-schema cache
        (maintenance writes the same plan output schema) and save the
        view meta. Views keep no op log."""
        self._loaded_base_version = self.base.version
        self._carry_schema_cache()
        self._save_view_meta()

    def _take_meta(self, meta: dict, token: str) -> None:
        """Take the view-version fields from `meta` (view meta has no
        next_rowid: rows are keyed by the base's _rowid). The version
        stamped into the manifest `token` names wins when it is AHEAD
        (a writer that crashed between the CURRENT swap and the meta
        save), so a reloaded handle never reuses a committed version
        number. Pre-round-9 view manifests were stamped with the PRE-
        mutation version, so the stamp is a lower bound, not the
        truth."""
        self.version = meta["version"]
        try:
            stamp = self._load_manifest(token).get("version") \
                if token else None
        except (OSError, KeyError, json.JSONDecodeError):
            stamp = None
        if stamp is not None and stamp > self.version:
            self.version = stamp
        self._version_floor = meta.get("version_floor", meta["version"])
        self._loaded_base_version = meta.get("loaded_base_version", -1)

    def _refresh_from_disk(self) -> None:
        """Rebase the view-version fields (_take_meta) instead of running
        the Table loader. The token rule is Table._refresh_from_disk's."""
        token = self._current_token()
        if token == self._manifest_at_read:
            return
        mpath = os.path.join(self.path, "meta.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                self._take_meta(json.load(f), token)
        self._manifest_at_read = token

    @classmethod
    def _load(cls, catalog: Catalog, name: str, path: str) -> "View":
        """Open a persisted view (or rollup, through `cls`)."""
        from pyspark import cloudpickle
        v = cls(catalog, name, path)
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        with open(os.path.join(path, "view.pkl"), "rb") as f:
            spec = cloudpickle.load(f)
        v.base = catalog.get_table(meta["base"])
        v._take_meta(meta, v._current_token())
        v.n_buckets = meta.get("n_buckets", 16)
        # views persisted before the chunked-bucket formula laid out
        # their files with the pure-mod assignment: keep chunk=1 so the
        # recomputed _bkt stays consistent with the stored dirs
        v.bucket_chunk = meta.get("bucket_chunk", 1)
        v._apply_spec(spec)
        v.base._views.append(v)
        # catch up on base versions inserted while this view was not loaded
        if v._loaded_base_version < v.base.version:
            v._full_refresh()
        return v

    def _view_plan(self, base_df: DataFrame) -> DataFrame:
        df = base_df
        if _BKT in df.columns:
            # _bkt is the BASE's write-clustering; the view assigns its
            # own (its n_buckets/bucket_chunk may differ)
            df = df.drop(_BKT)
        if self.predicate is not None:
            df = df.filter(self.predicate.compile())
        if self.iterator is not None:
            df = self.iterator(df)  # must add _pos and may explode rows
        for name, (expr, _ct) in self.extra.items():
            df = df.withColumn(name, expr.compile())
        return df

    @_locked_mutation
    def _full_refresh(self) -> None:
        """Re-materialize the whole view from the base's live rows. Views
        use the same bucketed layout and commit step as base tables, so
        the POST-mutation version stamp closes the crash-between-commit-
        and-meta-save window for views exactly as for tables (loaders
        reconcile against it — see _refresh_from_disk)."""
        new_v = self.version + 1
        replaced = self._current_files()
        written = self._write_snapshot_files(self._new_row_versions(
            new_v, born=self._view_plan(self.base.df())))
        # the rewrite may change the store layout (the base's columns
        # moved) and truncates reconstructible history at the new version
        self._file_schema_cache = None
        self._version_floor = new_v
        self._commit_version(new_v, written, replaced)

    def _delta_key_cols(self, insert: bool) -> list[str]:
        """Columns of the base commit's delta this dependent keys its
        maintenance on (see Table._collect_delta): an insert appends the
        view plan over the delta itself; an update/delete re-derives the
        changed base rowids."""
        return [] if insert else [_ROWID]

    @_locked_mutation
    def _load_increment(self, delta_src: DataFrame,
                        delta_rows: Optional[list] = None,
                        bounds: Optional[tuple] = None) -> None:
        """Insert propagation: only the base commit's born rows
        (`delta_src`) flow through the view plan, and the result is
        appended; `bounds` (their `_rowid` range, from the delta files'
        footer stats) sizes the append: view rows keep their base
        rowid. An empty delta (`delta_rows == []`) writes nothing."""
        new_v = self.version + 1
        written: list[str] = []
        if delta_rows != []:
            written = self._write_snapshot_files(
                self._new_row_versions(new_v,
                                       born=self._view_plan(delta_src)),
                width=self._bucket_width(span=bounds) if bounds else None)
        self._commit_version(new_v, written,
                             propagate=self._propagate_insert)

    @_locked_mutation
    def _apply_base_update(self, delta_src: DataFrame, delta_rows: list,
                           bounds: Optional[tuple] = None) -> None:
        """The one maintenance step of views and rollups: expire the live
        rows the base commit's delta names, append their fresh rows at
        the new version (see _maintenance_rows), and commit. Unaffected
        rows are never rescanned (reference plan.py:717-760
        create_view_update_plan).

        `delta_src` (the base commit's rows born or expired at the new
        base version) names the affected keys (_delta_key_cols: a view's
        `_rowid`s, a rollup's groups): born rows carry the POST-mutation
        keys, expired row-versions the PRE-mutation keys of moved and
        deleted rows. `delta_rows`, the base's collected delta (see
        Table._collect_delta), holds them as literals: up to
        _DELTA_LITERAL_MAX tuples they match through one rendered
        predicate (_delta_pred) and prune this dependent's file probe
        per value (a long list by its band); the rollup's base re-scan
        prunes by the keys' min/max bands. A larger delta, or one with
        a value no literal renders exactly, joins the distinct key frame
        null-safely instead; keyed on `_rowid`, it still prunes by the
        delta files' footer-stats `bounds` (an aggregation job serves
        files without stats). Either way a NULL key matches NULL, so a
        NULL rollup group is refreshed like the rest. An empty delta
        (`delta_rows == []`) writes nothing."""
        new_v = self.version + 1
        if delta_rows == []:
            self._commit_version(new_v, propagate=self._propagate_changes)
            return
        raw = self._frames()["raw"]
        if raw is None or _VVMIN not in raw.columns:
            # legacy pre-versioning storage: no interval columns to expire —
            # a full refresh rebuilds (and migrates the layout in one pass)
            self._full_refresh()
            self._propagate_refresh()
            return
        cols = self._delta_key_cols(False)
        keys = [tuple(r[c] for c in cols) for r in delta_rows]
        hit = (_delta_pred(delta_src.sparkSession,
                           [delta_src.schema[c] for c in cols], keys)
               if len(keys) <= _DELTA_LITERAL_MAX else None)
        live = _vis_pred(self.version, _VVMIN, _VVMAX)
        bands: dict[str, tuple] = {}
        if hit is not None:
            def prepare(df):
                return df.withColumn("__m", live & hit)

            def affected(df):
                return df.filter(hit)

            ranges = []
            for i, c in enumerate(cols):
                vals = list(dict.fromkeys(k[i] for k in keys))
                ranges.append((c, "in", vals))
                try:
                    if None not in vals:
                        bands[c] = (builtins.min(vals), builtins.max(vals))
                except TypeError:
                    pass  # unorderable values: no band
        else:
            k = delta_src.select(*[F.col(c).alias(f"__k{i}")
                                   for i, c in enumerate(cols)]).distinct()
            on = functools.reduce(Column.__and__, [
                F.col(c).eqNullSafe(F.col(f"__k{i}"))
                for i, c in enumerate(cols)])
            aff = k.withColumn("__aff", F.lit(True))

            def prepare(df):
                return (df.join(aff, on=on, how="left")
                        .withColumn("__m", live & F.coalesce(
                            F.col("__aff"), F.lit(False)))
                        .drop("__aff", *k.columns))

            def affected(df):
                return df.join(k, on=on, how="left_semi")

            if cols == [_ROWID]:
                if bounds is None:
                    b = k.agg(F.min("__k0"), F.max("__k0")).first()
                    bounds = (int(b[0]), int(b[1]))
                bands[_ROWID] = bounds
            ranges = _band_ranges(bands)
        # file-granular: the probe opens only the files whose stats admit
        # an affected key (chunked bucket assignment keeps per-file
        # _rowid ranges near-disjoint), and only the files holding live
        # rows for those keys are rewritten
        sub, matched_files, _n, _pk = self._mutation_subset(
            prepare, ranges, live_col=_VVMAX)
        # with no existing rows for the affected keys (sub None), the
        # fresh rows are a pure append
        rows, width = self._maintenance_rows(delta_src, affected, bands,
                                             matched_files, hit is not None)
        written = self._write_snapshot_files(
            self._new_row_versions(new_v, sub, rows), width=width)
        # this dependent's commit is the base commit of its children
        self._commit_version(new_v, written, matched_files,
                             propagate=self._propagate_changes)

    def _maintenance_rows(self, delta_src: DataFrame, affected: Callable,
                          bands: dict, matched: Sequence[str],
                          literal: bool) -> tuple[DataFrame, Optional[int]]:
        """The rows _apply_base_update appends, and its write width. A
        view's are the view plan over the delta's born-live rows: the
        base commit re-derived every live row of each rowid it touched,
        so those are exactly the affected rowids' current rows (carried-
        over rewrites keep their old version and are excluded), for a
        table, view or rollup base alike — no base re-scan. They are
        written at the width of the matched files and the affected
        rowid band."""
        lo, hi = self.base._interval
        bv = self.base.version
        born = delta_src.filter((_ccol(lo) == bv) & (_ccol(hi) > bv))
        return (self._view_plan(born),
                self._bucket_width(matched, bands.get(_ROWID)))

    def _component_identity_cols(self) -> list[str]:
        """Base identity + one ordinal per iterator level along the view
        chain: level 1 is `_pos`, deeper levels `_pos_2`, `_pos_3`, ...
        (matching _as_view_iterator's naming)."""
        cols = (self.base._component_identity_cols()
                if self.base is not None else [_ROWID])
        if self.iterator is not None:
            depth = sum(1 for c in cols if c.startswith("_pos")) + 1
            cols = cols + ["_pos" if depth == 1 else f"_pos_{depth}"]
        return cols

    def _sync_latest(self) -> None:
        """View reads also catch up on BASE movement: a racer that
        mutated the base through its own handles may never have seen
        this view (propagation reaches only the views registered on the
        mutating handle), leaving the materialization behind the base.
        Same self-healing as View._load, applied at read time."""
        if self._lock_depth:
            return  # in-mutation read: the pinned snapshot is the point
        super()._sync_latest()
        base = self.base
        if base is None:
            return
        base._sync_latest()
        if self._loaded_base_version < base.version:
            with self._write_lock():  # acquire refreshes this handle
                base._sync_latest()
                # re-check under the lock: a racer may have caught up
                if self._loaded_base_version < base.version:
                    self._full_refresh()

    # views read their own materialized storage
    def df(self, version: Optional[int] = None) -> DataFrame:
        """Live view rows at a view version (default: current). Versions
        below the last full refresh are not reconstructible — the rewrite
        discarded them (reference pins snapshot versions via MVCC;
        catalog/view.py:43-45)."""
        if version is None:
            self._sync_latest()
        e = self._frames()
        raw = e["raw"]
        if raw is None:
            raise ValueError(f"view {self.name!r} has no materialized data")
        v = self.version if version is None else version
        if version is not None and (version > self.version or version < 0):
            raise NotFoundError(
                f"view {self.name!r} has no version {version} "
                f"(current version is {self.version})")
        if version is not None and version < self._version_floor:
            raise NotFoundError(
                f"view {self.name!r} version {version} predates the last "
                f"full refresh (floor={self._version_floor}) and is no "
                "longer reconstructible")

        def build() -> DataFrame:
            # _bkt is a storage detail, recomputable from _rowid
            df = raw.drop(_BKT) if _BKT in raw.columns else raw
            if _VVMIN in df.columns:
                return df.filter(_vis_pred(v, _VVMIN, _VVMAX))
            return df  # pre-versioning storage (legacy)
        return _stage(e, ("view", v), build)

    def ref(self, version: Optional[int] = None) -> TableRef:
        tr = TableRef.from_df(self.df(version), self.name,
                              rowid_cols=[_ROWID])
        tr._catalog_tbl = self
        tr._pinned_version = version
        return tr

    def count(self) -> int:
        return self.df().count()

    def collect(self):
        from .results import ResultSet
        df = self.df()
        pos_levels = sorted(c for c in df.columns
                            if c == _POS or c.startswith(_POS + "_"))
        order = [_ROWID] + pos_levels
        drop = [c for c in df.columns
                if c in SYSTEM_COLS or c in pos_levels]
        out = df.orderBy(*order).drop(*drop)
        schema = {f.name: ColumnType.from_spark(f.dataType, f.nullable)
                  for f in out.schema.fields}
        return ResultSet([r.asDict(recursive=True) for r in out.collect()],
                         schema)


_ROLLUP_AGGS: dict[str, Callable] = {
    "count": lambda c: (F.count(F.lit(1)) if c is None
                        else F.count(F.col(c))),
    "sum": lambda c: F.sum(F.col(c)),
    "avg": lambda c: F.avg(F.col(c)),
    "min": lambda c: F.min(F.col(c)),
    "max": lambda c: F.max(F.col(c)),
    "count_distinct": lambda c: F.countDistinct(F.col(c)),
    "stddev": lambda c: F.stddev(F.col(c)),
    # exact median — the canonical "impossible to maintain by partial
    # merge" aggregate; trivial under recompute-affected-groups
    "median": lambda c: F.median(F.col(c)),
}


class Rollup(View):
    """Incrementally-maintained AGGREGATE view — the continuous-
    aggregate / summary-table design (TimescaleDB continuous
    aggregates, the classic materialized-rollup literature; the
    reference's views are row-wise only, this is the beyond-reference
    aggregate counterpart the task brief's 'hypertable rollup' asks
    for). One materialized row per group of ``group_cols`` with the
    declared aggregates; on every base commit only the DELTA-AFFECTED
    GROUPS are recomputed and swapped file-granularly.

    Maintenance model — recompute-affected-groups, not partial-merge:
    the base commit's delta (its new files' rows born or expired at the
    new base version, so the PRE-update values of moved rows and the
    keys of deleted rows too) names the groups to refresh; those groups'
    aggregates re-derive from the base's live rows (a semi-join the
    base's stats/bloom pruning narrows), so ANY aggregate works —
    min/max/count_distinct/stddev need no retraction algebra and
    results are exactly the from-scratch aggregation at every
    version. Cost is O(affected groups' base rows) per commit, never
    O(table). Rollup rows carry the same MVCC intervals as views, so
    the rollup itself time-travels.

    Group identity: ``_rowid`` = 62-bit xxhash64 of the group key —
    deterministic, so a recomputed group lands in the same bucket and
    the copy-on-write swap touches only the files that held it."""

    _meta_kind = "rollup"

    def __init__(self, catalog: Catalog, name: str, path: str):
        super().__init__(catalog, name, path)
        self.group_cols: list[str] = []
        self.aggs: dict[str, tuple[str, Optional[str]]] = {}

    def _spec_dict(self) -> dict:
        return {"group_cols": self.group_cols, "aggs": self.aggs}

    def _apply_spec(self, spec: dict) -> None:
        self.group_cols = list(spec["group_cols"])
        self.aggs = {k: tuple(v) for k, v in spec["aggs"].items()}

    def _group_rowid(self) -> Column:
        if self.group_cols == [_ROWID]:
            # per-base-row rollup (component-view aggregation): the
            # group identity IS a rowid already — keep it, so the
            # rollup's rows co-key with their base rows
            return _ccol(_ROWID)
        return F.xxhash64(
            *[F.col(g).cast("string") for g in self.group_cols]
        ).bitwiseAND(F.lit((1 << 62) - 1))

    def _view_plan(self, base_df: DataFrame) -> DataFrame:
        df = base_df
        if _BKT in df.columns:
            df = df.drop(_BKT)
        exprs = [_ROLLUP_AGGS[fn](col).alias(name)
                 for name, (fn, col) in self.aggs.items()]
        out = df.groupBy(*[F.col(g) for g in self.group_cols]).agg(*exprs)
        if self.group_cols == [_ROWID]:
            return out
        return out.withColumn(_ROWID, self._group_rowid())

    def _delta_key_cols(self, insert: bool) -> list[str]:
        return list(self.group_cols)

    def _maintenance_rows(self, delta_src: DataFrame, affected: Callable,
                          bands: dict, matched: Sequence[str],
                          literal: bool) -> tuple[DataFrame, Optional[int]]:
        """A rollup re-aggregates the affected groups from the base's live
        rows, read through the keys' bands (effective when a group
        column correlates with insert order, e.g. time buckets; the
        stats can only admit more, never lie). Literal keys write at
        the width of the base files re-aggregated, the action's volume;
        a joined delta keeps the session's confs, except for the
        rewrite of matched rollup files."""
        if bands and not isinstance(self.base, View):
            bv = self.base.version
            base_live = self.base._store_df(
                [(_VMIN, "<=", bv), (_VMAX, ">", bv)] + _band_ranges(bands)
            ).filter(_vis_pred(bv))
        else:
            base_live = self.base.df()
        if literal:
            width = self.base._bucket_width(base_live.inputFiles())
        else:
            width = self._bucket_width(matched) if matched else None
        return self._view_plan(affected(base_live)), width

    # an insert's delta holds only born rows: the same step
    _load_increment = View._apply_base_update


class Snapshot:
    """Frozen version of a table — pure metadata
    (reference pixeltable/globals.py:459, catalog/view.py:43-45)."""

    def __init__(self, base: Table, version: int):
        self.base = base
        self.version = version

    def df(self) -> DataFrame:
        return self.base.df(version=self.version)

    def ref(self) -> TableRef:
        return self.base.ref(version=self.version)

    def count(self) -> int:
        return self.df().count()
