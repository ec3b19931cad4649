"""The benchmark workloads. Each is a closed loop with one client: the
next op is issued only when the previous one has returned, the way an
embedded-library caller uses the engine.

``ingest``   A lineitem-shaped base table (10,000 rows, 16-dim unit
             embeddings) with one computed column, a filtered view with
             an extra computed column and a count/sum rollup. Each round:
             a 1,000-row list insert, a ~1% predicate update, a point
             delete, a 500-row ``insert_stream`` availableNow replay of a
             staged parquet file, six stats-pruned point scans, two
             200-key range scans, two time-travel counts at seeded past
             versions and three exact ``EmbeddingIndex.search(k=10)``.
             Home of the catalog commit path, commit_store, view/rollup
             propagation, localframe, streaming.incremental, the catalog
             read path and index; never touches operators or the query
             families below. ``read_s`` isolates the reads, so a write
             change that adds files or loosens clustering shows there.
``analytics`` Six declared queries over generated parquet (lineitem 10,000
             rows, orders 2,500, customer 250, documents 150), each run to
             a noop write, in four families: relational (q01, q04, q09),
             python_udf (q68), iterative (q153) and text_dedup (q72). They
             read through ``table_from_parquet`` and never commit, so this
             is the bypass workload for every commit-path change and the
             home of exprs, plans.query, Catalyst, operators, functions
             codecs and tinyplan. One query per non-relational family
             keeps a pass short enough to run at least ``MIN_PASSES``.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from typing import Callable, Optional

from . import gen
from .stats import geomean, tail
from .tracing import Tracer, file_sizes, peak_rss_mb

N_BASE = 10_000
# a median of three passes outvotes one pass slowed by a busy machine;
# of two it is their mean, and the first timed pass still runs slower
MIN_PASSES = 3
FAMILIES = {
    "relational": ("q01_pricing_summary", "q04_join_agg",
                   "q09_window_running"),
    "python_udf": ("q68_jpeg_codec",),
    "iterative": ("q153_kn_perplexity",),
    "text_dedup": ("q72_simhash_neighbors",),
}
WRITE_KINDS = ("insert", "update", "delete", "stream_insert")
_UDF_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
              "BatchEvalPython")


class Run:
    """One benchmark run: op samples, failures and, when traced, the
    per-op accounting."""

    def __init__(self, spark, tracer: Optional[Tracer]):
        self.spark = spark
        self.tracer = tracer
        self.samples: dict = {}       # kind -> [seconds] (timed ops)
        self.warm: dict = {}          # kind -> [seconds] (warm-up ops)
        self.acct: dict = {}          # kind -> [per-op accounting]
        self.attempted = 0
        self.failures: list[str] = []
        self.extra: dict = {}         # facts an op or its check adds

    def quiesce(self) -> None:
        """Between ops, outside every timed window: Python GC, blocking
        unpersist of persistent RDDs, then a JVM GC."""
        gc.collect()
        sc = self.spark.sparkContext
        for jrdd in list(sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
        sc._jvm.System.gc()

    def fail(self, kind: str, msg: str) -> None:
        self.failures.append(f"{kind}: {msg[:300]}")

    def op(self, kind: str, fn: Callable, check: Optional[Callable] = None,
           sample: bool = True):
        """Run one op: quiesce, time ``fn()``, then (untimed) ``check``
        its result; a raised error or a check message is a failed op."""
        self.quiesce()
        self.attempted += 1
        self.extra = {}
        acct: dict = {}
        tr = self.tracer
        try:
            with (tr.op(kind, acct) if tr else nullcontext()):
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — count it, keep the loop going
            self.fail(kind, "".join(traceback.format_exception_only(e)))
            return None
        if check is not None:
            try:
                msg = check(result)
            except Exception as e:  # noqa: BLE001
                msg = "check raised " + "".join(
                    traceback.format_exception_only(e))
            if msg:
                self.fail(kind, msg)
        (self.samples if sample else self.warm).setdefault(
            kind, []).append(dt)
        if sample and tr:
            acct.update(self.extra)
            self.acct.setdefault(kind, []).append(acct)
        return result

    def check(self, name: str, fn: Callable[[], Optional[str]]) -> None:
        """An end-of-run output check; counted as one op."""
        self.op("check." + name, lambda: None, check=lambda _r: fn(),
                sample=False)

    def kind_p50(self) -> dict:
        return {k: statistics.median(v) for k, v in self.samples.items()}


# -- ingest ---------------------------------------------------------------

def _item_schema(pxt) -> dict:
    return {"k": pxt.Int(False), "l_orderkey": pxt.Int(True),
            "l_partkey": pxt.Int(True), "l_suppkey": pxt.Int(True),
            "l_quantity": pxt.Float(True), "l_extendedprice": pxt.Float(True),
            "l_discount": pxt.Float(True), "l_tax": pxt.Float(True),
            "l_returnflag": pxt.String(True), "l_linestatus": pxt.String(True),
            "embedding": pxt.Array(pxt.Float())}


def _item_struct():
    from pyspark.sql import types as T
    ints = ("k", "l_orderkey", "l_partkey", "l_suppkey")
    strs = ("l_returnflag", "l_linestatus")
    fields = []
    for c in ("k", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
              "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
              "l_linestatus"):
        t = (T.LongType() if c in ints else
             T.StringType() if c in strs else T.DoubleType())
        fields.append(T.StructField(c, t, c != "k"))
    fields.append(T.StructField("embedding", T.ArrayType(T.DoubleType())))
    return T.StructType(fields)


def user_bytes(rows: list[dict]) -> int:
    """Bytes of user data in ``rows``: 8 per number, UTF-8 length per
    string, 8 per vector element."""
    n = 0
    for r in rows:
        for v in r.values():
            n += (len(v.encode()) if isinstance(v, str) else
                  8 * len(v) if isinstance(v, list) else 8)
    return n


class Expected:
    """The base table as the op log says it must be, keyed by ``k``."""

    def __init__(self, rows: list[dict]):
        self.rows = {r["k"]: dict(r) for r in rows}

    def insert(self, rows: list[dict]) -> None:
        for r in rows:
            self.rows[r["k"]] = dict(r)

    def update(self, partkey: int, values: dict) -> int:
        hit = [r for r in self.rows.values() if r["l_partkey"] == partkey]
        for r in hit:
            r.update(values)
        return len(hit)

    def delete(self, key: int) -> int:
        return 1 if self.rows.pop(key, None) is not None else 0

    @staticmethod
    def disc_price(r: dict) -> float:
        return r["l_extendedprice"] * (1 - r["l_discount"])


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def ingest(spark, work: str, seed: int, seconds: float,
           tracer_on: bool) -> dict:
    import numpy as np
    import pandas as pd
    import pixeltable_spark as pxt
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    base_rows = gen.item_rows(gen.rng(seed, 1), 0, N_BASE)
    cat = pxt.Catalog(spark, os.path.join(work, "wh"))
    tracer = Tracer(spark, cat) if tracer_on else None
    run = Run(spark, tracer)
    struct = _item_struct()
    arrow_schema = pa.schema(
        [(f.name, pa.list_(pa.float64()) if f.name == "embedding"
          else pa.int64() if f.dataType.typeName() == "long"
          else pa.string() if f.dataType.typeName() == "string"
          else pa.float64()) for f in struct.fields])

    t = cat.create_table("items", _item_schema(pxt))
    t.insert(spark.createDataFrame(pd.DataFrame(base_rows), struct))
    ref = t.ref()
    t.add_computed_column("disc_price",
                          ref.l_extendedprice * (1 - ref.l_discount))
    ref = t.ref()
    view = cat.create_view(
        "big", t, predicate=ref.l_quantity >= 40,
        extra_columns={"half": (ref.l_extendedprice * 0.5, pxt.Float())})
    roll = cat.create_rollup("by_flag", t, ["l_returnflag"],
                             {"n": ("count", None), "qty": ("sum", "l_quantity")})
    idx = t.add_embedding_index("embedding")
    exp = Expected(base_rows)
    history = [(t.version, len(exp.rows))]
    user_in = user_bytes(base_rows)
    store = {"files": 0, "bytes": 0, "user": 0, "ops": 0}
    listing = file_sizes(cat.root) if tracer_on else {}
    cols = [f.name for f in struct.fields] + ["disc_price"]
    n_stream = 0

    def affected(want: int):
        return lambda got: None if int(got) == want else \
            f"affected {int(got)} rows, expected {want}"

    def equals(want, what: str):
        return lambda got: None if got == want else \
            f"{what}: {got} != {want}"

    def stream(d: str):
        q = t.insert_stream(spark.readStream.schema(struct).parquet(
            os.path.join(d, "src")), os.path.join(d, "ckpt"))
        q.awaitTermination(120)
        return q

    def stream_check(q) -> Optional[str]:
        if q.exception() is not None:
            return str(q.exception())
        prog = [p for p in q.recentProgress if p["numInputRows"]]
        run.extra["batches"] = len(prog)
        run.extra["batch_ms"] = sum(
            p["durationMs"].get("triggerExecution", 0) for p in prog)
        return None

    def lookup(key: int):
        t0 = time.perf_counter()
        q = t.scan(where=t.ref().k == key)
        run.extra["build_s"] = time.perf_counter() - t0
        return q.df().select(*cols).collect()

    def lookup_check(key: int, rows) -> Optional[str]:
        if len(rows) != 1:
            return f"key {key}: {len(rows)} rows"
        want = exp.rows[key]
        for c in cols:
            w = Expected.disc_price(want) if c == "disc_price" else want[c]
            if not _close(rows[0][c], w):
                return f"key {key} {c}: {rows[0][c]!r} != {w!r}"
        return None

    def range_count(lo: int, hi: int) -> int:
        t0 = time.perf_counter()
        q = t.scan(where=(t.ref().k >= lo) & (t.ref().k < hi))
        run.extra["build_s"] = time.perf_counter() - t0
        return q.df().count()

    def search_check(vector, rows) -> Optional[str]:
        keys = np.fromiter(exp.rows, dtype=np.int64)
        vecs = np.array([exp.rows[k]["embedding"] for k in keys])
        q = np.asarray(vector)
        sims = np.round(vecs @ q / (np.linalg.norm(vecs, axis=1)
                                    * np.linalg.norm(q)), 6)
        top = np.sort(sims)[::-1][:10]
        got = sorted((r["_similarity"] for r in rows), reverse=True)
        if len(got) != len(top) or not np.allclose(got, top, atol=2e-6):
            return f"top-k {got} != {top.tolist()}"
        by_key = dict(zip(keys.tolist(), sims.tolist()))
        bad = [r["k"] for r in rows if r["k"] not in by_key
               or abs(by_key[r["k"]] - r["_similarity"]) > 2e-6]
        return f"rows not live or wrongly scored: {bad}" if bad else None

    def run_op(o: dict, sample: bool) -> None:
        nonlocal user_in, listing, n_stream
        kind = o["op"]
        if kind == "insert":
            run.op(kind, lambda: t.insert(o["rows"]),
                   affected(len(o["rows"])), sample)
            exp.insert(o["rows"])
        elif kind == "stream_insert":
            n_stream += 1
            d = os.path.join(work, "stream", str(n_stream))
            os.makedirs(os.path.join(d, "src"))
            pq.write_table(pa.Table.from_pylist(o["rows"], arrow_schema),
                           os.path.join(d, "src", "part-0.parquet"))
            run.op(kind, lambda: stream(d), stream_check, sample)
            exp.insert(o["rows"])
        elif kind == "update":
            vals = {"l_quantity": o["l_quantity"],
                    "l_discount": o["l_discount"]}
            want = exp.update(o["partkey"], vals)
            run.op(kind, lambda: t.update(
                vals, where=t.ref().l_partkey == o["partkey"]),
                affected(want), sample)
        elif kind == "delete":
            want = exp.delete(o["key"])
            run.op(kind, lambda: t.delete(t.ref().k == o["key"]),
                   affected(want), sample)
        elif kind == "lookup":
            run.op(kind, lambda: lookup(o["key"]),
                   lambda rows: lookup_check(o["key"], rows), sample)
        elif kind == "range":
            want = sum(1 for k in exp.rows if o["lo"] <= k < o["hi"])
            run.op(kind, lambda: range_count(o["lo"], o["hi"]),
                   equals(want, "range count"), sample)
        elif kind == "timetravel":
            v, want = history[int(o["pick"] * len(history))]
            run.op(kind, lambda: t.df(version=v).count(),
                   equals(want, f"count at version {v}"), sample)
        elif kind == "search":
            run.op(kind, lambda: idx.search(o["vector"], k=10).select(
                "k", "_similarity").collect(),
                lambda rows: search_check(o["vector"], rows), sample)
        if kind not in WRITE_KINDS:
            return
        history.append((t.version, len(exp.rows)))
        written = user_bytes(o.get("rows", []))
        user_in += written
        if tracer_on:
            now = file_sizes(cat.root)
            if sample:
                new = [p for p, n in now.items() if listing.get(p) != n]
                store["files"] += len(new)
                store["bytes"] += sum(now[p] for p in new)
                store["user"] += written
                store["ops"] += 1
            listing = now

    # warm-up (part of set-up): one op of each kind whose first call is
    # measurably slower than later ones; update, delete, stream_insert
    # and search already run at their steady cost after the build above
    warm_start = time.perf_counter()
    for o in gen.ingest_warmup(seed, N_BASE):
        run_op(o, sample=False)
    ops = gen.ingest_ops(seed, N_BASE)
    window_start = time.perf_counter()
    rounds = 0
    while True:
        for _ in gen.ROUND:
            run_op(next(ops), sample=True)
        rounds += 1
        elapsed = time.perf_counter() - window_start
        if elapsed >= seconds:
            break
    window_s = time.perf_counter() - window_start

    # -- end-of-run output checks (outside every timed window) -----------
    def base_check() -> Optional[str]:
        got = {r["k"]: (r["l_quantity"], r["l_discount"]) for r in
               t.df().select("k", "l_quantity", "l_discount").collect()}
        want = {k: (r["l_quantity"], r["l_discount"])
                for k, r in exp.rows.items()}
        if got != want:
            return (f"base has {len(got)} rows, expected {len(want)}; "
                    f"{len(set(got) ^ set(want))} keys differ")
        return None

    def view_check() -> Optional[str]:
        b = (t.df().filter(F.col("l_quantity") >= 40)
             .select("k", (F.col("l_extendedprice") * 0.5).alias("half")))
        v = view.df().select("k", "half")
        extra, missing = v.exceptAll(b).count(), b.exceptAll(v).count()
        return None if extra == missing == 0 else \
            f"view: {extra} extra rows, {missing} missing rows"

    def rollup_check() -> Optional[str]:
        want = sorted(tuple(r) for r in t.df().groupBy("l_returnflag").agg(
            F.count(F.lit(1)), F.sum("l_quantity")).collect())
        got = sorted((r["l_returnflag"], r["n"], r["qty"])
                     for r in roll.df().collect())
        ok = len(got) == len(want) and all(
            g[0] == w[0] and g[1] == w[1] and _close(g[2], w[2])
            for g, w in zip(got, want))
        return None if ok else f"rollup {got} != {want}"

    run.check("base", base_check)
    run.check("view", view_check)
    run.check("rollup", rollup_check)

    live = file_sizes(cat.root)
    report = {
        "tables": {"items": {"rows_start": N_BASE, "rows_end": len(exp.rows)},
                   "warehouse_bytes": sum(live.values()),
                   "warehouse_files": len(live)},
        "store_bytes_per_user_byte": sum(live.values()) / user_in,
        "rounds": rounds, "window_s": window_s,
    }
    layers = {}
    if tracer is not None:
        tdir = os.path.join(cat.root, "items")
        data = [p for p in live if p.startswith(os.path.join(tdir, "data"))
                and p.endswith(".parquet")]
        mans = [p for p in live
                if p.startswith(os.path.join(tdir, "manifests"))]
        ops_n = max(1, store["ops"])
        layers = {
            "store.files_written_per_op": store["files"] / ops_n,
            "store.bytes_written_per_op": store["bytes"] / ops_n,
            "store.write_amp": store["bytes"] / max(1, store["user"]),
            "store.live_files": len(data),
            "store.manifest_bytes": sum(live[p] for p in mans),
            "store.bytes_per_user_byte": report["store_bytes_per_user_byte"],
        }
    return {"run": run, "window_start": window_start, "excluded_s": 0.0,
            "warmup_s": window_start - warm_start, "report": report, "layers": layers,
            "round_weights": {k: gen.ROUND.count(k) for k in set(gen.ROUND)}}


# -- analytics ------------------------------------------------------------

class _Collected:
    """Stands in for a DataFrame whose rows were already collected, so
    the oracle comparison runs outside the timed execution."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def analytics(spark, work: str, seed: int, seconds: float,
              tracer_on: bool, root: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    sys.path.insert(0, os.path.join(root, "tools"))
    import py_oracles  # noqa: F401 — cached before check_correctness runs
    import check_correctness as cc

    data = os.path.join(work, "data")
    os.makedirs(data)
    sizes = {}
    for name, tbl in gen.analytics_tables(seed).items():
        path = os.path.join(data, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    tracer = Tracer(spark) if tracer_on else None
    run = Run(spark, tracer)
    queries, oracles = entry.queries(), entry.oracle_sql()
    order = [q for fam in FAMILIES.values() for q in fam]

    # warm-up pass = correctness pass: each query is executed and
    # collected (part of set-up), then compared with its oracle outside
    # the timed execution (and outside set-up time)
    con = duckdb.connect()
    for name in sizes:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(data, name + '.parquet')}'")
    oracle_s = 0.0

    def warm(q: str) -> _Collected:
        df = queries[q](spark, data)
        return _Collected(df.columns, df.collect())

    def oracle(q: str, sdf: _Collected) -> Optional[str]:
        nonlocal oracle_s
        t0 = time.perf_counter()
        res = (cc.compare(q, sdf, con, oracles[q]) if q in oracles else
               cc.compare_py(q, sdf, cc.PY_ORACLES[q], data))
        oracle_s += time.perf_counter() - t0
        return None if res.startswith("OK") else res

    warm_start = time.perf_counter()
    for q in order:
        run.op(q, lambda q=q: warm(q), lambda r, q=q: oracle(q, r),
               sample=False)
    con.close()
    warmup_s = time.perf_counter() - warm_start - oracle_s

    def execute(q: str) -> None:
        if tracer is not None:
            with tracer.jobs.scope("build") as b:
                t0 = time.perf_counter()
                df = queries[q](spark, data)
                run.extra["build_s"] = time.perf_counter() - t0
            run.extra["build_jobs"] = b["jobs"]
            run.extra["df"] = df
        else:
            df = queries[q](spark, data)
        df.write.format("noop").mode("overwrite").save()

    def plan_facts(_r) -> None:
        df = run.extra.pop("df", None)
        if df is not None:
            run.extra.update(_plan_facts(df))

    window_start = time.perf_counter()
    passes = 0
    while True:
        for q in order:
            run.op(q, lambda q=q: execute(q), plan_facts)
        passes += 1
        elapsed = time.perf_counter() - window_start
        if elapsed >= seconds and passes >= MIN_PASSES:
            break
    window_s = time.perf_counter() - window_start
    return {"run": run, "window_start": window_start, "excluded_s": oracle_s,
            "warmup_s": warmup_s,
            "report": {"tables": sizes, "passes": passes, "window_s": window_s},
            "layers": {}, "round_weights": {q: 1 for q in order}}


def _plan_facts(df) -> dict:
    """Catalyst phase times and Python-worker plan nodes of a DataFrame,
    read after forcing its executed plan."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"{ph}_ms"] = float(opt.get().durationMs()) \
            if opt.isDefined() else 0.0
    out["udf_nodes"] = sum(plan.count(n) for n in _UDF_NODES)
    return out


# -- summaries ------------------------------------------------------------

def end_to_end(result: dict, setup_s: float) -> dict:
    """The gated metrics: set-up time, the modelled wall of one round of
    the workload's op mix (sum of per-kind medians, weighted by how often
    the kind occurs in a round), the read part of that round on its own
    (every kind but the writes; on analytics every query is a read) and
    the geometric mean of the per-kind medians."""
    p50 = result["run"].kind_p50()
    w = result["round_weights"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "round_s": {"value": sum(p50[k] * n for k, n in w.items()),
                    "unit": "s"},
        "read_s": {"value": sum(p50[k] * n for k, n in w.items()
                                if k not in WRITE_KINDS), "unit": "s"},
        "op_p50_geomean_ms": {"value": 1000 * geomean(
            [p50[k] for k in w]), "unit": "ms"},
    }


def named_metrics(workload: str, result: dict) -> dict:
    """The per-op-kind metrics by their issue names, with units; each
    tail carries its percentile and sample count."""
    run = result["run"]
    pool = run.samples
    out: dict = {}

    def p50(name, kind):
        if pool.get(kind):
            out[name] = {"value": statistics.median(pool[kind]), "unit": "s",
                         "n": len(pool[kind])}

    def tl(name, kind):
        t = tail(pool.get(kind, []))
        out[name] = ({"value": t["value"], "unit": "s", "percentile": t["p"],
                      "n": t["n"]} if t else
                     {"value": None, "unit": "s", "n": len(pool.get(kind, [])),
                      "why": "fewer than 11 samples"})
    if workload == "ingest":
        for k in WRITE_KINDS:
            p50(f"{k}_p50_s", k)
        tl("insert_tail_s", "insert")
        p50("lookup_p50_s", "lookup")
        tl("lookup_tail_s", "lookup")
        p50("range_p50_s", "range")
        p50("search_p50_s", "search")
        p50("timetravel_p50_s", "timetravel")
        out["store_bytes_per_user_byte"] = {
            "value": result["report"]["store_bytes_per_user_byte"],
            "unit": "ratio"}
    else:
        for fam, qs in FAMILIES.items():
            if all(pool.get(q) for q in qs):
                out[f"{fam}_s"] = {"value": sum(statistics.median(pool[q])
                                                for q in qs),
                                   "unit": "s",
                                   "n": min(len(pool[q]) for q in qs)}
    out["failed_op_ratio"] = {"value": len(run.failures) / run.attempted,
                              "unit": "ratio", "n": run.attempted}
    return out


def unit_of(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("write_amp", "per_user_byte")):
        return "ratio"
    return "bytes" if "bytes" in name else "count"


def per_layer(result: dict, session: dict) -> dict:
    """Every per-layer metric; a layer the workload does not touch
    reports 0."""
    run = result["run"]
    spark = run.spark

    def mean(kind, key, sub=None):
        rows = run.acct.get(kind, [])
        vals = [(r.get(key, {}).get(sub, 0.0) if sub else r.get(key, 0))
                for r in rows]
        return sum(vals) / len(vals) if vals else 0.0

    m = {"session.start_s": session["start_s"],
         "session.warmup_s": session["warmup_s"],
         "session.peak_rss_mb": peak_rss_mb(spark)}
    span_of = {"insert": "table.insert", "update": "table.update",
               "delete": "table.delete", "stream_insert": "table.insert"}
    for k in WRITE_KINDS:
        for f in ("jobs", "stages", "tasks", "failed_tasks", "job_busy_s",
                  "driver_gap_s"):
            m[f"catalog.{k}.{f}"] = mean(k, f)
        m[f"catalog.{k}.span_s"] = mean(k, "span_s", span_of[k])
    writes = [a for k in WRITE_KINDS for a in run.acct.get(k, [])]

    def call(a, name, i):
        return a.get("calls", {}).get(name, (0, 0.0))[i]
    n_w = max(1, len(writes))
    m["commit_store.swap_current_calls"] = sum(
        call(a, "commit_store.swap_current", 0) for a in writes) / n_w
    m["commit_store.swap_current_s"] = sum(
        call(a, "commit_store.swap_current", 1) for a in writes) / n_w
    m["commit_store.guard_wait_s"] = sum(
        call(a, "commit_store.guard_wait", 1) for a in writes) / n_w
    for key in ("store.files_written_per_op", "store.bytes_written_per_op",
                "store.write_amp", "store.live_files", "store.manifest_bytes",
                "store.bytes_per_user_byte"):
        m[key] = result["layers"].get(key, 0.0)
    scans = run.acct.get("lookup", []) + run.acct.get("range", [])
    m["catalog.scan.build_s"] = (sum(a.get("build_s", 0.0) for a in scans)
                                 / max(1, len(scans)))
    m["catalog.scan.jobs"] = sum(a["jobs"] for a in scans) / max(1, len(scans))
    m["catalog.scan.tasks"] = sum(a["tasks"] for a in scans) / max(1, len(scans))
    m["catalog.timetravel.tasks"] = mean("timetravel", "tasks")
    m["index.search.jobs"] = mean("search", "jobs")
    m["index.search.tasks"] = mean("search", "tasks")
    m["streaming.batches_per_op"] = mean("stream_insert", "batches")
    m["streaming.batch_ms"] = mean("stream_insert", "batch_ms")
    for fam, qs in FAMILIES.items():
        def fsum(key, sub=None):
            return sum(mean(q, key, sub) for q in qs)
        m[f"{fam}.query.build_s"] = fsum("build_s")
        m[f"{fam}.query.build_jobs"] = fsum("build_jobs")
        m[f"{fam}.query.compile_s"] = fsum("span_s", "query.compile")
        for ph in ("analysis", "optimization", "planning"):
            m[f"{fam}.catalyst.{ph}_ms"] = fsum(f"{ph}_ms")
        for f in ("jobs", "stages", "tasks", "failed_tasks", "job_busy_s",
                  "driver_gap_s"):
            m[f"{fam}.spark.{f}"] = fsum(f)
        m[f"{fam}.python.udf_nodes"] = fsum("udf_nodes")
        m[f"{fam}.tinyplan.scopes_per_op"] = sum(
            sum(call(a, "tinyplan.tiny_plan", 0) for a in run.acct.get(q, []))
            / max(1, len(run.acct.get(q, []))) for q in qs)
    return m
