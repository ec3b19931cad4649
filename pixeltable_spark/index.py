"""Embedding indexes + similarity search on catalog tables.

The analog of the reference's embedding index (reference
index/embedding_index.py:24,268-297; catalog/table.py:461
add_embedding_index): an index is a computed embedding column kept in
sync by the normal incremental-computation machinery, plus a search API.

Spark disposition (SURVEY §2.6): pgvector's ANN scan becomes one Spark
job over one resolved snapshot of the table. Each method only narrows
the candidates:
* exact: every live row — correct and scan-bound, the right default up
  to ~10^8 vectors on a cluster;
* lsh: the query's hyperplane bucket (operators/similarity.py), a
  partition-prunable column — probing 1/2^planes of the data;
* pq: the ADC shortlist over product-quantization codes.
The candidates are then scored, ranked and projected in one
TakeOrderedAndProject: each partition keeps its k best rows of just the
user columns, the driver merges them. No join back, no full sort.

The B-tree index of the reference (index/btree.py:18-31) needs no
counterpart: batch-update lookups compile to broadcast semi-joins, which
is how Spark expresses 'index lookup' (SURVEY §1.1).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Table
from .exceptions import AlreadyExistsError, NotFoundError
from .operators.similarity import (cosine_to_query, ip_to_query,
                                  l2_to_query, lsh_candidates, pq_candidates,
                                  pq_encode, pq_train)
from .type_system import TypeKind


class EmbeddingIndex:
    def __init__(self, table: Table, column: str, embed_col: str,
                 n_planes: int = 0, method: str = "auto",
                 pq_m: int = 8, pq_k: int = 16, pq_rerank: int = 100,
                 name: Optional[str] = None, metric: str = "cosine",
                 embed_fn: Optional[Callable] = None):
        if metric not in ("cosine", "ip", "l2"):
            raise ValueError(f"unknown metric {metric!r}")
        self.table = table
        self.column = column
        self.embed_col = embed_col
        self.n_planes = n_planes
        self.method = method  # 'auto' | 'exact' | 'lsh' | 'pq'
        self.pq_m, self.pq_k, self.pq_rerank = pq_m, pq_k, pq_rerank
        self.name = name or embed_col
        self.metric = metric  # 'cosine' | 'ip' | 'l2' (reference
        # index/embedding_index.py Metric; similarity-expr semantics)
        self.embed_fn = embed_fn  # query-side embedder (None = vector-only)
        self._pq_books = None

    def _pq_candidates(self, live: DataFrame, query_vec: Sequence[float],
                       k: int) -> DataFrame:
        """Lazy PQ build: codebooks trained once per index instance, codes
        recomputed per search from `live` (at scale, persist the codes as
        a computed column; here they derive from the searched snapshot so
        mutations are always reflected)."""
        if self._pq_books is None:
            self._pq_books = pq_train(live, vec_col=self.embed_col,
                                      id_col="_rowid", m=self.pq_m,
                                      k=self.pq_k)
        codes = pq_encode(live, self._pq_books, vec_col=self.embed_col,
                          id_col="_rowid")
        return pq_candidates(live, codes, self._pq_books, query_vec,
                             rerank=max(self.pq_rerank, k), id_col="_rowid")

    def search(self, query_vec: Sequence[float], k: int = 10,
               approximate: Optional[bool] = None) -> DataFrame:
        """Top-k rows by the index's metric over one snapshot of the
        table: the user columns plus `_similarity`, best first, ties by
        rowid. Method: 'exact' = every live row; 'lsh' = hyperplane
        bucket probe; 'pq' = product-quantization ADC shortlist; 'auto'
        picks lsh when n_planes>0 else exact (the reference's pgvector
        scan analog). ip and l2 always score every row: the LSH
        hyperplanes and the PQ ADC table are cosine-calibrated, and a
        correct answer beats a fast wrong one."""
        method = self.method
        if self.metric != "cosine":
            method = "exact"
        elif method == "auto":
            use_ann = self.n_planes > 0 if approximate is None else approximate
            method = "lsh" if use_ann and self.n_planes > 0 else "exact"
        live = self.table.df()
        if method == "pq":
            live = self._pq_candidates(live, query_vec, k)
        elif method == "lsh":
            live = lsh_candidates(live, query_vec, self.embed_col,
                                  self.n_planes or 8)
        if self.metric == "cosine":
            score = F.round(cosine_to_query(self.embed_col, query_vec), 6)
        elif self.metric == "ip":
            score = ip_to_query(self.embed_col, query_vec)
        else:
            score = l2_to_query(self.embed_col, query_vec)
        sim = F.col("_similarity")
        # the tie-break `_rowid` is outside the projection: the analyzer
        # carries it below the sort and drops it above (one DataFrame op
        # and its analysis fewer than a trailing select)
        return (live.select(*self.table.column_names(),
                            score.alias("_similarity"))
                .orderBy(sim.asc() if self.metric == "l2" else sim.desc(),
                         F.col("_rowid"))
                .limit(k))


def add_embedding_index(table: Table, column: str,
                        embed_fn: Optional[Callable[[str], list]] = None,
                        embedding_col: Optional[str] = None,
                        dim: int = 16, n_planes: int = 0,
                        model: str = "fake-embed-1",
                        method: str = "auto", pq_m: int = 8,
                        pq_k: int = 16, pq_rerank: int = 100,
                        idx_name: Optional[str] = None,
                        metric: str = "cosine",
                        if_exists: str = "error") -> EmbeddingIndex:
    """Create an embedding index over a (text) column
    (reference catalog/table.py:461 add_embedding_index).

    The embedding is a computed column: evaluated for existing rows now
    (backfill) and incrementally on every future insert — identical
    maintenance semantics to the reference's index-value computation at
    insert time (reference plan.py:269-324).
    """
    from .exprs import ColumnRef
    from .type_system import ArrayType, ColumnType

    embed_col = embedding_col or f"{column}_embedding"
    if column not in table.schema and column not in table.computed:
        raise ValueError(f"table {table.name!r} has no column {column!r}")
    name = idx_name or f"idx{len(table._indexes)}"
    existing = next((ix for ix in table._indexes.values()
                     if ix.name == name), None)
    if existing is not None:
        if if_exists == "error":
            raise AlreadyExistsError(
                f"index {name!r} already exists on table {table.name!r}")
        if if_exists == "ignore":
            return existing
        if if_exists in ("replace", "replace_force"):
            drop_embedding_index(table, idx_name=name)
        else:
            raise ValueError(f"invalid if_exists {if_exists!r}")
    src_type = (table.schema.get(column)
                or table.computed[column].col_type)
    is_array_col = src_type.kind == TypeKind.ARRAY
    if is_array_col and embedding_col is None:
        # an Array column holds precomputed embeddings: index it directly
        # (reference add_embedding_index: embedding fn optional for
        # arrays). No default embedder here — a made-up query embedder
        # whose dimensionality ignores the stored vectors would silently
        # mis-rank; string queries on such an index require an explicit
        # embed_fn, vector queries need none.
        embed_col = column
    else:
        if embed_fn is None:
            # default: deterministic offline embedder (functions/llm.py)
            import asyncio

            from .functions.llm import DeterministicFakeClient

            def embed_fn(text: str, _model: str = model,
                         _dim: int = dim) -> list:
                client = DeterministicFakeClient()
                loop = asyncio.new_event_loop()
                try:
                    return loop.run_until_complete(
                        client.embed(text, _model, dim=_dim))
                finally:
                    loop.close()
        expr = ColumnRef(column, src_type).apply(
            embed_fn, ArrayType(ColumnType.float_()))
        table.add_computed_column(embed_col, expr)
    idx = EmbeddingIndex(table, column, embed_col, n_planes, method=method,
                         pq_m=pq_m, pq_k=pq_k, pq_rerank=pq_rerank,
                         name=name, metric=metric, embed_fn=embed_fn)
    table._indexes[name] = idx
    table._log("add_embedding_index", column=column, embed_col=embed_col)
    table._save_meta()  # index defs persist with the table
    return idx


def drop_embedding_index(table: Table, column: Optional[str] = None,
                         idx_name: Optional[str] = None) -> None:
    """Drop an embedding index by column or by name (reference
    catalog/table.py drop_embedding_index): exactly one selector; a
    column selector is ambiguous when the column carries several
    indexes. The index's embedding computed column is dropped with it
    (unless the index was directly over a user array column)."""
    if (column is None) == (idx_name is None):
        raise ValueError(
            "exactly one of column= or idx_name= must be given")
    indexes = table._indexes
    if idx_name is not None:
        matches = [(k, ix) for k, ix in indexes.items()
                   if ix.name == idx_name]
    else:
        matches = [(k, ix) for k, ix in indexes.items()
                   if ix.column == column]
    if not matches:
        sel = idx_name if idx_name is not None else column
        raise NotFoundError(f"no embedding index for {sel!r} "
                            f"on table {table.name!r}")
    if len(matches) > 1:
        raise ValueError(
            f"column {column!r} has {len(matches)} embedding indexes; "
            "drop by idx_name=")
    key, ix = matches[0]
    del indexes[key]
    if ix.embed_col in table.computed:
        table.drop_column(ix.embed_col)
    table._log("drop_embedding_index", name=ix.name)
    table._save_meta()
