"""Query result surface: ResultSet / Row / ResultCursor.

Reference parity: _query.py:54-271 (ResultSet, Row, ResultCursor). The
reference materializes every result into a ResultSet (rows indexed by
int, columns by name) and offers a ResultCursor for streaming iteration.
Spark-first re-expression:

- ``ResultSet`` subclasses ``list`` (of plain dicts) so every existing
  call site that treats ``collect()`` as ``list[dict]`` keeps working,
  and adds the reference's column indexing (``rs['col']``,
  ``rs[i, 'col']``), ``schema``, ``to_pandas()`` and ``to_pydantic()``.
- ``ResultCursor`` streams through ``DataFrame.toLocalIterator()``:
  partitions are shipped to the driver one at a time, so iterating the
  first rows of a 100 TB result never materializes the whole result
  driver-side (the reference streams from its store cursor the same
  way, _query.py:271-380).
- ``Row`` is a Mapping over one result row with the reference's
  ``to_json()`` value coercions (_query.py:231-268).
"""
from __future__ import annotations

import datetime
import json
import uuid as _uuid
from collections.abc import Iterator, Mapping
from typing import Any, Optional

from .type_system import ColumnType, TypeKind

__all__ = ["ResultSet", "Row", "ResultCursor"]


def _jsonable(val: Any, ct: Optional[ColumnType]) -> Any:
    """One cell value -> JSON-representable value (reference Row.to_json
    coercion table)."""
    if val is None:
        return None
    if isinstance(val, (datetime.datetime, datetime.date)):
        return val.isoformat()
    if isinstance(val, _uuid.UUID):
        return str(val)
    if hasattr(val, "tolist"):  # numpy arrays / scalars
        return val.tolist()
    if ct is not None and ct.kind == TypeKind.JSON and isinstance(val, str):
        try:
            return json.loads(val)
        except (ValueError, TypeError):
            return val
    return val


class Row(Mapping):
    """One result row: a Mapping from column name to value (reference
    _query.py:198 Row). Yielded by ResultCursor; supports ``row['col']``,
    ``'col' in row``, ``.get``/``.keys``/``.values``/``.items`` and
    ``to_json()``."""

    __slots__ = ("_data", "_col_types")

    def __init__(self, data: dict, col_types: Optional[dict] = None):
        self._data = data
        self._col_types = col_types or {}

    def __getitem__(self, key: str) -> Any:
        try:
            return self._data[key]
        except KeyError:
            raise KeyError(f"column {key!r} does not exist in the row") \
                from None

    def __iter__(self) -> Iterator[str]:
        return iter(self._data)

    def __len__(self) -> int:
        return len(self._data)

    def __repr__(self) -> str:
        body = ", ".join(f"{k!r}: {v!r}" for k, v in self._data.items())
        return "Row({" + body + "})"

    def asdict(self) -> dict:
        return dict(self._data)

    def to_json(self) -> dict:
        """JSON-serializable dict of this row: timestamps/dates -> ISO
        8601, UUIDs -> str, arrays -> lists, binary columns omitted,
        JSON columns parsed to native values; everything else unchanged
        (reference _query.py:231 Row.to_json)."""
        out: dict = {}
        for name, val in self._data.items():
            ct = self._col_types.get(name)
            if ct is not None and ct.kind == TypeKind.BINARY:
                continue
            if isinstance(val, (bytes, bytearray)):
                continue
            out[name] = _jsonable(val, ct)
        return out


class ResultSet(list):
    """Materialized query result (reference _query.py:54 ResultSet).

    A list of plain dicts — drop-in compatible with the historical
    ``collect() -> list[dict]`` contract — with the reference's extra
    access paths layered on:

    - ``len(rs)`` — number of rows
    - ``rs[i]`` — i-th row as a dict
    - ``rs['col']`` — all values of one column, as a list
    - ``rs[i, 'col']`` / ``rs[i, j]`` — a single cell
    - ``rs.schema`` — column name -> type string
    - ``rs.to_pandas()`` / ``rs.to_pydantic(Model)``
    """

    def __init__(self, rows, schema: Optional[dict] = None):
        super().__init__(rows)
        self._schema: dict = dict(schema or {})
        if not self._schema and len(self):
            # schema unknown: derive names from the first row
            self._schema = {k: ColumnType(TypeKind.INVALID)
                            for k in self[0]}
        self._col_names = list(self._schema)

    @property
    def schema(self) -> dict:
        """Result columns as name -> type string (reference
        ResultSet.schema)."""
        return {n: repr(t) for n, t in self._schema.items()}

    def column_names(self) -> list:
        return list(self._col_names)

    def __getitem__(self, index):
        if isinstance(index, str):
            if self._col_names and index not in self._col_names:
                raise KeyError(f"invalid column name: {index!r}")
            return [r[index] for r in iter(self)]
        if isinstance(index, tuple):
            if len(index) != 2 or not isinstance(index[0], int) \
                    or not isinstance(index[1], (str, int)):
                raise TypeError(
                    f"bad index, expected [row, column]: {index!r}")
            row = list.__getitem__(self, index[0])
            col = index[1]
            if isinstance(col, int):
                col = self._col_names[col]
            if col not in row:
                raise KeyError(f"invalid column name: {col!r}")
            return row[col]
        return list.__getitem__(self, index)

    def rows(self) -> Iterator[Row]:
        """Iterate as Row objects (Mapping + to_json)."""
        for r in iter(self):
            yield Row(r, self._schema)

    def to_pandas(self):
        import pandas as pd
        if self._col_names:
            return pd.DataFrame.from_records(list(self),
                                             columns=self._col_names)
        return pd.DataFrame.from_records(list(self))

    def to_pydantic(self, model):
        """Validate + convert each row into a pydantic model instance
        (reference ResultSet.to_pydantic). Gated on pydantic being
        importable; validates required/extra fields up front so the
        error surfaces before the first yield."""
        try:
            import pydantic  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "to_pydantic requires the 'pydantic' package") from e
        fields = model.model_fields
        required = {n for n, f in fields.items() if f.is_required()}
        cols = set(self._col_names)
        missing = required - cols
        if missing:
            raise ValueError(
                f"required model fields {sorted(missing)} are missing "
                f"from result columns {self._col_names}")
        if getattr(model, "model_config", {}).get("extra") == "forbid":
            extra = cols - set(fields)
            if extra:
                raise ValueError(
                    f"extra fields {sorted(extra)} not allowed in model "
                    "with extra='forbid'")

        def gen():
            import pydantic as _p
            for r in iter(self):
                try:
                    yield model(**r)
                except _p.ValidationError as err:
                    raise ValueError(str(err)) from err
        return gen()

    def __repr__(self) -> str:
        try:
            return self.to_pandas().__repr__()
        except Exception:
            return list.__repr__(self)

    def _repr_html_(self) -> str:
        return self.to_pandas().to_html(index=False)


class ResultCursor:
    """Streaming iteration over a query result (reference _query.py:271
    ResultCursor): pending -> open -> closed lifecycle, context-manager
    support, yields Row objects one at a time.

    Spark-side: ``open()`` plans the query once and iterates via
    ``toLocalIterator()``, which fetches ONE partition at a time to the
    driver — early termination (``break``) never pays for the unread
    partitions' transfer, and driver memory is bounded by a single
    partition regardless of result size."""

    def __init__(self, query):
        self._query = query
        self._rows_iter = None
        self._closed = False
        self._schema_cache: Optional[dict] = None

    @property
    def schema(self) -> dict:
        """Result columns as name -> type string."""
        if self._schema_cache is None:
            df = self._query.df()
            self._schema_cache = {
                f.name: ColumnType.from_spark(f.dataType, f.nullable)
                for f in df.schema.fields}
        return {n: repr(t) for n, t in self._schema_cache.items()}

    def open(self) -> None:
        if self._rows_iter is not None:
            raise RuntimeError("cursor is already open")
        if self._closed:
            raise RuntimeError("cursor is closed and cannot be reopened")
        df = self._query.df()
        self._schema_cache = {
            f.name: ColumnType.from_spark(f.dataType, f.nullable)
            for f in df.schema.fields}
        self._rows_iter = df.toLocalIterator(prefetchPartitions=True)

    def close(self) -> None:
        self._rows_iter = None
        self._closed = True

    def __enter__(self) -> "ResultCursor":
        if self._rows_iter is None and not self._closed:
            self.open()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __iter__(self) -> Iterator[Row]:
        if self._closed:
            raise RuntimeError("cursor is closed")
        if self._rows_iter is None:
            self.open()
        try:
            for spark_row in self._rows_iter:
                yield Row(spark_row.asDict(recursive=True),
                          self._schema_cache)
        finally:
            self.close()

    def as_result_set(self) -> ResultSet:
        """Drain the remaining rows into a materialized ResultSet."""
        rows = [r.asdict() for r in self]
        return ResultSet(rows, self._schema_cache)
