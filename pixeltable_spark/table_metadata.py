"""Typed metadata shapes for catalog objects, mirroring the reference's
``catalog/table_metadata.py`` TypedDicts (ColumnMetadata:6,
IndexMetadata:52, TableMetadata:65, VersionMetadata:110) and
``catalog/update_status.py`` UpdateStatus:55.

``UpdateStatus`` here is an ``int`` subclass: the engine's mutation
methods historically returned plain row counts, so the typed status
compares equal to the count (``t.insert(rows) == 3`` keeps working)
while exposing the reference's fields.
"""

from __future__ import annotations

from typing import Any, Literal, Optional, TypedDict


class ColumnMetadata(TypedDict):
    name: str
    type_: str
    version_added: int
    is_stored: bool
    is_primary_key: bool
    is_computed: bool
    computed_with: Optional[str]
    comment: Optional[str]


class IndexMetadata(TypedDict):
    name: str
    columns: list[str]
    index_type: Literal["embedding", "btree"]
    parameters: Optional[dict]


class TableMetadata(TypedDict):
    name: str
    path: str
    kind: Literal["table", "view", "snapshot"]
    columns: dict[str, ColumnMetadata]
    indices: dict[str, IndexMetadata]
    is_versioned: bool
    is_view: bool
    is_snapshot: bool
    version: Optional[int]
    schema_version: int
    comment: Optional[str]
    primary_key: Optional[list[str]]
    base: Optional[str]


class VersionMetadata(TypedDict):
    version: int
    created_at: float
    change_type: Literal["data", "schema"]
    op: str
    inserts: int
    updates: int
    deletes: int
    errors: int


_SCHEMA_OPS = {"create", "add_column", "add_computed_column", "drop_column",
               "alter_column", "rename_column"}


def version_metadata(entry: dict) -> VersionMetadata:
    """Normalize one engine history entry to the reference's
    VersionMetadata shape."""
    op = entry.get("op", "")
    rows = int(entry.get("rows", 0) or 0)
    return VersionMetadata(
        version=int(entry.get("version", 0)),
        created_at=float(entry.get("ts", 0.0)),
        change_type="schema" if op in _SCHEMA_OPS else "data",
        op=op,
        inserts=rows if op == "insert" else 0,
        updates=rows if op in ("update", "batch_update", "recompute") else 0,
        deletes=rows if op == "delete" else 0,
        errors=int(entry.get("errors", 0) or 0),
    )


class UpdateStatus(int):
    """Mutation result (reference catalog/update_status.py:55) that also
    IS the affected-row count for backward compatibility."""

    op: str
    updated_cols: tuple[str, ...]
    num_excs: int
    rows: "list[dict] | None"  # populated by batch_update(return_rows=True)

    def __new__(cls, n: int, op: str = "", updated_cols: tuple = (),
                num_excs: int = 0,
                rows: "list[dict] | None" = None) -> "UpdateStatus":
        self = super().__new__(cls, int(n))
        self.op = op
        self.updated_cols = tuple(updated_cols)
        self.num_excs = int(num_excs)
        self.rows = rows
        return self

    @property
    def num_rows(self) -> int:
        return int(self)

    def __repr__(self) -> str:
        return (f"UpdateStatus(op={self.op!r}, num_rows={int(self)}, "
                f"updated_cols={list(self.updated_cols)}, "
                f"num_excs={self.num_excs})")

