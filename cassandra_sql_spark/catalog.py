"""JSON metastore for engine-managed tables.

Mirrors the semantic content of the reference's ``TableMetadata`` (reference
kv/TableMetadata.java:12-400 — columns, PK, identity, constraints, enums via
kv/EnumMetadata.java, sequences via kv/SequenceMetadata.java, view
definitions kv/KvQueryExecutor.java:4826) re-expressed for a Spark world:
tables are parquet directories + a StructType; enums/sequences/views are
pure metadata. Persistence is one JSON file per catalog under the warehouse
directory — on a real deployment this layer is swapped for a metastore
(Hive/Unity/Glue); the Engine only touches it through this class.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import asdict, dataclass, field
from typing import Optional


@dataclass
class ColumnMeta:
    name: str
    sql_type: str          # declared (pg-flavored) type, upper-cased
    spark_type: str        # Spark DDL type string
    nullable: bool = True
    identity: bool = False  # SERIAL / GENERATED ... AS IDENTITY
    enum_type: Optional[str] = None
    hidden: bool = False   # system column (hidden rowid), excluded from *
    generated: Optional[str] = None  # GENERATED ALWAYS AS (expr) STORED
    default: Optional[str] = None    # DEFAULT expr (filled when omitted)


@dataclass
class TableMeta:
    name: str
    columns: list = field(default_factory=list)     # list[ColumnMeta]
    primary_key: list = field(default_factory=list)
    unique: list = field(default_factory=list)      # list[list[str]]
    foreign_keys: list = field(default_factory=list)  # [[cols],reftable,[refcols]]
    checks: list = field(default_factory=list)      # list[str] (SQL exprs)
    partition_by: list = field(default_factory=list)  # hive-dir layout cols
    path: str = ""
    stats: dict = field(default_factory=dict)  # ANALYZE output (n_rows, columns)

    def column(self, name: str) -> ColumnMeta:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)

    def spark_ddl(self) -> str:
        return ", ".join(f"`{c.name}` {c.spark_type}" for c in self.columns)


@dataclass
class ViewMeta:
    name: str
    sql: str
    materialized: bool = False
    path: str = ""


class Catalog:
    """Warehouse-backed catalog of tables, views, enums, sequences."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self._lock = threading.Lock()
        os.makedirs(warehouse, exist_ok=True)
        self._meta_path = os.path.join(warehouse, "_catalog.json")
        self.tables: dict[str, TableMeta] = {}
        self.views: dict[str, ViewMeta] = {}
        self.enums: dict[str, list[str]] = {}
        self.sequences: dict[str, dict] = {}  # name -> {current, increment}
        # SQL-body scalar functions (CREATE FUNCTION):
        # name -> {params, returns, returns_pg, body}
        self.functions: dict[str, dict] = {}
        self._load()

    # -- persistence ---------------------------------------------------------

    def _load(self) -> None:
        if not os.path.exists(self._meta_path):
            return
        with open(self._meta_path) as f:
            raw = json.load(f)
        for t in raw.get("tables", []):
            cols = [ColumnMeta(**c) for c in t.pop("columns")]
            self.tables[t["name"]] = TableMeta(columns=cols, **t)
        for v in raw.get("views", []):
            self.views[v["name"]] = ViewMeta(**v)
        self.enums = raw.get("enums", {})
        self.sequences = raw.get("sequences", {})
        self.functions = raw.get("functions", {})

    def save(self) -> None:
        with self._lock:
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "tables": [asdict(t) for t in self.tables.values()],
                        "views": [asdict(v) for v in self.views.values()],
                        "enums": self.enums,
                        "sequences": self.sequences,
                        "functions": self.functions,
                    },
                    f,
                    indent=1,
                )
            os.replace(tmp, self._meta_path)

    # -- tables --------------------------------------------------------------

    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, "tables", name)

    def add_table(self, meta: TableMeta) -> None:
        meta.path = meta.path or self.table_path(meta.name)
        self.tables[meta.name] = meta
        self.save()

    def drop_table(self, name: str) -> TableMeta:
        meta = self.tables.pop(name)
        self.save()
        return meta

    # -- sequences (reference kv/SchemaManager.java:1823 nextval) ------------

    def create_sequence(
        self, name: str, start: int = 1, increment: int = 1
    ) -> None:
        self.sequences[name] = {
            "current": start - increment,
            "increment": increment,
        }
        self.save()

    def reserve(self, name: str, n: int) -> int:
        """Advance sequence ``name`` by ``n`` values in one step and return
        the first of them. Nothing is written here: the write statement
        that uses the values persists the advance with its own ``save()``.
        Values reserved by a statement that fails stay consumed (a gap, as
        in pg); the next ``save()`` persists them."""
        with self._lock:
            seq = self.sequences[name]
            first = seq["current"] + seq["increment"]
            seq["current"] += n * seq["increment"]
        return first

    def nextval(self, name: str) -> int:
        value = self.reserve(name, 1)
        self.save()
        return value

    def currval(self, name: str) -> int:
        return self.sequences[name]["current"]

    def drop_sequence(self, name: str) -> None:
        del self.sequences[name]
        self.save()

    # -- enums (reference kv/EnumMetadata.java) ------------------------------

    def create_enum(self, name: str, values: list[str]) -> None:
        self.enums[name] = values
        self.save()

    def drop_enum(self, name: str) -> None:
        del self.enums[name]
        self.save()
