"""Catalog façade (SURVEY.md section 2 A8): ``schema.table`` names
over the path-addressed storage layer — the engine analogue of the
reference's ``CREATE NAMESPACE IF NOT EXISTS`` / ``CREATE TABLE IF NOT
EXISTS`` DDL (``streaming_job.py:18-61``).

State is one JSON file under the warehouse root — metadata is O(name
count), never data-sized, and a catalog lookup costs one dict probe.
Tables are either plain parquet dirs (append logs) or
``tablefmt``-versioned (merged state), so ``read`` resolves snapshot
pointers transparently.  Writers write to ``table_path`` themselves
and choose their own partition columns; a real deployment swaps this
file for a metastore/REST catalog without touching callers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import tablefmt

CATALOG_FILE = "_catalog.json"


class Catalog:
    """Single-writer JSON-backed ``schema.table`` -> path registry."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self._state_path = os.path.join(warehouse, CATALOG_FILE)
        self._state = self._load()

    def _load(self) -> dict:
        if os.path.isfile(self._state_path):
            with open(self._state_path) as fh:
                return json.load(fh)
        return {"schemas": {}}

    def _save(self) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._state, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._state_path)

    @staticmethod
    def _split(name: str) -> tuple[str, str]:
        schema, _, table = name.partition(".")
        if not table:
            raise ValueError(f"table name must be schema.table, got {name!r}")
        return schema, table

    def create_table(self, name: str, versioned: bool = False) -> str:
        """``CREATE TABLE IF NOT EXISTS`` (creating the namespace if
        needed): register the table at ``warehouse/schema/table`` and
        return that path.  A name already registered keeps its entry
        and returns its path, so re-running a job's DDL never flips a
        versioned table to a plain dir."""
        schema, table = self._split(name)
        tables = self._state["schemas"].setdefault(schema, {"tables": {}})["tables"]
        if table not in tables:
            tables[table] = {
                "path": os.path.join(self.warehouse, schema, table),
                "versioned": versioned,
            }
            self._save()
        return tables[table]["path"]

    def namespaces(self) -> list[str]:
        return sorted(self._state["schemas"])

    def tables(self, schema: str) -> list[str]:
        return sorted(self._state["schemas"].get(schema, {}).get("tables", {}))

    def meta(self, name: str) -> dict:
        schema, table = self._split(name)
        try:
            return self._state["schemas"][schema]["tables"][table]
        except KeyError:
            raise KeyError(f"unknown table {name}") from None

    def table_path(self, name: str) -> str:
        return self.meta(name)["path"]

    def read(self, name: str) -> DataFrame:
        m = self.meta(name)
        if m["versioned"]:
            return tablefmt.read_table(self.spark, m["path"])
        return self.spark.read.parquet(m["path"])
