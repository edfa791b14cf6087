"""DDL surface (SURVEY §2.2 M5; ref impl.py:440-529,
macros/adapters.sql:18-94) plus M7 schema-name generation
(adapters.sql:9-16)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession


def clear_orphaned_location(spark: SparkSession, qualified_name: str) -> None:
    """A managed table's directory can outlive its catalog entry (each
    process is a fresh in-memory metastore over the persistent
    warehouse dir); ``saveAsTable`` / ``ALTER TABLE RENAME`` then fail
    with LOCATION_ALREADY_EXISTS. If the catalog does NOT know the
    table but its conventional managed location exists, the dir is
    orphaned — remove it so CREATE OR REPLACE semantics hold."""
    import os
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(qualified_name):
        return  # mode("overwrite") handles a live table itself
    parts = qualified_name.split(".")
    if len(parts) != 2:
        return
    db, tbl = parts
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if not wh:
        return
    loc = os.path.join(wh, f"{db}.db", tbl)
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def generate_schema_name(target_schema: str, custom_schema: str | None = None) -> str:
    """M7: `target_schema` or `target_schema + "_" + custom_schema`
    (ref macros/adapters.sql:9-16, mirrored in connections.py:378-409).
    """
    if custom_schema:
        return f"{target_schema}_{custom_schema.strip()}"
    return target_schema


@dataclass
class Ddl:
    spark: SparkSession

    def create_schema(self, schema: str) -> None:
        # ref impl.py:478-482
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")

    def drop_schema(self, schema: str, cascade: bool = True) -> None:
        # ref impl.py:484-488 (DROP SCHEMA … CASCADE)
        suffix = " CASCADE" if cascade else ""
        self.spark.sql(f"DROP DATABASE IF EXISTS {schema}{suffix}")

    def drop_relation(self, schema: str, identifier: str, kind: str = "table") -> None:
        # ref impl.py:490-494, adapters.sql:59-61 (typed DROP IF EXISTS)
        kw = "VIEW" if kind.lower() == "view" else "TABLE"
        self.spark.sql(f"DROP {kw} IF EXISTS {schema}.{identifier}")

    def truncate(self, schema: str, identifier: str) -> None:
        # ref impl.py:496-500: truncate implemented as DELETE FROM;
        # Spark supports TRUNCATE TABLE on managed tables
        self.spark.sql(f"TRUNCATE TABLE {schema}.{identifier}")

    def rename(self, schema: str, old: str, new: str) -> None:
        # ref impl.py:502-506 (ALTER TABLE … RENAME TO)
        self.spark.sql(f"ALTER TABLE {schema}.{old} RENAME TO {schema}.{new}")

    def list_schemas(self) -> list[str]:
        # ref impl.py:516-520
        return [d.name for d in self.spark.catalog.listDatabases()]

    def list_relations(self, schema: str) -> list[tuple[str, str]]:
        # ref impl.py:451-476 → (name, type)
        out = []
        for t in self.spark.catalog.listTables(schema):
            out.append((t.name, (t.tableType or "table").lower()))
        return out

    def list_columns(self, schema: str, identifier: str) -> list[tuple[str, str]]:
        # ref impl.py:440-449 (information_schema introspection)
        return [
            (c.name, c.dataType)
            for c in self.spark.catalog.listColumns(f"{schema}.{identifier}")
        ]

    def table_exists(self, schema: str, identifier: str) -> bool:
        return self.spark.catalog.tableExists(f"{schema}.{identifier}")


def _catalog_table(spark: SparkSession, target: str):
    """The session catalog's metadata (a JVM ``CatalogTable``) of
    ``target``, or None when it is missing or not a session-catalog
    table: one catalog call, no Spark job."""
    ss = spark._jsparkSession.sessionState()
    parser, catalog = ss.sqlParser(), ss.catalog()
    names = _seq(parser.parseMultipartIdentifier(target))
    if len(names) == 3 and names[0].lower() == "spark_catalog":
        names = names[1:]
    if len(names) > 2:
        return None
    ident = parser.parseTableIdentifier(
        ".".join("`" + n.replace("`", "``") + "`" for n in names))
    return catalog.getTableMetadata(ident) if catalog.tableExists(ident) else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def table_layout(
    spark: SparkSession, target: str
) -> tuple[list[str], list[str], Optional[int], list[str]]:
    """``(partition_cols, bucket_cols, num_buckets, sort_cols)`` of a
    cataloged table — its partitioning and its full bucket spec;
    ``([], [], None, [])`` when the table is missing. The one place
    the engine reads a table's layout. A layout is declared when a
    table is created and every later write keeps it — appends through
    the catalog itself, staged rewrites by asking here
    (incremental._staged_overwrite)."""
    meta = _catalog_table(spark, target)
    if meta is None:
        return [], [], None, []
    parts = _seq(meta.partitionColumnNames())
    if meta.bucketSpec().isEmpty():
        return parts, [], None, []
    spec = meta.bucketSpec().get()
    return (parts, _seq(spec.bucketColumnNames()), spec.numBuckets(),
            _seq(spec.sortColumnNames()))


def table_location(spark: SparkSession, target: str) -> Optional[str]:
    """Filesystem path of a cataloged table, read from the same
    catalog metadata as table_layout; None for a missing table or a
    table without a location (a view)."""
    meta = _catalog_table(spark, target)
    if meta is None or meta.storage().locationUri().isEmpty():
        return None
    uri = meta.storage().locationUri().get()
    return uri.getPath() if uri.getScheme() in (None, "file") else uri.toString()


def write_table(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    mode: str = "overwrite",
    partition_by: str | Sequence[str] | None = None,
    clustered_by: str | Sequence[str] | None = None,
    buckets: Optional[int] = None,
    sorted_by: Sequence[str] | None = None,
) -> int:
    """The one table writer of the materializations: writes ``df``
    into ``target`` and returns the rows written. Observe-once
    invariant: the count is a count(1) observed on ``df`` by the write
    itself, which evaluates ``df`` exactly once — no job of its own,
    and no caller re-scans ``target`` to learn it.

    ``overwrite`` (re)creates ``target`` with the partitioning and
    bucketing given here (first clearing an orphaned location): a
    table's layout is declared when the table is created. Buckets are
    sorted by ``sorted_by``, by default by ``clustered_by`` (a staged
    rewrite passes the sort columns table_layout read). ``append``
    inserts into the existing table by column name, and Spark applies
    the layout its catalog records — exactly, bucket sort columns
    included — so the caller passes none."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if mode == "append":
        # insertInto is positional: line the columns up with the table's
        df.select(*spark.table(target).columns).write.mode(
            "append").insertInto(target)
        return obs.get["n"]
    if bool(clustered_by) != bool(buckets):
        raise ValueError("clustered_by and buckets must be set together")
    clear_orphaned_location(spark, target)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*_as_list(partition_by))
    if clustered_by:
        cols = _as_list(clustered_by)
        writer = writer.bucketBy(buckets, *cols)
        sort = cols if sorted_by is None else list(sorted_by)
        if sort:
            writer = writer.sortBy(*sort)
    writer.saveAsTable(target)
    return obs.get["n"]


def _as_list(cols: str | Sequence[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)
