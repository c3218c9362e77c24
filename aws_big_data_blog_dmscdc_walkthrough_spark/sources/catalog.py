"""Spark-catalog registration of lake tables — the reference's consumer
step re-expressed.

The reference's walkthrough ends with a Glue crawler registering each
``<lake>/<schema>/<table>/`` folder so users query it by NAME through
Athena/Spark SQL (reference README.md, "Query the data lake"). This
module is the SparkSession-native analogue: an external (LOCATION-based)
table per lake folder, so ``spark.sql("SELECT * FROM schema.table")``
works without the user knowing the path. At real scale the same calls
target a shared Hive metastore / Glue catalog — the SQL is identical.

The catalog table declares the schema and partition keys the table's
manifest records, so a string partition value such as ``"007"`` stays a
string, and no registration scans the directory to infer a schema.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from . import manifest as manifest_mod


def _quote(ident: str) -> str:
    """Backtick-quote a catalog identifier (folder names may carry
    characters SQL identifiers can't)."""
    return "`" + ident.replace("`", "``") + "`"


def register_table(spark: SparkSession, path: str, schema: str, table: str) -> str:
    """(Re-)register a lake folder as an external catalog table with an
    explicit column list and ``PARTITIONED BY``, from
    ``manifest.table_schema`` and ``manifest.partition_keys``.

    Registration is IDEMPOTENT on the common path: when the catalog
    metadata already has these columns, location and partition columns,
    only a refresh (or MSCK partition recovery) runs — no DROP, so
    concurrent SQL readers never hit a TABLE_OR_VIEW_NOT_FOUND window
    between micro-batches. Drop + recreate happens only when one of the
    three changed (additive evolution, a table moved to a new path, a
    reload that changed the partition layout); DROP on an external table
    never touches data. Returns the qualified name.
    """
    db, tbl = _quote(schema), _quote(table)
    qualified = f"{db}.{tbl}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    man = manifest_mod.read_manifest(spark, path)
    recorded = manifest_mod.table_schema(spark, path, man)
    keys = manifest_mod.partition_keys(spark, path, man)
    # the catalog lists partition columns last
    columns = StructType(
        [f for f in recorded.fields if f.name not in keys] + [recorded[k] for k in keys]
    )
    recreate = True
    if spark.catalog.tableExists(qualified):
        jss = spark._jsparkSession
        meta = jss.sessionState().catalog().getTableMetadata(
            jss.sessionState().sqlParser().parseTableIdentifier(qualified)
        )
        registered = StructType.fromJson(json.loads(meta.schema().json()))
        Path, fs = manifest_mod._fs(spark, path)
        location = fs.makeQualified(Path(path)).toString()
        recreate = (
            # names and types in order; nullability is not compared
            registered.simpleString() != columns.simpleString()
            or Path(meta.location()).toString() != location
            or meta.partitionColumnNames().mkString(",") != ",".join(keys)
        )
    if recreate:
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
        ddl = manifest_mod._jclass(spark._jvm, "org.apache.spark.sql.types.DataType")
        cols = ddl.fromJson(columns.json()).toDDL()
        parts = f" PARTITIONED BY ({', '.join(map(_quote, keys))})" if keys else ""
        escaped = path.replace("'", "\\'")
        spark.sql(
            f"CREATE TABLE {qualified} ({cols}) USING parquet{parts} LOCATION '{escaped}'"
        )
    if keys:
        spark.sql(f"MSCK REPAIR TABLE {qualified}")
    else:
        spark.catalog.refreshTable(qualified)
    return qualified

