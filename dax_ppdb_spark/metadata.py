"""Key/value metadata table: schema + code version tracking.

Reference: the ``metadata`` table (``resources/config/schemas/
test_apdb_schema.yaml:6-20``) written at schema-creation time with the
schema and code versions (``sql/_ppdb_sql_base.py:252-265``) and read
back through ``ApdbMetadataSql``.  The table is a handful of rows, so
every mutation is a read-modify-write behind the same atomic pointer
swap the ledger uses.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .io.table import ParquetTable
from .session import local_df

METADATA_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("value", StringType(), False),
    ]
)

SCHEMA_VERSION_KEY = "version:schema"
CODE_VERSION_KEY = "version:code"


class Metadata:
    """Small string key/value store backed by a versioned parquet table."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.table = ParquetTable(path)

    def items(self) -> dict[str, str]:
        if not self.table.exists():
            return {}
        return {
            r.name: r.value for r in self.table.read(self.spark).collect()
        }

    def get(self, key: str, default: str | None = None) -> str | None:
        if not self.table.exists():
            return default
        rows = (
            self.table.read(self.spark).filter(F.col("name") == key).limit(1).collect()
        )
        return rows[0].value if rows else default

    def set(self, key: str, value: str) -> None:
        new = local_df(self.spark, [(key, str(value))], METADATA_SCHEMA)
        if self.table.exists():
            rest = self.table.read(self.spark).filter(F.col("name") != key)
            new = rest.unionByName(new)
        self.table.overwrite(new)

    def set_versions(self, schema_version: str, code_version: str) -> None:
        """The reference's creation-time bookkeeping
        (``_ppdb_sql_base.py:263-265``)."""
        self.set(SCHEMA_VERSION_KEY, schema_version)
        self.set(CODE_VERSION_KEY, code_version)
