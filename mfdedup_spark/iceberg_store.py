"""IcebergStore — the production backend DedupStore's API is shaped for
(store.py:31-43 documents the method-by-method mapping; this class makes
it executable the moment an Iceberg runtime jar is on the classpath).

This container ships no Iceberg jars (disclosed environment constraint,
SURVEY §7 hard part (d)), so everything here is jar-gated:
``iceberg_available()`` checks the pyspark jars dir, ``configure_builder``
injects the catalog conf, and the integration test
(tests/test_extras.py::test_iceberg_store_integration) skips cleanly when
the runtime is absent. On real infra the switch is a config flip:

    builder = IcebergStore.configure_builder(
        SparkSession.builder, warehouse="s3://bucket/wh")
    store = IcebergStore(builder.getOrCreate())

and every plan (ingest/arrange/restore/retention) runs unchanged — the
plans only talk to the six-method store contract.

Semantics parity with the directory emulation:
- write_partition        → INSERT OVERWRITE t PARTITION-scoped (via
                           dynamic overwrite limited to one key value);
                           Iceberg replaces exactly the files of that
                           partition in one snapshot commit
- write_partitions       → dynamic partition overwrite ≡ Iceberg
                           REPLACE WHERE on the partitions present
- read_partitions        → partition-pruned scan (predicate on the
                           identity-partition column hits table metadata,
                           no file listing)
- drop_partition         → metadata-only DELETE WHERE on the partition
                           column (Iceberg drops whole data files whose
                           partition matches — no rewrite)
- list_partitions        → the ``t.partitions`` metadata table
- read/write_manifest    → single-row ``manifest`` table; the snapshot
                           commit IS the atomic pointer swap the JSON
                           os.replace emulates
- write_partition_staged → plain overwrite: Iceberg writes new files
                           first and swaps the snapshot pointer, so the
                           self-overwrite hazard the staged swap works
                           around (store.py) does not exist here
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdedup_spark.store import STORE_FORMAT, StoreFormatError


def iceberg_available() -> bool:
    """True iff an Iceberg Spark runtime jar is on the default classpath
    (the gate for the integration test and for IcebergStore itself)."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))
    except Exception:
        return False


# --------------------------------------------------------------------------
# SQL construction, split out as pure functions so the DDL/DML this class
# would issue is unit-testable WITHOUT a jar (VERDICT r04 task 6: the
# class's first execution must not be its first syntax check). Each takes
# already-qualified table names; IcebergStore supplies them via _tbl().
def create_namespace_sql(namespace_fqn: str) -> str:
    return f"CREATE NAMESPACE IF NOT EXISTS {namespace_fqn}"


def create_table_ddl(table_fqn: str, fields: list[tuple[str, str]], key: str) -> str:
    """CREATE TABLE ... USING iceberg PARTITIONED BY (key); ``fields`` is
    [(column, spark simpleString type), ...] from a DataFrame schema."""
    cols = ", ".join(f"{name} {dtype}" for name, dtype in fields)
    return (
        f"CREATE TABLE IF NOT EXISTS {table_fqn} ({cols}) "
        f"USING iceberg PARTITIONED BY ({key})"
    )


def create_manifest_ddl(table_fqn: str) -> str:
    return f"CREATE TABLE {table_fqn} (body string) USING iceberg"


def insert_overwrite_from_view_sql(table_fqn: str, view: str) -> str:
    return f"INSERT OVERWRITE {table_fqn} SELECT * FROM {view}"


def list_partitions_sql(table_fqn: str, key: str) -> str:
    """Query the ``.partitions`` metadata table — a pure metadata read."""
    return f"SELECT partition.{key} AS v FROM {table_fqn}.partitions"


def delete_partition_dml(table_fqn: str, key: str, value: int) -> str:
    """A DELETE wholly aligned to identity partitions: Iceberg drops the
    partition's data files from the snapshot without rewriting any."""
    return f"DELETE FROM {table_fqn} WHERE {key} = {int(value)}"


class IcebergStore:
    """DedupStore's contract against a real Iceberg catalog.

    Tables live under ``<catalog>.<namespace>`` and are identity-
    partitioned on their key column, so every partition predicate the
    plans issue prunes from table metadata (the Iceberg analogue of the
    reference's per-category files, /root/reference/Utility/
    ChunkWriterManager.h:30)."""

    #: (table, partition key) pairs the plans address — identical names
    #: to the directory emulation so plan code needs zero changes
    PARTITIONED_TABLES = {
        "chunk_store": "category",
        "archived": "archive_version",
        "recipes": "version",
        "fp_index": "version",
        "classification": "version",
        "clusters": "version",
        "drop_log": "version",
        "metrics": "version",
    }

    def __init__(
        self,
        spark: SparkSession,
        catalog: str = "mfdedup",
        namespace: str = "dedup",
    ):
        if not iceberg_available():
            raise RuntimeError(
                "IcebergStore requires an iceberg-spark-runtime jar on the "
                "classpath; this environment has none — use DedupStore "
                "(directory emulation) instead"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.root = f"{catalog}.{namespace}"
        spark.sql(create_namespace_sql(self.root))

    @staticmethod
    def configure_builder(
        builder, warehouse: str, catalog: str = "mfdedup"
    ):
        """Session conf for a Hadoop-catalog warehouse (swap
        ``type=hadoop`` for hive/rest/glue on managed infra)."""
        return (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{catalog}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{catalog}.type", "hadoop")
            .config(f"spark.sql.catalog.{catalog}.warehouse", warehouse)
        )

    # --------------------------------------------------------------- helpers
    def _tbl(self, table: str) -> str:
        return f"{self.root}.{table}"

    def _ensure_table(self, df: DataFrame, table: str, key: str) -> None:
        fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        self.spark.sql(create_table_ddl(self._tbl(table), fields, key))

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(table))

    # ------------------------------------------------------------- manifest
    def read_manifest(self) -> dict:
        if not self.exists("manifest"):
            return {"total_version": 0, "arrangement_fall_behind": 0}
        row = self.spark.table(self._tbl("manifest")).first()
        if row is None:
            # crash window between CREATE TABLE and the first INSERT
            # OVERWRITE: an existing-but-empty manifest is a fresh store,
            # not a TypeError (ADVICE r04)
            return {"total_version": 0, "arrangement_fall_behind": 0}
        m = json.loads(row["body"])
        fmt = m.get("format", 1)
        if fmt != STORE_FORMAT:
            raise StoreFormatError(
                f"warehouse {self.root} is store format {fmt}, this engine "
                f"reads format {STORE_FORMAT}: reingest required"
            )
        return m

    def write_manifest(self, m: dict) -> None:
        """One-row overwrite; the Iceberg snapshot commit is the atomic
        pointer swap (Manifest.h:14-21 analogue)."""
        body = json.dumps({**m, "format": STORE_FORMAT})
        df = self.spark.createDataFrame([(body,)], "body string")
        if not self.exists("manifest"):
            self.spark.sql(create_manifest_ddl(self._tbl("manifest")))
        df.createOrReplaceTempView("_mf_manifest_stage")
        self.spark.sql(
            insert_overwrite_from_view_sql(
                self._tbl("manifest"), "_mf_manifest_stage"
            )
        )

    # --------------------------------------------------------------- tables
    def write_partition(
        self, df: DataFrame, table: str, key: str, value, sort_cols=None
    ) -> None:
        out = df
        if key not in out.columns:
            out = out.withColumn(key, F.lit(value))
        self._ensure_table(out, table, key)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        # REPLACE WHERE scoped to one partition value: one snapshot commit
        # replacing exactly that partition's files
        out.writeTo(self._tbl(table)).overwritePartitions()

    # Iceberg writes-new-then-swaps, so the self-overwrite staged swap of
    # the directory emulation is unnecessary — same commit semantics
    write_partition_staged = write_partition

    def write_partitions(
        self, df: DataFrame, table: str, key: str, sort_cols=None
    ) -> None:
        self._ensure_table(df, table, key)
        out = df
        if sort_cols:
            out = out.sortWithinPartitions(F.col(key), *sort_cols)
        out.writeTo(self._tbl(table)).overwritePartitions()

    def read_partitions(self, table: str, key: str, values: list) -> DataFrame | None:
        if not self.exists(table) or not values:
            return None
        have = set(self.list_partitions(table, key))
        vals = [v for v in values if v in have]
        if not vals:
            return None
        return self.spark.table(self._tbl(table)).where(F.col(key).isin(vals))

    def read_table(self, table: str) -> DataFrame:
        return self.spark.table(self._tbl(table))

    read = read_table

    def list_partitions(self, table: str, key: str) -> list[int]:
        if not self.exists(table):
            return []
        # the partitions metadata table: a pure metadata read, no scan
        rows = self.spark.sql(list_partitions_sql(self._tbl(table), key)).collect()
        return sorted(int(r["v"]) for r in rows)

    def drop_partition(self, table: str, key: str, value) -> bool:
        """Metadata-only: a DELETE wholly aligned to identity partitions
        drops data files from the snapshot without rewriting any."""
        if not self.exists(table) or value not in self.list_partitions(table, key):
            return False
        self.spark.sql(delete_partition_dml(self._tbl(table), key, value))
        return True

    # ---------------------------------------------- append-only side tables
    def append_lineage(self, rows: list[dict]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(
            [
                (
                    r["partition_id"],
                    int(r["version"]),
                    int(r["rows"]),
                    int(r["bytes"]),
                    r["state"],
                )
                for r in rows
            ],
            "partition_id string, version int, rows long, bytes long, state string",
        )
        if not self.exists("lineage"):
            self._ensure_table(df, "lineage", "version")
        df.writeTo(self._tbl("lineage")).append()

    def read_lineage(self) -> DataFrame | None:
        return self.read_table("lineage") if self.exists("lineage") else None

    def append_stage_stats(self, version: int, rows: list[dict]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(
            [(r["stage"], float(r["seconds"]), int(version)) for r in rows],
            "stage string, seconds double, version int",
        )
        if not self.exists("stage_stats"):
            self._ensure_table(df, "stage_stats", "version")
        df.writeTo(self._tbl("stage_stats")).append()

    def read_stage_stats(self) -> DataFrame | None:
        return (
            self.read_table("stage_stats")
            if self.exists("stage_stats")
            else None
        )

    # ------------------------------------------------- staged-swap recovery
    # Iceberg snapshots never leave half-written partitions behind, so the
    # recovery hooks are no-ops kept for API compatibility with callers
    def list_stages(self, table: str, key: str) -> list[int]:
        return []

    def recover_partition_stage(self, *a, **k) -> bool:
        return False

    def read_stage_partition(self, table: str, key: str, value) -> None:
        """No crashed stages can exist under snapshot commits."""
        return None
