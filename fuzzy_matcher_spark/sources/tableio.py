"""TableIO — thin storage abstraction (SURVEY.md §7.0).

The north rule targets Iceberg tables; this sandbox has no
iceberg-spark-runtime jar, so TableIO exposes the snapshot semantics
the pipeline needs (append / overwrite / row-level delete / readable
snapshot list) over two backends:

- ``IcebergTableIO``: thin wrapper over a configured Iceberg catalog
  (used when ``spark.sql.catalog.<name>`` is set and the runtime jar
  is on the classpath). Append = iceberg append, delete = MERGE/
  DELETE WHERE, snapshots = table history.
- ``ParquetTableIO``: parquet-directory emulation. Each write creates
  ``<root>/<table>/snap-<n>/`` plus a ``_manifest.json`` recording the
  live snapshot chain; reads union the live snapshots; deletes rewrite
  into a new snapshot (copy-on-write, like Iceberg COW). Atomicity is
  manifest-swap (single JSON rename), good enough for single-writer
  pipelines; a real deployment uses the Iceberg backend.

  Schema stamp: each snapshot entry records the schema it was written
  with (``df.schema``, made nullable as Spark's parquet writer stores
  it). When every live snapshot carries the same stamp, ``read`` hands
  it to ``spark.read.schema`` and skips the footer-inference job that
  a plain ``spark.read.parquet`` runs; manifests without a stamp, and
  appends whose stamps differ, fall back to inference.

Two calls serve checkpoint bookkeeping from metadata and driver-side
rows (on ParquetTableIO neither launches a Spark job):

- ``part_rows(table)``: (writer partition id, rows) of every non-empty
  live data file — parquet footers read with pyarrow on the driver,
  or Iceberg's ``files`` metadata table. A truncated part file fails
  the footer read.
- ``append_rows(table, rows, ddl)``: append a few driver-side rows —
  one pyarrow-written parquet file per snapshot, or a JVM-literal
  DataFrame appended to the Iceberg table.

Pipeline code (plans/pipeline.py) only sees this interface, so the
execution plan is identical under both backends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# the writer task's partition id in a data file name: Spark's
# ``part-00003-<uuid>-c000.snappy.parquet``, Iceberg's ``00003-<task>-<uuid>-…``
_PART_ID = re.compile(r"(?:part-)?(\d+)")


def _part_id(path: str) -> int:
    return int(_PART_ID.match(os.path.basename(path)).group(1))


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the schema
    Spark's parquet writer stores, and so the one inference reads back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class TableIO:
    def read(self, table: str) -> DataFrame: ...
    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None: ...
    def delete_where(self, table: str, predicate: str) -> None: ...
    def exists(self, table: str) -> bool: ...
    def snapshots(self, table: str) -> list[dict]: ...
    def part_rows(self, table: str) -> list[tuple[int, int]]:
        """(writer partition id, rows) per non-empty live data file,
        from file metadata rather than a scan of the data."""
        ...

    def append_rows(self, table: str, rows: list[tuple], ddl: str) -> None:
        """Append driver-side ``rows`` (tuples in ``ddl`` column order)
        with no Python-worker hop; no-op for an empty list."""
        ...

    def delete_matching(self, table: str, keys: DataFrame, key_col: str) -> None:
        """Row-level delete driven by a DataFrame of keys — the bulk
        path. Never collects the key set to the driver: a 10M-row
        delete set stays distributed (an `IN (...)` predicate string
        would OOM the driver and overflow the SQL parser). Parquet
        backend: anti-join rewrite into a new snapshot (COW); Iceberg
        backend: MERGE ... WHEN MATCHED THEN DELETE with the keys
        DataFrame as source."""
        kc = keys.columns[0]
        survivors = self.read(table).join(
            keys.select(F.col(kc).alias(key_col)).distinct(), key_col, "left_anti"
        )
        self.write(survivors, table, mode="overwrite")


class ParquetTableIO(TableIO):
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._dir(table), "_manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _commit(self, table: str, manifest: dict) -> None:
        p = self._manifest_path(table)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)  # atomic manifest swap

    # -- interface ----------------------------------------------------------
    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table)["snapshots"])

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)["snapshots"]

    def _live(self, table: str) -> list[dict]:
        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return [s for s in snaps if s["live"]]

    def read(self, table: str) -> DataFrame:
        live = self._live(table)
        stamps = [s.get("schema") for s in live]
        reader = self.spark.read
        if stamps[0] and all(st == stamps[0] for st in stamps):
            reader = reader.schema(T.StructType.fromJson(stamps[0]))
        return reader.parquet(*[s["path"] for s in live])

    def part_rows(self, table: str) -> list[tuple[int, int]]:
        out = []
        for snap in self._live(table):
            pattern = os.path.join(snap["path"], "**", "part-*")
            for f in sorted(glob.glob(pattern, recursive=True)):
                n = pq.ParquetFile(f).metadata.num_rows
                if n:
                    out.append((_part_id(f), n))
        return out

    def _new_snapshot(self, table: str) -> tuple[dict, str]:
        """(manifest, path of the snapshot to write next)."""
        m = self._load_manifest(table)
        return m, os.path.join(self._dir(table), f"snap-{len(m['snapshots']):05d}")

    def _add_snapshot(
        self, table: str, m: dict, path: str, mode: str, schema: T.StructType | None
    ) -> None:
        """Commit the written ``path`` as the next snapshot, stamped
        with ``schema`` (None: read by inference)."""
        snap_id = len(m["snapshots"])
        if mode == "overwrite":
            for s in m["snapshots"]:
                s["live"] = False
        m["snapshots"].append(
            {
                "id": snap_id,
                "path": path,
                "live": True,
                "ts": time.time(),
                "op": mode,
                "schema": schema and _nullable(schema).jsonValue(),
            }
        )
        self._commit(table, m)

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        assert mode in ("overwrite", "append")
        m, path = self._new_snapshot(table)
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style partition dirs -> partition pruning on read
            # (Iceberg backend uses hidden partitioning instead); the
            # partition columns move to the end of the read schema, so
            # such snapshots carry no stamp and read by inference
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._add_snapshot(table, m, path, mode, None if partition_by else df.schema)

    def append_rows(self, table: str, rows: list[tuple], ddl: str) -> None:
        if not rows:
            return
        schema = T.StructType.fromDDL(ddl)
        m, path = self._new_snapshot(table)
        os.makedirs(path)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
            ),
            os.path.join(path, "part-00000.parquet"),
        )
        self._add_snapshot(table, m, path, "append", schema)

    def delete_where(self, table: str, predicate: str) -> None:
        """Copy-on-write row-level delete: rewrite survivors into a new
        snapshot (Iceberg COW semantics)."""
        survivors = self.read(table).where(f"NOT ({predicate})")
        self.write(survivors, table, mode="overwrite")


class IcebergTableIO(TableIO):
    """Wrapper over a configured Iceberg catalog; untestable in this
    sandbox (no runtime jar) but the call surface is the production
    path. Guarded by iceberg_available()."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "default"):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"

    def _fq(self, table: str) -> str:
        return f"{self.prefix}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fq(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._fq(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        writer = df.writeTo(self._fq(table))
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            # append() throws on a missing table, and the append-only
            # tables (_metrics/_lineage, streaming SIG/PAIR) are never
            # pre-created — create on first write, then append. The
            # exists()/create() pair races under concurrent appenders
            # (two parallel runs both see the table absent): catch the
            # loser's already-exists error and retry as a plain append.
            if not self.exists(table):
                try:
                    writer.create()
                except Exception as e:
                    # only the create-race loser ("already exists")
                    # retries as append; 'namespace/table does not
                    # exist' failures must surface as themselves
                    if "already exist" not in str(e).lower():
                        raise
                    writer.append()
            else:
                writer.append()
        else:
            writer.createOrReplace()

    def delete_where(self, table: str, predicate: str) -> None:
        self.spark.sql(f"DELETE FROM {self._fq(table)} WHERE {predicate}")

    def delete_matching(self, table: str, keys: DataFrame, key_col: str) -> None:
        """Distributed row-level delete: MERGE with the key DataFrame
        as source (no driver-side key materialization). Iceberg plans
        this as a position/equality-delete commit, not a full rewrite."""
        kc = keys.columns[0]
        # uuid-suffixed view: a fixed name lets two concurrent
        # delete_matching calls in one SparkSession clobber each
        # other's source view between registration and the MERGE
        view = f"_delete_keys_{uuid.uuid4().hex}"
        keys.select(F.col(kc).alias(key_col)).distinct().createOrReplaceTempView(
            view
        )
        try:
            self.spark.sql(
                f"MERGE INTO {self._fq(table)} t USING {view} s "
                f"ON t.{key_col} = s.{key_col} WHEN MATCHED THEN DELETE"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def part_rows(self, table: str) -> list[tuple[int, int]]:
        # the files metadata table: the current snapshot's data files
        # with the record counts committed for them (reads manifests,
        # not data files)
        files = self.spark.sql(
            f"SELECT file_path, record_count FROM {self._fq(table)}.files"
        ).collect()
        return [(_part_id(r.file_path), r.record_count) for r in files if r.record_count]

    def append_rows(self, table: str, rows: list[tuple], ddl: str) -> None:
        if not rows:
            return
        # built from literals in the JVM: createDataFrame(list) would go
        # through a Python RDD, i.e. Python workers, for a few rows
        fields = T.StructType.fromDDL(ddl).fields
        structs = [
            F.struct(
                *(F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, fields))
            )
            for r in rows
        ]
        df = self.spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))
        self.write(df, table, mode="append")

    def snapshots(self, table: str) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at, operation FROM "
            f"{self._fq(table)}.snapshots"
        ).collect()
        return [r.asDict() for r in rows]


def iceberg_available(spark: SparkSession, catalog: str = "local") -> bool:
    try:
        spark.conf.get(f"spark.sql.catalog.{catalog}")
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def get_tableio(spark: SparkSession, root: str, catalog: str = "local") -> TableIO:
    if iceberg_available(spark, catalog):
        return IcebergTableIO(spark, catalog)
    return ParquetTableIO(spark, root)
