"""Stage checkpointing + per-partition lineage.

Reference analog: the fingerprint file cache — each resource's extracted
prints are written to a .tdb file and re-read instead of re-extracted
(PanakoStrategy.java:181-207), plus bulk load (OlafStrategy.java:623-664).
We generalize that to *per-stage* checkpoints so a 10^12-row run resumes
mid-pipeline (north_rule requirement).

Two selectable backends with identical resume semantics:

  * iceberg — when a Spark catalog backed by
    `org.apache.iceberg.spark.SparkCatalog` is configured on the session
    AND the Iceberg runtime class is loadable, stage outputs go through
    real Iceberg table commits: `df.writeTo(cat.ns.table)
    .using("iceberg").createOrReplace()` for stage overwrites and
    `.append()` for lineage. The atomic visibility of a completed stage
    is Iceberg's own snapshot commit; the JSON manifest is still written
    (it carries run_id/rows/config_fp and keeps `is_complete` uniform
    across backends).
  * parquet (fallback, and the only one testable in this offline
    sandbox — no Iceberg jar is resolvable): a parquet directory +
    atomic JSON manifest:

    <root>/<table>/              parquet files
    <root>/_manifests/<table>.json   {"complete": true, rows, run_id, ...}

`backend="auto"` (default) probes for the Iceberg catalog on first
Spark-facing call and falls back to parquet; `backend="iceberg"` raises
if the catalog is absent (never a silent downgrade);
`backend="parquet"` forces the fallback.

The store is the only module that knows which backend is live: every
table operation goes through it — `write` (overwrite), `append`,
`delete_ids` (row-level delete), `drop`, `read` — and so does the
extraction-fingerprint check (`check_config_fp`) that pipeline resume,
incremental store and the streaming monitors run before they read or
extend prints/signatures. Callers (operators/store_ops,
streaming/monitor, pipeline) never branch on the backend or stamp a
manifest themselves.

A stage is "done" iff its manifest says complete — a killed run leaves no
manifest, so the next run recomputes that stage only. Lineage rows
(stage, partition_id, input_count, signature_count, band_count,
elapsed_ms, run_id) append to <root>/lineage/ (or the lineage Iceberg
table).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LINEAGE_FIELDS = (("stage", "string"), ("partition_id", "int"),
                  ("input_count", "long"), ("signature_count", "long"),
                  ("band_count", "long"), ("elapsed_ms", "long"),
                  ("run_id", "string"))
LINEAGE_COLUMNS = [n for n, _ in LINEAGE_FIELDS]
LINEAGE_SCHEMA = ", ".join(f"{n} {t}" for n, t in LINEAGE_FIELDS)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local rows (tuples in `schema`'s DDL column order) -> a
    DataFrame that plans as a LocalTableScan.

    The rows cross to the JVM as one Arrow batch. createDataFrame(list)
    would pickle them through a PythonRDD instead, and the first job
    over it then waits on a Python worker (measured at local[4]: a
    2.06 s one-task job to append ~25 lineage rows). A pyarrow.Table
    takes the Arrow path whatever the session's
    spark.sql.execution.arrow.pyspark.enabled says."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st))
    return spark.createDataFrame(table, st)

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff `catalog` is a configured Spark catalog whose
    implementation class (the public Iceberg-Spark runtime entry point)
    is loadable in this JVM."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl:
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)
        return True
    except Exception:
        return False


class IcebergWriter:
    """Every Iceberg DDL/DML call-shape behind one seam.

    No Iceberg jar resolves in the offline sandbox, so the commit path
    can't be integration-tested here; this seam makes the exact call
    SEQUENCES (createOrReplace vs append vs create-on-first-append,
    DELETE/DROP SQL text) assertable by injecting a recording fake
    (tests/test_iceberg_seam.py), and a skipif-gated integration test
    runs the real thing where the runtime jar exists. Reference analog:
    the KV storage engine is the reference's most-exercised code
    (PanakoStorageKV.java:123-228).

    `requires_catalog` tells the store whether backend resolution must
    probe for a configured JVM catalog (True for this default writer —
    its writeTo/SQL calls need one) or the writer is self-contained
    (False for io.iceberg_lite.IcebergLiteWriter, which commits table
    metadata beside the JVM)."""

    requires_catalog = True

    def create_namespace(self, spark: SparkSession, catalog: str,
                         namespace: str) -> None:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def create_or_replace(self, df: DataFrame, name: str,
                          partition_by: list[str] | None = None) -> None:
        wt = df.writeTo(name).using("iceberg")
        if partition_by:
            from pyspark.sql.functions import col
            wt = wt.partitionedBy(*[col(c) for c in partition_by])
        wt.createOrReplace()   # one atomic Iceberg snapshot commit

    def append(self, df: DataFrame, name: str) -> None:
        df.writeTo(name).append()

    def append_or_create(self, df: DataFrame, name: str) -> None:
        try:
            df.writeTo(name).append()
        except Exception:
            # first append creates the table (one extra commit, once)
            df.writeTo(name).using("iceberg").create()

    def delete_ids(self, spark: SparkSession, name: str,
                   ids_view: str) -> None:
        spark.sql(f"DELETE FROM {name} WHERE image_id IN "
                  f"(SELECT image_id FROM {ids_view})")

    def drop_table(self, spark: SparkSession, name: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.table(name)


class CheckpointStore:
    def __init__(self, root: str, run_id: str | None = None,
                 backend: str = "auto", iceberg_catalog: str = "panako",
                 iceberg_namespace: str | None = None,
                 iceberg_writer: IcebergWriter | None = None):
        if backend not in ("auto", "parquet", "iceberg"):
            raise ValueError(f"unknown backend {backend!r}")
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.backend = backend
        self.iceberg_catalog = iceberg_catalog
        # one namespace per store root so two stores never collide: a
        # hash of the FULL root path (a truncated suffix would let two
        # roots sharing a 48-char sanitized tail overwrite each other)
        if iceberg_namespace:
            self.iceberg_namespace = iceberg_namespace
        else:
            import hashlib
            tag = hashlib.blake2b(root.encode(), digest_size=6).hexdigest()
            leaf = re.sub(r"[^A-Za-z0-9_]", "_", root).strip("_")[-24:]
            self.iceberg_namespace = f"ns_{leaf}_{tag}"
        self.iceberg = iceberg_writer or IcebergWriter()
        self._use_iceberg: bool | None = (
            False if backend == "parquet" else None)
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ---- backend selection -------------------------------------------------
    def _iceberg(self, spark: SparkSession) -> bool:
        """Resolve the backend once per store (probing needs a session)."""
        if self._use_iceberg is None:
            ok = (not getattr(self.iceberg, "requires_catalog", True)
                  or iceberg_available(spark, self.iceberg_catalog))
            if self.backend == "iceberg" and not ok:
                raise RuntimeError(
                    f"backend='iceberg' requested but catalog "
                    f"'{self.iceberg_catalog}' is not configured or the "
                    f"Iceberg runtime ({ICEBERG_CATALOG_CLASS}) is not on "
                    "the classpath; add the iceberg-spark-runtime jar via "
                    "spark.jars.packages and set spark.sql.catalog."
                    f"{self.iceberg_catalog}")
            self._use_iceberg = ok
            if ok:
                self.iceberg.create_namespace(
                    spark, self.iceberg_catalog, self.iceberg_namespace)
        return self._use_iceberg

    def qualified_name(self, table: str) -> str:
        return f"{self.iceberg_catalog}.{self.iceberg_namespace}.{table}"

    # ---- manifests ---------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, "_manifests", f"{table}.json")

    def is_complete(self, table: str) -> bool:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                return bool(json.load(f).get("complete"))
        except (json.JSONDecodeError, OSError):
            return False

    def _mark_complete(self, table: str, rows: int,
                       config_fp: str | None = None) -> None:
        p = self._manifest_path(table)
        tmp = p + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"complete": True, "rows": rows, "table": table,
                       "run_id": self.run_id, "ts": time.time(),
                       "config_fp": config_fp}, f)
        os.replace(tmp, p)  # atomic on POSIX

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {}
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return {}

    def check_config_fp(self, table: str, config_fp: str) -> None:
        """Refuse to read or extend a table written under another
        extraction fingerprint (PanakoConfig.extraction_fingerprint):
        appending prints extracted under a different extractor config
        (e.g. log_freq toggled — every landmark hash moves) or resuming
        from an older table layout (config.STORE_FORMAT) would silently
        produce a store whose cross-boundary pairs never match. A
        manifest with no fingerprint predates the stamp and is refused
        too."""
        stored = self.manifest(table).get("config_fp")
        if stored != config_fp:
            raise ValueError(
                f"checkpoint table '{table}' was written with extractor "
                f"config {stored}, current config is {config_fp}; "
                "re-extract the store (clear it and run again) or "
                "restore the original config — reading it would mix "
                "incompatible fingerprint formats.")

    def invalidate(self, table: str) -> None:
        p = self._manifest_path(table)
        if os.path.exists(p):
            os.remove(p)

    # ---- tables ------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None,
              config_fp: str | None = None, rows: int = -1) -> int:
        """Overwrite-write a stage output and mark it complete.

        The manifest records `rows` as the caller knows it (-1 =
        unknown): re-scanning the output to count it would cost one
        extra driver-serial job per stage. config_fp stamps the
        extractor-config fingerprint for tables whose row format depends
        on it (prints/signatures).
        """
        if self._iceberg(df.sparkSession):
            self.iceberg.create_or_replace(df, self.qualified_name(table),
                                           partition_by)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(table))
        self._mark_complete(table, rows, config_fp=config_fp)
        return rows

    def append(self, df: DataFrame, table: str, rows: int,
               config_fp: str | None = None) -> int:
        """Append to a complete table (one atomic Iceberg commit, or a
        parquet append) and restamp its manifest: the row count
        accumulates `rows`, and an unknown count (-1) on either side
        stays unknown. Returns the new count."""
        if self._iceberg(df.sparkSession):
            self.iceberg.append(df, self.qualified_name(table))
        else:
            df.write.mode("append").parquet(self.path(table))
        prev = self.manifest(table).get("rows", -1)
        total = prev + rows if prev >= 0 and rows >= 0 else -1
        self._mark_complete(table, total, config_fp=config_fp)
        return total

    def delete_ids(self, spark: SparkSession, table: str,
                   ids_df: DataFrame) -> None:
        """Remove every row whose image_id is in `ids_df` (one column,
        image_id). Iceberg: one row-level DELETE commit. Parquet: an
        anti-join rewrite into a sibling directory, then a swap; the
        manifest is invalidated before the old copy is removed and
        restamped (rows unknown, same fingerprint) only after the swap,
        so a kill mid-swap leaves an incomplete table, never a
        "complete" manifest over a missing directory."""
        fp = self.manifest(table).get("config_fp")
        if self._iceberg(spark):
            ids_df.createOrReplaceTempView("_panako_delete_ids")
            self.iceberg.delete_ids(spark, self.qualified_name(table),
                                    "_panako_delete_ids")
        else:
            tmp = self.path(f"{table}__rewrite")
            (self.read(spark, table)
             .join(F.broadcast(ids_df), "image_id", "left_anti")
             .write.mode("overwrite").parquet(tmp))
            self.invalidate(table)
            shutil.rmtree(self.path(table))
            shutil.move(tmp, self.path(table))
        self._mark_complete(table, -1, config_fp=fp)

    def drop(self, table: str, spark: SparkSession | None = None) -> None:
        """Drop a table and its manifest (manifest first, so a kill
        mid-drop leaves an incomplete table). Pass `spark` when the
        store may be Iceberg-backed (DROP TABLE needs a session); the
        parquet fallback is pure filesystem."""
        self.invalidate(table)
        if spark is not None and self._iceberg(spark):
            self.iceberg.drop_table(spark, self.qualified_name(table))
        else:
            shutil.rmtree(self.path(table), ignore_errors=True)

    def read(self, spark: SparkSession, table: str,
             schema: StructType | None = None) -> DataFrame:
        """Read a table. `schema` is the schema of the frame this run
        just wrote to it: a parquet read then skips footer inference,
        a one-task Spark job per read. Iceberg reads take the table's
        own schema and ignore it."""
        if self._iceberg(spark):
            return self.iceberg.read_table(spark,
                                           self.qualified_name(table))
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def read_or_compute(self, spark: SparkSession, table: str,
                        compute) -> DataFrame:
        """The resume primitive: reuse a complete checkpoint, else compute,
        write, and re-read (so downstream stages scan parquet, not the
        whole upstream lineage). The re-read carries the written frame's
        schema, so a fresh stage costs its write job alone."""
        if self.is_complete(table):
            return self.read(spark, table)
        df = compute()
        self.write(df, table)
        return self.read(spark, table, schema=df.schema)

    # ---- lineage -----------------------------------------------------------
    def append_lineage(self, df: DataFrame) -> None:
        """Append lineage rows (schema LINEAGE_COLUMNS)."""
        out = df.select(*LINEAGE_COLUMNS)
        if self._iceberg(df.sparkSession):
            self.iceberg.append_or_create(out, self.qualified_name("lineage"))
        else:
            out.write.mode("append").parquet(
                os.path.join(self.root, "lineage"))

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        if self._iceberg(spark):
            return self.iceberg.read_table(spark,
                                           self.qualified_name("lineage"))
        return spark.read.parquet(os.path.join(self.root, "lineage"))
