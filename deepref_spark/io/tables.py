"""Checkpoint-resumable stage tables (north_rule: "checkpoint-resumable
stage boundaries", SURVEY.md §1.3).

The reference materializes every stage as CSV/txt files
(dataset.py:44-92) and resumes by checking file existence
(train.py:72-124). Here each stage boundary is a partitioned parquet
table under a warehouse directory plus a _STAGE_MANIFEST.json recording
schema, row count, and upstream lineage. ``ensure_stage`` recomputes
only when the manifest is missing — kill the job after stage k, rerun,
and stages 1..k are read back instead of recomputed.

Iceberg note: with an Iceberg catalog on the classpath these writes
become ``df.writeTo(table).createOrReplace()`` with the same partition
spec; the container has no Iceberg runtime jar, so the layer isolates
that swap behind write_stage/read_stage.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

MANIFEST = "_STAGE_MANIFEST.json"


def stage_path(warehouse: str, stage: str) -> str:
    return os.path.join(warehouse, stage)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme — file://,
    hdfs://, s3a://. The manifest I/O goes through this so the resume
    contract holds on a real cluster filesystem, not just the driver's
    local disk (driver-local open() silently scoped resume to file://)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write-then-rename: fs.create alone is not atomic, and a crash
    between create and close would leave an empty manifest that marks
    the stage complete (resume would then skip a stage whose lineage
    is unreadable). With temp+rename the manifest only ever exists at
    its final path fully written — rename is atomic on HDFS/file://;
    S3A turns it into copy+delete, still never a partial object."""
    import uuid

    fs, p = _hadoop_fs(spark, path)
    # writer-unique temp name: with a FIXED temp path two concurrent
    # resumers of the same stage could rename each other's still-open
    # partial temp into place — exactly the partial-manifest state this
    # protocol exists to prevent
    tmp_name = f"{path}.inprogress-{uuid.uuid4().hex}"
    tmp = spark._jvm.org.apache.hadoop.fs.Path(tmp_name)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"manifest rename failed: {tmp_name} -> {path}")


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _hadoop_fs(spark, path)
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def _fs_exists(spark: SparkSession | None, path: str) -> bool:
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:  # no JVM at hand: local-path semantics only
        return os.path.exists(path)
    fs, p = _hadoop_fs(spark, path)
    return fs.exists(p)


def write_stage(df: DataFrame, warehouse: str, stage: str,
                partition_by: list[str] | None = None,
                lineage: dict | None = None) -> str:
    """Write ``df`` as the stage's parquet table, then its manifest. The
    manifest's row count is observed on the write itself, so no second
    job re-reads the table to count it; each call observes under its
    own name, since one name may not appear twice in a plan."""
    import uuid

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    path = stage_path(warehouse, stage)
    obs = Observation(f"write_stage:{stage}:{uuid.uuid4().hex}")
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    manifest = {
        "stage": stage,
        "rows": obs.get["rows"],
        "schema": df.schema.simpleString(),
        "partition_by": partition_by or [],
        "lineage": lineage or {},
    }
    # Hadoop FS write: the manifest must land on the SAME filesystem as
    # the parquet (hdfs://, s3a://, ...) or cluster resume never fires
    _fs_write_text(df.sparkSession, os.path.join(path, MANIFEST),
                   json.dumps(manifest, indent=1))
    return path


def _read_manifest(warehouse: str, stage: str,
                  spark: SparkSession | None = None) -> dict | None:
    """The stage's manifest, or None when it is missing or does not
    parse as JSON. The parse guard covers manifests written before the
    temp+rename protocol (an existence-only check let a crash-truncated
    manifest mark a stage complete and corrupt later lineage reads)."""
    path = os.path.join(stage_path(warehouse, stage), MANIFEST)
    if spark is None:
        spark = SparkSession.getActiveSession()
    try:
        if spark is None:  # no JVM at hand: local-path semantics only
            with open(path) as f:
                return json.load(f)
        if not _fs_exists(spark, path):
            return None
        return json.loads(_fs_read_text(spark, path))
    except (OSError, ValueError):
        return None
    except Exception as e:  # noqa: BLE001 — JVM-side read races
        # a manifest deleted between _fs_exists and _fs_read_text
        # (exactly the window _fs_write_text's delete-then-rename
        # opens for a concurrent writer) surfaces as Py4JJavaError,
        # not OSError — incomplete is the correct answer, same as the
        # local-path semantics; anything non-IO still propagates
        if type(e).__name__ == "Py4JJavaError":
            return None
        raise


def stage_complete(warehouse: str, stage: str,
                   spark: SparkSession | None = None) -> bool:
    """Complete = the manifest exists AND parses as JSON."""
    return _read_manifest(warehouse, stage, spark) is not None


def read_stage(spark: SparkSession, warehouse: str, stage: str,
               schema: StructType | None = None) -> DataFrame:
    """The stage table; with ``schema`` the read skips parquet's
    schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(stage_path(warehouse, stage))


def _manifest_schema(manifest: dict) -> StructType | None:
    """The schema a manifest records, or None when it does not parse
    back to the same text (a truncated or unparseable simpleString)."""
    text = manifest.get("schema")
    try:
        schema = _parse_datatype_string(text)
    except Exception:  # noqa: BLE001 — parse errors surface from the JVM
        return None
    if not isinstance(schema, StructType) or schema.simpleString() != text:
        return None
    return schema


def ensure_stage(spark: SparkSession, warehouse: str, stage: str, compute,
                 partition_by: list[str] | None = None,
                 lineage: dict | None = None) -> DataFrame:
    """Resume point: reuse the stage table when its manifest exists,
    else compute + persist it. The table is read with the schema it
    was written with (the manifest's, on resume), so the read runs no
    schema-inference job; a manifest whose schema does not parse is
    read with inference."""
    manifest = _read_manifest(warehouse, stage, spark)
    if manifest is None:
        df = compute()
        write_stage(df, warehouse, stage, partition_by, lineage)
        schema = df.schema
    else:
        schema = _manifest_schema(manifest)
    return read_stage(spark, warehouse, stage, schema)


def write_label_map(path: str, mapping: dict[str, int]) -> None:
    """W3 — rel2id/upos2id/deps2id json artifacts (dataset.py:39-42,
    generate_parser.py:21-26), deterministically ordered."""
    with open(path, "w") as f:
        json.dump(dict(sorted(mapping.items(), key=lambda kv: kv[1])), f, indent=0)


def read_label_map(path: str) -> dict[str, int]:
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Graph-table materialization (north_rule: "partitioned Iceberg graph
# tables") — Iceberg when a catalog is configured, parquet otherwise.
# ---------------------------------------------------------------------------

def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None. Detection is by
    session conf (spark.sql.catalog.<name> = SparkCatalog/RESTCatalog
    ...), the standard way an Iceberg deployment announces itself."""
    try:
        confs = dict(spark.sparkContext.getConf().getAll())
        # getConf() only sees submit-time entries; catalogs set at
        # runtime via spark.conf.set() appear in SET output instead
        for r in spark.sql("SET").collect():
            confs.setdefault(r["key"], r["value"] or "")
    except Exception:
        return None
    for k, v in confs.items():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v.lower():
            return k.rsplit(".", 1)[-1]
    return None


def write_graph_table(df: DataFrame, warehouse: str, name: str,
                      partition_by: list[str] | None = None) -> str:
    """Materialize a graph table (triples / entities / lineage).

    With an Iceberg catalog configured this is
    ``df.writeTo(f"{cat}.kg.{name}").partitionedBy(...).createOrReplace()``
    — atomic snapshot, hidden partitioning, time travel for free. This
    container ships no Iceberg jar, so the probe falls back to the
    partitioned-parquet stage writer with the identical partition spec;
    the caller-visible contract (path/identifier in, resumable table
    out) is the same either way."""
    cat = iceberg_catalog(df.sparkSession)
    if cat is not None:
        ident = f"{cat}.kg.{name}"
        writer = df.writeTo(ident)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return ident
    return write_stage(df, warehouse, name, partition_by=partition_by,
                       lineage={"materialize": "graph_table", "iceberg": False})
