"""Spark ingest job: object paths -> mapInPandas read + extraction ->
partitioned Parquet lake + quarantine sink.

This is the reference's whole serverless pipeline (S3 event -> Lambda ->
pydicom -> awswrangler Parquet, SURVEY §3.1) as one declarative Spark
job. The Lambda/Batch 500 MB size router (src/app.py:118-184) dissolves:
task scheduling handles all object sizes.

Every ingest mode runs the same two steps: ``extract_from_listing``
turns a frame of object paths into metadata rows (batch ingest lists
with ``sources.binary.list_binary_objects``; ``watch`` feeds each
micro-batch's new paths) and ``write_extracted`` splits them into the
lake and the quarantine.

Scale notes (100 TB target):
- the driver only lists paths; workers open the objects themselves
  (``ingest.extract.read_extract``, with the 10 MB ranged .dcm cap), so
  only the small metadata rows cross a process boundary.
- extraction is an Arrow-batched mapInPandas (not per-row Python UDF).
- the lake is Hive-partitioned on study_date so Catalyst prunes
  partitions on the query side; writes repartition by the partition
  column first so each task writes few files (avoids the
  small-files explosion of per-task-per-partition writers).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import DICOM_METADATA_SCHEMA, INGEST_SCHEMA, PARTITION_COL
from .extract import read_extract


def _read_extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in INGEST_SCHEMA.fields]
    for pdf in batches:
        rows = list(read_extract(pdf["path"]))
        if rows:
            yield pd.DataFrame(rows, columns=cols)


def extract_from_listing(listing: DataFrame) -> DataFrame:
    """Frame with a ``path`` column -> canonical metadata rows with an
    ``error`` channel, reading AND extracting in one Python pass.

    Bytes are opened and parsed in the same worker and only the (small)
    metadata rows cross back. Per-object I/O (and the 10 MB ranged .dcm
    cap) lives worker-side, exactly where it belongs on a real cluster
    doing ranged object-store GETs."""
    return listing.select("path").mapInPandas(_read_extract_batches, schema=INGEST_SCHEMA)


def write_extracted(
    extracted: DataFrame, lake_path: str, quarantine_path: str | None = None
) -> tuple[int, int]:
    """Append good rows to the lake and error rows to the quarantine;
    returns (lake_rows, quarantined_rows). The one sink of every ingest
    mode."""
    if "://" not in lake_path or lake_path.startswith("file:"):
        # a batch with no good rows writes nothing; a missing local lake
        # dir would fail even a schema-pinned read, so materialize it
        os.makedirs(lake_path.removeprefix("file:"), exist_ok=True)
    extracted.persist()
    try:
        good = extracted.filter(F.col("error").isNull()).drop("error", "error_log")
        bad = extracted.filter(F.col("error").isNotNull())

        # one job for both counts, off the persisted extraction
        counts = dict(
            extracted.groupBy(F.col("error").isNull().alias("ok")).count().collect()
        )
        n_good, n_bad = int(counts.get(True, 0)), int(counts.get(False, 0))

        # repartition by partition key so each study_date writes from few
        # tasks -> few, large parquet files (small-files control at scale)
        if n_good:
            (
                good.repartition(PARTITION_COL)
                .write.mode("append")
                .partitionBy(PARTITION_COL)
                .parquet(lake_path)
            )
        if quarantine_path and n_bad:
            bad.write.mode("append").parquet(quarantine_path)
    finally:
        extracted.unpersist()
    return n_good, n_bad


def ingest_batch(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
) -> tuple[int, int]:
    """Batch-ingest every binary object under input_path.

    Returns (lake_rows, quarantined_rows). Equivalent of replaying all S3
    ObjectCreated events (deploy/serverless.yml:195-200) through the
    reference pipeline in one job. The listing sees zero-byte objects
    (binaryFile drops them, losing the DLQ contract for empty DICOMDIR)."""
    from ..sources.binary import list_binary_objects

    extracted = extract_from_listing(list_binary_objects(spark, input_path))
    return write_extracted(extracted, lake_path, quarantine_path)


def run_ingest(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
    table: str | None = None,
    external: bool = False,
) -> DataFrame:
    """Ingest then register/refresh the lake as a catalog table, returning
    the queryable DataFrame (the Glue-table + MSCK step,
    deploy/serverless.yml:509-567 / README.md:105).

    ``external=True`` registers a persistent partitioned external table
    (partition pruning + MSCK discovery, the full Glue-table analogue);
    default is a session-scoped temp view."""
    ingest_batch(spark, input_path, lake_path, quarantine_path)
    if table and external:
        from ..sources.catalog import register_external_table

        fq = register_external_table(spark, table, lake_path, PARTITION_COL)
        return spark.table(fq)
    # explicit schema: an all-quarantined ingest leaves the lake empty,
    # which would otherwise fail schema inference; it also pins column
    # types independent of what any one partition happens to contain
    df = spark.read.schema(DICOM_METADATA_SCHEMA).parquet(lake_path)
    if table:
        df.createOrReplaceTempView(table)
    return df
