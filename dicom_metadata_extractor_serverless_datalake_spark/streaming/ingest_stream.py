"""Streaming ingest: the S3 ObjectCreated -> Lambda event pattern
(deploy/serverless.yml:195-200) as a Structured Streaming file source.

The file source only discovers new objects (through Hadoop's FileSystem,
so ``s3a://`` prefixes need the hadoop-aws jars): the stream is projected
to ``path`` before the sink, so Spark never reads an object's bytes (and
never hits binaryFile's max-length limit); workers open each object
themselves (``ingest.extract.open_object``: local files, or S3 through
pyarrow). Each micro-batch of paths
goes through the batch ingest's own read + extraction and sink
(``ingest.pipeline``), so the 10 MB ranged cap holds and the stream
writes the same lake rows as ``ingest_batch``; a catch-up run is just
``Trigger.AvailableNow``. The checkpointed source delivers each path
once per query.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..ingest.extract import check_readable
from ..ingest.pipeline import extract_from_listing, write_extracted

# The binaryFile source's fixed schema — streaming file sources require an
# explicit schema (no inference on a stream), so we declare it.
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)

MAX_FILES_PER_TRIGGER = 1000


def start_ingest_stream(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
    checkpoint_path: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start (and return) the streaming ingest query.

    ``available_now=True`` processes the backlog then stops — the
    catch-up / replay mode; False runs continuously per micro-batch."""
    # fail on the driver, not in every task, for a store workers cannot read
    check_readable(input_path)
    # project here, on the stream: inside foreachBatch the batch arrives
    # with ``content`` already read and a select cannot prune it
    paths = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(input_path)
        .select("path")
    )

    def sink(batch_df, batch_id: int) -> None:
        write_extracted(extract_from_listing(batch_df), lake_path, quarantine_path)

    writer = paths.writeStream.foreachBatch(sink)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
