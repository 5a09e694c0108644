"""Cloud object-store (S3A) session configuration.

The lake, the tables and the ``watch`` stream's arrival discovery flow
through Spark's Hadoop FileSystem layer, so pointing them at
``s3a://bucket/prefix`` needs no code changes — only configuration.
Ingest's per-object reads are the exception: workers open objects with
``ingest.extract.open_object`` (pyarrow's S3 client, AWS default
credential chain), which none of the settings here affect. This module
is the executable form of the README "Cloud object stores" section: a
pure config builder (unit-testable without any cloud) plus a session
constructor that layers it onto :func:`session.get_spark`.

The reference reads/writes S3 via boto3 (``src/s3wrapper.py:53-66``,
``src/app.py:44-59``); the engine-side mapping:

- **Committers**: rename-based output commit is O(data) and non-atomic
  on object stores. The S3A committers (magic or directory/partitioned
  staging) commit via multipart-upload completion — O(1) and atomic per
  file. ``commitProtocolClass``/``BindingParquetOutputCommitter`` route
  Spark's parquet writes through them.
- **fadvise=random**: seek-heavy S3A reads (Parquet footers and column
  chunks of the lake) must issue ranged GETs; the default sequential
  policy drains the whole object on first seek.
- **Upload buffering to disk** keeps executor memory bounded while
  multipart parts assemble (heap buffering OOMs wide ingest tasks).
- **Connection pool ≥ task threads**: every concurrent parquet footer /
  ranged GET holds a pooled connection; the default 48 throttles a
  32-core executor reading hundreds of small objects (the DICOM corpus
  shape).

Nothing here is sandbox-specific: the emitted keys are public Hadoop
S3A / Spark configuration, inert unless a job actually touches an
``s3a://`` URI.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_COMMITTERS = ("magic", "directory", "partitioned")


def cloud_conf(
    committer: str = "magic",
    fadvise: str = "random",
    warehouse: str | None = None,
    staging_tmp: str | None = None,
    connection_maximum: int = 96,
    threads_max: int = 64,
    commit_protocol: bool = True,
) -> dict[str, str]:
    """Return the Spark conf dict for S3A-backed lakes.

    ``committer``: ``magic`` (in-bucket, needs no shared staging FS) or
    ``directory``/``partitioned`` (staging on a cluster-local FS —
    pass ``staging_tmp``). ``fadvise``: ``random`` for seek-heavy Parquet
    reads, ``sequential`` for full-file scan-heavy jobs.
    ``warehouse``: ``s3a://`` URI for ``spark.sql.warehouse.dir`` so
    catalog DDL (sources/catalog.py) lands tables in the bucket.

    Classpath dependencies, measured in-sandbox (no cloud jars):

    - ``commit_protocol=True`` emits the two Spark-side committer
      classes from the ``spark-hadoop-cloud`` module. Without that jar
      on the driver classpath EVERY query fails at its first action
      (the conf is read during query execution setup), so pass
      ``commit_protocol=False`` on installs that lack it — the
      ``fs.s3a.*`` keys alone are inert until an ``s3a://`` URI is
      touched and always safe to carry.
    - an ``s3a://`` ``warehouse`` is resolved EAGERLY at first catalog
      use (SharedState qualifies the path), so it additionally needs
      ``hadoop-aws`` present even for jobs that never read the lake.
    """
    if committer not in _COMMITTERS:
        raise ValueError(f"committer must be one of {_COMMITTERS}, got {committer!r}")
    if fadvise not in ("random", "sequential", "normal"):
        raise ValueError(f"unknown fadvise policy {fadvise!r}")
    conf = {
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.hadoop.fs.s3a.experimental.input.fadvise": fadvise,
        "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
        "spark.hadoop.fs.s3a.connection.maximum": str(connection_maximum),
        "spark.hadoop.fs.s3a.threads.max": str(threads_max),
        # directory markers: keep=no delete storms under partitioned
        # writes (safe on any modern client)
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }
    if commit_protocol:
        # route Spark's file writes through the S3A committer factory
        conf["spark.sql.sources.commitProtocolClass"] = (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        )
        conf["spark.sql.parquet.output.committer.class"] = (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        )
    if committer == "magic":
        conf["spark.hadoop.fs.s3a.committer.magic.enabled"] = "true"
    else:
        if not staging_tmp:
            raise ValueError(
                f"{committer!r} committer stages on a cluster filesystem; "
                "pass staging_tmp"
            )
        conf["spark.hadoop.fs.s3a.committer.staging.tmp.path"] = staging_tmp
        # append is the at-least-once posture matching the ingest sink
        conf["spark.hadoop.fs.s3a.committer.staging.conflict-mode"] = "append"
    if warehouse is not None:
        if "://" not in warehouse:
            raise ValueError(f"warehouse should be a filesystem URI, got {warehouse!r}")
        conf["spark.sql.warehouse.dir"] = warehouse
    return conf


def cloud_session(
    app_name: str = "dicom-datalake-cloud",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    **cloud_kwargs,
) -> SparkSession:
    """:func:`session.get_spark` with :func:`cloud_conf` layered in.

    ``cloud_kwargs`` go to :func:`cloud_conf`; ``extra_conf`` (applied
    last) can override any emitted key, e.g. credentials providers or
    per-bucket settings (``spark.hadoop.fs.s3a.bucket.<name>.*``).
    """
    from .session import get_spark

    conf = cloud_conf(**cloud_kwargs)
    if extra_conf:
        conf.update(extra_conf)
    return get_spark(
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle_partitions,
        extra_conf=conf,
    )
