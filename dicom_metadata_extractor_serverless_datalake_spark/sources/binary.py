"""Object listing and partition planning for every ingest mode.

Why not just ``spark.read.format("binaryFile")``:
1. it silently skips zero-byte objects, but the reference's contract
   routes them to the DLQ (the empty DICOMDIR case, README.md:116);
2. it always ships the whole object, while the reference's single
   biggest I/O optimization is a ranged GET of only the first 10 MB of
   .dcm objects — metadata precedes pixel data (src/s3wrapper.py:53-63,
   rationale src/app.py:117);
3. at 100 TB / millions of small objects, one-file-per-task is task-
   scheduling death; here each task owns a *pack* of objects, so task
   count is governed by bytes, not object count.

The driver only lists (path, size, mtime); bytes are read worker-side
by ``ingest.extract.read_extract``, so the scan parallelizes and the
ranged cap is applied before any bytes cross a process boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the ranged-read cap is importable from the listing module as before
from ..ingest.archives import DCM_RANGED_READ_BYTES  # noqa: F401
from ..ingest.extract import local_path

# input bytes one task should own
TARGET_PARTITION_BYTES = 128 << 20

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
    ]
)


def list_objects(root: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) of every object under ``root`` (a file,
    or a directory walked recursively), zero-byte objects included."""
    root = local_path(root)
    if os.path.isfile(root):
        st = os.stat(root)
        return [(root, st.st_size, st.st_mtime_ns)]
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            out.append((full, st.st_size, st.st_mtime_ns))
    return out


def pack(entries: list[tuple[str, int]]) -> list[list[str]]:
    """Next-fit over the path-sorted listing: (path, size) entries ->
    packs of paths, each at most TARGET_PARTITION_BYTES unless it holds
    a single larger object, and any two neighbours together over it.
    One pass, so planning stays linear at millions of objects, and a
    directory's objects stay together."""
    packs: list[list[str]] = []
    filled = 0
    for path, size in entries:
        if not packs or filled + size > TARGET_PARTITION_BYTES:
            packs.append([])
            filled = 0
        packs[-1].append(path)
        filled += size
    return packs


def list_binary_objects(spark: SparkSession, input_path: str) -> DataFrame:
    """List objects under ``input_path`` into a (path, size) DataFrame,
    partitioned so each task owns ~TARGET_PARTITION_BYTES of input.

    Includes zero-byte objects (unlike the binaryFile source)."""
    entries = [(path, size) for path, size, _mtime in list_objects(input_path)]
    total = sum(s for _, s in entries)
    default_par = spark.sparkContext.defaultParallelism
    n_parts = max(1, min(len(entries), max(default_par, total // TARGET_PARTITION_BYTES)))
    df = spark.createDataFrame(entries, LISTING_SCHEMA)
    # spread by hash of path so adjacent large files don't co-locate
    return df.repartition(n_parts, F.col("path"))
