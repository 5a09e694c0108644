"""Binary object -> canonical metadata rows (the reference's central
transform, src/dicomwrapper.py:36-64, re-expressed as a pure function so
the same code runs in unit tests and inside every Spark ingest mode).

``read_extract`` is the one worker-side read: batch ingest, ``watch``
and ``format("dicom")`` all hand it object paths, and it routes, reads
(with the ranged cap) and extracts each object where it sits, from the
local file system or from S3 (``open_object``).
"""

from __future__ import annotations

import datetime
import functools
import re
from collections.abc import Iterable, Iterator

from ..dicom import codec, vr
from ..schema import CANONICAL_KEYWORDS, DICOM_METADATA_SCHEMA, INGEST_SCHEMA, to_camel_case

PARTITION_KEYWORD = "StudyDate"

_CANON_COLS = [f.name for f in DICOM_METADATA_SCHEMA.fields]


def records_schema():
    return INGEST_SCHEMA


def _normalize_canonical(col: str, value: object) -> object:
    """Coerce a converted VR value to the pinned column type. The
    reference's dynamic schema let types drift per file (the
    GroupColumIO-cast Athena failure, README.md:149-151); we normalize at
    extraction so the declared StructType always holds."""
    if col in ("patient_birth_date", "study_date"):
        if isinstance(value, list):
            value = value[0] if value else None
        if isinstance(value, datetime.date):
            return value
        return None
    if col in ("patient_orientation", "image_type"):
        if isinstance(value, list):
            return [vr.stringify(v) for v in value]
        return [vr.stringify(value)]
    if col == "patient_name":
        if isinstance(value, list):
            value = value[0] if value else None
        if isinstance(value, dict):
            return {k: str(v) for k, v in value.items()}
        return None
    # remaining canonical columns are strings
    return vr.stringify(value)


def flatten(elements: codec.Dataset, lineage: dict[str, str | None]) -> dict:
    """One parsed dataset -> one canonical row dict.

    Mirrors transform() (src/dicomwrapper.py:36-64): keep only elements
    with a keyword and a non-empty value, convert via the VR table, stamp
    the four lineage columns, backfill a missing partition tag with
    1979-01-01 (Q2)."""
    row: dict[str, object] = dict.fromkeys(_CANON_COLS)
    extra: dict[str, str] = {}
    for elem in elements:
        if not elem.keyword or elem.is_empty:
            continue  # src/dicomwrapper.py:42-47
        value = vr.convert(elem)
        col = CANONICAL_KEYWORDS.get(elem.keyword)
        if col is not None:
            row[col] = _normalize_canonical(col, value)
        else:
            extra[elem.keyword] = vr.stringify(value)
    row["extra_tags"] = extra or None
    row["source_s3_bucket"] = lineage.get("bucket")
    row["source_s3_region"] = lineage.get("region")
    row["source_s3_key"] = lineage.get("key")
    row["source_s3_archive_path"] = lineage.get("archive_path")
    if row["study_date"] is None:
        # missing partition tag backfill (src/dicomwrapper.py:58-62)
        row["study_date"] = vr.MISSING_PARTITION_DEFAULT
    row["error"] = None
    row["error_log"] = None
    return row


def _error_row(lineage: dict[str, str | None], err: Exception, stage: str) -> dict:
    """Quarantine row: lineage + the human-readable ``error`` string +
    the structured breadcrumb struct (schema.QUARANTINE_LOG_SCHEMA) —
    the reference's structlog event (src/logger.py:1-47) re-expressed
    as queryable columns on the DLQ sink."""
    row: dict[str, object] = dict.fromkeys(_CANON_COLS)
    row["source_s3_bucket"] = lineage.get("bucket")
    row["source_s3_region"] = lineage.get("region")
    row["source_s3_key"] = lineage.get("key")
    row["source_s3_archive_path"] = lineage.get("archive_path")
    row["study_date"] = vr.MISSING_PARTITION_DEFAULT
    row["error"] = f"{type(err).__name__}: {err}"
    row["error_log"] = {
        "stage": stage,
        "error_class": type(err).__name__,
        "source_key": lineage.get("key"),
        "member_path": lineage.get("archive_path"),
        # tz-AWARE so Arrow carries the real instant whatever
        # spark.sql.session.timeZone is; a naive datetime would be
        # re-localized in the session zone and shift the breadcrumb
        "ts": datetime.datetime.now(datetime.timezone.utc),
    }
    return row


# scheme and netloc only: a key may hold any character, '#' and '?'
# included, so nothing after the netloc is a fragment or a query
_URI = re.compile(r"([A-Za-z][A-Za-z0-9+.-]*):(?://([^/]*))?(.*)", re.S)


def _split_uri(path: str) -> tuple[str, str, str]:
    """URI or bare path -> (scheme, netloc, path); '' where absent."""
    m = _URI.fullmatch(path)
    if m is None:
        return "", "", path
    return m.group(1).lower(), m.group(2) or "", m.group(3)


def split_path(path: str) -> tuple[str | None, str | None, str]:
    """file:/ or s3:/ URI -> (bucket, region, key)."""
    scheme, netloc, rest = _split_uri(path)
    if scheme in ("s3", "s3a", "s3n"):
        return netloc, None, rest.lstrip("/")
    return None, None, rest or path


def local_path(path: str) -> str:
    """file: URI or bare path -> the local file-system path."""
    scheme, _netloc, rest = _split_uri(path)
    if scheme in ("", "file"):
        return rest or path
    raise ValueError(
        f"listing scheme {scheme!r} needs an object-store lister (a boto3 "
        "paginator for s3://), which this package lacks"
    )


_S3_SCHEMES = ("s3", "s3a", "s3n")


def check_readable(path: str) -> None:
    """Raise ValueError unless :func:`open_object` can open objects under
    ``path``: local paths, file: URIs and s3/s3a/s3n URIs."""
    scheme = _split_uri(path)[0]
    if scheme not in ("", "file", *_S3_SCHEMES):
        raise ValueError(
            f"cannot read {scheme!r} objects: ingest opens local paths and "
            "s3/s3a/s3n URIs only"
        )


@functools.lru_cache(maxsize=None)
def _s3_filesystem(bucket: str):
    # one client per bucket and worker process; pyarrow resolves the
    # bucket's region and takes credentials and AWS_ENDPOINT_URL from the
    # AWS default chain (the Hadoop fs.s3a.* keys do not apply here)
    from pyarrow import fs

    return fs.FileSystem.from_uri(f"s3://{bucket}")[0]


def open_object(path: str):
    """Object path -> a readable binary file object. ``read(n)`` on an
    S3 object issues a ranged GET for the first n bytes."""
    check_readable(path)
    scheme, netloc, rest = _split_uri(path)
    if scheme in _S3_SCHEMES:
        return _s3_filesystem(netloc).open_input_file(f"{netloc}/{rest.lstrip('/')}")
    return open(rest or path, "rb")


def extract_records(path: str, content: bytes) -> Iterator[dict]:
    """One (path, bytes) object -> canonical row dicts (+ error rows).

    This is the whole reference lifecycle §3.1 steps 3-6 for one object:
    extension route -> archive explode -> magic check -> parse -> VR
    flatten -> lineage stamp. Errors never raise: they surface as rows
    with ``error`` set, which the pipeline writes to the quarantine sink
    (the Lambda-retry -> SQS DLQ analogue)."""
    from . import archives  # local import keeps UDF pickle small

    bucket, region, key = split_path(path)
    base_lineage = {"bucket": bucket, "region": region, "key": key, "archive_path": None}
    if archives.is_ignored(key):
        return
    try:
        members = list(archives.explode(key, content))
    except Exception as err:  # corrupt archive -> one quarantine row
        yield _error_row(base_lineage, err, stage="archive_explode")
        return
    for name, data in members:
        lineage = dict(base_lineage, archive_path=name)
        try:
            elements = codec.parse_dicom(data, stop_before_pixels=True)
            yield flatten(elements, lineage)
        except Exception as err:
            yield _error_row(lineage, err, stage="dicom_parse")


def read_extract(paths: Iterable[str]) -> Iterator[dict]:
    """Object paths -> canonical row dicts, reading each object where it
    sits: extension route -> skip ignored -> ranged cap for non-archives
    -> read -> :func:`extract_records` (src/app.py:97-189 per object)."""
    from .archives import DCM_RANGED_READ_BYTES, IGNORED_EXTS, TAR_EXTS, ZIP_EXTS, eval_ext

    for path in paths:
        ext = eval_ext(path)
        if ext in IGNORED_EXTS:
            continue
        cap = None if ext in ZIP_EXTS | TAR_EXTS else DCM_RANGED_READ_BYTES
        with open_object(path) as fh:
            content = fh.read(cap)
        yield from extract_records(path, content)
