"""Seeded DICOM object mix for the ingest workloads, with its manifest.

Every object is built with the package's own Part-10 writer
(``dicom.codec.write_dicom``). The manifest says what each object must
become: lake rows (one per DICOM payload), quarantine rows, or nothing
(an ignored extension). The checks in ``verify.py`` compare the lake
against it, so the generator is the oracle for ingest.
"""

from __future__ import annotations

import io
import os
import random
import tarfile
import zipfile
from dataclasses import dataclass, field

import numpy as np

from dicom_metadata_extractor_serverless_datalake_spark.dicom.codec import write_dicom

MISSING_DATE = "1979-01-01"  # the lake's backfill for a missing StudyDate
STUDY_DATES = (
    "19870403", "19930715", "19990101", "20040229", "20081120", "20120607",
    "20150918", "20180101", "20191231", "20210311", "20211103", "20220814",
)
MODALITIES = ("CT", "MR", "US", "XA", "CR", "MG")
IGNORED = (".json", ".txt", ".csv")

# Image geometry of the reference's sample objects: sample_dcm/example-0
# and example-6 are 600x600 RGB at 8 bits, 1 081 068 bytes each
# (SURVEY.md section 6, from generate_dcm.py:69-70). Every image and
# archive member carries it, and its pixel data is
# Rows * Columns * SamplesPerPixel * BitsAllocated / 8 bytes of random
# colour, as generate_dcm.py draws it.
IMAGE = {"Rows": 600, "Columns": 600, "SamplesPerPixel": 3, "BitsAllocated": 8}
# The ranged-read class: the same kind of image at a matrix large enough
# to pass the reference's 10 MB cap on .dcm reads (src/s3wrapper.py:55-59).
LARGE_IMAGE = {**IMAGE, "Rows": 2048, "Columns": 2048}

# Share of each object class in a mix. The classes are the ones the
# reference's sample_dcm/ holds (bare extensionless objects; zip, tar and
# tar.gz studies; a zero-byte DICOMDIR) and the negative fixtures of
# FIXTURES.md section 2 (garbage bytes, a broken zip, ignored sidecar
# extensions). No public source gives the class mix of a real imaging
# bucket (the reference publishes no traffic figures, SURVEY.md section
# 6), so the shares are this benchmark's assumption: single .dcm objects
# dominate, as in the reference's one-object-per-S3-event model, and
# every other class appears at least once in every mix.
SHARES = {
    "zip": 0.0025,
    "tar": 0.0025,
    "tgz": 0.0025,
    "corrupt": 0.005,
    "empty": 0.002,
    "badzip": 0.001,
    "ignored": 0.005,
    "nodate": 0.02,  # StudyDate missing: the lake backfills MISSING_DATE
    "extless": 0.05,
}
N_LARGE = 3  # ranged-read objects in a backfill mix


@dataclass(frozen=True)
class Row:
    """One expected lake row."""

    member: str  # source_s3_archive_path: member name, or the object's basename
    modality: str
    study_date: str  # ISO date
    family_name: str
    patient_id: str
    study_id: str


@dataclass
class Obj:
    """One generated object and what ingest must turn it into."""

    rel: str  # path relative to the corpus root
    cls: str
    size: int = 0
    rows: list[Row] = field(default_factory=list)
    quarantined: int = 0
    ignored: bool = False


def class_counts(n: int, large: bool) -> dict[str, int]:
    """How many objects of each class a mix of ``n`` objects holds."""
    counts = {cls: max(1, int(n * share)) for cls, share in SHARES.items()}
    counts["large"] = N_LARGE if large else 0
    counts["dcm"] = n - sum(counts.values())
    if counts["dcm"] < 1:
        raise ValueError(f"a mix of {n} objects is too small")
    return counts


class _Studies:
    """A seeded pool of patients and their studies; instances draw from it."""

    def __init__(self, rng: random.Random, n_studies: int, tag: str) -> None:
        self.studies = []
        n_patients = max(1, n_studies // 2)
        for k in range(n_studies):
            p = rng.randrange(n_patients)
            self.studies.append(
                {
                    "family": f"Fam{tag}{p:05d}",
                    "patient_id": f"P{tag}{p:06d}",
                    "study_id": f"S{tag}{k:06d}"[-16:],
                    "date": rng.choice(STUDY_DATES),
                    "modality": rng.choice(MODALITIES),
                }
            )

    def pick(self, rng: random.Random) -> dict:
        return rng.choice(self.studies)


def pixel_bytes(geometry: dict[str, int]) -> int:
    g = geometry
    return g["Rows"] * g["Columns"] * g["SamplesPerPixel"] * g["BitsAllocated"] // 8


class _Pixels:
    """Random colour for pixel data, cut at seeded offsets from one pool
    drawn per mix (drawing every image afresh doubles generation time).
    The pool is larger than deflate's 32 KB window, so archives of these
    images compress no better than of fresh noise."""

    def __init__(self, nprng: np.random.Generator) -> None:
        self.nprng = nprng
        self.pool = nprng.bytes(2 * pixel_bytes(LARGE_IMAGE))

    def take(self, n: int) -> bytes:
        off = int(self.nprng.integers(0, len(self.pool) - n))
        return self.pool[off : off + n]


def _instance(study: dict, uid: str, pixels: _Pixels, member: str, geometry: dict[str, int] = IMAGE,
              with_date: bool = True) -> tuple[bytes, Row]:
    tags: dict[str, object] = {
        "ImageType": ["ORIGINAL", "PRIMARY"],
        "SOPClassUID": "1.2.840.10008.5.1.4.1.1.7",
        "SOPInstanceUID": uid,
        "StudyTime": "093000.000000",
        "Modality": study["modality"],
        "PatientName": f"{study['family']}^Given^M",
        "PatientID": study["patient_id"],
        "PatientSex": "F" if len(uid) % 2 else "M",
        "StudyID": study["study_id"],
        "SeriesNumber": "1",
        "InstanceNumber": str(len(uid) % 500 + 1),
        "PhotometricInterpretation": "RGB",
        "BitsStored": geometry["BitsAllocated"],
        "HighBit": geometry["BitsAllocated"] - 1,
        "PixelRepresentation": 0,
        **geometry,
    }
    date = MISSING_DATE
    if with_date:
        tags["StudyDate"] = study["date"]
        d = study["date"]
        date = f"{d[:4]}-{d[4:6]}-{d[6:]}"
    row = Row(member, study["modality"], date, study["family"], study["patient_id"], study["study_id"])
    return write_dicom(tags, pixel_data=pixels.take(pixel_bytes(geometry)), sop_instance_uid=uid), row


def _grid(n: int, rng: random.Random, at) -> list:
    """``at`` evaluated on a fixed grid over (0, 1), in seeded order: every
    seed gets the same sizes, so runs differ in content but not in volume."""
    values = [at((k + 0.5) / n) for k in range(n)]
    rng.shuffle(values)
    return values


def _write_archive(path: str, kind: str, members) -> None:
    """Write ``(name, bytes)`` members to an archive at ``path`` one at a
    time, so no more than one member is held in memory."""
    if kind == "zip":
        with zipfile.ZipFile(path, "w") as zf:
            for name, data in members:
                zf.writestr(name, data)
        return
    with tarfile.open(path, "w:gz" if kind == "tgz" else "w", **({"compresslevel": 1} if kind == "tgz" else {})) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))


def generate(root: str, seed: int, n: int, *, tag: str = "", flat: bool = False, large: bool = True) -> list[Obj]:
    """Write a mix of ``n`` objects under ``root`` and return its manifest.

    The same (seed, n, tag, flat, large) always writes the same bytes.
    ``flat`` puts every object directly in ``root`` (the streaming source
    does not descend into sub-directories); otherwise objects spread over
    upload prefixes the way a bucket backfill sees them."""
    rng = random.Random(f"{seed}/{tag}/{n}")
    nprng = np.random.default_rng([seed, n, *tag.encode()])
    pixels = _Pixels(nprng)
    studies = _Studies(rng, max(4, n // 8), tag)
    counts = class_counts(n, large)
    classes = [c for c, k in counts.items() for _ in range(k)]
    rng.shuffle(classes)
    member_counts = _grid(counts["zip"] + counts["tar"] + counts["tgz"], rng, lambda u: 20 + int(u * 31))
    os.makedirs(root, exist_ok=True)
    manifest: list[Obj] = []
    for i, cls in enumerate(classes):
        prefix = "" if flat else f"up{i % 16:02d}/"
        uid = f"1.2.826.0.1.3680043.8.498.{seed}.{tag or 0}.{i}"
        obj = Obj(rel="", cls=cls)
        data = None
        if cls in ("dcm", "extless", "nodate", "large"):
            name = f"{tag}IM{i:06d}" + ("" if cls == "extless" else ".dcm")
            data, row = _instance(studies.pick(rng), uid, pixels, name, LARGE_IMAGE if cls == "large" else IMAGE,
                                  with_date=cls != "nodate")
            obj.rows.append(row)
        elif cls in ("zip", "tar", "tgz"):
            name = f"{tag}study{i:06d}" + {"zip": ".zip", "tar": ".tar", "tgz": ".tar.gz"}[cls]
        elif cls == "corrupt":
            data = pixels.take(pixel_bytes(IMAGE))  # an image's worth of garbage, no DICM magic
            name, obj.quarantined = f"{tag}IM{i:06d}.dcm", 1
        elif cls == "empty":
            data = b""
            name, obj.quarantined = f"{tag}IM{i:06d}.dcm", 1
        elif cls == "badzip":
            data = b"PK\x03\x04" + nprng.bytes(4096)
            name, obj.quarantined = f"{tag}study{i:06d}.zip", 1
        else:  # ignored
            data = b'{"note": "sidecar"}'
            name, obj.ignored = f"{tag}meta{i:06d}{rng.choice(IGNORED)}", True
        obj.rel = prefix + name
        path = os.path.join(root, obj.rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if data is None:
            _write_archive(path, cls, _members(obj, studies.pick(rng), uid, pixels, member_counts.pop()))
        else:
            with open(path, "wb") as fh:
                fh.write(data)
        obj.size = os.path.getsize(path)
        manifest.append(obj)
    return manifest


def _members(obj: Obj, study: dict, uid: str, pixels: _Pixels, n: int):
    """The members of one study archive; each adds its row to ``obj``."""
    for j in range(n):
        member = f"{study['study_id']}/IM{j:04d}.dcm"
        data, row = _instance(study, f"{uid}.{j}", pixels, member)
        obj.rows.append(row)
        yield member, data
    if obj.cls == "zip":
        yield "DICOMDIR", b""  # skipped by the explode step, never a row
