"""Output checks, run outside the timer: the lake and quarantine are
read back with pyarrow, not Spark, and compared with the generator's
manifest; headline query answers are compared with DuckDB running the
query's oracle SQL.
"""

from __future__ import annotations

import datetime
import os
from collections import Counter

import duckdb
import pyarrow.dataset as ds

from corpus import Obj

# Zero-byte objects never reach the lake or the quarantine on the
# streaming path: its binaryFile source skips empty files. The batch
# path quarantines them. The streaming check accepts either outcome
# and reports each drop as a known failure; any other outcome fails.
KNOWN_STREAM_DROP = "empty"


def _read(path: str, columns: list[str], hive: bool) -> list[dict]:
    if not os.path.isdir(path):
        return []
    dataset = ds.dataset(path, format="parquet", partitioning="hive" if hive else None)
    return dataset.to_table(columns=columns).to_pylist()


def lake_rows(lake: str) -> list[dict]:
    rows = _read(
        lake,
        ["source_s3_key", "source_s3_archive_path", "modality", "patient_name",
         "extra_tags", "study_id", "study_date"],
        hive=True,
    )
    out = []
    for r in rows:
        tags = dict(r["extra_tags"] or [])
        out.append(
            {
                "key": r["source_s3_key"],
                "member": r["source_s3_archive_path"],
                "modality": r["modality"],
                "study_date": str(r["study_date"]),
                "family_name": (r["patient_name"] or {}).get("family_name"),
                "patient_id": tags.get("PatientID"),
                "study_id": r["study_id"],
            }
        )
    return out


def quarantine_keys(quarantine: str) -> Counter:
    return Counter(r["source_s3_key"] for r in _read(quarantine, ["source_s3_key"], hive=False))


def conservation(
    manifest: list[Obj], root: str, lake: list[dict], quarantined: Counter, streaming: bool = False
) -> tuple[dict, list[str], list[str]]:
    """Check that every object became exactly its expected lake rows,
    quarantine rows, or nothing. Returns (per-class tallies, misses,
    known failures)."""
    by_key: dict[str, list[dict]] = {}
    for r in lake:
        by_key.setdefault(r["key"], []).append(r)
    tallies: dict[str, Counter] = {}
    misses, known = [], []
    seen = set()
    for obj in manifest:
        key = os.path.join(root, obj.rel)
        seen.add(key)
        got = by_key.get(key, [])
        got_q = quarantined.get(key, 0)
        t = tallies.setdefault(obj.cls, Counter())
        t["objects"] += 1
        t["lake_rows"] += len(got)
        t["quarantine_rows"] += got_q
        want = Counter(
            (x.member, x.modality, x.study_date, x.family_name, x.patient_id, x.study_id)
            for x in obj.rows
        )
        have = Counter(
            (r["member"], r["modality"], r["study_date"], r["family_name"], r["patient_id"], r["study_id"])
            for r in got
        )
        if obj.ignored:
            t["ignored"] += 1
        if have == want and got_q == obj.quarantined:
            continue
        if streaming and obj.cls == KNOWN_STREAM_DROP and not got and got_q == 0:
            known.append(f"{obj.rel}: zero-byte object dropped by the streaming source")
            continue
        misses.append(f"{obj.rel} ({obj.cls}): {len(got)} lake rows, {got_q} quarantine rows; "
                      f"want {sum(want.values())} and {obj.quarantined}")
    for key in set(by_key) | set(quarantined):
        if key not in seen:
            misses.append(f"{key}: rows for an object that was never generated")
    return {c: dict(t) for c, t in tallies.items()}, misses, known


def canonical(cols: list[str], rows) -> list[tuple]:
    """A result in the comparison shape of the corpus tests
    (tests/test_corpus.py): columns sorted by name, rows sorted, dates and
    timestamps as ISO strings, floats compared exactly."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def duckdb_answers(root: str, oracles: dict[str, str]) -> dict[str, list[tuple]]:
    """Canonical answer of every oracle SQL, run by DuckDB over the
    tables in ``root`` (one ``<name>.parquet`` each)."""
    con = duckdb.connect()
    for name in sorted(os.listdir(root)):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(root, name)}'")
    out = {}
    for query, sql in oracles.items():
        res = con.execute(sql)
        out[query] = canonical([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
