"""Regenerate the golden-table fixtures in this directory.

Three small Iceberg tables, shaped like the ones Spark's Iceberg runtime
writes:

- simple_table: format v1, `version-hint.text` = 2, metadata v1 (no
  snapshot) and v2 (one append of three one-row files);
- no_hint_table: format v2, metadata v1..v5 and NO hint file, four
  snapshots whose total-records go 3 -> 6 -> 4 -> 6 (append, append,
  copy-on-write overwrite, append);
- partition_table: format v2, identity-partitioned on `category`.

The metadata JSON is written from the literal dicts below, in the Java
writer's layout (a v1 file carries the legacy `schema` and
`partition-spec` fields next to their list forms). Manifests and
manifest lists are written by this package's Avro writers, data files
by pyarrow. Every recorded path lives under the fictional root
/warehouse, so loading a fixture also exercises relocation: reads
re-root each recorded path into the fixture by its data/ or metadata/
segment.

Run from the repository root:  python tests/fixtures/make_golden.py
The committed files are the fixtures; rerunning rewrites the Avro
files with fresh sync markers but the same content.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from icelake_spark.types.manifest import (  # noqa: E402
    STATUS_ADDED, STATUS_DELETED, DataFile, ManifestEntry, write_manifest,
    write_manifest_list)
from icelake_spark.types.metadata import TableMetadata  # noqa: E402

ROOT = "/warehouse/db"
T0 = 1646658100000  # commit timestamps count up from here


def _schema_json(fields: list[tuple[int, str, str]]) -> dict:
    return {"type": "struct", "schema-id": 0,
            "fields": [{"id": i, "name": n, "required": False, "type": t}
                       for i, n, t in fields]}


def _snapshot(sid: int, parent: int | None, seq: int | None, op: str,
              totals: dict, manifest_list: str, ts: int) -> dict:
    s = {"snapshot-id": sid, "timestamp-ms": ts,
         "summary": {"operation": op, **{k: str(v) for k, v in totals.items()}},
         "manifest-list": manifest_list, "schema-id": 0}
    if parent is not None:
        s["parent-snapshot-id"] = parent
    if seq is not None:
        s["sequence-number"] = seq
    return s


def _write_json(table_dir: str, version: int, meta: dict) -> None:
    with open(os.path.join(table_dir, "metadata",
                           f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f, indent=2)
        f.write("\n")


def _data_file(table_dir: str, name: str, rows: dict,
               partition: dict | None = None) -> DataFile:
    """Write one parquet data file; return its DataFile with the
    /warehouse-rooted recorded path."""
    rel = f"data/{name}"
    local = os.path.join(table_dir, rel)
    os.makedirs(os.path.dirname(local), exist_ok=True)
    pq.write_table(pa.table(rows), local)
    table = os.path.basename(table_dir)
    return DataFile(file_path=f"{ROOT}/{table}/{rel}",
                    partition=partition or {},
                    record_count=len(next(iter(rows.values()))),
                    file_size_in_bytes=os.path.getsize(local))


def _manifest(table_dir: str, name: str, entries, meta: TableMetadata,
              sid: int, seq: int | None):
    local = os.path.join(table_dir, "metadata", name)
    mle = write_manifest(local, entries, meta.default_spec(),
                         meta.current_schema(), sid, meta.format_version,
                         sequence_number=seq)
    table = os.path.basename(table_dir)
    return replace(mle, manifest_path=f"{ROOT}/{table}/metadata/{name}")


def _manifest_list(table_dir: str, sid: int, parent: int | None,
                   seq: int, mles, fmt: int) -> str:
    name = f"snap-{sid}-1-list.avro"
    write_manifest_list(os.path.join(table_dir, "metadata", name), mles,
                        sid, parent, seq, fmt)
    return f"{ROOT}/{os.path.basename(table_dir)}/metadata/{name}"


def _fresh(name: str) -> str:
    d = os.path.join(HERE, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "metadata"))
    return d


def simple_table() -> None:
    d = _fresh("simple_table")
    sid = 1646658105718557341
    schema = _schema_json([(1, "id", "long"), (2, "data", "string")])
    base = {
        "format-version": 1,
        "table-uuid": "4f1d2b9e-6a3c-4e8f-9b1d-0c7a5e2f3d10",
        "location": f"{ROOT}/simple_table",
        "last-updated-ms": T0,
        "last-column-id": 2,
        "schema": schema,
        "current-schema-id": 0,
        "schemas": [schema],
        "partition-spec": [],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"owner": "fixture"},
        "current-snapshot-id": -1,
        "refs": {},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_json(d, 1, base)
    meta = TableMetadata.from_json_dict(base)
    files = [_data_file(d, f"00000-{i}-simple.parquet",
                        {"id": pa.array([i + 1], pa.int64()),
                         "data": pa.array(["abc"[i]])})
             for i in range(3)]
    mle = _manifest(d, "simple-m0.avro",
                    [ManifestEntry(STATUS_ADDED, f, sid) for f in files],
                    meta, sid, None)
    ml = _manifest_list(d, sid, None, 0, [mle], 1)
    totals = {"added-data-files": 3, "added-records": 3,
              "total-records": 3, "total-data-files": 3}
    v2 = dict(base, **{
        "last-updated-ms": T0 + 1000,
        "current-snapshot-id": sid,
        "refs": {"main": {"snapshot-id": sid, "type": "branch"}},
        "snapshots": [_snapshot(sid, None, None, "append", totals, ml,
                                T0 + 1000)],
        "snapshot-log": [{"timestamp-ms": T0 + 1000, "snapshot-id": sid}],
        "metadata-log": [{"timestamp-ms": T0, "metadata-file":
                          f"{ROOT}/simple_table/metadata/v1.metadata.json"}],
    })
    _write_json(d, 2, v2)
    with open(os.path.join(d, "metadata", "version-hint.text"), "w") as f:
        f.write("2")


def _v2_base(name: str, uuid: str, fields, spec_fields) -> dict:
    schema = _schema_json(fields)
    return {
        "format-version": 2,
        "table-uuid": uuid,
        "location": f"{ROOT}/{name}",
        "last-sequence-number": 0,
        "last-updated-ms": T0,
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": max([f["field-id"] for f in spec_fields],
                                 default=999),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"owner": "fixture"},
        "current-snapshot-id": -1,
        "refs": {},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


def no_hint_table() -> None:
    d = _fresh("no_hint_table")
    meta_json = _v2_base("no_hint_table",
                         "9a0c6d3e-2b7f-4c1a-8e5d-3f6b1a9c2e47",
                         [(1, "id", "long"), (2, "v", "string")], [])
    _write_json(d, 1, meta_json)
    meta = TableMetadata.from_json_dict(meta_json)

    def rows(ids):
        return {"id": pa.array(ids, pa.int64()),
                "v": pa.array([f"v{i}" for i in ids])}

    fa = _data_file(d, "a.parquet", rows([1, 2, 3]))
    fb = _data_file(d, "b.parquet", rows([4, 5, 6]))
    fc = _data_file(d, "c.parquet", rows([4]))
    fd = _data_file(d, "d.parquet", rows([7, 8]))
    ma = _manifest(d, "a-m0.avro", [ManifestEntry(STATUS_ADDED, fa, 1, 1)],
                   meta, 1, 1)
    mb = _manifest(d, "b-m0.avro", [ManifestEntry(STATUS_ADDED, fb, 2, 2)],
                   meta, 2, 2)
    # snapshot 3 rewrites b.parquet copy-on-write: b is deleted, c added
    mb_del = _manifest(d, "b-m1.avro",
                       [ManifestEntry(STATUS_DELETED, fb, 3, 2, 2)],
                       meta, 3, 3)
    mc = _manifest(d, "c-m0.avro", [ManifestEntry(STATUS_ADDED, fc, 3, 3)],
                   meta, 3, 3)
    md = _manifest(d, "d-m0.avro", [ManifestEntry(STATUS_ADDED, fd, 4, 4)],
                   meta, 4, 4)
    plan = [  # (operation, manifests, total-records, total-data-files)
        ("append", [ma], 3, 1),
        ("append", [ma, mb], 6, 2),
        ("overwrite", [ma, mb_del, mc], 4, 2),
        ("append", [ma, mc, md], 6, 3),
    ]
    snaps, log = [], []
    for seq, (op, mles, total, nfiles) in enumerate(plan, start=1):
        parent = seq - 1 or None
        ml = _manifest_list(d, seq, parent, seq, mles, 2)
        snaps.append(_snapshot(seq, parent, seq, op,
                               {"total-records": total,
                                "total-data-files": nfiles}, ml,
                               T0 + 1000 * seq))
        log.append({"timestamp-ms": T0 + 1000 * seq, "snapshot-id": seq})
        meta_json = dict(meta_json, **{
            "last-sequence-number": seq,
            "last-updated-ms": T0 + 1000 * seq,
            "current-snapshot-id": seq,
            "refs": {"main": {"snapshot-id": seq, "type": "branch"}},
            "snapshots": list(snaps),
            "snapshot-log": list(log),
        })
        _write_json(d, seq + 1, meta_json)


def partition_table() -> None:
    d = _fresh("partition_table")
    spec = [{"source-id": 2, "field-id": 1000, "transform": "identity",
             "name": "category"}]
    meta_json = _v2_base("partition_table",
                         "c3e8a1f0-5d2b-4a7e-9c6f-8b0d4e2a1f93",
                         [(1, "id", "long"), (2, "category", "string")], spec)
    meta = TableMetadata.from_json_dict(meta_json)
    files = [
        _data_file(d, "category=a/a.parquet",
                   {"id": pa.array([1, 2], pa.int64()),
                    "category": pa.array(["a", "a"])}, {"category": "a"}),
        _data_file(d, "category=b/b.parquet",
                   {"id": pa.array([3], pa.int64()),
                    "category": pa.array(["b"])}, {"category": "b"}),
    ]
    mle = _manifest(d, "p-m0.avro",
                    [ManifestEntry(STATUS_ADDED, f, 1, 1) for f in files],
                    meta, 1, 1)
    ml = _manifest_list(d, 1, None, 1, [mle], 2)
    meta_json = dict(meta_json, **{
        "last-sequence-number": 1,
        "last-updated-ms": T0 + 1000,
        "current-snapshot-id": 1,
        "refs": {"main": {"snapshot-id": 1, "type": "branch"}},
        "snapshots": [_snapshot(1, None, 1, "append",
                                {"total-records": 3, "total-data-files": 2},
                                ml, T0 + 1000)],
        "snapshot-log": [{"timestamp-ms": T0 + 1000, "snapshot-id": 1}],
    })
    _write_json(d, 1, meta_json)
    with open(os.path.join(d, "metadata", "version-hint.text"), "w") as f:
        f.write("1")


if __name__ == "__main__":
    simple_table()
    no_hint_table()
    partition_table()
