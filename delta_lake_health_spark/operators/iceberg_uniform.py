"""UniForm-style Iceberg metadata generation (D75 + D77) — emit an
Apache Iceberg metadata tree alongside the Delta log so an Iceberg
reader can scan the CURRENT live file set read-only, the same interop
shape as D56's symlink manifests but for the Iceberg protocol.
DV-free snapshots export as format-version 1; snapshots with LIVE
deletion vectors export as format-version 2 with position-delete files
(one per touched partition) referenced from a delete manifest, and
consecutive exports chain snapshots with sequence-number lineage.

Everything here follows the PUBLIC Iceberg table spec
(https://iceberg.apache.org/spec/) and Avro 1.11 binary/container spec
(https://avro.apache.org/docs/):

- ``metadata/v{N}.metadata.json`` — format-version 1 table metadata:
  schema with assigned field-ids, partition-spec (identity transforms
  over the Delta partition columns), snapshot log, and the pointer to
  the current snapshot's manifest list;
- ``metadata/snap-{id}-manifest-list.avro`` — an Avro OCF listing the
  snapshot's manifest files (spec "Manifest Lists", v1 schema);
- ``metadata/manifest-{id}.avro`` — an Avro OCF of manifest entries,
  one per LIVE Delta data file, carrying file_path, file_format,
  typed partition values, record_count (from the Delta add stats) and
  file_size_in_bytes (spec "Manifests", v1 schema);
- ``metadata/version-hint.text`` — the HadoopTables current-version
  pointer.

The container ships no Avro library (and DuckDB's iceberg extension
can't be fetched offline), so the module implements the tiny subset of
the Avro spec the manifests need — zigzag-varint longs, length-prefixed
strings, records, nullable unions, and the object-container framing —
plus a symmetric reader used by the structural tests to prove the tree
round-trips and matches the Delta snapshot file-for-file.

Regeneration is idempotent per Delta version: each call inspects the
current snapshot and becomes a no-op when the tree already reflects it
(the ``delta.version`` property in the metadata JSON), so it composes
with a post-commit hook or a ``delta_tail`` maintenance stream.
Deletion vectors are a LOUD refusal — Iceberg v1 has no positional
deletes, and silently exporting a file whose rows are partly deleted
would serve wrong data to the foreign reader.
"""

from __future__ import annotations

import io
import json
import os
import struct
import time

# --------------------------------------------------------------------------
# Minimal Avro 1.11 binary encoding + object container framing.


def _zigzag(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_zigzag(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated avro varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _enc_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _zigzag(len(raw)) + raw


def _read_str(buf: io.BytesIO) -> str:
    n = _read_zigzag(buf)
    return buf.read(n).decode("utf-8")


def _enc_value(schema, value) -> bytes:
    """Encode ``value`` per an Avro schema node (the subset manifests
    use: int/long/string/boolean/double, nullable unions, records)."""
    if isinstance(schema, list):  # union — [null, X] by construction
        if value is None:
            return _zigzag(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _zigzag(idx) + _enc_value(schema[idx], value)
    if isinstance(schema, dict):
        if schema["type"] == "record":
            return b"".join(
                _enc_value(f["type"], value[f["name"]])
                for f in schema["fields"]
            )
        raise ValueError(f"unsupported avro complex type {schema['type']}")
    if schema in ("int", "long"):
        return _zigzag(int(value))
    if schema == "string":
        return _enc_str(str(value))
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema == "double":
        return struct.pack("<d", float(value))
    raise ValueError(f"unsupported avro type {schema}")


def _dec_value(schema, buf: io.BytesIO):
    if isinstance(schema, list):
        idx = _read_zigzag(buf)
        branch = schema[idx]
        return None if branch == "null" else _dec_value(branch, buf)
    if isinstance(schema, dict):
        if schema["type"] == "record":
            return {
                f["name"]: _dec_value(f["type"], buf)
                for f in schema["fields"]
            }
        raise ValueError(f"unsupported avro complex type {schema['type']}")
    if schema in ("int", "long"):
        return _read_zigzag(buf)
    if schema == "string":
        return _read_str(buf)
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    raise ValueError(f"unsupported avro type {schema}")


def write_avro_ocf(path: str, schema: dict, records: list, sync: bytes) -> int:
    """One-block Avro object container file (spec: magic, metadata map
    with avro.schema/avro.codec, 16-byte sync, then <count, size,
    data, sync> blocks). Returns the byte length written."""
    assert len(sync) == 16
    body = b"".join(_enc_value(schema, r) for r in records)
    meta_pairs = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    out = bytearray(b"Obj\x01")
    out += _zigzag(len(meta_pairs))
    for k, v in meta_pairs.items():
        out += _enc_str(k) + _zigzag(len(v)) + v
    out += _zigzag(0)  # end of metadata map
    out += sync
    out += _zigzag(len(records)) + _zigzag(len(body)) + body + sync
    with open(path, "wb") as fh:
        fh.write(out)
    return len(out)


def read_avro_ocf(path: str) -> list:
    """Symmetric reader for the files this module writes (and any
    null-codec OCF using the supported type subset)."""
    with open(path, "rb") as fh:
        buf = io.BytesIO(fh.read())
    if buf.read(4) != b"Obj\x01":
        raise ValueError(f"{path}: not an avro object container file")
    schema = None
    n = _read_zigzag(buf)
    while n != 0:
        if n < 0:
            # spec: a negative block count is followed by the block's
            # byte size, then abs(n) items
            _read_zigzag(buf)
            n = -n
        for _ in range(n):
            key = _read_str(buf)
            vlen = _read_zigzag(buf)
            val = buf.read(vlen)
            if key == "avro.schema":
                schema = json.loads(val)
            elif key == "avro.codec" and val not in (b"null", b""):
                raise ValueError(f"unsupported avro codec {val!r}")
        n = _read_zigzag(buf)
    sync = buf.read(16)
    records = []
    while buf.tell() < len(buf.getvalue()):
        count = _read_zigzag(buf)
        _read_zigzag(buf)  # block byte size
        for _ in range(count):
            records.append(_dec_value(schema, buf))
        if buf.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")
    return records


# --------------------------------------------------------------------------
# Delta schema -> Iceberg schema (field-ids assigned in declaration
# order, the same rule UniForm uses for fresh exports).

_TYPE_MAP = {
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
}


def _iceberg_schema(delta_schema: dict) -> tuple[dict, dict[str, int]]:
    fields, ids = [], {}
    next_id = 1
    for f in delta_schema.get("fields", []):
        t = f.get("type")
        if not isinstance(t, str) or t.split("(")[0] not in _TYPE_MAP:
            raise ValueError(
                f"iceberg export: column {f.get('name')!r} has type {t!r};"
                " only flat primitive columns are exported (nested/variant"
                " tables need a richer mapping — refuse, don't mis-type)"
            )
        ids[f["name"]] = next_id
        fields.append(
            {
                "id": next_id,
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": _TYPE_MAP[t],
            }
        )
        next_id += 1
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        ids,
    )


def _partition_avro_type(delta_type: str):
    """Avro branch type for a partition value column (always nullable
    per the Iceberg manifest partition struct)."""
    if delta_type in ("byte", "short", "integer"):
        return "int"
    if delta_type == "long":
        return "long"
    if delta_type == "double":
        return "double"
    if delta_type == "string":
        return "string"
    if delta_type == "boolean":
        return "boolean"
    raise ValueError(
        f"iceberg export: partition type {delta_type!r} unsupported"
    )


def _coerce_partition(delta_type: str, raw: str | None):
    if raw is None:
        return None
    if delta_type in ("byte", "short", "integer", "long"):
        return int(raw)
    if delta_type == "double":
        return float(raw)
    if delta_type == "boolean":
        return raw.lower() == "true"
    return raw


# --------------------------------------------------------------------------
# Manifest / manifest-list Avro schemas (Iceberg spec v1, required
# fields plus the optional counts readers commonly expect).


def _manifest_schema(part_fields: list, v2: bool = False) -> dict:
    entry_extra = (
        [
            # v2: sequence numbers are nullable and INHERITED from the
            # manifest-list row when null (spec "Sequence Number
            # Inheritance") — we write them explicitly
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
        ]
        if v2
        else []
    )
    file_extra = (
        [
            # v2: 0 = data, 1 = position deletes (spec data_file.content)
            {"name": "content", "type": "int", "field-id": 134},
        ]
        if v2
        else []
    )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            *entry_extra,
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        *file_extra,
                        {
                            "name": "file_path",
                            "type": "string",
                            "field-id": 100,
                        },
                        {
                            "name": "file_format",
                            "type": "string",
                            "field-id": 101,
                        },
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": part_fields,
                            },
                        },
                        {
                            "name": "record_count",
                            "type": "long",
                            "field-id": 103,
                        },
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            "name": "block_size_in_bytes",
                            "type": "long",
                            "field-id": 105,
                        },
                    ],
                },
            },
        ],
    }


def _manifest_list_schema(v2: bool = False) -> dict:
    v2_extra = (
        [
            # v2 (spec manifest_file): 0 = data manifest, 1 = delete
            # manifest, plus the sequence-number lineage columns
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {
                "name": "min_sequence_number",
                "type": "long",
                "field-id": 516,
            },
        ]
        if v2
        else []
    )
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            *v2_extra,
            {
                "name": "added_snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 503,
            },
            {
                "name": "added_data_files_count",
                "type": ["null", "int"],
                "default": None,
                "field-id": 504,
            },
            {
                "name": "existing_data_files_count",
                "type": ["null", "int"],
                "default": None,
                "field-id": 505,
            },
            {
                "name": "deleted_data_files_count",
                "type": ["null", "int"],
                "default": None,
                "field-id": 506,
            },
        ],
    }


# --------------------------------------------------------------------------


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def current_export_version(table_path: str) -> int | None:
    """The Delta version the existing Iceberg tree reflects, or None."""
    hint = os.path.join(_meta_dir(table_path), "version-hint.text")
    try:
        with open(hint) as fh:
            v = int(fh.read().strip())
        with open(
            os.path.join(_meta_dir(table_path), f"v{v}.metadata.json")
        ) as fh:
            meta = json.load(fh)
        return int(meta["properties"]["delta.version"])
    except (OSError, KeyError, ValueError):
        return None


def generate_iceberg_metadata(spark, table_path: str) -> dict:
    """Export the CURRENT Delta snapshot as an Iceberg v1 metadata tree
    under ``<table>/metadata/``. Idempotent per Delta version; returns
    ``{"delta_version", "snapshot_id", "metadata_file", "n_files",
    "skipped"}``. Metadata-scale only: one pass over the live add
    actions (driver-side |files| rows, the same class as checkpoint
    writes), no data files read or copied — the manifests point at the
    Delta parquet in place. The version, live files, deletion vectors
    and metadata all come from one snapshot of the log."""
    from delta_lake_health_spark.sources import log_replay

    snap = log_replay.table_snapshot(table_path)
    version = snap.version()
    prior = current_export_version(table_path)
    meta_dir = _meta_dir(table_path)
    if prior == version:
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            n = int(fh.read().strip())
        mfile = os.path.join(meta_dir, f"v{n}.metadata.json")
        with open(mfile) as fh:
            existing = json.load(fh)
        return {
            "delta_version": version,
            "snapshot_id": version + 1,
            "metadata_file": mfile,
            "n_files": None,
            "n_delete_files": None,
            # same keys as the fresh-export return (r13 review: a
            # caller branching on the format version must not crash on
            # the idempotent second call)
            "format_version": int(existing.get("format-version", 1)),
            "sequence_number": int(
                existing.get("last-sequence-number", 0)
            ),
            "skipped": True,
        }
    # LIVE-reconciled DVs only (r12 review): historical dv actions whose
    # files were since rewritten (REORG PURGE) are no-ops. A DV-bearing
    # snapshot exports as Iceberg FORMAT-VERSION 2 with position-delete
    # files (D77); a DV-free one stays v1 (the minimal version the
    # snapshot needs, UniForm-style).
    has_live_dvs = bool(snap.live_dv_paths())
    meta = snap.metadata()
    if any(
        log_replay.physical_name(f) != f["name"]
        for f in (meta.get("schema") or {}).get("fields", [])
    ):
        # column mapping is metadata-only: the parquet keeps PHYSICAL
        # names while the schema shows logical ones; an Iceberg v1
        # reader resolves by name (no field-ids in the files) and would
        # silently serve nulls for every renamed column — refuse
        raise ValueError(
            "iceberg export: table uses column mapping (renamed columns)"
            " — parquet physical names diverge from the logical schema"
            " and a by-name Iceberg reader would serve nulls; not"
            " exportable as v1"
        )
    schema, ids = _iceberg_schema(meta.get("schema") or {})
    part_cols = list(meta.get("partition_columns", []))
    delta_types = {
        f["name"]: f["type"]
        for f in (meta.get("schema") or {}).get("fields", [])
    }
    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": ids[c],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]
    part_avro_fields = [
        {
            "name": c,
            "type": ["null", _partition_avro_type(delta_types[c])],
            "default": None,
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]

    live = snap.live_add_actions()
    snapshot_id = version + 1  # deterministic, monotone per export
    os.makedirs(meta_dir, exist_ok=True)
    import hashlib

    sync = hashlib.sha256(
        f"{table_path}|{version}".encode()
    ).digest()[:16]
    entries = []
    for add in live:
        pv = add.get("partitionValues") or {}
        num_records = json.loads(add.get("stats") or "{}").get("numRecords")
        if num_records is None:
            # record_count is REQUIRED by the Iceberg spec and readers
            # answer COUNT(*) from it — exporting a guess would serve
            # wrong data to the foreign engine; refuse loudly instead
            # (backfill stats with OPTIMIZE first)
            raise ValueError(
                f"iceberg export: live file {add['path']!r} carries no"
                " numRecords stats — run a stats backfill (OPTIMIZE)"
                " before exporting"
            )
        entries.append(
            {
                "status": 1,  # ADDED (fresh snapshot)
                "snapshot_id": snapshot_id,
                "data_file": {
                    "file_path": os.path.abspath(
                        os.path.join(table_path, add["path"])
                    ),
                    "file_format": "PARQUET",
                    "partition": {
                        c: _coerce_partition(delta_types[c], pv.get(c))
                        for c in part_cols
                    },
                    "record_count": int(num_records),
                    "file_size_in_bytes": int(add["size"]),
                    "block_size_in_bytes": 67108864,
                },
            }
        )
    # ---- sequence-number lineage (D77): consecutive exports CHAIN —
    # the prior tree's snapshot list and sequence counter carry forward
    # (their manifest lists stay on disk, so older snapshots remain
    # readable), and each export claims the next sequence number.
    prior_meta = None
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        try:
            with open(hint) as fh:
                pv = int(fh.read().strip())
            with open(
                os.path.join(meta_dir, f"v{pv}.metadata.json")
            ) as fh:
                prior_meta = json.load(fh)
        except (OSError, ValueError, KeyError):
            prior_meta = None
    seq = int((prior_meta or {}).get("last-sequence-number", 0)) + 1
    v2 = has_live_dvs
    fmt = 2 if v2 else 1
    if v2:
        for e in entries:
            e["sequence_number"] = seq
            e["file_sequence_number"] = seq
            e["data_file"] = {"content": 0, **e["data_file"]}

    manifest_path = os.path.join(
        meta_dir, f"manifest-{snapshot_id}.avro"
    )
    mlen = write_avro_ocf(
        manifest_path,
        _manifest_schema(part_avro_fields, v2=v2),
        entries,
        sync,
    )
    mlist_rows = [
        {
            "manifest_path": manifest_path,
            "manifest_length": mlen,
            "partition_spec_id": 0,
            **(
                {
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                }
                if v2
                else {}
            ),
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
        }
    ]
    n_delete_files = 0
    if v2:
        delete_entries = _write_position_deletes(
            spark,
            snap,
            table_path,
            meta_dir,
            snapshot_id,
            seq,
            part_cols,
            delta_types,
            live,
        )
        n_delete_files = len(delete_entries)
        dman_path = os.path.join(
            meta_dir, f"manifest-{snapshot_id}-deletes.avro"
        )
        dlen = write_avro_ocf(
            dman_path,
            _manifest_schema(part_avro_fields, v2=True),
            delete_entries,
            sync,
        )
        mlist_rows.append(
            {
                "manifest_path": dman_path,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,  # delete manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(delete_entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
            }
        )
    mlist_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-manifest-list.avro"
    )
    write_avro_ocf(mlist_path, _manifest_list_schema(v2), mlist_rows, sync)
    next_v = (
        max(
            (
                int(f[1:].split(".")[0])
                for f in os.listdir(meta_dir)
                if f.startswith("v") and f.endswith(".metadata.json")
            ),
            default=0,
        )
        + 1
    )
    now_ms = int(time.time() * 1000)
    # snapshots chain only WITHIN a format version (r13 review): a v1
    # snapshot's manifest list lacks the v2-required manifest_file
    # fields (a conformant v2 reader fails schema resolution on it),
    # and a v1 reader has no `content` concept and would scan a carried
    # v2 DELETE manifest as data. A format transition therefore EXPIRES
    # the prior snapshots (spec-sanctioned snapshot expiration — the
    # old trees stay on disk under their own metadata versions); the
    # sequence counter still carries across.
    prior_fmt = int((prior_meta or {}).get("format-version", fmt))
    carried = (
        (prior_meta or {}).get("snapshots", []) if prior_fmt == fmt else []
    )
    snapshots = [s for s in carried if s["snapshot-id"] != snapshot_id]
    snapshots.append(
        {
            "snapshot-id": snapshot_id,
            **({"sequence-number": seq} if v2 else {}),
            "timestamp-ms": now_ms,
            "manifest-list": mlist_path,
            "summary": {
                "operation": "overwrite" if v2 else "append",
                "added-data-files": str(len(entries)),
                **(
                    {"added-delete-files": str(n_delete_files)}
                    if v2
                    else {}
                ),
            },
        }
    )
    kept_ids = {s["snapshot-id"] for s in snapshots}
    snap_log = [
        e
        for e in (prior_meta or {}).get("snapshot-log", [])
        if e["snapshot-id"] != snapshot_id
        and e["snapshot-id"] in kept_ids
    ]
    snap_log.append(
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    )
    table_meta = {
        "format-version": fmt,
        "table-uuid": meta["id"],
        "location": table_path,
        "last-updated-ms": now_ms,
        # chains exports even across v1 rounds (v1 readers ignore it)
        "last-sequence-number": seq,
        "last-column-id": max(ids.values(), default=0),
        "schema": schema,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        # the Delta parquet carries no Iceberg field IDs, so a conformant
        # reader (which projects by field ID) would serve NULL for every
        # column; the spec's sanctioned fallback is a name mapping
        # (spec §Column Projection / name-mapping.default) — emit one so
        # by-name resolution is spec-correct, not reader leniency
        "properties": {
            "delta.version": str(version),
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": fid, "names": [name]}
                    for name, fid in sorted(ids.items())
                ]
            ),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": snapshots,
        "snapshot-log": snap_log,
    }
    metadata_file = os.path.join(meta_dir, f"v{next_v}.metadata.json")
    with open(metadata_file, "w") as fh:
        json.dump(table_meta, fh, indent=2)
    with open(
        os.path.join(meta_dir, "version-hint.text"), "w"
    ) as fh:
        fh.write(str(next_v))
    return {
        "delta_version": version,
        "snapshot_id": snapshot_id,
        "metadata_file": metadata_file,
        "n_files": len(entries),
        "n_delete_files": n_delete_files,
        "format_version": fmt,
        "sequence_number": seq,
        "skipped": False,
    }


def _write_position_deletes(
    spark,
    snap,
    table_path: str,
    meta_dir: str,
    snapshot_id: int,
    seq: int,
    part_cols: list,
    delta_types: dict,
    live: list,
) -> list[dict]:
    """Materialize the live DV positions as Iceberg POSITION-DELETE
    parquet files — one file per touched PARTITION (the spec scopes a
    position delete file to a partition), rows (file_path, pos) sorted,
    all partitions written in ONE Spark job. Returns the delete
    manifest entries.

    Spec-subset note: the parquet columns are named per spec
    (file_path, pos) but carry no Iceberg field IDs (2147483546 /
    2147483545) — same name-resolution caveat as the data files, which
    the exported name mapping covers for columns; position-delete
    readers that insist on field IDs need a writer with parquet
    field-id support."""
    import shutil
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from delta_lake_health_spark.sources.delta_log import read_deletion_vectors

    dv = read_deletion_vectors(spark, table_path, snap.deletion_vector_paths())
    pk_of = lambda a: json.dumps(  # noqa: E731
        {
            c: (a.get("partitionValues") or {}).get(c)
            for c in part_cols
        },
        sort_keys=True,
    )
    map_df = spark.createDataFrame(
        [(a["path"], pk_of(a)) for a in live],
        "rel_path string, _pk string",
    )
    # ABSOLUTE paths (r13 review): the position-delete anti-join in
    # read_iceberg_rows compares against the decoded absolute
    # _metadata.file_path — a relative table_path would silently match
    # nothing and resurrect every deleted row
    abs_table = os.path.abspath(table_path)
    deletes = dv.join(F.broadcast(map_df), "rel_path").select(
        "_pk",
        F.concat(
            F.lit(abs_table.rstrip("/") + "/"), F.col("rel_path")
        ).alias("file_path"),
        F.col("row_index").alias("pos"),
    )
    tmp = os.path.join(meta_dir, f".posdel-tmp-{snapshot_id}")
    shutil.rmtree(tmp, ignore_errors=True)
    (
        # _pk leads the sort: the dynamic-partition writer re-sorts each
        # task by the partition column, and only a sort it finds already
        # satisfied is guaranteed to survive — leading with _pk makes
        # the (file_path, pos) order inside every output file provable,
        # not an implementation accident (r13 review)
        deletes.repartition("_pk")
        .sortWithinPartitions("_pk", "file_path", "pos")
        .write.partitionBy("_pk")
        .parquet(tmp)
    )
    import pyarrow.parquet as pq

    entries: list[dict] = []
    i = 0
    for d in sorted(os.listdir(tmp)):
        if not d.startswith("_pk="):
            continue
        pk = json.loads(unquote(d.split("=", 1)[1]))
        part = {
            c: _coerce_partition(delta_types[c], pk.get(c))
            for c in part_cols
        }
        for f in sorted(os.listdir(os.path.join(tmp, d))):
            if not f.endswith(".parquet"):
                continue
            final = os.path.join(
                meta_dir, f"posdel-{snapshot_id}-{i:05d}.parquet"
            )
            os.replace(os.path.join(tmp, d, f), final)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 1,  # position deletes
                        "file_path": final,
                        "file_format": "PARQUET",
                        "partition": part,
                        "record_count": int(
                            pq.ParquetFile(final).metadata.num_rows
                        ),
                        "file_size_in_bytes": os.path.getsize(final),
                        "block_size_in_bytes": 67108864,
                    },
                }
            )
            i += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return entries


def _current_snapshot(table_path: str) -> dict:
    meta_dir = _meta_dir(table_path)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    return next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )


def _file_set(table_path: str, content: int) -> list[dict]:
    files: list[dict] = []
    for mf in read_avro_ocf(_current_snapshot(table_path)["manifest-list"]):
        if mf.get("content", 0) != content:
            continue
        for entry in read_avro_ocf(mf["manifest_path"]):
            if entry["status"] != 2:  # not DELETED
                files.append(entry["data_file"])
    return files


def read_iceberg_file_set(table_path: str) -> list[dict]:
    """Walk the generated tree like an Iceberg reader: version-hint →
    metadata JSON → current snapshot → manifest list → DATA manifests
    (manifest-list content 0) → data-file entries. Used by the
    structural tests (and as a reference for what a foreign reader
    sees)."""
    return _file_set(table_path, 0)


def read_iceberg_deletes(table_path: str) -> list[dict]:
    """The current snapshot's position-delete files (v2 delete
    manifests, manifest-list content 1); empty for a v1 tree."""
    return _file_set(table_path, 1)


def read_iceberg_rows(spark, table_path: str):
    """Read the exported tree like an Iceberg v2 reader: scan the data
    files, then ANTI-JOIN the position-delete rows on
    (file_path, pos) — the spec's position-delete application. Used by
    the DV parity tests: the result must equal the DV-applied Delta
    snapshot row-for-row."""
    from pyspark.sql import functions as F

    files = read_iceberg_file_set(table_path)
    df = spark.read.option("basePath", table_path).parquet(
        *[f["file_path"] for f in files]
    )
    dels = read_iceberg_deletes(table_path)
    if not dels:
        return df
    ddf = spark.read.parquet(*[d["file_path"] for d in dels]).select(
        F.col("file_path").alias("_fp"), F.col("pos").alias("_pos")
    )
    # _metadata.file_path is a percent-encoded file: URI; the delete
    # rows store plain filesystem paths — strip the scheme, shield
    # literal '+' (url_decode would turn it into a space), then decode
    # the %XX escapes (hive-escaped partition dirs otherwise never
    # match, resurrecting soft-deleted rows — r13 review)
    return (
        df.withColumn(
            "_fp",
            F.expr(
                "url_decode(replace(regexp_replace("
                "_metadata.file_path, '^file:/*', '/'), '+', '%2B'))"
            ),
        )
        .withColumn("_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(ddf), ["_fp", "_pos"], "left_anti")
        .drop("_fp", "_pos")
    )
