"""Driver-side Delta log replay — stdlib + pyarrow, no SparkSession.

This is the one reader of a table's ``_delta_log``. Every answer about
the log is resolved here: the actions themselves, the version, metaData,
protocol, live add actions, tombstones, deletion-vector sidecars and the
rows they delete per live file, record counts per live file, the ``txn``
version per appId, domain metadata per domain, commitInfo per version
and commit timestamps. A snapshot is the newest checkpoint (v1 single,
multi-part, or v2 with ``_sidecars/``) plus the commit JSONs after it,
reconciled last-wins per path (the Delta protocol's definition, PAPER.md
D1). ``delta_log.DeltaLog`` hands the DataFrame-shaped answers to Spark
as arrow LocalRelations built from these rows.

Checkpoints are written here too, next to the reader:
``Snapshot.write_checkpoint`` turns the reconciled state into arrow
tables (``arrow_table``, typed by ``arrow_schema`` the way Spark's JSON
reader and parquet writer type them) and publishes the parquet files
with ``pyarrow.parquet``.

Nothing here imports pyspark: the ``delta_tail`` streaming source calls
it from a Python worker.

- Parsed commits are cached on (path, size, mtime).
- Answers are memoised per snapshot key — (log dir, checkpoint version,
  oldest and newest retained commit, the newest commit file's size and
  mtime) — so any commit, checkpoint, cleanup or rebuild at the same path
  changes the key. Callers get copies: mutating an answer never changes
  what the next caller sees.
- A malformed commit raises ``ValueError("corrupt Delta commit ...")``.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LOG_DIR = "_delta_log"

DEFAULT_PROTOCOL = {
    "minReaderVersion": 1,
    "minWriterVersion": 2,
    "readerFeatures": [],
    "writerFeatures": [],
}

_COMMITS: dict[tuple, list[dict]] = {}
_MEMO: dict[tuple, dict] = {}


def commit_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, LOG_DIR, f"{version:020d}.json")


def commit_versions(table_path: str) -> list[int]:
    """Sorted versions of the retained commit files (20-digit ``.json``
    names); [] when the log does not exist."""
    try:
        names = os.listdir(os.path.join(table_path, LOG_DIR))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[:20])
        for n in names
        if len(n) == 25 and n.endswith(".json") and n[:20].isdigit()
    )


def _parsed(table_path: str, version: int) -> list[dict]:
    """Every action of commit ``version`` — the shared cached list, never
    handed to callers. FileNotFoundError once log cleanup expired it."""
    p = commit_path(table_path, version)
    st = os.stat(p)
    key = (p, st.st_size, st.st_mtime_ns)
    hit = _COMMITS.get(key)
    if hit is None:
        with open(p) as f:
            lines = [line for line in f if line.strip()]
        try:
            hit = [json.loads(line) for line in lines]
        except ValueError as exc:
            raise ValueError(f"corrupt Delta commit {p}: {exc}") from None
        if not all(isinstance(a, dict) for a in hit):
            raise ValueError(
                f"corrupt Delta commit {p}: an action is not a JSON object"
            )
        if len(_COMMITS) > 4096:
            _COMMITS.clear()
        _COMMITS[key] = hit
    return hit


def _copy(x):
    """Copy JSON-shaped data deep enough that no caller reaches a cache."""
    if isinstance(x, dict):
        return {k: _copy(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_copy(v) for v in x]
    return x


def read_commit(table_path: str, version: int) -> list[dict]:
    """The actions of commit ``version``, in file order."""
    return _copy(_parsed(table_path, version))


def info_timestamp(commit_info: dict) -> int | None:
    """A commitInfo's timestamp: its inCommitTimestamp (the timestamp
    ``timestampAsOf`` resolves, as Delta reports it once ICT is on),
    else ``timestamp``; None when it carries neither."""
    ts = commit_info.get("inCommitTimestamp")
    if ts is None:  # a foreign writer may emit null
        ts = commit_info.get("timestamp")
    return ts


def commit_timestamp(table_path: str, version: int) -> int | None:
    """Commit ``version``'s own timestamp (``info_timestamp``); None when
    it carries no commitInfo."""
    stamps = []
    for a in _parsed(table_path, version):
        ci = a.get("commitInfo")
        ts = None if ci is None else info_timestamp(ci)
        if ts is not None:
            stamps.append(int(ts))
    return max(stamps, default=None)


def last_checkpoint_info(table_path: str) -> dict | None:
    """The ``_last_checkpoint`` record (version, size, and ``parts`` for
    multi-part or ``format``/``path`` for v2 checkpoints), or None."""
    try:
        with open(os.path.join(table_path, LOG_DIR, "_last_checkpoint")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def checkpoint_file_names(info: dict) -> list[str]:
    """Checkpoint file names (relative to ``_delta_log``) for a
    ``_last_checkpoint`` record — single, multi-part, or the V2 UUID
    top-level (sidecar files are indexed inside the V2 top-level, see
    ``sidecar_names``)."""
    v = int(info["version"])
    if info.get("format") == "v2":
        return [info["path"]]
    parts = info.get("parts")
    # parts == 1 uses the classic single-file name (a foreign writer may
    # record "parts": 1 explicitly) — multi-part naming only when > 1
    if parts and int(parts) > 1:
        n = int(parts)
        return [
            f"{v:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet"
            for i in range(n)
        ]
    return [f"{v:020d}.checkpoint.parquet"]


def sidecar_names(table_path: str, info: dict) -> list[str]:
    """File names under ``_delta_log/_sidecars`` that a V2 checkpoint's
    top-level file indexes ([] for a V1 checkpoint)."""
    if info.get("format") != "v2":
        return []
    with pq.ParquetFile(os.path.join(table_path, LOG_DIR, info["path"])) as top:
        if "sidecar" not in top.schema_arrow.names:
            return []
        col = top.read(columns=["sidecar"]).column("sidecar")
    return [r["path"] for r in col.to_pylist() if r and r.get("path")]


def _plainer(t: pa.DataType):
    """A function turning one ``to_pylist`` value of arrow type ``t`` into
    the shape a commit JSON parses to: map values (tuple lists in
    ``to_pylist``) become dicts. None when ``t`` holds no map, so its
    values are used as they are. ``to_pylist`` builds fresh dicts, so
    struct values are converted in place."""
    if pa.types.is_map(t):
        item = _plainer(t.item_type)
        if item is None:
            return lambda v: None if v is None else dict(v)
        return lambda v: None if v is None else {k: item(x) for k, x in v}
    if pa.types.is_struct(t):
        fields = [(f.name, c) for f in t if (c := _plainer(f.type)) is not None]
        if not fields:
            return None

        def struct(v):
            if v is not None:
                for name, c in fields:
                    v[name] = c(v[name])
            return v

        return struct
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _plainer(t.value_type)
        if elem is None:
            return None
        return lambda v: None if v is None else [elem(x) for x in v]
    return None


# checkpoint columns that index the checkpoint rather than hold actions
_NOT_ACTIONS = frozenset({"version", "checkpointMetadata", "sidecar"})


def _checkpoint_rows(
    table_path: str, info: dict, columns: list[str] | None
) -> list[tuple[int, dict]]:
    """(version, {column: value}) for every checkpoint row with a
    non-null value in one of ``columns`` (None: every action column).
    Reads only those columns (plus ``version``) of the top-level files
    and — for add/remove on a V2 checkpoint — of its sidecars. Rows
    without a ``version`` column (a foreign checkpoint) carry the
    checkpoint's version."""
    log_dir = os.path.join(table_path, LOG_DIR)
    base = int(info["version"])
    files = [os.path.join(log_dir, n) for n in checkpoint_file_names(info)]
    if columns is None or {"add", "remove"} & set(columns):
        files += [
            os.path.join(log_dir, "_sidecars", n)
            for n in sidecar_names(table_path, info)
        ]
    out: list[tuple[int, dict]] = []
    for fp in files:
        with pq.ParquetFile(fp) as pf:
            names = pf.schema_arrow.names
            want = [
                c for c in (names if columns is None else columns)
                if c in names and c not in _NOT_ACTIONS
            ]
            if not want:
                continue
            t = pf.read(columns=want + (["version"] if "version" in names else []))
        # only the non-null values of each column become Python objects
        rows: dict[int, dict] = {}
        for c in want:
            col = t.column(c)
            valid = pc.is_valid(col)
            plain = _plainer(col.type)
            for i, v in zip(
                pc.indices_nonzero(valid).to_pylist(), col.filter(valid).to_pylist()
            ):
                rows.setdefault(i, {})[c] = v if plain is None else plain(v)
        vers = t.column("version").to_pylist() if "version" in names else None
        for i in sorted(rows):
            v = None if vers is None else vers[i]
            out.append((base if v is None else int(v), rows[i]))
    return out


_ARROW_PRIMITIVES = {
    "string": pa.string(),
    "long": pa.int64(),
    "double": pa.float64(),
    "integer": pa.int32(),
    "boolean": pa.bool_(),
}


def _arrow_type(t) -> pa.DataType:
    if isinstance(t, str):
        return _ARROW_PRIMITIVES[t]
    if t["type"] == "struct":
        return pa.struct(
            [pa.field(f["name"], _arrow_type(f["type"]), f["nullable"]) for f in t["fields"]]
        )
    if t["type"] == "map":
        value = pa.field("value", _arrow_type(t["valueType"]), t["valueContainsNull"])
        return pa.map_(_arrow_type(t["keyType"]), value)
    if t["type"] == "array":
        elem = pa.field("element", _arrow_type(t["elementType"]), t["containsNull"])
        return pa.list_(elem)
    raise TypeError(f"no arrow type for Spark type {t!r}")


def arrow_schema(spark_schema: dict) -> pa.Schema:
    """The arrow schema of a Spark ``StructType`` given in its JSON form
    (``StructType.jsonValue()``), typed as Spark's parquet writer stores
    it: non-null map keys, ``list<element>``, Spark's nullability."""
    return pa.schema(list(_arrow_type(spark_schema)))


def _spark_string(v) -> str | None:
    """A JSON value as Spark's JSON reader yields it for a STRING field:
    a string as-is, anything else as its compact JSON text (3 -> "3")."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _conformer(t: pa.DataType):
    """A function casting one JSON-shaped value to arrow type ``t`` the
    way Spark's JSON reader reads it under that schema: struct fields the
    type lacks are dropped, and a string field or map value goes through
    ``_spark_string``."""
    if pa.types.is_string(t):
        return _spark_string
    if pa.types.is_struct(t):
        fields = [(f.name, _conformer(f.type)) for f in t]
        return lambda v: None if v is None else {n: c(v.get(n)) for n, c in fields}
    if pa.types.is_map(t):
        item = _conformer(t.item_type)
        return lambda v: None if v is None else {k: item(x) for k, x in v.items()}
    if pa.types.is_list(t):
        elem = _conformer(t.value_type)
        return lambda v: None if v is None else [elem(x) for x in v]
    return lambda v: v


def arrow_table(rows: list[dict], schema: pa.Schema) -> pa.Table:
    """``rows`` (dicts of JSON-shaped values) as an arrow table of
    ``schema``, every value conformed by the one Spark-JSON rule above —
    shared by the checkpoint writer and ``DeltaLog.history``."""
    row = _conformer(pa.struct(list(schema)))
    return pa.Table.from_pylist([row(r) for r in rows], schema=schema)


# the V2 checkpoint's index columns (Delta spec checkpointMetadata/sidecar)
_V2_INDEX_FIELDS = [
    pa.field("checkpointMetadata", pa.struct([("version", pa.int64())])),
    pa.field(
        "sidecar",
        pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]),
    ),
]


def _publish(path: str, content: pa.Table | dict) -> None:
    """Write a log file — a parquet table or a JSON record — under a
    temporary name, then rename it into place so no reader ever sees it
    half-written."""
    tmp = os.path.join(os.path.dirname(path), f".ckpt-tmp-{uuid.uuid4().hex}")
    try:
        if isinstance(content, pa.Table):
            pq.write_table(content, tmp)
        else:
            with open(tmp, "w") as f:
                json.dump(content, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _chunks(rows: list, size: int) -> list[list]:
    """``rows`` in pieces of at most ``size``; one (maybe empty) piece at
    least, so every checkpoint layout has a file to name."""
    return [rows[i:i + size] for i in range(0, len(rows), size)] or [[]]


def _valid_protocol(p: dict) -> bool:
    return p.get("minReaderVersion") is not None


def _num_records(stats) -> int | None:
    """``numRecords`` of an add's stats JSON string; None when absent
    or unreadable."""
    try:
        n = json.loads(stats).get("numRecords") if stats else None
        return None if n is None else int(n)
    except (ValueError, TypeError, AttributeError):
        return None


def table_snapshot(table_path: str) -> Snapshot:
    """``Snapshot(table_path)`` of a table with at least one commit;
    FileNotFoundError for a missing or empty log."""
    snap = Snapshot(table_path)
    if snap.version() < 0:
        raise FileNotFoundError(f"empty delta log: {snap.key[0]}")
    return snap


class Snapshot:
    """One listing of a table's log — the ``_last_checkpoint`` record and
    the retained commit versions — and the answers replayed from it. A
    missing or empty log is an empty table: no metadata, the default
    protocol, no files, version -1."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.info = last_checkpoint_info(table_path)
        self.checkpoint = None if self.info is None else int(self.info["version"])
        self.versions = commit_versions(table_path)
        newest = (
            commit_path(table_path, self.versions[-1])
            if self.versions
            else os.path.join(table_path, LOG_DIR, "_last_checkpoint")
        )
        try:
            st = os.stat(newest)
            stamp = (st.st_size, st.st_mtime_ns)
        except FileNotFoundError:
            stamp = None
        self.key = (
            os.path.join(table_path, LOG_DIR),
            self.checkpoint,
            self.versions[0] if self.versions else -1,
            self.versions[-1] if self.versions else -1,
            stamp,
        )

    def _memo(self, name, build):
        slot = _MEMO.get(self.key)
        if slot is None:
            if len(_MEMO) > 256:
                _MEMO.clear()
            slot = _MEMO.setdefault(self.key, {})
        if name not in slot:
            slot[name] = build()
        return slot[name]

    # -- replay range ------------------------------------------------------

    def earliest_version(self) -> int:
        """Lowest retained commit — 0 until log cleanup expires history."""
        return self.versions[0] if self.versions else 0

    def require_history_from(self, version: int) -> None:
        """Raise if raw-JSON replay from ``version`` is impossible because
        log cleanup expired earlier commits."""
        earliest = self.earliest_version()
        if version < earliest:
            raise ValueError(
                f"log history before version {earliest} has been cleaned "
                f"up (requested {version}); time travel and change feeds "
                "are bounded by the log retention window"
            )

    def replays_checkpoint(self, as_of: int | None) -> bool:
        """Whether the state at ``as_of`` (None = newest) starts from the
        checkpoint: exact for any ``as_of`` at or above it, and after log
        cleanup the only exact source. Otherwise every commit from
        version 0 is replayed, which raises if cleanup expired any."""
        if self.checkpoint is not None and (
            as_of is None or as_of >= self.checkpoint
        ):
            return True
        self.require_history_from(0)
        return False

    def _commits_to(self, as_of: int | None) -> tuple[dict | None, list[int]]:
        """(checkpoint record or None, commit versions to replay after it)
        for the state at ``as_of``."""
        if self.replays_checkpoint(as_of):
            info, lo = self.info, self.checkpoint
        else:
            info, lo = None, -1
        return info, [
            v for v in self.versions
            if v > lo and (as_of is None or v <= as_of)
        ]

    def _newest(
        self, column: str, as_of: int | None, pick
    ) -> tuple[int, dict] | None:
        """(version, action) of the newest ``column`` action accepted by
        ``pick``: commits newest-first (the last in a commit wins), then
        the checkpoint's highest-version row."""
        info, versions = self._commits_to(as_of)
        for v in reversed(versions):
            found = None
            for a in _parsed(self.table_path, v):
                x = a.get(column)
                if x is not None and pick(x):
                    found = x
            if found is not None:
                return v, found
        if info is not None:
            rows = [
                (v, r[column])
                for v, r in _checkpoint_rows(self.table_path, info, [column])
                if pick(r[column])
            ]
            if rows:
                return max(rows, key=lambda vr: vr[0])
        return None

    def _every(self, column: str, as_of: int | None) -> list[tuple[int, dict]]:
        """(version, action) of every ``column`` action at ``as_of``: the
        checkpoint's rows, then each later commit's in version order."""
        info, versions = self._commits_to(as_of)
        out = [] if info is None else [
            (v, r[column])
            for v, r in _checkpoint_rows(self.table_path, info, [column])
        ]
        for v in versions:
            out += [(v, a[column]) for a in _parsed(self.table_path, v)
                    if a.get(column) is not None]
        return out

    # -- answers -----------------------------------------------------------

    def actions(self, use_checkpoint: bool = True) -> list[dict]:
        """Every action row, each ``{action column: action, "version":
        its commit}``: the checkpoint's rows, then every commit after
        it in version order. ``use_checkpoint=False`` (or no checkpoint)
        replays every retained commit instead."""
        info = self.info if use_checkpoint else None
        out = [] if info is None else [
            {**row, "version": v}
            for v, row in _checkpoint_rows(self.table_path, info, None)
        ]
        for v in self.versions:
            if info is None or v > self.checkpoint:
                out += [{**a, "version": v} for a in read_commit(self.table_path, v)]
        return out

    def version(self) -> int:
        """Newest committed version, -1 for an empty log. The newest
        commit is parsed, so a truncated head fails like every read."""
        if self.versions:
            _parsed(self.table_path, self.versions[-1])
            return max(self.versions[-1], self.checkpoint or -1)
        return -1 if self.checkpoint is None else self.checkpoint

    def metadata(self, as_of: int | None = None) -> dict:
        """Newest metaData as {id, name, partition_columns, schema (parsed
        schemaString), configuration}; {} when none was committed."""

        def build():
            found = self._newest("metaData", as_of, lambda m: True)
            if found is None:
                return {}
            m = found[1]
            schema = m.get("schemaString")
            return {
                "id": m.get("id"),
                "name": m.get("name"),
                "partition_columns": list(m.get("partitionColumns") or []),
                "schema": json.loads(schema) if schema else None,
                "configuration": dict(m.get("configuration") or {}),
            }

        return _copy(self._memo(("metadata", as_of), build))

    def protocol(self) -> dict:
        """Newest protocol as {minReaderVersion, minWriterVersion,
        readerFeatures, writerFeatures}; the legacy (1, 2) default when
        none was committed."""

        def build():
            found = self._newest("protocol", None, _valid_protocol)
            if found is None:
                return DEFAULT_PROTOCOL
            p = found[1]
            return {
                "minReaderVersion": int(p["minReaderVersion"]),
                "minWriterVersion": int(p.get("minWriterVersion") or 2),
                "readerFeatures": list(p.get("readerFeatures") or []),
                "writerFeatures": list(p.get("writerFeatures") or []),
            }

        return _copy(self._memo("protocol", build))

    def _reconciled(self, as_of: int | None) -> tuple[dict, dict, dict]:
        """({path: add}, {path: remove}, {path: version of that action})
        at ``as_of`` — the shared memo, never handed to callers. Per path
        the newest action decides; within one commit removes apply before
        adds, so an add wins. A path whose newest action is a remove is a
        tombstone."""

        def build():
            info, versions = self._commits_to(as_of)
            steps: list[tuple[int, list[dict]]] = []
            if info is not None:
                by_version: dict[int, list[dict]] = {}
                for v, row in _checkpoint_rows(
                    self.table_path, info, ["add", "remove"]
                ):
                    by_version.setdefault(v, []).append(row)
                steps += sorted(by_version.items(), key=lambda s: s[0])
            steps += [(v, _parsed(self.table_path, v)) for v in versions]
            live: dict[str, dict] = {}
            tombs: dict[str, dict] = {}
            at: dict[str, int] = {}
            for v, acts in steps:
                for a in acts:
                    r = a.get("remove")
                    if r is not None and r.get("path"):
                        live.pop(r["path"], None)
                        tombs[r["path"]] = r
                        at[r["path"]] = v
                for a in acts:
                    add = a.get("add")
                    if add is not None and add.get("path"):
                        live[add["path"]] = add
                        tombs.pop(add["path"], None)
                        at[add["path"]] = v
            return live, tombs, at

        return self._memo(("reconciled", as_of), build)

    def _live_adds(self, as_of: int | None = None) -> list[dict]:
        """``live_add_actions`` without the per-caller copy: the shared
        memo, for package readers that only read it."""

        def build():
            live = self._reconciled(as_of)[0]
            return [
                {k: x for k, x in live[p].items() if x is not None}
                for p in sorted(live)
            ]

        return self._memo(("live_add_actions", as_of), build)

    def live_add_actions(self, as_of: int | None = None) -> list[dict]:
        """The add action of every live file at ``as_of``, sorted by path,
        null fields dropped."""
        return _copy(self._live_adds(as_of))

    def tombstones(self) -> dict[str, int | None]:
        """{path: deletionTimestamp} of every file whose newest action is
        a remove (None when the remove carries no timestamp), by path."""

        def build():
            tombs = self._reconciled(None)[1]
            return {p: tombs[p].get("deletionTimestamp") for p in sorted(tombs)}

        return dict(self._memo("tombstones", build))

    def deletion_vector_paths(self, as_of: int | None = None) -> list[str]:
        """Sidecar paths of every dv action at ``as_of``: the checkpoint's,
        then each later commit's in version order."""

        def build():
            return [d["path"] for _, d in self._every("dv", as_of) if d.get("path")]

        return list(self._memo(("dv_paths", as_of), build))

    def txn_version(self, app_id: str) -> int | None:
        """Highest ``txn.version`` recorded for ``app_id``, or None."""

        def build():
            found = [
                int(t["version"]) for _, t in self._every("txn", None)
                if t.get("appId") == app_id and t.get("version") is not None
            ]
            return max(found, default=None)

        return self._memo(("txn", app_id), build)

    def domain_metadata(self, domain: str) -> dict | None:
        """Newest configuration of a ``domainMetadata`` domain, or None
        when never set or removed."""

        def build():
            found = self._newest(
                "domainMetadata", None, lambda d: d.get("domain") == domain
            )
            if found is None or found[1].get("removed"):
                return None
            return json.loads(found[1].get("configuration") or "{}")

        return _copy(self._memo(("domain", domain), build))

    def commit_timestamps(self) -> list[tuple[int, int]]:
        """(version, adjusted_ts_millis) for every retained commit. The
        timestamp is ``commit_timestamp``, else the commit file's mtime;
        a commit stamped at or before its predecessor reads as
        predecessor + 1 ms, so timestamp -> version is well-defined."""

        def build():
            out, prev = [], -1
            for v in self.versions:
                ts = commit_timestamp(self.table_path, v)
                if ts is None:
                    mtime = os.path.getmtime(commit_path(self.table_path, v))
                    ts = int(mtime * 1000)
                ts = max(ts, prev + 1)
                out.append((v, ts))
                prev = ts
            return out

        return list(self._memo("commit_timestamps", build))

    def commit_infos(self) -> dict[int, dict]:
        """{version: commitInfo} from the checkpoint's rows plus every
        retained commit JSON, one per version — DESCRIBE HISTORY's
        source. A version the checkpoint carries keeps its row (the
        commit file holds the same one), so only the tail and commits a
        foreign checkpoint left out are parsed; a commit with several
        commitInfo actions keeps the first."""

        def build():
            out: dict[int, dict] = {}
            if self.info is not None:
                for v, row in _checkpoint_rows(
                    self.table_path, self.info, ["commitInfo"]
                ):
                    out.setdefault(v, row["commitInfo"])
            for v in self.versions:
                if v in out:
                    continue
                ci = next(
                    (a["commitInfo"] for a in _parsed(self.table_path, v)
                     if a.get("commitInfo") is not None),
                    None,
                )
                if ci is not None:
                    out[v] = ci
            return {v: out[v] for v in sorted(out)}

        return _copy(self._memo("commit_infos", build))

    def _dv_hits(self) -> dict[str, dict[str, int]]:
        """{sidecar path: {live path: rows it soft-deletes there}} for every
        dv action's sidecar, each read once (its ``rel_path`` column).
        Files since rewritten are left out: their vectors are no-ops."""

        def build():
            live = self._reconciled(None)[0]
            out: dict[str, dict[str, int]] = {}
            for rel in dict.fromkeys(self.deletion_vector_paths()):
                col = pq.read_table(
                    os.path.join(self.table_path, rel), columns=["rel_path"]
                ).column("rel_path")
                out[rel] = {
                    hit["values"]: hit["counts"]
                    for hit in col.value_counts().to_pylist()
                    if hit["values"] in live
                }
            return out

        return self._memo("dv_hits", build)

    def live_dv_paths(self) -> list[str]:
        """Sorted sidecar paths of the dv actions that still soft-delete
        at least one live file — the vectors a checkpoint keeps."""
        return sorted(rel for rel, hits in self._dv_hits().items() if hits)

    def dv_deleted_rows(self) -> dict[str, int]:
        """{live path: rows its deletion vectors soft-delete}, counted
        from the sidecars' ``rel_path`` column. Entries for files since
        rewritten are dropped: their vectors are no-ops."""

        def build():
            hits = self._dv_hits()
            out: dict[str, int] = {}
            for rel in self.deletion_vector_paths():
                for p, n in hits[rel].items():
                    out[p] = out.get(p, 0) + n
            return out

        return dict(self._memo("dv_deleted_rows", build))

    def record_counts(self) -> dict[str, int] | None:
        """{live path: rows visible in it} — the add's ``stats.numRecords``
        minus its deletion-vector rows — or None when a live add carries
        no numRecords (then only a data scan can count)."""

        def build():
            dv = self.dv_deleted_rows()
            out: dict[str, int] = {}
            for a in self._live_adds():
                n = _num_records(a.get("stats"))
                if n is None:
                    return None
                out[a["path"]] = n - dv.get(a["path"], 0)
            return out

        counts = self._memo("record_counts", build)
        return None if counts is None else dict(counts)

    # -- checkpoint writing --------------------------------------------------

    def _checkpoint_state(self, tombstone_cutoff_ms: int) -> tuple[list, list]:
        """(file rows, other rows) a checkpoint records, each row
        ``{action column: action, "version": its commit}``: the live adds
        and the newest removes whose ``deletionTimestamp`` is null or at
        or after ``tombstone_cutoff_ms`` (file rows); the newest metaData
        and protocol, every commitInfo of the checkpoint and the tail, the
        dv actions that still hit a live file, the latest txn per appId by
        (``txn.version``, version) and the latest domainMetadata per
        domain (other rows)."""
        live, tombs, at = self._reconciled(None)
        files = [{"add": live[p], "version": at[p]} for p in sorted(live)]
        files += [
            {"remove": tombs[p], "version": at[p]}
            for p in sorted(tombs)
            if tombs[p].get("deletionTimestamp") is None
            or tombs[p]["deletionTimestamp"] >= tombstone_cutoff_ms
        ]
        other = []
        for column, pick in (("protocol", _valid_protocol), ("metaData", lambda m: True)):
            found = self._newest(column, None, pick)
            if found is not None:
                other.append({column: found[1], "version": found[0]})
        latest: dict = {}  # (column, appId or domain) -> (rank, row)
        for column, key, rank in (
            ("txn", "appId", lambda v, t: (t.get("version") is not None, t.get("version") or 0, v)),
            ("domainMetadata", "domain", lambda v, d: v),
        ):
            for v, a in self._every(column, None):
                k, r = (column, a.get(key)), rank(v, a)
                if k not in latest or r >= latest[k][0]:
                    latest[k] = (r, {column: a, "version": v})
        other += [row for _, row in latest.values()]
        other += [{"commitInfo": c, "version": v} for v, c in self._every("commitInfo", None)]
        keep = set(self.live_dv_paths())
        other += [{"dv": d, "version": v} for v, d in self._every("dv", None) if d.get("path") in keep]
        return files, other

    def write_checkpoint(
        self,
        schema: pa.Schema,
        tombstone_cutoff_ms: int,
        rows_per_part: int,
        v2: bool = False,
    ) -> int:
        """Write ``_checkpoint_state`` at the newest version, typed by
        ``schema`` (the action columns plus ``version``), and point
        ``_last_checkpoint`` at it; returns that version. v1 writes one
        file or parts of at most ``rows_per_part`` rows; v2 writes the
        file rows as ``_sidecars/`` of at most ``rows_per_part`` rows and
        a top-level file with the other rows plus its index rows. Every
        file is published by rename; ``_last_checkpoint`` moves last."""
        version = self.version()
        if version < 0:
            raise FileNotFoundError(f"empty delta log: {self.key[0]}")
        log_dir = os.path.join(self.table_path, LOG_DIR)
        files, other = self._checkpoint_state(tombstone_cutoff_ms)
        if not v2:
            parts = _chunks(other + files, rows_per_part)
            names = checkpoint_file_names({"version": version, "parts": len(parts)})
            for rows, name in zip(parts, names):
                _publish(os.path.join(log_dir, name), arrow_table(rows, schema))
            info = {"version": version, "size": len(other) + len(files)}
            if len(parts) > 1:
                info["parts"] = len(parts)
        else:
            os.makedirs(os.path.join(log_dir, "_sidecars"), exist_ok=True)
            now = int(time.time() * 1000)
            index = [{"checkpointMetadata": {"version": version}}]
            for rows in _chunks(files, rows_per_part):
                name = f"{uuid.uuid4().hex}.parquet"
                fp = os.path.join(log_dir, "_sidecars", name)
                _publish(fp, arrow_table(rows, schema))
                size = os.path.getsize(fp)
                index.append({"sidecar": {"path": name, "sizeInBytes": size, "modificationTime": now}})
            top_schema = pa.schema(list(schema) + _V2_INDEX_FIELDS)
            top_name = f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
            _publish(os.path.join(log_dir, top_name), arrow_table(other + index, top_schema))
            info = {
                "version": version,
                "size": len(files) + len(other) + len(index),
                "format": "v2",
                "path": top_name,
            }
        _publish(os.path.join(log_dir, "_last_checkpoint"), info)
        if info.get("parts"):
            # a single-file checkpoint at this version is superseded
            single = os.path.join(log_dir, checkpoint_file_names({"version": version})[0])
            if os.path.isfile(single):
                os.remove(single)
        return version
