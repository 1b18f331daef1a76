"""Delta tables as a Structured Streaming SOURCE (Spark 4 Python Data
Source API).

``spark.readStream.format("delta_tail").option("path", p).load()`` tails
the table's ``_delta_log``: each micro-batch covers the commit versions
between the last checkpointed offset and the current log head, and its
input partitions are exactly the data files those commits added — one
``InputPartition`` per file, so a 1000-executor cluster fans the batch
out file-parallel while the driver only ever parses the (tiny) JSON
commits. Offsets are ``{"version": N}``; the micro-batch engine
checkpoints them, which is what makes restart exactly-once.

Semantics match Delta's own streaming source:

- only ``add`` actions with ``dataChange = true`` feed the stream —
  OPTIMIZE / z-order / DV-purge rewrites are invisible;
- a data-changing ``remove`` or a deletion-vector commit is an ERROR
  unless ``ignoreDeletes`` is set (an append-only reader silently
  skipping deletes would be wrong by default);
- ``startingVersion`` begins the tail mid-log (default: version 0,
  i.e. the full history replay).

Everything here runs OUTSIDE the JVM session: the driver half reads the
log through ``sources/log_replay.py`` (stdlib + pyarrow), the executor
half reads parquet with pyarrow and yields Arrow record batches (zero
row-at-a-time Python). Hive-style partition directory values are
re-attached and cast from the path, and column-mapped tables
(RENAME/DROP) are decoded physical->logical with the one mapping rule,
``log_replay.physical_name``. ``startingTimestamp`` resolves through
``Snapshot.version_at_or_after``, the rule ``table_changes`` uses.

The reference (alvaromoureupm/delta-lake-health) is batch-only over
delta-rs; this is the streaming ingest path its tables would need.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from delta_lake_health_spark.sources import log_replay

SOURCE_NAME = "delta_tail"


@dataclass
class DeltaFilePartition(InputPartition):
    abs_path: str
    version: int
    # (logical_name, physical_name, type_json) per schema field
    fields: list = field(default_factory=list)
    # hive partition values parsed from the path: {logical_name: str}
    partition_values: dict = field(default_factory=dict)
    # "data" (an added data file) or "cdc" (a _change_data file whose
    # rows carry their own _change_type; columns are logical names)
    kind: str = "data"
    # readChangeFeed mode: append _change_type/_commit_version columns
    cdf: bool = False


class DeltaTailStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.table_path = options.get("path")
        if not self.table_path:
            raise ValueError("delta_tail requires .option('path', ...)")
        self.ignore_deletes = str(
            options.get("ignoredeletes", "false")
        ).lower() in ("true", "1")
        # Delta's skipChangeCommits: skip data-changing commits (rewrites
        # from UPDATE/DELETE/MERGE) entirely instead of failing — neither
        # their removes nor their re-added files feed the stream
        self.skip_change_commits = str(
            options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        self.starting_version = int(options.get("startingversion", 0))
        # startingTimestamp (Delta's option): resolve to the earliest
        # commit AT or AFTER the timestamp (epoch ms or ISO date[time]),
        # using inCommitTimestamp when present (the same authority as
        # timestampAsOf); one past the head when every commit predates
        # it (the stream starts with the NEXT write). Mutually exclusive
        # with startingVersion.
        st = options.get("startingtimestamp")
        if st is not None:
            if "startingversion" in options:
                raise ValueError(
                    "delta_tail: set startingVersion OR startingTimestamp"
                )
            self.starting_version = log_replay.Snapshot(
                self.table_path
            ).version_at_or_after(str(st))
        # admission control at the source's natural offset granularity —
        # commit versions: bounds how much backlog one micro-batch
        # admits, so a stream restarted after downtime drains in paced
        # batches instead of one giant catch-up batch. 0 = unbounded.
        # Applies to periodic-trigger batches from the second batch of a
        # run onward; the first batch (and all of Trigger.AvailableNow,
        # which has no admission hook in the Python DataSource API)
        # drains to latest.
        self.max_versions = int(options.get("maxversionspertrigger", 0))
        # byte-based admission (Delta's maxBytesPerTrigger): admit whole
        # commit versions until their cumulative add-file bytes exceed
        # the budget (always at least one version, so progress is
        # guaranteed); composes with maxVersionsPerTrigger (tighter
        # bound wins) and shares its floor/first-batch semantics
        self.max_bytes = int(options.get("maxbytespertrigger", 0))
        # file-count admission (Delta's maxFilesPerTrigger, its default
        # pacing knob — default 1000 there, unbounded here to preserve
        # this source's existing semantics): admit whole commit versions
        # until their cumulative dataChange add-file count reaches the
        # budget; same >= 1 version floor, composes with the other two
        # caps (tightest bound wins)
        self.max_files = int(options.get("maxfilespertrigger", 0))
        # bootstrapSnapshot: the stream's FIRST batch is the full table
        # snapshot at stream-start version (reconstructed driver-side
        # from checkpoint + JSON tail, so it works even after log
        # cleanup expired the early commits), then the tail follows —
        # Delta's "initial snapshot then changes" streaming semantics.
        self.bootstrap = str(
            options.get("bootstrapsnapshot", "false")
        ).lower() in ("true", "1")
        # readChangeFeed (Delta's streaming CDF): rows gain _change_type
        # and _commit_version; commits carrying cdc actions feed their
        # change-data files VERBATIM (true update_preimage/postimage)
        # instead of their add files, appends feed as inserts
        self.cdf = str(
            options.get("readchangefeed", "false")
        ).lower() in ("true", "1")
        # Planning floor for the cap. The API gives latestOffset() no
        # start argument (and calls it before initialOffset), so the
        # reader cannot know the checkpointed offset when planning the
        # FIRST batch of a run — capping blind there would return an end
        # BELOW the checkpoint, which the engine records as the new
        # offset and then re-reads the gap (duplicates). The cap
        # therefore only engages once the engine has revealed its true
        # offsets through initialOffset()/partitions()/commit(): the
        # first planned batch per run is unbounded, every later batch is
        # paced. Steady-state and growing backlogs pace exactly; only a
        # cold restart's catch-up batch bypasses the cap.
        self._floor: int | None = None
        self.schema_struct = schema

    def initialOffset(self) -> dict:
        if self.bootstrap:
            # the head: the newest JSON, or the checkpoint when cleanup
            # left no newer JSONs
            boot = log_replay.Snapshot(self.table_path).version()
            # the engine may have called latestOffset() FIRST and will
            # use its result as the first batch's end: snapshotting past
            # that end would invert the offsets and make the next batch
            # replay files the snapshot already delivered
            if self._floor is not None:
                boot = min(boot, self._floor)
            else:
                self._floor = boot
            # snap=0 marks the snapshot batch as still pending
            return {"version": boot, "snap": 0}
        # only SEED the floor (never regress it): the engine may call
        # this after latestOffset/partitions have already advanced it
        if self._floor is None:
            self._floor = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def _capped(self, floor: int, newest: int, budget: int, weight) -> int:
        """Walk versions (floor, newest] summing ``weight(add)`` over the
        dataChange add actions; stop once the sum reaches ``budget``
        (always admitting >= 1 version so the stream can't stall)."""
        admitted, total = floor, 0
        for v in range(floor + 1, newest + 1):
            try:
                acts = log_replay.read_commit(self.table_path, v)
            except FileNotFoundError:
                return newest  # cleaned-up gap: let partitions() report it
            total += sum(
                weight(a["add"])
                for a in acts
                if "add" in a and a["add"].get("dataChange")
            )
            admitted = v
            if total >= budget:
                break
        return admitted

    def latestOffset(self) -> dict:
        snap = log_replay.Snapshot(self.table_path)
        newest = snap.versions[-1] if snap.versions else self.starting_version - 1
        if self.bootstrap:
            newest = max(newest, snap.version())
        if (
            self.max_versions or self.max_bytes or self.max_files
        ) and self._floor is not None:
            if self.max_versions:
                newest = min(newest, self._floor + self.max_versions)
            # byte budget weighs each add by its size, file budget by 1
            for budget, weight in (
                (self.max_bytes, lambda add: int(add.get("size") or 0)),
                (self.max_files, lambda add: 1),
            ):
                if budget and newest > self._floor:
                    newest = self._capped(self._floor, newest, budget, weight)
            newest = max(newest, self._floor)
            self._floor = newest
        out = {"version": newest}
        if self.bootstrap:
            # record the engine-visible end even without pacing: a later
            # initialOffset() must not snapshot past it (offset inversion)
            if self._floor is None or newest > self._floor:
                self._floor = newest
            out["snap"] = 1
        return out

    def commit(self, end: dict) -> None:
        v = int(end["version"])
        if self._floor is None or v > self._floor:
            self._floor = v

    def partitions(self, start: dict, end: dict):
        hi = max(int(start["version"]), int(end["version"]))
        if self._floor is None or hi > self._floor:
            self._floor = hi
        snap = log_replay.Snapshot(self.table_path)
        schema = snap.metadata().get("schema") or {"fields": []}
        fields = [
            (f["name"], log_replay.physical_name(f), json.dumps(f["type"]))
            for f in schema["fields"]
        ]
        parts: list[DeltaFilePartition] = []
        if start.get("snap", 1) == 0:
            # the bootstrap batch: full snapshot at start.version
            # (checkpoint + JSON tail, so it works after log cleanup),
            # then the tail below picks up from there
            boot = int(start["version"])
            if snap.deletion_vector_paths(boot) and not self.ignore_deletes:
                raise RuntimeError(
                    "delta_tail: the snapshot has deletion-vector commits; a "
                    "whole-file bootstrap would resurrect soft-deleted rows — "
                    "apply_deletion_vectors first or set ignoreDeletes"
                )
            for a in snap.live_add_actions(boot):
                rel = a["path"]
                parts.append(
                    DeltaFilePartition(
                        abs_path=(
                            rel if os.path.isabs(rel)
                            else os.path.join(self.table_path, rel)
                        ),
                        version=boot,
                        fields=fields,
                        partition_values=dict(a.get("partitionValues") or {}),
                        cdf=self.cdf,
                    )
                )
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                acts = log_replay.read_commit(self.table_path, v)
            except FileNotFoundError:
                raise RuntimeError(
                    f"delta_tail: commit version {v} has been cleaned up "
                    "(log retention); earliest retained version is "
                    f"{snap.versions[0] if snap.versions else 'none'} — set "
                    "startingVersion there or bootstrap from a snapshot"
                ) from None
            cdc_rels = [
                a["cdc"]["path"] for a in acts
                if "cdc" in a and a["cdc"].get("path")
            ]
            if self.cdf and cdc_rels:
                # Delta spec: a commit with cdc actions feeds EXACTLY its
                # change-data files (rows carry their own _change_type);
                # its add/remove actions describe the rewrite, not the
                # change, so they are skipped entirely
                for rel in cdc_rels:
                    parts.append(
                        DeltaFilePartition(
                            abs_path=os.path.join(self.table_path, rel),
                            version=v,
                            fields=fields,
                            kind="cdc",
                            cdf=True,
                        )
                    )
                continue
            if self.skip_change_commits and any(
                ("remove" in a and a["remove"].get("dataChange")) or "dv" in a
                for a in acts
            ):
                # Delta's skipChangeCommits: a commit that changes
                # existing data (UPDATE/DELETE/MERGE rewrite) is skipped
                # ENTIRELY — its re-added files never feed the stream,
                # so downstream sees no duplicates (vs ignoreDeletes,
                # which streams the commit's adds)
                continue
            for act in acts:
                if "remove" in act and act["remove"].get("dataChange"):
                    if not self.ignore_deletes:
                        raise RuntimeError(
                            f"delta_tail: version {v} removes data "
                            f"({act['remove']['path']}); streaming reads are "
                            "append-only — set ignoreDeletes to skip"
                            + (
                                " (readChangeFeed streams full deletes only "
                                "for commits that wrote change-data files)"
                                if self.cdf else ""
                            )
                        )
                if "dv" in act and not self.ignore_deletes:
                    raise RuntimeError(
                        f"delta_tail: version {v} commits a deletion vector; "
                        "set ignoreDeletes to skip"
                    )
                if "add" in act and act["add"].get("dataChange"):
                    rel = act["add"]["path"]
                    parts.append(
                        DeltaFilePartition(
                            abs_path=os.path.join(self.table_path, rel),
                            version=v,
                            fields=fields,
                            partition_values=dict(
                                act["add"].get("partitionValues") or {}
                            ),
                            cdf=self.cdf,
                        )
                    )
        return parts

    def read(self, partition: DeltaFilePartition):
        """Executor-side: one parquet file -> Arrow record batches shaped
        to the logical schema (physical->logical rename, partition-value
        columns re-attached and cast)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import _parse_datatype_json_string

        table = pq.read_table(partition.abs_path)
        out_cols, out_names = [], []
        n = table.num_rows
        for logical, physical, type_json in partition.fields:
            arrow_t = to_arrow_type(
                _parse_datatype_json_string(json.dumps(json.loads(type_json)))
            )
            # change-data files store LOGICAL names (delta_writer
            # contract); data files store physical names
            in_file = logical if partition.kind == "cdc" else physical
            if in_file in table.column_names:
                col = table.column(in_file)
                if col.type != arrow_t:
                    col = col.cast(arrow_t)
            elif logical in partition.partition_values:
                col = pa.array(
                    [partition.partition_values[logical]] * n, pa.string()
                ).cast(arrow_t)
            else:
                col = pa.nulls(n, arrow_t)
            out_cols.append(col)
            out_names.append(logical)
        if partition.cdf:
            if partition.kind == "cdc":
                ct = table.column("_change_type").cast(pa.string())
            else:
                ct = pa.array(["insert"] * n, pa.string())
            out_cols.append(ct)
            out_names.append("_change_type")
            out_cols.append(
                pa.array([partition.version] * n, pa.int64())
            )
            out_names.append("_commit_version")
        out = pa.table(out_cols, names=out_names)
        yield from out.to_batches(max_chunksize=1 << 16)


class DeltaTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_tail requires .option('path', ...)")
        schema = log_replay.Snapshot(path).metadata().get("schema")
        if schema is None:
            raise ValueError(f"no Delta log at {path}")
        out = StructType.fromJson(schema)
        if str(self.options.get("readchangefeed", "false")).lower() in (
            "true", "1",
        ):
            from pyspark.sql.types import LongType, StringType

            out = out.add("_change_type", StringType()).add(
                "_commit_version", LongType()
            )
        return out

    def streamReader(self, schema: StructType) -> DeltaTailStreamReader:
        return DeltaTailStreamReader(schema, self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(DeltaTailDataSource)


def read_stream(spark, table_path: str, **options):
    """``spark.readStream`` over a Delta table via the tail source."""
    register(spark)
    reader = spark.readStream.format(SOURCE_NAME).option("path", table_path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
