"""The closed-loop workloads.

Each workload has ``setup()`` (fixtures, not timed as ops) and ``unit()``
(one round of timed ops). ``run.py`` repeats whole units until the run's
measuring time is used up, so every run of a workload executes the same op
mix and only the seeded order and generated rows differ. Every op is
checked; a check runs outside the op's timed window.
"""

from __future__ import annotations

import importlib
import json
import os
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.operators.health import HealthAnalyzer
from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

import datagen
from stats import OpLog, checksum_mismatches

HERE = os.path.dirname(os.path.abspath(__file__))

# Five of the headline registry queries, all with DuckDB oracles: three
# job-bound ones (most time goes to Spark jobs launched while the DataFrame
# is built) and two data-bound ones.
QUERY_MIX = (
    "dedup_clusters",
    "text_quality_lr_train",
    "q8_market_share",
    "q1_pricing_summary",
    "text_scrub_repeated_spans",
)
QUERY_SF = 0.1
PLAN_MODULES = ("analytics", "dedup", "text")

# sf0.1 key ranges for the lineitem rows the Delta workloads write
_LI_KEYS = (150_000, 20_000, 1_000)


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    """Shared op plumbing: timing, tracing spans and failure accounting."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer, oplog: OpLog, clock):
        self.spark = spark
        self.work = work_dir
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.log = oplog
        self.clock = clock
        self.after_op = None  # callback run after every op (residue probe)

    def op(self, kind: str, layer: str, fn, check):
        """Time ``fn()`` as one op, then run ``check(result)`` untimed."""
        self.tracer.op = len(self.log.ops)
        t0 = self.clock()
        try:
            with self.tracer.span(kind, layer) as s:
                if s is not None:
                    s["is_op"] = True
                result = fn()
            dt = self.clock() - t0
        except Exception:  # a raising op is a failed op, not a crash
            self.tracer.op = None
            self.log.record(kind, self.clock() - t0, False, traceback.format_exc(limit=-3))
            return None
        self.tracer.op = None
        self.log.record(kind, dt, *self.checked("check." + kind, check, result))
        if self.after_op is not None:
            self.after_op()
        return result

    def checked(self, name: str, check, result) -> tuple[bool, str]:
        """Run ``check(result)`` outside the timed window; (ok, detail)."""
        t0 = self.clock()
        try:
            with self.tracer.span(name, "bench.check"):
                check(result)
            return True, ""
        except Exception:
            return False, traceback.format_exc(limit=-2)
        finally:
            self.log.check_s += self.clock() - t0

    def parquet_df(self, table: pa.Table, name: str):
        """Stage ``table`` as parquet and return a DataFrame over it with an
        explicit schema, so building the input launches no job."""
        path = os.path.join(self.work, "staged", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return self.spark.read.schema(from_arrow_schema(table.schema)).parquet(path)

    def extra(self) -> dict:
        """End-of-run metrics taken outside any op."""
        return {}


# -- health_check ----------------------------------------------------------------
class _TableModel:
    """What the benchmark wrote to one Delta table."""

    def __init__(self, path: str, part_col: str):
        self.path = path
        self.part_col = part_col
        self.version = -1
        self.writes = 0
        self.records = 0
        self.files = 0
        self.parts: set[str] = set()
        self.orphans = 0


class HealthCheck(Workload):
    name = "health_check"
    DEEP_APPENDS = 10
    CHECKPOINT_INTERVAL = 8  # one checkpoint: each costs seconds even on a small log
    APPEND_ROWS = 2_000

    def _lineitem(self, n: int, skewed: bool = False) -> pa.Table:
        t = datagen.lineitem_arrow(self.rng, n, *_LI_KEYS)
        if skewed:  # ~80% of rows in one partition
            b = np.where(self.rng.random(n) < 0.8, 0, self.rng.integers(1, 5, n))
            t = t.append_column("bucket", pa.array([f"b{x}" for x in b]))
        return t

    def _append(self, model: _TableModel, rows: pa.Table, **kw) -> int:
        df = self.parquet_df(rows, f"{os.path.basename(model.path)}-{model.version + 1}")
        # one task, so the commit adds exactly one file per partition value
        return delta_writer.write(self.spark, df.coalesce(1), model.path,
                                  partition_by=[model.part_col], **kw)

    def _applied(self, model: _TableModel, rows: pa.Table, v: int) -> None:
        vals = set(rows.column(model.part_col).to_pylist())
        model.version = v
        model.writes += 1
        model.records += rows.num_rows
        model.files += len(vals)
        model.parts |= vals

    def setup(self) -> None:
        root = os.path.join(self.work, "tables")
        deep = _TableModel(os.path.join(root, "deep"), "l_returnflag")
        skew = _TableModel(os.path.join(root, "skewed_dv"), "bucket")
        self.tables = [deep, skew]
        # a deep log: a checkpoint plus a JSON tail
        for _ in range(self.DEEP_APPENDS):
            rows = self._lineitem(self.APPEND_ROWS)
            v = self._append(deep, rows, checkpoint_interval=self.CHECKPOINT_INTERVAL)
            self._applied(deep, rows, v)
        # skewed partitions, soft deletes through a deletion vector and
        # files no commit references (a crashed writer's debris)
        qty = []
        for _ in range(2):
            rows = self._lineitem(3 * self.APPEND_ROWS, skewed=True)
            self._applied(skew, rows, self._append(skew, rows))
            qty.append(rows.column("l_quantity").to_numpy())
        skew.version = delta_writer.delete_with_dv(self.spark, skew.path, "l_quantity > 45")
        skew.records -= int((np.concatenate(qty) > 45).sum())
        for i in range(2):
            pq.write_table(self._lineitem(100, skewed=True).drop(["bucket"]),
                           os.path.join(skew.path, "bucket=b0", f"part-orphan-{i}.parquet"))
            skew.orphans += 1

    def _reads(self, m: _TableModel) -> list[tuple]:
        """(kind, layer, fn, check) for each read op on table ``m``."""
        spark, layer = self.spark, "sources.delta_log"

        def check_report(h):
            expect(h.data_file_count == m.files, f"data_file_count {h.data_file_count} != {m.files}")
            expect(h.record_count == m.records, f"record_count {h.record_count} != {m.records}")
            expect(h.version_count == m.version, f"version_count {h.version_count} != {m.version}")
            expect(h.orphan_files_count == m.orphans,
                   f"orphan_files_count {h.orphan_files_count} != {m.orphans}")
            expect(h.partition_count == len(m.parts),
                   f"partition_count {h.partition_count} != {len(m.parts)}")

        def check_history(rows):
            expect(len(rows) == m.version + 1, f"history rows {len(rows)} != {m.version + 1}")

        def check_count(n):
            expect(n == m.records, f"snapshot count {n} != {m.records}")

        def check_ops(c):
            expect(sum(c.values()) == m.version + 1, f"op counts {c} != {m.version + 1} commits")
            expect(c.get("WRITE", 0) == m.writes, f"WRITE {c.get('WRITE')} != {m.writes}")

        return [
            ("report", "operators.health", lambda: HealthAnalyzer(spark).analyze_table(m.path),
             check_report),
            ("history", layer, lambda: DeltaLog(spark, m.path).history().collect(), check_history),
            ("snapshot_count", layer, lambda: DeltaLog(spark, m.path).snapshot().count(),
             check_count),
            ("op_counts", layer, lambda: DeltaLog(spark, m.path).operation_counts(), check_ops),
        ]

    def unit(self) -> None:
        for ti in self.rng.permutation(len(self.tables)):
            m = self.tables[int(ti)]
            reads = self._reads(m)
            for i in self.rng.permutation(len(reads)):
                self.op(*reads[int(i)])
            # one small append per four reads keeps the log's memo keys turning over
            rows = self._lineitem(self.APPEND_ROWS // 4, skewed=m.part_col == "bucket")

            def check_append(v, m=m, rows=rows):
                expect(v == m.version + 1, f"append version {v} != {m.version + 1}")
                self._applied(m, rows, v)

            self.op("append", "sources.delta_writer", lambda m=m, rows=rows: self._append(m, rows),
                    check_append)


# -- maintain_cycle ----------------------------------------------------------------
class MaintainCycle(Workload):
    name = "maintain_cycle"
    BASE_ROWS = 50_000
    APPENDS = 2
    APPEND_ROWS = 2_000

    def setup(self) -> None:
        self.path = os.path.join(self.work, "tables", "kv")
        t = datagen.kv_batch(self.rng, 0, self.BASE_ROWS)
        self.v = t.column("v").to_numpy().copy()
        self.alive = np.ones(self.BASE_ROWS, dtype=bool)
        self.version = delta_writer.write(self.spark, self.parquet_df(t, "base"), self.path,
                                          partition_by=["p"])
        self.n_batches = 0

    def _ensure(self, n: int) -> None:
        if n > len(self.v):
            grow = n - len(self.v)
            self.v = np.concatenate([self.v, np.zeros(grow, dtype=np.int64)])
            self.alive = np.concatenate([self.alive, np.zeros(grow, dtype=bool)])

    def _check_version(self, v) -> None:
        expect(v == self.version + 1, f"commit version {v} != {self.version + 1}")
        self.version = v

    def unit(self) -> None:
        spark, path = self.spark, self.path
        w, m = "sources.delta_writer", "operators.maintenance"
        for _ in range(self.APPENDS):
            start = len(self.v)
            t = datagen.kv_batch(self.rng, start, self.APPEND_ROWS)
            df = self.parquet_df(t, f"append-{self.n_batches}")
            self.n_batches += 1

            def applied(v, t=t, start=start):
                self._check_version(v)
                self._ensure(start + t.num_rows)
                self.v[start:] = t.column("v").to_numpy()
                self.alive[start:] = True

            self.op("append", w, lambda df=df: delta_writer.write(spark, df, path, partition_by=["p"]),
                    applied)

        # upsert: 1000 existing or deleted ids get new values, 500 new ids
        n = len(self.v)
        ids = np.unique(np.concatenate([self.rng.choice(n, 1000, replace=False),
                                        np.arange(n, n + 500)]))
        vals = self.rng.integers(0, 1000, len(ids)).astype(np.int64)
        src = pa.table({"id": ids.astype(np.int64), "p": (ids % 4).astype(np.int32), "v": vals})
        src_df = self.parquet_df(src, f"merge-{self.n_batches}")
        self.n_batches += 1

        def merged(v):
            self._check_version(v)
            self._ensure(n + 500)
            self.v[ids] = vals
            self.alive[ids] = True

        self.op("merge", w, lambda: delta_writer.merge(spark, path, src_df, ["id"]), merged)

        k = int(self.rng.integers(0, 101))

        def deleted(v):
            self._check_version(v)
            self.alive[np.arange(len(self.v)) % 101 == k] = False

        self.op("delete_dv", w,
                lambda: delta_writer.delete_with_dv(spark, path, f"id % 101 = {k}"), deleted)

        j = int(self.rng.integers(0, 103))

        def updated(v):
            self._check_version(v)
            hit = (np.arange(len(self.v)) % 103 == j) & self.alive
            self.v[hit] += 1

        self.op("update", w,
                lambda: delta_writer.update(spark, path, f"id % 103 = {j}", {"v": "v + 1"}), updated)

        def rewrote(r):
            expect(isinstance(r, dict) and not r.get("skipped") and r.get("numAddedFiles", 0) > 0,
                   f"rewrite did nothing: {r}")
            self.version += 1

        self.op("compact", m, lambda: maintenance.compact(spark, path), rewrote)
        self.op("zorder", m, lambda: maintenance.zorder_cluster(spark, path, ["id", "v"]), rewrote)
        self.op("checkpoint", "sources.delta_log", lambda: DeltaLog(spark, path).checkpoint(),
                lambda cv: expect(cv == self.version, f"checkpoint version {cv} != {self.version}"))

        def vacuumed(r):
            expect(r.get("numDeletedFiles", 0) > 0, f"vacuum deleted nothing: {r}")
            self.version += 1  # the VACUUM END commit

        self.op("vacuum", m, lambda: maintenance.vacuum(spark, path, retention_hours=0), vacuumed)

        live = int(self.alive.sum())

        def check_report(h):
            expect(h.record_count == live, f"record_count {h.record_count} != {live}")
            expect(h.version_count == self.version, f"version_count {h.version_count} != {self.version}")
            expect(h.orphan_files_count == 0, f"orphans after vacuum: {h.orphan_files_count}")

        self.op("report", "operators.health", lambda: HealthAnalyzer(spark).analyze_table(path),
                check_report)
        # the table as a whole against the running model, outside any op
        def check_table(_):
            row = DeltaLog(spark, path).snapshot().agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
            want = (live, int(self.v[self.alive].sum()))
            expect((row.n, int(row.s or 0)) == want, f"snapshot (count, sum v) {tuple(row)} != {want}")

        ok, detail = self.checked("check.table", check_table, None)
        if not ok:
            self.log.record("table_check", 0.0, False, detail)

    def extra(self) -> dict:
        total = 0
        for dp, _, fs in os.walk(self.path):
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
        live = sum(int(a["size"]) for a in DeltaLog(self.spark, self.path).live_add_actions())
        return {"space_amp": total / live if live else 0.0}


# -- delta_cycle -------------------------------------------------------------------
class DeltaCycle(Workload):
    """health_check's round and maintain_cycle's cycle in one run, on one
    session: one unit is the read-mostly round over the table pool followed
    by the write-heavy cycle on its own table."""

    name = "delta_cycle"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = (HealthCheck(*args), MaintainCycle(*args))

    def setup(self) -> None:
        for p in self.parts:
            p.after_op = self.after_op
            p.setup()

    def unit(self) -> None:
        for p in self.parts:
            p.unit()

    def extra(self) -> dict:
        return self.parts[1].extra()


# -- query_mix -------------------------------------------------------------------
def plan_queries() -> dict:
    """name -> (plan module, query fn), importing only the plan modules the
    mix uses (not the whole registry)."""
    out = {}
    for mod in PLAN_MODULES:
        m = importlib.import_module(f"delta_lake_health_spark.plans.{mod}")
        for name, fn in getattr(m, "QUERIES", {}).items():
            if name in QUERY_MIX:
                out[name] = (mod, fn)
    return out


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


class QueryMix(Workload):
    name = "query_mix"

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        datagen.write_tables(self.sf_dir, datagen.QUERY_DATA_SEED, QUERY_SF)
        self.queries = plan_queries()
        self.expected = load_expected()["queries"]
        missing = [q for q in QUERY_MIX if q not in self.queries or q not in self.expected]
        if missing:
            raise SystemExit(f"query_mix: missing queries or expected results: {missing}")

    def pass_order(self) -> list[str]:
        return [QUERY_MIX[int(i)] for i in self.rng.permutation(len(QUERY_MIX))]

    def unit(self) -> None:
        for name in self.pass_order():
            mod, fn = self.queries[name]
            layer = f"plans.{mod}"

            def run(fn=fn, layer=layer):
                with self.tracer.span("build", layer + ".build"):
                    df = fn(self.spark, self.sf_dir)
                # the checksums ride along in the same execution as observed
                # metrics (one small aggregate per row), so checking a result
                # costs no second run of it
                obs = Observation(f"check{len(self.log.ops)}")
                with self.tracer.span("action", layer + ".action"):
                    df.observe(obs, *checksum_exprs(df)).write.format("noop").mode(
                        "overwrite").save()
                return df.columns, obs

            def check(res, name=name):
                columns, obs = res
                got = obs.get
                sums = {"rows": got["n"], "columns": {
                    c.lower(): [got[f"n{i}"], float(got[f"s{i}"] or 0.0)]
                    for i, c in enumerate(columns)}}
                bad = checksum_mismatches(sums, self.expected[name])
                expect(not bad, f"{name}: {'; '.join(bad[:3])}")

            self.op(name, layer, run, check)


def checksum_exprs(df) -> list:
    """Spark side of ``stats.result_checksums``: row count, and per column
    its non-null count and the sum of its values' terms."""
    out = [F.count(F.lit(1)).alias("n")]
    for i, f in enumerate(df.schema.fields):
        c, t = F.col(f"`{f.name}`"), f.dataType
        if isinstance(t, (T.NumericType, T.BooleanType)):
            term = c.cast("double")
        elif isinstance(t, (T.StringType, T.BinaryType)):
            term = F.length(c)
        elif isinstance(t, (T.ArrayType, T.MapType)):
            term = F.size(c)
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            term = F.unix_micros(c.cast("timestamp"))
        elif isinstance(t, T.DateType):
            term = F.unix_date(c)
        elif isinstance(t, T.StructType):  # a struct comes back as a dict of its fields
            term = F.lit(len(t.fields))
        else:
            term = F.lit(0)
        out += [F.count(c).alias(f"n{i}"),
                F.sum(F.when(c.isNotNull(), term.cast("double"))).alias(f"s{i}")]
    return out


# delta_cycle and query_mix are the benchmark's workloads; the two halves of
# delta_cycle stay runnable on their own for attribution.
WORKLOADS = {w.name: w for w in (DeltaCycle, QueryMix, HealthCheck, MaintainCycle)}
