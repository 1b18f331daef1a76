"""Derive query_mix's expected results from the repo's DuckDB oracle SQL.

Writes ``expected.json``: for each query in ``workloads.QUERY_MIX``, the row
count and per-column checksums (``stats.result_checksums``) of the DuckDB
oracle's result over the fixed query_mix dataset. Rerun it only when that dataset,
the query set or an oracle changes:

    python3 perfbench/gen_expected.py
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
from stats import result_checksums  # noqa: E402
from workloads import PLAN_MODULES, QUERY_MIX, QUERY_SF  # noqa: E402


def main() -> None:
    import duckdb

    oracle = {}
    for mod in PLAN_MODULES:
        oracle.update(getattr(importlib.import_module(f"delta_lake_health_spark.plans.{mod}"),
                              "ORACLE", {}))
    with tempfile.TemporaryDirectory(dir=HERE) as sf_dir:
        datagen.write_tables(sf_dir, datagen.QUERY_DATA_SEED, QUERY_SF)
        con = duckdb.connect()
        from delta_lake_health_spark.sources.catalog import TABLES

        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for q in QUERY_MIX:
            rel = con.sql(oracle[q])
            out[q] = result_checksums(rel.columns, rel.fetchall())
            print(q, out[q]["rows"], file=sys.stderr)
        con.close()
    doc = {"data_seed": datagen.QUERY_DATA_SEED, "sf": QUERY_SF,
           "duckdb": duckdb.__version__, "queries": out}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
