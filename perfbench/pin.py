"""Pin the pipeline workload's expected result hashes.

Generates the fixed pipeline tables, runs every query in
``pipeline.QUERIES`` once, checks it against its DuckDB oracle with the
test suite's comparator, and writes ``pipeline_hashes.json`` only when
every query matches. Run from the repository root:

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path[0] = ROOT
    import duckdb

    from perfbench import pipeline
    from perfbench.common import Run, fresh_dir, start_spark, stop_spark
    from tests.oracle import compare_spark_duck

    work = fresh_dir(os.path.join(ROOT, ".perfbench_work", "pin"))
    run = Run("pin", 0, 0.0, False, ROOT, work)
    data_dir = run.path("tables")
    pipeline.write_tables(data_dir)
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        table = name.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{name}')"
        )
    spark = start_spark(run)
    hashes, bad = {}, []
    try:
        from hive_dwrf_spark.queries import load_registry

        registry, oracle = load_registry()
        for name in pipeline.QUERIES:
            df = registry[name](spark, data_dir)
            ok, msg = compare_spark_duck(df, con, oracle[name])
            if not ok:
                bad.append(f"{name}: {msg}")
            rows = registry[name](spark, data_dir).collect()
            columns = list(rows[0].__fields__) if rows else []
            hashes[name] = pipeline.result_hash(columns, rows) if rows else "empty"
            print(name, ok, hashes[name][:12], flush=True)
    finally:
        stop_spark(spark)
    if bad:
        print("oracle mismatch, nothing pinned:", *bad, sep="\n  ", file=sys.stderr)
        return 1
    doc = {
        "data_seed": pipeline.DATA_SEED,
        "data_sf": pipeline.DATA_SF,
        "checked_against": "DuckDB oracle (tests/oracle.py compare_spark_duck)",
        "hashes": hashes,
    }
    with open(pipeline.HASHES_FILE, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
