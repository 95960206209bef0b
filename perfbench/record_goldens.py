"""Record the content-hash goldens the benchmark checks its lanes against.

    python3 perfbench/record_goldens.py

For every batch lane of every workload, at the scale factor the workload
runs it at (and for the smoke run's lanes at theirs): run the builder, compare its rows with DuckDB's result
for the lane's oracle SQL (exact value and type, the comparison of
``tools/driver_emulator.py``), then hash it twice from two builder calls.
A golden is written only when the rows match and the two hashes agree;
any lane that fails either test is reported and the file is left as it is.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main() -> int:
    work = os.path.join(run.WORK, f"goldens-{os.getpid()}")
    run.prepare_env(work)
    try:
        return record()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record() -> int:
    import duckdb

    from iii_aibigdata_capstone_spark.queries import registry
    from iii_aibigdata_capstone_spark.session import get_spark
    from tools.driver_emulator import normalize, type_mismatches

    spark = get_spark(app_name="perfbench-goldens")
    spark.sparkContext.setLogLevel("OFF")
    specs = registry()
    lanes_at: dict[str, list[str]] = {}
    for smoke in (False, True):
        for make in run.workloads(smoke).values():
            workload = make()
            if isinstance(workload, run.BatchWorkload):
                lanes_at.setdefault(workload.sf, []).extend(workload.lanes)
    goldens, problems = {}, []
    for sf, lanes in sorted(lanes_at.items()):
        sf_dir = os.path.join(run.DATA, sf)
        con = duckdb.connect()
        for name in os.listdir(sf_dir):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{name}')")
        goldens[sf] = {}
        for lane in lanes:
            spec = specs[lane]
            df = spec.builder(spark, sf_dir)
            if spec.oracle is None:
                problems.append(f"{sf} {lane}: no oracle")
                continue
            rel = con.sql(spec.oracle)
            s_rows = [tuple(r) for r in df.collect()]
            d_rows = rel.fetchall()
            bad_types = type_mismatches(df.dtypes, list(rel.columns), list(rel.types))
            if sorted(df.columns) != sorted(rel.columns) or bad_types:
                problems.append(f"{sf} {lane}: schema {df.dtypes} vs {rel.columns} {rel.types}")
                continue
            s_norm, d_norm = normalize(df.columns, s_rows), normalize(list(rel.columns), d_rows)
            if s_norm != d_norm or any(
                type(x) is not type(y) for a, b in zip(s_norm, d_norm) for x, y in zip(a, b)
            ):
                problems.append(f"{sf} {lane}: rows differ from the oracle")
                continue
            first, second = run.content_hash(df), run.content_hash(spec.builder(spark, sf_dir))
            if first != second:
                problems.append(f"{sf} {lane}: unstable hash {first} vs {second}")
                continue
            goldens[sf][lane] = first
            print(f"{sf} {lane}: {len(s_rows)} rows match the oracle, hash {first}", flush=True)
    spark.stop()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
