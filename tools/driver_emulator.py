#!/usr/bin/env python
"""Local emulation of the driver's sf0.01 correctness gate.

The driver compares each registered query against its DuckDB oracle at
sf0.01 (row count + schema + value hash over name-sorted columns). The
pytest parity suite mirrors that at sf0.001 — which leaves a residual
risk class this tool closes: divergences that only materialize with more
rows (ROUND ties landing on half-cent boundaries, float aggregation
order, engine type widenings). Run it before a round ends:

    python tools/driver_emulator.py                  # every oracle query, sf0.01
    python tools/driver_emulator.py name [name ...]  # specific queries

Exit 1 if any compared query mismatches. The compare is strictly harsher
than a hash: exact Python-value equality AND type-name equality per cell
(int vs float mismatches that a repr-based hash might mask are errors
here).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iii_aibigdata_capstone_spark.queries import ALL_SPECS
from iii_aibigdata_capstone_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_spark_type(dt: str) -> str:
    """Canonical family name for a Spark dtype string.

    int8..int64 all collapse to "int": the driver's value hash stringifies
    cells, and numpy int32(5) and int64(5) both print "5" — 17 registered
    queries with i32-vs-i64 width differences have green driver hash rows.
    What the hash does NOT tolerate is a family change: HUGEINT (arrow
    renders float64/object), DECIMAL (prints "5.00" not "5.0"), f32 repr
    drift. Those stay distinct families here.
    """
    dt = dt.lower()
    if dt in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return "int"
    if dt == "double":
        return "f64"
    if dt == "float":
        return "f32"
    if dt == "string":
        return "str"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("decimal"):
        return "dec" + dt[len("decimal"):].replace(" ", "")
    if dt.startswith("array"):
        return "arr"
    if dt == "binary":
        return "bin"
    # composite types compare at family level only — the two engines
    # print element types in incompatible dialects (map<string,bigint>
    # vs MAP(VARCHAR, BIGINT)), and a per-element canon would just
    # re-implement both parsers for no driver-observable gain
    if dt.startswith("map"):
        return "map"
    if dt.startswith("struct"):
        return "struct"
    return dt


def _canon_duck_type(dt: str) -> str:
    """Canonical family name for a DuckDB logical type string.

    HUGEINT deliberately maps to its own family ("i128") — DuckDB widens
    SUM over any integer input to HUGEINT, and the driver's typed value
    hash treats that as a mismatch against Spark's bigint even when every
    value is equal (the r2 `ts_rollup_hierarchy` / r3 `e17_json_extract`
    bug class). Oracle SQL must CAST(SUM(...) AS BIGINT) to line up.
    """
    dt = dt.upper()
    if dt in ("BIGINT", "INTEGER", "INT", "SMALLINT", "TINYINT"):
        return "int"
    if dt == "HUGEINT":
        return "i128"
    if dt == "DOUBLE":
        return "f64"
    if dt in ("FLOAT", "REAL"):
        return "f32"
    if dt == "VARCHAR":
        return "str"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt.startswith("DECIMAL"):
        return "dec" + dt[len("DECIMAL"):].replace(" ", "").lower()
    if dt.endswith("[]") or dt.startswith("LIST") or dt.startswith("ARRAY"):
        return "arr"
    if dt == "BLOB":
        return "bin"
    if dt.startswith("MAP"):
        return "map"
    if dt.startswith("STRUCT"):
        return "struct"
    return dt.lower()


def type_mismatches(s_dtypes, d_cols, d_types):
    """Name-matched logical-type compare: Spark result dtypes vs DuckDB
    relation types. Returns [(col, spark_canon, duck_canon), ...]."""
    duck = {c: _canon_duck_type(str(t)) for c, t in zip(d_cols, d_types)}
    bad = []
    for col, dt in s_dtypes:
        sc = _canon_spark_type(dt)
        dc = duck.get(col)
        if dc is not None and sc != dc:
            bad.append((col, sc, dc))
    return bad


def normalize(columns, rows):
    """The driver-compare canonical form: columns sorted by name, rows
    sorted, -0.0 and NaN normalized. Keeps (type, value) per cell."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r))
    return out


def main() -> None:
    import duckdb

    args = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    specs = [s for s in ALL_SPECS if s.oracle is not None]
    unknown = args - {s.name for s in specs}
    if unknown:
        sys.exit(f"not an oracled query: {' '.join(sorted(unknown))}")
    if args:
        specs = [s for s in specs if s.name in args]

    spark = get_spark(app_name="iii-capstone-driver-emulator")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    failures = []
    for spec in specs:
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(spec.oracle)
            d_cols = list(rel.columns)
            d_types = list(rel.types)
            d_rows = rel.fetchall()
            status = "ok"
            detail = ""
            bad_types = type_mismatches(sdf.dtypes, d_cols, d_types)
            if sorted(s_cols) != sorted(d_cols):
                status, detail = "schema_mismatch", f"{s_cols} vs {d_cols}"
            elif bad_types:
                status, detail = "type_mismatch", str(bad_types)[:300]
            elif len(s_rows) != len(d_rows):
                status, detail = "rows_mismatch", f"{len(s_rows)} vs {len(d_rows)}"
            else:
                s_norm = normalize(s_cols, s_rows)
                d_norm = normalize(d_cols, d_rows)
                bad = [
                    (a, b)
                    for a, b in zip(s_norm, d_norm)
                    if a != b
                    or any(type(x) is not type(y) for x, y in zip(a, b))
                ]
                if bad:
                    status = "value_mismatch"
                    detail = f"{len(bad)}/{len(s_norm)} rows; first {bad[0]}"[:300]
        except Exception as ex:
            status, detail = "error", f"{type(ex).__name__}: {ex}"[:300]
            s_rows = []
        rec = {
            "query": spec.name,
            "status": status,
            "rows": len(s_rows),
            "sec": round(time.time() - t0, 2),
        }
        if detail:
            rec["detail"] = detail
        if status != "ok":
            failures.append(rec)
        print(json.dumps(rec), flush=True)

    print(
        f"driver-emulator: {len(specs) - len(failures)}/{len(specs)} ok at {sf_dir}"
    )
    if failures:
        print("FAILURES:", json.dumps(failures, indent=1), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
