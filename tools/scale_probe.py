#!/usr/bin/env python
"""Empirical scaling check: run the bench's headline lanes plus the
flagship (or the lanes named on the command line) at sf0.001, sf0.01, and
sf0.1 and fit wall-clock ~ SF^alpha per query. Each timing is the median
of ``bench.sample_lane``'s fixed SAMPLES runs, after ``bench.warm_up``.

alpha ≈ 0 means fixed overhead still dominates at sf0.1 (fine); alpha ≈ 1
is linear scaling (the target for scan/agg/join pipelines); alpha >> 1
flags a super-linear shape (an unbanded cross product, a driver-side
bottleneck) that would NOT survive a 100x scale-up. Output: one JSON line
per query with the three timings and the fitted alpha over the top decade
(sf0.01 -> sf0.1, where fixed costs matter least).

Usage: python tools/scale_probe.py [--gate] [--out FILE] [--sf1] [query ...]

``--sf1`` adds a fourth decade from the replication-generated perf slice
(tools/gen_sf1.py; $SPARK_GRAFT_SF1_DIR, default /root/repo/_testdata/sf1)
and fits alpha over sf0.1 -> sf1 instead — the least-fixed-cost decade
available. Requires the slice to exist.

``--gate`` is the per-round regression gate: exit 1 if any probed query
fits alpha > GATE_ALPHA (1.3) — i.e. a shape change made some operator
super-linear. ``--out FILE`` additionally writes the probe records as a
JSON array (committed per round alongside BENCH_r{N}.json). Queries whose
sf0.1 time is under GATE_MIN_SEC are exempt from the gate: at sub-second
wall-clock the fit measures scheduler noise, not the data path.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, sample_lane, warm_up  # noqa: E402
from iii_aibigdata_capstone_spark.queries import flagship, registry  # noqa: E402
from iii_aibigdata_capstone_spark.session import get_spark  # noqa: E402

SFS = [0.001, 0.01, 0.1]
GATE_ALPHA = 1.3
GATE_MIN_SEC = 1.0


def main() -> None:
    args = sys.argv[1:]
    gate = "--gate" in args
    out_path = None
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
        args = [a for i, a in enumerate(args) if a != "--out" and args[i - 1] != "--out"]
    sfs = list(SFS)
    sf_dirs = {sf: f"/root/testdata/sf{sf}" for sf in SFS}
    if "--sf1" in args:
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR", "/root/repo/_testdata/sf1"
        )
        if not os.path.isdir(sf1_dir):
            raise SystemExit(
                f"--sf1: {sf1_dir} missing — run tools/gen_sf1.py first"
            )
        sfs.append(1.0)
        sf_dirs[1.0] = sf1_dir
        args = [a for a in args if a != "--sf1"]
    top = (sfs[-1], sfs[-2])  # alpha fits the least-fixed-cost decade
    names = [a for a in args if not a.startswith("--")] or HEADLINE + ["flagship"]
    spark = get_spark(app_name="iii-capstone-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()

    def median_s(builder, sf_dir: str) -> float:
        return statistics.median(b + w for b, w in sample_lane(spark, builder, sf_dir))

    # warm the JVM + Python worker pool so sf0.001 isn't all startup cost
    warm_up(spark, "/root/testdata/sf0.01")

    records = []
    for name in names:
        builder = flagship if name == "flagship" else specs[name].builder
        times = {}
        for sf in sfs:
            times[sf] = round(median_s(builder, sf_dirs[sf]), 3)
        alpha = math.log(
            max(times[top[0]], 1e-3) / max(times[top[1]], 1e-3)
        ) / math.log(top[0] / top[1])
        rec = {
            "query": name,
            "sec": {str(sf): times[sf] for sf in sfs},
            "alpha_top_decade": round(alpha, 3),
            "gated": times[top[0]] >= GATE_MIN_SEC,
        }
        records.append(rec)
        print(json.dumps(rec))

    if out_path:
        with open(out_path, "w") as fh:
            json.dump(records, fh, indent=1)
    if gate:
        bad = [
            r for r in records if r["gated"] and r["alpha_top_decade"] > GATE_ALPHA
        ]
        if bad:
            print(
                f"SCALE GATE FAIL: {len(bad)} queries super-linear "
                f"(alpha > {GATE_ALPHA}): "
                + ", ".join(f"{r['query']}={r['alpha_top_decade']}" for r in bad),
                file=sys.stderr,
            )
            sys.exit(1)
        print(f"scale gate OK: all {len(records)} gated fits <= {GATE_ALPHA}")


if __name__ == "__main__":
    main()
