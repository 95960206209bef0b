#!/usr/bin/env python
"""Round-close drift guard: re-derive every count the repo's self-description
claims and exit non-zero if any artifact disagrees with the live registry.

    python tools/round_close.py

Checks 1-2 are read-only (all pure-python, no SparkSession); step 3 WRITES
one repo file (BENCH_CANONICAL_r{N}.json — the round-stamped snapshot of a
canonical BENCH_FULL.json, so the driver's post-round in-place overwrite
cannot shadow the committed run).

  1. README.md Status block quotes the live registry counts
     (N registered queries / M hash-checked oracles).
  2. PARITY.md contains a row for every registered query (and its trailing
     generation stamp matches the registry size).
  3. (after the checks pass) snapshot BENCH_FULL.json to
     BENCH_CANONICAL_r{N}.json when it is a fresh canonical run.

Run this before the end-of-round commit; CI-style usage:
    python tools/round_close.py && git commit ...
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from iii_aibigdata_capstone_spark.queries import registry  # noqa: E402


def main() -> int:
    specs = registry()
    n_queries = len(specs)
    n_oracles = sum(1 for s in specs.values() if s.oracle is not None)
    errors: list[str] = []

    # 1. README status counts
    readme = open(os.path.join(REPO, "README.md")).read()
    if f"**{n_queries} registered queries**" not in readme:
        errors.append(
            f"README.md does not quote '**{n_queries} registered queries**' "
            "(stale Status block)"
        )
    if f"**{n_oracles} hash-checked" not in readme:
        errors.append(
            f"README.md does not quote '**{n_oracles} hash-checked' "
            "(stale Status block)"
        )

    # 2. PARITY rows
    parity = open(os.path.join(REPO, "PARITY.md")).read()
    missing = [n for n in specs if f"| `{n}`" not in parity]
    if missing:
        errors.append(
            f"PARITY.md missing {len(missing)} registry rows "
            f"(run tools/gen_parity.py): {missing[:5]}..."
        )
    stamp = re.search(r"registry of (\d+) queries / (\d+) oracles", parity)
    if stamp is None:
        errors.append(
            "PARITY.md has no generation stamp (run tools/gen_parity.py — "
            "a stamp-less file predates the count guard)"
        )
    elif (int(stamp.group(1)), int(stamp.group(2))) != (n_queries, n_oracles):
        errors.append(
            f"PARITY.md stamp says {stamp.group(1)}/{stamp.group(2)}, "
            f"registry has {n_queries}/{n_oracles} (run tools/gen_parity.py)"
        )

    if errors:
        print(f"round_close: {len(errors)} drift(s) detected:")
        for e in errors:
            print(f"  - {e}")
        return 1

    bench_full = os.path.join(REPO, "BENCH_FULL.json")
    # 3. Round-stamp the canonical bench sidecar (VERDICT r10 ask #6):
    # the driver re-runs bench.py after the round closes and overwrites
    # BENCH_FULL.json in place, which would shadow the committed canonical
    # run. Snapshotting here pins the run round_close certified; the
    # round number is the current (in-progress) round = 1 + the newest
    # CORRECTNESS_r* the driver has recorded. Guards (review r11): only a
    # CANONICAL-shaped artifact is snapshotted (sf0.1, covering the full
    # HEADLINE + SPECIALS — the README-documented sf0.01 run also
    # overwrites BENCH_FULL.json in place and must never masquerade as
    # the canonical run), and a BENCH_FULL
    # OLDER than the newest CORRECTNESS artifact is skipped (an
    # early-next-round round_close run before any fresh bench would
    # otherwise mislabel last round's run — possibly the driver's
    # post-round overwrite — as this round's canonical).
    if not os.path.exists(bench_full):
        print(
            "round_close: WARNING — no BENCH_FULL.json; nothing snapshotted "
            "(run `python bench.py` before the round-close sequence)"
        )
    else:
        correctness = [
            f
            for f in os.listdir(REPO)
            if re.match(r"CORRECTNESS_r(\d+)\.json$", f)
        ]
        rounds = [
            int(re.match(r"CORRECTNESS_r(\d+)\.json$", f).group(1))
            for f in correctness
        ]
        rnd = (max(rounds) + 1) if rounds else 1
        # ONE read: validate and snapshot the SAME bytes (review r11 — a
        # concurrent overwrite between a re-read would let the validated
        # state differ from the snapshotted state)
        with open(bench_full) as fh:
            content = fh.read()
        full = json.loads(content)
        covered = set(full.get("queries", {}))
        want = set(bench.HEADLINE) | set(bench.SPECIALS)
        newest_corr = max(
            (os.path.getmtime(os.path.join(REPO, f)) for f in correctness),
            default=0.0,
        )
        # is this byte-for-byte the previous round's committed canonical
        # (fresh-clone case: git does NOT preserve mtimes, so the mtime
        # guard alone cannot see that nothing ran this round)?
        prev = os.path.join(REPO, f"BENCH_CANONICAL_r{rnd - 1:02d}.json")
        is_prev = os.path.exists(prev) and open(prev).read() == content
        # is this the DRIVER's own post-round run? The driver records its
        # run's stdout as BENCH_r{rnd-1}.json. Since review r11 bench.py
        # stamps a per-run run_id into BOTH the stdout line and the
        # sidecar, so the overwrite is detected EXACTLY when both carry
        # one; the scalar-total fingerprint remains only as the fallback
        # for pre-stamp artifacts, guarded against the None == None hole
        # (two value-less files must not fingerprint as the same run).
        drv = os.path.join(REPO, f"BENCH_r{rnd - 1:02d}.json")
        is_driver = False
        if os.path.exists(drv):
            try:
                parsed = json.load(open(drv)).get("parsed") or {}
                if parsed.get("run_id") is not None or full.get("run_id") is not None:
                    is_driver = parsed.get("run_id") == full.get("run_id") and (
                        full.get("run_id") is not None
                    )
                else:
                    is_driver = (
                        full.get("value") is not None
                        and parsed.get("value") == full.get("value")
                    )
            except (json.JSONDecodeError, AttributeError):
                pass
        if full.get("sf") != 0.1 or not want <= covered:
            print(
                "round_close: WARNING — BENCH_FULL.json is not a canonical "
                f"run (sf={full.get('sf')}, {len(covered)} queries vs "
                f"{len(want)} HEADLINE+SPECIALS); snapshot skipped — rerun "
                "the full sf0.1 bench before closing the round"
            )
        elif is_prev or is_driver or os.path.getmtime(bench_full) <= newest_corr:
            print(
                "round_close: BENCH_FULL.json is not a fresh this-round run "
                f"(prev-snapshot={is_prev}, driver-total={is_driver}, "
                "mtime<=newest CORRECTNESS="
                f"{os.path.getmtime(bench_full) <= newest_corr}); "
                "snapshot skipped — run `python bench.py` on this round's "
                "code first"
            )
        else:
            snap = os.path.join(REPO, f"BENCH_CANONICAL_r{rnd:02d}.json")
            with open(snap, "w") as dst:
                dst.write(content)
            print(
                f"round_close: snapshotted BENCH_FULL.json -> {os.path.basename(snap)}"
            )

    print(
        f"round_close: OK — {n_queries} queries / {n_oracles} oracles; "
        "README and PARITY agree"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
