#!/usr/bin/env python
"""Regenerate PLANS.md from the plan-claim table
(``iii_aibigdata_capstone_spark/plans/claims.py``): each row's note, its
claims and its formatted physical plan at sf0.001. Exits non-zero and
writes nothing if any claim does not hold. Run after changing the table or
an operator's plan shape:

    python tools/gen_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from iii_aibigdata_capstone_spark.plans.claims import ROWS, audit_lane  # noqa: E402
from iii_aibigdata_capstone_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — annotated physical plans (generated by tools/gen_plans.py)",
        "",
        "`explain('formatted')` output at sf0.001, one section per row of the",
        "plan-claim table (`iii_aibigdata_capstone_spark/plans/claims.py`).",
        "Every claim below held when this file was generated, and the",
        "registry plan sweep in tests/test_plans.py asserts the same table.",
        "",
    ]
    broken = []
    for row in ROWS:
        a = audit_lane(spark, SF_DIR, row.lane, row.at_scale)
        broken += [f"{row.title}: {c}" for c in row.failures(a)]
        out += [f"## {row.title}", "", row.note, ""]
        out += [f"- ✅ {c}" for c, _ in row.claims]
        out += ["", "```", a.text.rstrip(), "```", ""]
    if broken:
        raise SystemExit("plan claims no longer hold:\n" + "\n".join(broken))
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {len(ROWS)} plans")


if __name__ == "__main__":
    main()
