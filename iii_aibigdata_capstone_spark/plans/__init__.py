"""Plan introspection: programmatic checks over ``explain('formatted')``
output, used by the plan-claim table (``claims.py``) and by hand during
tuning.

The engine does not implement its own optimizer (SURVEY.md §4: Catalyst
does); what it owns is ASSERTING that Catalyst produced the plan shapes the
100 TB design relies on — broadcasts on dim joins, filters pushed to the
parquet scan, pruned read schemas, single-shuffle grouped kernels.
"""

from .audit import PlanAudit, audit

__all__ = ["PlanAudit", "audit"]
