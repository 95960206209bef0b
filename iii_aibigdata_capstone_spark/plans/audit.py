"""Structured audit of a DataFrame's formatted physical plan."""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass(frozen=True)
class PlanAudit:
    text: str

    @property
    def broadcast_joins(self) -> int:
        return self.text.count("BroadcastHashJoin")

    @property
    def sort_merge_joins(self) -> int:
        return self.text.count("SortMergeJoin")

    @property
    def hash_exchanges(self) -> int:
        # Spark 4 formatted explain lists each exchange's partitioning on an
        # "Arguments:" detail line; simple-mode explain inlines it. Count
        # whichever form this text uses (they never both appear).
        return max(
            len(re.findall(r"Exchange hashpartitioning", self.text)),
            len(re.findall(r"Arguments: hashpartitioning", self.text)),
        )

    @property
    def has_pushed_filters(self) -> bool:
        return (
            "PushedFilters: [" in self.text and "PushedFilters: []" not in self.text
        )

    @property
    def partition_filters(self) -> list[str]:
        return [
            line.strip()
            for line in self.text.splitlines()
            if "PartitionFilters" in line
        ]

    @property
    def read_widths(self) -> list[int]:
        """Column counts of every parquet ReadSchema in the plan."""
        return [
            len(s.split(","))
            for s in re.findall(r"ReadSchema: struct<([^>]*)>", self.text)
            if s
        ]

    def nodes(self, *names: str) -> int:
        """Number of plan nodes whose operator is one of ``names``.

        Formatted explain prints each operator twice (tree line and the
        numbered ``(N) Op`` detail header), so a raw substring count
        double-counts every node; only the numbered headers are counted.
        """
        ops = "|".join(map(re.escape, names))
        return len(re.findall(rf"^\(\d+\) (?:{ops})\b", self.text, re.MULTILINE))

    def scan_path(self, table: str) -> list[str]:
        """Operators from the first scan of ``table``'s parquet file up to the
        plan root, read off the indentation of the printed operator tree."""
        scan = re.search(
            rf"^\((\d+)\) Scan parquet[^\n]*\n(?:.+\n)*?Location: [^\n]*/{re.escape(table)}\.parquet\b",
            self.text,
            re.MULTILINE,
        )
        tree = self.text.split("== Physical Plan ==\n", 1)[-1].split("\n\n", 1)[0]
        nodes = re.findall(r"^([ :+|-]*)(\S.*?) \((\d+)\)$", tree, re.MULTILINE)
        ids = [node_id for _, _, node_id in nodes]
        if scan is None or scan.group(1) not in ids:
            return []
        start = ids.index(scan.group(1))
        path, depth = [], len(nodes[start][0]) + 1
        for indent, op, _ in reversed(nodes[: start + 1]):
            if len(indent) < depth:
                path.append(op)
                depth = len(indent)
        return path

    @property
    def python_map_operators(self) -> int:
        return self.nodes("MapInPandas", "FlatMapGroupsInPandas")


def audit(df: DataFrame) -> PlanAudit:
    return PlanAudit(plan_text(df))
