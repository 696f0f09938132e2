"""Executed-plan probes: the Parquet file scans a query ran."""

from __future__ import annotations


def file_scans(df) -> list:
    """The ``FileSourceScanExec`` nodes of ``df``'s executed plan,
    walking into AQE's final plan and its query stages. Call after an
    action on ``df``: the ``numFiles`` metric is set when the scan
    lists its files."""
    out = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            out.append(node)
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def scanned_files(df) -> int:
    """Files the executed plan's Parquet scans read, summed."""
    return sum(s.metrics().apply("numFiles").value() for s in file_scans(df))
