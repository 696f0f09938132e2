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


def store_scans(df, store: str) -> list[tuple[list[str], int]]:
    """``(paths, files read)`` of each Parquet scan over one store of a
    manifest table (files under ``.../<store>/...``): the paths are the
    files the scan was handed, read from its file index."""
    out = []
    for s in file_scans(df):
        roots = s.relation().location().rootPaths()
        paths = [str(roots.apply(i)) for i in range(roots.size())]
        if paths and all(f"/{store}/" in p for p in paths):
            out.append((paths, s.metrics().apply("numFiles").value()))
    return out
