"""The parquet scans of a physical plan, with their pushed filters in full."""

from __future__ import annotations

import os
import re

_LIMIT = "spark.sql.maxMetadataStringLength"


def file_scans(df) -> list[tuple[str, str]]:
    """``(directory name, PushedFilters text)`` of every FileScan in
    ``df``'s physical plan, in plan order.  A scan renders its metadata
    cut at ``spark.sql.maxMetadataStringLength`` characters when it is
    planned, so the limit is raised while the plan is built: call this
    before anything plans or runs ``df``."""
    spark = df.sparkSession
    old = spark.conf.get(_LIMIT)
    spark.conf.set(_LIMIT, str(1 << 20))
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(_LIMIT, old)
    # an adaptive plan that already ran prints its final plan first
    plan = plan.split("== Initial Plan ==")[-1]
    scans = []
    for line in plan.splitlines():
        if "FileScan " not in line:
            continue
        loc = re.search(r"Location: \w+\(\d+ paths?\)\[([^\]]*)\]", line)
        pushed = line.split("PushedFilters: [", 1)[1]
        pushed = pushed.rsplit("], ReadSchema:", 1)[0]
        assert "..." not in pushed, line
        scans.append((os.path.basename(loc.group(1).rstrip("/")), pushed))
    return scans


def pivot_band_bounds(pushed: str) -> dict[int, tuple[str, str]]:
    """Per pivot n, the (lo, hi) text of the pushed conjunct
    ``pivot = n AND key > lo AND key < hi`` of a stored range probe."""
    return {
        int(n): (lo, hi)
        for n, lo, hi in re.findall(
            r"And\(And\(EqualTo\(pivot,(\d+)\),GreaterThan\(key,([^)]*)\)\),"
            r"LessThan\(key,([^)]*)\)\)",
            pushed,
        )
    }


def pivot_side_bounds(pushed: str) -> dict[int, tuple[str, str]]:
    """Per pivot n, the two bound texts of the pushed conjunct
    ``pivot = n AND (key < d OR key > d)`` of a stored similarity probe."""
    return {
        int(n): (lt, gt)
        for n, lt, gt in re.findall(
            r"And\(EqualTo\(pivot,(\d+)\),Or\(LessThan\(key,([^)]*)\),"
            r"GreaterThan\(key,([^)]*)\)\)\)",
            pushed,
        )
    }
