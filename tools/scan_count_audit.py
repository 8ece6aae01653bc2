"""Registry-wide repeated-scan audit: count `Scan parquet` nodes per input
path in every query's executed plan and flag queries that read the same
parquet input more than once (guide §6: at 100 TB a doubled scan of a large
table is a full extra pass; a persisted/checkpointed intermediate or a
post-scan split usually removes it).

Not every repeat is fixable — a true self-join over the raw input reads it
twice unless materialized, and tiny dimension tables do not matter — so this
prints the evidence and leaves judgment to the reader.

Usage: python tools/scan_count_audit.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401

_SCAN_RE = re.compile(r"FileScan parquet[^\[]*\[[^\]]*\].*?Location:[^\[]*\[([^\]]*)\]")


def _depth(line: str) -> int:
    # tree depth of a toString plan line: column of the first character
    # that is not tree scaffolding (spaces and ':' rails).  Works for
    # marker-less lines too (`== Final Plan ==`, `ResultQueryStage n`).
    stripped = line.lstrip(" :")
    return len(line) - len(stripped)


_ID_RE = re.compile(r"#\d+L?|plan_id=\d+|id=#?\d+")


def _drop_initial_plan_sections(lines: list[str]) -> list[str]:
    """An EXECUTED AdaptiveSparkPlan prints `== Final Plan ==` followed by
    `== Initial Plan ==` — the same subtree twice.  Keep only the Final
    section: skip from an `== Initial Plan ==` banner until the next line
    whose tree depth is at or above the banner's (the sibling/parent)."""
    out: list[str] = []
    skip_depth: int | None = None
    for ln in lines:
        d = _depth(ln)
        if skip_depth is not None:
            if ln.strip() and d <= skip_depth and "== Initial Plan ==" not in ln:
                skip_depth = None
            else:
                continue
        if "== Initial Plan ==" in ln:
            skip_depth = _depth(ln)
            continue
        out.append(ln)
    return out


def _scan_paths(plan: str) -> list[str]:
    """Paths of FileScans that EXECUTE: scans outside cached subtrees count
    per occurrence; a FileScan inside an ``InMemoryRelation`` printout runs
    only when the cache materializes, so each DISTINCT relation subtree
    (normalized for expression ids) counts once no matter how many
    ``InMemoryTableScan`` references print it.  AQE `== Initial Plan ==`
    duplicate sections are dropped first.
    """
    paths: list[str] = []
    seen_caches: set[str] = set()

    def _extract(ls: list[str]) -> list[str]:
        out = []
        for i, ln in enumerate(ls):
            if "Scan parquet" not in ln:
                continue
            for lk in ls[i : i + 8]:
                m = re.search(r"Location:[^\[]*\[([^\]]*)", lk)
                if m:
                    out.append(m.group(1).split(",")[0].strip())
                    break
        return out

    def _walk(lines: list[str]) -> None:
        """Count FileScans outside cache subtrees per occurrence; recurse
        into each DISTINCT cache subtree once (nested caches dedup too)."""
        cache_depth: int | None = None
        cache_buf: list[str] = []
        outside: list[str] = []

        def _flush() -> None:
            nonlocal cache_buf
            if not cache_buf:
                return
            # The same cache prints at every reference site with fresh
            # expression ids, RENAMED/pruned output columns, and
            # width-truncated line tails — so neither the header nor the
            # raw subtree text identifies it.  The OPERATOR SEQUENCE of
            # the build subtree (first token per line, which truncation
            # never cuts) plus the scanned paths does: renames/pruning
            # change only arguments, not operators.  Two genuinely
            # different caches sharing the exact sequence+paths would
            # under-count — acceptable for an audit that must never
            # over-report.
            ops = ";".join(
                ln.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
                for ln in cache_buf[1:]
                if ln.strip()
            )
            key = ops + "|" + ",".join(sorted(_extract(cache_buf)))
            if key not in seen_caches:
                seen_caches.add(key)
                _walk(cache_buf[1:])  # recurse into the build subtree
            cache_buf = []

        for ln in lines:
            d = _depth(ln)
            if cache_depth is not None:
                if d > cache_depth or not ln.strip():
                    cache_buf.append(ln)
                    continue
                _flush()
                cache_depth = None
            if "InMemoryRelation" in ln:
                cache_depth = d
                cache_buf = [ln]
            else:
                outside.append(ln)
        _flush()
        paths.extend(_extract(outside))

    _walk(_drop_initial_plan_sections(plan.splitlines()))
    return paths


def main() -> int:
    import __spark_entry__ as entrymod
    import aws_sdk_pandas_spark as asps

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = asps.get_spark(app_name="scan-count-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    repeated: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            df = qs[name](spark, sf_dir)
            # run the frame's own plan and discard the rows: AQE finalizes
            # an executed plan only by running it (a noop write would plan
            # and run a copy, leaving this plan initial)
            executed = df._jdf.queryExecution().executedPlan()
            executed.execute().count()
            plan = executed.toString()
        except Exception as exc:  # noqa: BLE001
            errors[name] = str(exc).splitlines()[0][:120]
            continue
        counts = Counter(_scan_paths(plan))
        rep = {p: c for p, c in counts.items() if c > 1}
        if rep:
            repeated[name] = rep
            print(f"REPEAT {name}: " + ", ".join(f"{os.path.basename(p)}x{c}" for p, c in rep.items()))
        spark.catalog.clearCache()
    print(f"\n{len(repeated)} queries with repeated scans; {len(errors)} errors")
    for n, e in errors.items():
        print(f"ERROR {n}: {e}")
    return 0


if __name__ == "__main__":
    main()
