"""Check the pipeline metrics table's per-partition rows against the stage
tables' part files, read with pyarrow (not through Spark)."""

from __future__ import annotations

import json
import re
from pathlib import Path
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq


def footer_counts(files) -> dict[int, int]:
    """{part-NNNNN index: rows} from the files' parquet footers."""
    counts: dict[int, int] = {}
    for f in files:
        path = unquote(urlparse(str(f)).path)
        pid = int(re.match(r"part-(\d+)", Path(path).name).group(1))
        n = pq.ParquetFile(path).metadata.num_rows
        counts[pid] = counts.get(pid, 0) + n
    return counts


def assert_metrics_match_parts(metrics, stage_files: dict, workdir) -> None:
    """Per stage: one metrics row per written part, `partition_id` the
    part-NNNNN id, `rows` that file's footer count, and the rows summing
    to the stage's lineage manifest, which holds the same per-partition
    counts and is marked as appended."""
    for stage, files in stage_files.items():
        want = footer_counts(files)
        assert want, f"{stage}: no part files"
        got = sorted((r["partition_id"], r["rows"]) for r in
                     metrics.where(f"stage = '{stage}'").collect())
        assert got == sorted(want.items()), stage
        man = json.loads(
            (Path(workdir) / "_lineage" / f"{stage}.json").read_text())
        assert sum(n for _, n in got) == man["rows"], stage
        assert man["partitions"] == {str(k): v for k, v in want.items()}, \
            stage
        assert man["metrics_appended"] is True, stage
