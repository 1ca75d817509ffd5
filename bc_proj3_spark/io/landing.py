"""Landing-directory file discovery (SURVEY.md §2.1 S14).

Re-implements the reference's batch-unit selection exactly
(bronze_arxiv.py:22-40, same helpers in the other two bronzes):

- a run's candidate files are those whose name starts with the
  run-date in the source's separator convention (arXiv uses
  ``YYYY-MM-DD``, NYT/Scholar use ``YYYY_MM_DD`` — bronze_arxiv.py:26,
  bronze_ny_times.py:25);
- among candidates, the batch is the file with the **max
  second-to-last ``_``-segment** (the epoch stamp), compared as a
  string — bronze_arxiv.py:34-40's exact max-key semantics.

This stays a driver-side operation by design: it selects ONE landing
file per run, which is metadata work, not data work (the reference
reaches the same conclusion with dbutils.fs.ls). The at-scale analogue
for many-files-per-batch is a window over file metadata — see
plans/tpch.py w1 for the row_number shape.
"""

from __future__ import annotations

import os
import re


class NoFilesForRunDate(Exception):
    """Raised when a run date has no landing files (the reference's
    notebook-exit path, bronze_arxiv.py:47-50)."""


def format_run_date(run_date: str, sep: str) -> str:
    """'YYYYMMDD' → 'YYYY<sep>MM<sep>DD' (bronze_arxiv.py:26). Raises
    ValueError unless ``run_date`` is exactly 8 ASCII digits."""
    if not re.fullmatch(r"[0-9]{8}", run_date):
        raise ValueError(f"run_date must be YYYYMMDD, got {run_date!r}")
    return f"{run_date[:4]}{sep}{run_date[4:6]}{sep}{run_date[6:]}"


def get_run_date_files(run_date: str, path: str, sep: str = "-") -> list[str]:
    """All landing files whose name starts with the formatted run date."""
    prefix = format_run_date(run_date, sep)
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f[:10] == prefix
    )


def get_latest_file(file_list: list[str]) -> str:
    """Pick the file with the max epoch segment (second-to-last ``_``
    part of the basename), max taken over the string keys — exact
    parity with bronze_arxiv.py:34-40."""
    if not file_list:
        raise NoFilesForRunDate("empty file list")
    keyed = {os.path.basename(f).split("_")[-2]: f for f in file_list}
    return keyed[max(keyed.keys())]


def select_batch_file(run_date: str, path: str, sep: str = "-") -> str:
    """Discovery + latest-pick; raises :class:`NoFilesForRunDate` when
    the run date has no files (callers convert to a SKIPPED stage)."""
    files = get_run_date_files(run_date, path, sep)
    if not files:
        raise NoFilesForRunDate(f"no files for run date {run_date} in {path}")
    return get_latest_file(files)
