"""Per-operation correctness checks against the planted truth.

Every pipeline pass is checked; a pass that raises or fails a check counts
as failed in ``ops_failed_frac``.
"""

from __future__ import annotations

import pandas as pd


def truth_map(expected_clusters: pd.DataFrame) -> dict[str, str]:
    return dict(zip(expected_clusters["url"], expected_clusters["cluster_id"]))


def partition(mapping: dict[str, str]) -> set[frozenset[str]]:
    groups: dict[str, set[str]] = {}
    for url, cid in mapping.items():
        groups.setdefault(cid, set()).add(url)
    return {frozenset(g) for g in groups.values()}


def components_problems(got: dict[str, str], want: dict[str, str]) -> list[str]:
    """Why the ``components`` output (url -> cluster_id) differs from the
    truth; empty when the partitions are equal and every cluster id is the
    minimum url of its cluster, as ``connected_components`` promises."""
    problems = []
    if partition(got) != partition(want):
        missing = set(want) - set(got)
        extra = set(got) - set(want)
        problems.append(
            f"partition differs: {len(partition(got))} clusters vs "
            f"{len(partition(want))} in truth, {len(missing)} urls missing, "
            f"{len(extra)} extra"
        )
    groups: dict[str, list[str]] = {}
    for url, cid in got.items():
        groups.setdefault(cid, []).append(url)
    bad_ids = [cid for cid, urls in groups.items() if cid != min(urls)]
    if bad_ids:
        problems.append(f"{len(bad_ids)} cluster ids are not the min url")
    return problems


def report_problems(n_rows: int, n_dups: int, n_clean: int,
                    want: dict[str, str]) -> list[str]:
    """The per-doc report has one row per clean doc, and every clustered
    doc except its cluster's minimum url is flagged duplicate."""
    problems = []
    if n_rows != n_clean:
        problems.append(f"report has {n_rows} rows, expected {n_clean}")
    want_dups = len(want) - len(set(want.values()))
    if n_dups != want_dups:
        problems.append(f"report flags {n_dups} duplicates, expected {want_dups}")
    return problems
