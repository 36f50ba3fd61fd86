"""Output checks. Each returns the list of problems found (empty = the
operation passed); any problem counts the operation as failed.

The checks take plain Python values collected from the results, so they
run (and are tested) without Spark.
"""

from __future__ import annotations

import re

_EXT = re.compile(r"^ext_(\d+)_(\d+)$")


def check_enrich(n_input: int, n_enriched: int, enriched_columns: list[str],
                 top_tables: list[int], correlations: list[tuple[str, float]]) -> list[str]:
    problems = []
    if n_enriched != n_input:
        problems.append(f"row count {n_enriched} != input {n_input}")
    surviving = set(top_tables)
    for col in enriched_columns:
        m = _EXT.match(col)
        if m and int(m.group(1)) not in surviving:
            problems.append(f"{col} is not from a surviving top table {sorted(surviving)}")
    for name, corr in correlations:
        if corr is None or not -1.0 <= corr <= 1.0:
            problems.append(f"correlation of {name} is {corr}, outside [-1, 1]")
    return problems


def check_discover(top_k: list[tuple[int, int, str]], k: int,
                   reference: list[tuple[int, int, str]] | None = None) -> list[str]:
    """``top_k`` rows are (score, table_id, column_combination); when
    ``reference`` (the ``use_hash_optimization=False`` answer) is given the
    two must be equal."""
    problems = []
    if len(top_k) > k:
        problems.append(f"{len(top_k)} rows > k={k}")
    scores = [row[0] for row in top_k]
    if any(a < b for a, b in zip(scores, scores[1:])):
        problems.append(f"scores increase down the list: {scores}")
    if reference is not None and list(top_k) != list(reference):
        problems.append(f"top_k {top_k} != unoptimized {reference}")
    return problems


def check_ingest(batch_cells: dict[int, int], reloaded_cells: dict[int, int],
                 probe_table: int, probe_top: list[int]) -> list[str]:
    """``batch_cells``/``reloaded_cells``: cell count per upserted table id
    in the batch's own index and in the reloaded on-disk index."""
    problems = []
    for tid, n in sorted(batch_cells.items()):
        got = reloaded_cells.get(tid, 0)
        if got != n:
            problems.append(f"table {tid}: {got} cells after reload, batch has {n}")
    if probe_table not in probe_top:
        problems.append(f"probe did not find table {probe_table} in top k {probe_top}")
    return problems
