"""Self-tests of the benchmark: seeded inputs repeat exactly, and a
corrupted result is counted as a failed operation. No Spark needed:

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import lake  # noqa: E402
from run import Tally  # noqa: E402


def _requests(seed: int, n: int = 14):
    base = lake.base_lake()
    out = [(p.name, p.kind, p.spec, p.frame) for p in lake.planted_additions(seed, base)]
    for kind, make in lake.REQUESTS.items():
        for i in range(n):
            req = make(seed, base, i)
            out.append((kind, req.table, tuple(req.query_columns), req.target,
                        req.input_frame(base)))
            for p in req.batch or []:
                out.append((p.name, p.spec, p.frame))
    return out


def _same(a, b) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if hasattr(u, "equals"):
                if not u.equals(v):
                    return False
            elif u != v:
                return False
    return True


def test_same_seed_same_inputs():
    assert _same(_requests(7), _requests(7))
    assert lake.base_lake()["orders"].equals(lake.base_lake()["orders"])


def test_other_seed_other_inputs():
    assert not _same(_requests(7), _requests(8))


def test_request_is_independent_of_stream_position():
    base = lake.base_lake()
    late = lake.discover_request(3, base, 5)
    _ = [lake.discover_request(3, base, i) for i in range(5)]
    assert np.array_equal(late.rows, lake.discover_request(3, base, 5).rows)


def test_planted_copies_are_duplicates_of_their_source():
    base = lake.base_lake()
    for p in lake.planted_additions(11, base):
        cols = list(lake.BASE_SPECS[p.source].cols)
        src = {tuple(r) for r in base[p.source][cols].astype(str).itertuples(index=False)}
        copy = {tuple(r) for r in p.frame[cols].astype(str).itertuples(index=False)}
        assert copy <= src and copy


def test_clean_results_pass():
    assert checks.check_enrich(3, 3, ["a", "ext_5_1"], [5, 7], [("5_1", 0.4), ("7_2", -1.0)]) == []
    assert checks.check_discover([(9, 1, "0"), (9, 2, "0"), (3, 0, "1")], 10) == []
    assert checks.check_ingest({200: 8}, {200: 8}, 200, [0, 200]) == []


def test_corrupted_results_are_counted_as_failed():
    corrupted = [
        checks.check_enrich(3, 2, ["a"], [5], []),                       # rows lost
        checks.check_enrich(3, 3, ["ext_9_1"], [5], []),                 # dropped table
        checks.check_enrich(3, 3, [], [5], [("5_1", 1.5)]),              # |corr| > 1
        checks.check_discover([(1, 1, "0"), (2, 2, "0")], 10),           # scores rise
        checks.check_discover([(1, i, "0") for i in range(11)], 10),     # > k rows
        checks.check_discover([(2, 1, "0")], 10, [(2, 3, "0")]),         # != reference
        checks.check_ingest({200: 8}, {200: 7}, 200, [200]),             # cells lost
        checks.check_ingest({200: 8}, {200: 8}, 200, [0, 1]),            # not found
    ]
    tally = Tally()
    for i, problems in enumerate(corrupted):
        tally.record(i, problems)
    tally.record(len(corrupted), [])
    assert tally.attempted == len(corrupted) + 1
    assert tally.failed == len(corrupted)
