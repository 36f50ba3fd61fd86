"""Seeded benchmark inputs: a TPC-H-shaped base lake, the planted lake
additions and the three request streams.

The base lake is fixed (generated from ``BASE_SEED``), like a lake that is
already on disk: customer, part and orders at TPC-H scale factor 0.004.
supplier and lineitem are generated beside it as input datasets only.
``--seed`` drives everything else: the planted row-shuffled and partial
copies, and every request of the ``enrich``, ``discover`` and ``ingest``
streams. Request ``i`` of a stream is drawn from its own generator keyed by
``(seed, stream, i)``, so a stream is the same however far a run gets.

Everything here is pandas/numpy; nothing touches Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from datalake_indexes_spark.sources.catalog import LakeTableSpec

BASE_SEED = 20240601
# rows of the generated tables (TPC-H scale factor 0.004); lineitem has 1-7
# lines per order, about 24k rows
SIZES = {"customer": 600, "supplier": 40, "part": 800, "orders": 6000}

_SEGMENTS = ["automobile", "building", "furniture", "household", "machinery"]
_PRIORITIES = ["1 urgent", "2 high", "3 medium", "4 not specified", "5 low"]
_COLORS = ["almond", "azure", "blush", "coral", "cyan", "ivory", "khaki",
           "lemon", "linen", "maroon", "olive", "orchid", "peru", "plum",
           "rose", "salmon", "sienna", "tan", "thistle", "wheat"]
_TYPES = ["economy anodized steel", "large brushed brass", "medium plated tin",
          "promo burnished copper", "small polished nickel", "standard plated steel"]


def _spec(name: str, table_id: int, cols: list[str], order_by: list[str],
          row_id_expr: str | None = None) -> LakeTableSpec:
    return LakeTableSpec(name, table_id, tuple(cols), tuple(order_by), row_id_expr)


BASE_SPECS: dict[str, LakeTableSpec] = {
    s.name: s
    for s in [
        _spec("customer", 0, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
              ["c_custkey"], "c_custkey"),
        _spec("part", 1, ["p_partkey", "p_name", "p_brand", "p_type", "p_size"],
              ["p_partkey"], "p_partkey"),
        _spec("orders", 2, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
              ["o_orderkey"], "o_orderkey"),
    ]
}

# numeric enrichment target of each table an enrich request samples
TARGETS = {"customer": "c_acctbal", "orders": "o_totalprice",
           "part": "p_retailprice", "supplier": "s_acctbal"}
# query-column choices by degree; degree 1 first
QUERY_COLUMNS = {
    "customer": [["c_custkey"], ["c_custkey", "c_nationkey"], ["c_custkey", "c_nationkey", "c_mktsegment"]],
    "orders": [["o_orderkey"], ["o_orderkey", "o_custkey"], ["o_orderkey", "o_custkey", "o_orderstatus"]],
    "part": [["p_partkey"], ["p_partkey", "p_brand"], ["p_partkey", "p_brand", "p_size"]],
    "supplier": [["s_suppkey"], ["s_suppkey", "s_nationkey"], ["s_suppkey", "s_name", "s_nationkey"]],
    "lineitem": [["l_orderkey"], ["l_orderkey", "l_partkey"], ["l_orderkey", "l_partkey", "l_suppkey"]],
}


def base_lake() -> dict[str, pd.DataFrame]:
    """customer, supplier, part, orders and lineitem with TPC-H's key
    relationships; the lake tables are those in ``BASE_SPECS``."""
    rng = np.random.default_rng(BASE_SEED)
    nc, ns, np_, no = (SIZES[t] for t in ("customer", "supplier", "part", "orders"))
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    size = rng.integers(1, 51, np_)
    part = pd.DataFrame({
        "p_partkey": np.arange(np_),
        "p_name": [" ".join(rng.choice(_COLORS, 3, replace=False)) for _ in range(np_)],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (np_, 2))],
        "p_type": rng.choice(_TYPES, np_),
        "p_size": size,
        # retail price rises with size, so COCOA has a real signal to rank
        "p_retailprice": np.round(900 + 20 * size + rng.normal(0, 40, np_), 2),
    })
    lines = rng.integers(1, 8, no)
    l_orderkey = np.repeat(np.arange(no), lines)
    l_linenumber = np.concatenate([np.arange(1, n + 1) for n in lines])
    nl = len(l_orderkey)
    l_quantity = rng.integers(1, 51, nl)
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": l_linenumber,
        "l_quantity": l_quantity,
        "l_returnflag": rng.choice(["a", "n", "r"], nl),
    })
    qty_per_order = np.bincount(l_orderkey, weights=l_quantity, minlength=no)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["f", "o", "p"], no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
        "o_totalprice": np.round(qty_per_order * 1500 + rng.normal(0, 500, no), 2),
    })
    return {"customer": customer, "supplier": supplier, "part": part,
            "orders": orders, "lineitem": lineitem}


@dataclass
class Planted:
    """One planted lake addition: a copy of ``source`` under its own id."""

    name: str
    kind: str          # shuffled | partial | changed | new
    source: str
    spec: LakeTableSpec
    frame: pd.DataFrame


def _copy(rng, lake, source: str, kind: str, name: str, table_id: int) -> Planted:
    """A copy of ``source`` with its own row order column ``__ord``.

    A shuffled copy holds the same row multiset and a partial copy (70% of
    the rows) a subset of it, so both are duplicate relations of the
    source; a changed copy alters a tenth of its rows and is not."""
    src = lake[source]
    base = BASE_SPECS[source]
    n = len(src)
    if kind == "shuffled":
        rows = rng.permutation(n)
    elif kind == "partial":
        rows = np.sort(rng.choice(n, max(1, int(n * 0.7)), replace=False))
    elif kind == "changed":
        rows = np.arange(n)
    else:
        raise ValueError(kind)
    frame = src.iloc[rows].reset_index(drop=True)
    if kind == "changed":
        frame = frame.copy()
        col = base.cols[-1]
        hit = rng.choice(n, max(1, n // 10), replace=False)
        frame[col] = frame[col].astype(str)
        frame.loc[hit, col] = [f"changed {table_id} {i}" for i in hit]
    frame["__ord"] = np.arange(len(frame))
    spec = _spec(name, table_id, list(base.cols), ["__ord"], "__ord")
    return Planted(name, kind, source, spec, frame)


def planted_additions(seed: int, lake: dict[str, pd.DataFrame]) -> list[Planted]:
    """Seeded copies under table ids 100 and 101: a row-shuffled copy of
    customer and a 70% partial copy of part. Both are duplicate relations
    of their source. The seed picks the row order and the rows; sources and
    sizes are fixed so that the lake's shape does not depend on it."""
    rng = np.random.default_rng([seed, 0])
    return [
        _copy(rng, lake, "customer", "shuffled", "planted_dup", 100),
        _copy(rng, lake, "part", "partial", "planted_partial", 101),
    ]


def _sample(rng, frame: pd.DataFrame, size: int | None) -> np.ndarray:
    """Sorted positions of ``size`` random rows of ``frame`` (all rows
    when ``size`` is None)."""
    n = len(frame)
    if size is None or size >= n:
        return np.arange(n)
    return np.sort(rng.choice(n, size, replace=False))


@dataclass
class Request:
    """One operation of a stream. ``table``/``rows`` select the input; the
    rest are the call's arguments."""

    table: str
    rows: np.ndarray
    query_columns: list[str]
    target: str | None = None
    batch: list[Planted] | None = None

    def input_frame(self, lake: dict[str, pd.DataFrame]) -> pd.DataFrame:
        frame = self.batch[0].frame if self.batch else lake[self.table]
        return frame.iloc[self.rows].reset_index(drop=True)


# Each stream cycles through a fixed schedule of request classes (table,
# degree, input rows; None = the whole table), so every run sees the same
# class mix and the seed only draws the requests within each class.
ENRICH_SCHEDULE = [("orders", 1, 2000), ("customer", 2, 500), ("part", 1, None),
                   ("supplier", 2, None), ("customer", 1, 100), ("orders", 2, 5000),
                   ("part", 2, 300), ("supplier", 1, None)]
DISCOVER_SCHEDULE = [("lineitem", 1, 2000), ("part", 2, 500), ("customer", 3, None),
                     ("orders", 1, 1000), ("lineitem", 2, 10000), ("orders", 3, None),
                     ("customer", 1, 300), ("part", 3, None), ("lineitem", 3, None),
                     ("orders", 2, 5000), ("customer", 2, 500), ("part", 1, None)]


def enrich_request(seed: int, lake: dict[str, pd.DataFrame], i: int) -> Request:
    """Request ``i`` of the ``enrich`` stream: a 100 to 5,000 row sample
    of orders, customer or part, or all of supplier, with degree-1 or
    degree-2 query columns and the table's numeric target."""
    table, degree, size = ENRICH_SCHEDULE[i % len(ENRICH_SCHEDULE)]
    rng = np.random.default_rng([seed, 1, i])
    return Request(table, _sample(rng, lake[table], size),
                   QUERY_COLUMNS[table][degree - 1], target=TARGETS[table])


def discover_request(seed: int, lake: dict[str, pd.DataFrame], i: int) -> Request:
    """Request ``i`` of the ``discover`` stream: degree 1, 2 or 3 over
    300 rows up to the whole of lineitem, orders, customer or part."""
    table, degree, size = DISCOVER_SCHEDULE[i % len(DISCOVER_SCHEDULE)]
    rng = np.random.default_rng([seed, 2, i])
    return Request(table, _sample(rng, lake[table], size),
                   QUERY_COLUMNS[table][degree - 1])


def ingest_request(seed: int, lake: dict[str, pd.DataFrame], i: int) -> Request:
    """Batch ``i`` of the ``ingest`` stream: one new table with keys no
    other table holds (the batch's probe target), a changed version of a
    planted table, and on every other batch a partial duplicate of a base
    table. New ids are 200+i and 1000+i; the changed table keeps its id
    (100 or 101), and from then on it is no longer a duplicate."""
    rng = np.random.default_rng([seed, 3, i])
    n = int(rng.integers(200, 2001))
    fresh = pd.DataFrame({
        "b_key": 10_000_000 + 100_000 * i + np.arange(n),
        "b_custkey": rng.integers(0, SIZES["customer"], n),
        "b_status": rng.choice(["f", "o", "p"], n),
        "b_qty": rng.integers(1, 51, n),
    })
    fresh["__ord"] = np.arange(n)
    new = Planted(f"ingest_new_{i}", "new", "", _spec(
        f"ingest_new_{i}", 200 + i, ["b_key", "b_custkey", "b_status", "b_qty"],
        ["__ord"], "__ord"), fresh)
    changed = int(rng.choice([100, 101]))
    source, name = ("customer", "planted_dup") if changed == 100 else ("part", "planted_partial")
    batch = [new, _copy(rng, lake, source, "changed", name, changed)]
    if i % 2 == 0:
        batch.append(_copy(rng, lake, str(rng.choice(["customer", "part"])),
                           "partial", f"ingest_dup_{i}", 1000 + i))
    probe_rows = np.sort(rng.choice(n, min(n, 200), replace=False))
    return Request(new.name, probe_rows, ["b_key"], batch=batch)


REQUESTS = {"enrich": enrich_request, "discover": discover_request, "ingest": ingest_request}
