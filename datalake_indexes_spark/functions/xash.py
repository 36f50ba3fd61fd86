"""XASH — the reference's 128-bit row-fingerprint hash, bit-exact.

Semantics from ``maco/util.py:141-211`` (``generate_XASH``): the
``number_of_ones`` least-frequent characters of the token (ties broken by
character) each set one bit in a 37-character x ``segment_size`` grid (the
segment is picked from the mean position of the character in the token);
the feature bits are then rotated by a length-derived amount and one length
bit is set at ``37*segment_size + len(token) % (hash_size - 37*segment_size)``.

Spark has no 128-bit integer, so the engine carries the hash as two signed
64-bit longs ``(hi, lo)``; bitwise OR/containment work unchanged on the pair
(``maco/data_handler.py:280-303`` stores the same value as a BIT(128) string).

The per-token computation is pure Python (it is not expressible as a native
column expression), wrapped in one Arrow-batched pandas UDF kernel with a
memo cache — token distributions in a data lake are heavily repetitive, so
the cache turns the UDF into a dictionary probe for the common case.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from functools import partial, reduce
from itertools import chain
from operator import or_

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_CHARS = " 0123456789abcdefghijklmnopqrstuvwxyz"
_CHAR_INDEX = {c: i for i, c in enumerate(_CHARS)}
_SEGMENT_SIZE = {64: 1, 128: 3, 256: 6, 512: 13}
_EMPTY_TOKENS = frozenset(["", "None", " ", "''"])

_MASK64 = (1 << 64) - 1


def xash(
    token: str,
    hash_size: int = 128,
    rotation: bool = True,
    number_of_ones: int = 5,
) -> int:
    """128-bit (by default) XASH of ``token`` as a Python int."""
    if token in _EMPTY_TOKENS:
        return 0

    seg = _SEGMENT_SIZE[hash_size]
    length_bit_start = 37 * seg
    length_slots = hash_size - length_bit_start

    counts = Counter(token)
    # least-frequent first, ties by character ascending; chars outside the
    # alphabet are selected (consuming a slot) but then skipped, matching
    # the reference.
    selected = [c for c, _ in sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))[:number_of_ones]]

    n = 0
    token_size = len(token)
    for c in selected:
        idx = _CHAR_INDEX.get(c)
        if idx is None:
            continue
        positions = [i for i, ch in enumerate(token) if ch == c]
        mean_index = sum(positions) / len(positions)
        for i in range(seg):
            if mean_index <= ((i + 1) * token_size / seg):
                n |= 1 << (idx * seg + i)
                break

    if rotation:
        # rotate the feature bits within [0, length_bit_start)
        d = int((length_bit_start * (token_size % length_slots)) / length_slots)
        n = ((n << d) | (n >> (length_bit_start - d))) % (1 << length_bit_start)

    return n | (1 << (length_bit_start + (token_size % length_slots)))


def split128(value: int) -> tuple[int, int]:
    """Split a 128-bit int into signed (hi, lo) int64 pair."""
    lo = value & _MASK64
    hi = (value >> 64) & _MASK64
    if lo >= 1 << 63:
        lo -= 1 << 64
    if hi >= 1 << 63:
        hi -= 1 << 64
    return hi, lo


def xash_hi_lo(token: str, **kwargs) -> tuple[int, int]:
    return split128(xash(token, **kwargs))


_HASH_SCHEMA = StructType(
    [StructField("hi", LongType(), False), StructField("lo", LongType(), False)]
)
_TOK_HASH_SCHEMA = StructType([StructField("tok", StringType(), False), *_HASH_SCHEMA])
_MEMO_MAX = 4_000_000  # bound worker memory on degenerate vocabularies


class _Memo(dict):
    """``fn`` behind a dict memo: a hit is one C-level dict lookup, a miss
    computes ``fn`` and keeps at most ``_MEMO_MAX`` keys.  The memo lives
    in the UDF's closure, which PySpark unpickles per task: it spans the
    Arrow batches of one task, not a worker's whole life."""

    def __init__(self, fn: Callable[[str], object]):
        super().__init__()
        self.fn = fn

    def __missing__(self, key: str):
        got = self.fn(key)
        if len(self) < _MEMO_MAX:
            self[key] = got
        return got


def _hash_kernel(fn: Callable[[str], int], tokenize: bool):
    """The one super-key hash UDF body: factorize the batch (one C pass ->
    unique values + int codes), optionally tokenize the uniques, hash only
    the unseen ones in Python through the memo, then expand per-row
    results with a numpy take — per-ROW work is all C.  Lake token columns
    repeat heavily, so the Python-level work is O(new uniques), not
    O(rows).  Measured 3x over a dict-map + list-comprehension body (56s
    -> 19s CPU per 4.7M cells at sf0.1)."""
    pair = _Memo(lambda t: split128(fn(t)))

    @F.pandas_udf(_TOK_HASH_SCHEMA if tokenize else _HASH_SCHEMA)
    def _udf(values: pd.Series) -> pd.DataFrame:
        import numpy as np

        codes, uniques = pd.factorize(values.fillna(""))
        out = {}
        if tokenize:
            import pyarrow as pa

            from datalake_indexes_spark.functions.text import tokenize_arrow

            uniques = out["tok"] = np.asarray(
                tokenize_arrow(pa.array(uniques, type=pa.string())).to_pylist(),
                dtype=object,
            )
        hl = np.fromiter(
            chain.from_iterable(map(pair.__getitem__, uniques)), np.int64, 2 * len(uniques)
        ).reshape(-1, 2)
        out["hi"], out["lo"] = hl[:, 0], hl[:, 1]
        return pd.DataFrame({k: v[codes] for k, v in out.items()})

    return _udf


def hash_pandas_udf(fn: Callable[[str], int]):
    """Arrow-batched pandas UDF: token string -> struct(hi long, lo long)
    of any ``str -> int128`` callable (XASH or the reference's pluggable
    ``hash_function``, data_handler.py:89,109), memoized per task — key
    and id columns in a lake repeat across rows and tables."""
    return _hash_kernel(fn, tokenize=False)


def xash_pandas_udf(hash_size: int = 128, rotation: bool = True, number_of_ones: int = 5):
    """:func:`hash_pandas_udf` of XASH."""
    return hash_pandas_udf(
        partial(xash, hash_size=hash_size, rotation=rotation, number_of_ones=number_of_ones)
    )


def row_hash_pandas_udf(fn: Callable[[str], int]):
    """Arrow-batched pandas UDF hashing a WHOLE ROW of tokens at once:
    input = tokens joined with ``\\x01`` (tokens are ASCII alnum+space so
    the separator cannot collide; NUL is avoided because Arrow-produced
    pandas strings hash C-string-style in ``Series.unique()`` here,
    silently collapsing keys at an embedded NUL), output = OR-fold of the
    per-token hashes as (hi, lo).  One Python crossing per row instead of
    one per query column; the kernel memoizes whole-row keys, and a token
    memo sits under it: distinct rows share tokens heavily (a 600k-row
    composite-key probe has ~170k distinct tokens), so most per-row work
    is dict hits even when every row key is unique."""
    tok = _Memo(fn)
    return hash_pandas_udf(lambda row: reduce(or_, map(tok.__getitem__, row.split("\x01")), 0))


def tokenize_hash_pandas_udf(fn: Callable[[str], int]):
    """Arrow-batched pandas UDF fusing tokenize + hash: raw CAST-to-string
    cell -> struct(tok string, hi long, lo long).

    Lake columns are keys and enums — a batch's *unique* raw values are a
    small fraction of its rows — so the kernel tokenizes only the uniques
    through the RE2-vectorized :func:`tokenize_arrow` (cell-exact with
    ``tokenize_col``, see its parity note), hashes only the unique tokens
    (memoized), and expands both with numpy takes: one Python crossing
    per column instead of the JVM regex chain over every cell plus a
    second crossing to hash its output.

    The cast to string MUST stay in the JVM (callers pass
    ``col.cast("string")``): Spark's cast formatting (e.g. ``1.0E7`` for
    doubles) is part of the indexed token contract and is not replicated
    here."""
    return _hash_kernel(fn, tokenize=True)


def superkey_contains(q_hi: Column, q_lo: Column, r_hi: Column, r_lo: Column) -> Column:
    """Bit-containment test: every bit of q is set in r (mate.py:390-394,
    ``(input_superkey | row_superkey) == row_superkey``) on the 2-long split."""
    return (q_hi.bitwiseOR(r_hi) == r_hi) & (q_lo.bitwiseOR(r_lo) == r_lo)
