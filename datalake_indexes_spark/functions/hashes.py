"""Alternative row-fingerprint hash functions — the reference's pluggable
``hash_function`` knob (SURVEY.md §2.10; ``maco/data_handler.py:89,109``,
swapped in the demo's parameter sweep, demo:423-464).

Any ``str -> int`` (value < 2**128) callable can drive the super-key
machinery; provided families:

- :func:`~datalake_indexes_spark.functions.xash.xash` — the default
  (bit-exact XASH port, see functions/xash.py),
- :func:`md5_128` — raw md5 truncated to 128 bits
  (``maco/util.py:227-247`` generate_MD5; NOT containment-monotone, so the
  MATE prefilter must be disabled with it — the reference has the same
  property and uses it only for the precision sweep),
- :func:`simhash128` — 3-gram SimHash, f=128
  (``maco/util.py:250-274`` generate_Simhash, self-contained rebuild of the
  public algorithm),
- :func:`bloom128` — k-bit Bloom signature per token
  (``maco/bloom_filter.py`` + ``mate.py:66-92`` hash_row_vals_bf):
  OR-folding per-row gives a row Bloom filter; the containment test is the
  same bitwise subset check as XASH, so the MATE prefilter stays sound.

The engine hashes with one function whatever the family: the index build,
MATE's input prep and the folder ingest each resolve ``hash_function or
partial(xash, hash_size=…, rotation=…, number_of_ones=…)`` once and hand it
to the one memoized UDF kernel of functions/xash.py
(:func:`~datalake_indexes_spark.functions.xash.hash_pandas_udf` and its row
and fused tokenize+hash forms) — a custom family is tokenized, hashed and
OR-folded exactly like XASH.

At 100 TB, per-partition pruning with Spark's built-in
``DataFrame.stat.bloomFilter`` / runtime bloom-filter joins complements
these per-row signatures; the per-row form is what the reference's
semantics need.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F


def md5_bucket(col, modulus: int):
    """Deterministic, engine-portable bucket of a value: first 8 md5 hex
    digits as a long, mod ``modulus``.  The ONE definition of the bucket
    rule shared by hash_split / stratified sampling / group_split /
    shard assignment / key sampling — change it here (e.g. widen the
    prefix) and every split, sample, and shard moves consistently; a
    divergent copy would silently break their mutual determinism
    contract.  (DuckDB twin: ``CAST(('0x' || substring(md5(v), 1, 8))
    AS BIGINT) %% modulus`` — see plans/oracle.py.)"""
    from pyspark.sql import Column

    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % modulus
    )


def md5_128(token: str) -> int:
    """md5 of the token as a 128-bit int (maco/util.py:227-247)."""
    if not token:
        return 0
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest(), "big")


def _ngrams(token: str, n: int = 3) -> list[str]:
    if len(token) < n:
        return [token] if token else []
    return [token[i : i + n] for i in range(len(token) - n + 1)]


def simhash128(token: str) -> int:
    """3-gram SimHash with f=128 (public algorithm; maco/util.py:250-274
    uses the pypi ``simhash`` package with the same shape)."""
    if not token:
        return 0
    votes = [0] * 128
    for g in _ngrams(token):
        h = int.from_bytes(hashlib.md5(g.encode("utf-8")).digest(), "big")
        for b in range(128):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(128):
        if votes[b] > 0:
            out |= 1 << b
    return out


def bloom_num_bits(n_items: int, fp_rate: float) -> int:
    """Classic Bloom sizing m = -n·ln(p)/ln(2)² (maco/bloom_filter.py)."""
    return max(1, int(-(n_items * math.log(fp_rate)) / (math.log(2) ** 2)))


def bloom_num_hashes(m_bits: int, n_items: int) -> int:
    """k = (m/n)·ln(2)."""
    return max(1, int((m_bits / max(n_items, 1)) * math.log(2)))


def bloom128(token: str, k: int = 5) -> int:
    """k-bit Bloom signature of one token in a 128-bit filter.

    Rows OR these together (same aggregation as XASH super keys); query
    containment `q | row == row` is then the standard Bloom membership
    test, so MATE's prefilter remains sound (no false negatives).
    """
    if not token:
        return 0
    out = 0
    for j in range(k):
        h = hashlib.md5(f"{j}:{token}".encode("utf-8")).digest()
        out |= 1 << (int.from_bytes(h[:8], "big") % 128)
    return out


class BloomFilter:
    """Driver-side Bloom filter (parity with maco/bloom_filter.py:7-112):
    add/check over an m-bit array with k md5-derived hashes."""

    def __init__(self, n_items: int = 1000, fp_rate: float = 0.01):
        self.m = bloom_num_bits(n_items, fp_rate)
        self.k = bloom_num_hashes(self.m, n_items)
        self.bits = 0

    def _positions(self, item: str) -> list[int]:
        return [
            int.from_bytes(hashlib.md5(f"{j}:{item}".encode()).digest()[:8], "big")
            % self.m
            for j in range(self.k)
        ]

    def add(self, item: str) -> None:
        for p in self._positions(item):
            self.bits |= 1 << p

    def check(self, item: str) -> bool:
        return all((self.bits >> p) & 1 for p in self._positions(item))
