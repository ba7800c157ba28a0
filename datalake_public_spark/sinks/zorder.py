"""Z-order (Morton-curve) clustered parquet layout for multi-dimension
data skipping.

A table sorted on one key prunes row groups only for predicates on that
key; a 100 TB fact queried by BOTH user and value range scans everything
for the second dimension. Interleaving the bits of the two (or more)
sort dimensions into one Morton key and range-partition-sorting on it
keeps every file's min/max box SMALL in every dimension at once, so
parquet footer stats prune files for predicates on any participating
column — the same trick Delta's OPTIMIZE ZORDER BY applies.

Everything here is Catalyst bit arithmetic (shiftleft/and/or) — no UDFs,
fully codegen'd, and the identical expression is emitted as ANSI SQL for
the DuckDB oracle (``morton_sql``), so the key itself is cross-engine
verified.

Scale notes:
  * the key is computed scan-side (map-only); the only shuffle is the
    range partitioner's sample+exchange that any global sort needs;
  * ``ManifestTable.compact(zorder_by=...)`` normalizes dimensions to
    ``bits``-bit integers with min/max bounds from a 1-row bounded agg
    (same class of bounded driver collect as the IVF index build);
  * skipping is delivered by the per-file min/max stats the manifest
    records at commit (``files_for``/``read_pruned``).

Ref parity: beyond the reference (lake-layout extension; public
technique per the Delta OPTIMIZE docs and the original Morton curve).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (already integer,
    non-negative, < 2**bits) column into one Morton key. Bit i of
    column j lands at position i*len(cols)+j, so all columns share the
    key's significance evenly.

    ``bits * len(cols)`` must fit in the 63 value bits of a signed long:
    bit 63 is the sign bit, and setting it would flip hot keys negative
    and corrupt the curve order at the most significant position —
    silent clustering degradation, so it raises instead."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"morton key needs {bits * n} bits but a signed long has 63 "
            f"value bits — use bits <= {63 // n} for {n} columns"
        )
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def morton_sql(cols: list[str], bits: int = 16) -> str:
    """The identical interleave as ANSI SQL (DuckDB-compatible) — kept in
    lockstep with morton_key so the two engines cannot drift."""
    n = len(cols)
    if bits * n > 63:  # same sign-bit guard as morton_key (lockstep)
        raise ValueError(
            f"morton key needs {bits * n} bits but a signed long has 63 "
            f"value bits — use bits <= {63 // n} for {n} columns"
        )
    terms = [
        f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return "(" + " | ".join(terms) + ")"


def normalize_to_bits(
    col: Column | str, lo: float, hi: float, bits: int = 16
) -> Column:
    """Min-max scale a numeric column into [0, 2**bits) as a long.
    Values at ``hi`` clamp to the top bucket; a degenerate lo==hi range
    maps everything to 0, and so does an all-null column (lo/hi None) —
    a null dimension contributes a constant to the Morton key, which is
    the degenerate-range behavior, not an error."""
    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
    return F.least(
        F.greatest(F.floor(scaled * (1 << bits)), F.lit(0)), F.lit(top)
    ).cast("long")


# -- file-level Bloom filters (equality-predicate skipping) ----------------
#
# Min/max boxes prune RANGES; a point lookup on a high-cardinality,
# unclustered column (user id, content hash) rarely prunes anything by
# bounds. A small per-file Bloom filter in the manifest answers
# "definitely not in this file" for equality predicates with zero data
# I/O — Delta's bloom-filter index, at the manifest layer where this
# engine keeps all skipping metadata. Parquet's native bloom filters
# exist but are invisible to pyarrow 16 (unverifiable here) and live in
# the data files; manifest blooms are engine-owned and testable.

import base64
import hashlib as _hashlib


def bloom_canon(v) -> str:
    """ONE canonical string per logical value, applied on BOTH the build
    and the probe side — the two must hash identical bytes or pruning
    silently drops matching files. The trap: an int64 column with any
    null reaches the pandas build as float64 (5 → 5.0), so a plain
    str() would index '5.0' while a probe for 5 hashes '5'. Integral
    floats therefore coerce to their int form; everything else uses
    str() (pandas date/Timestamp str forms match their datetime.date /
    datetime.datetime probe twins)."""
    import math

    if isinstance(v, float):  # covers numpy float64 (a float subclass)
        if not (math.isnan(v) or math.isinf(v)) and v == int(v):
            return str(int(v))
    return str(v)


def bloom_build(values, n_bits: int = 8192, k: int = 5) -> str:
    """Build a base64 Bloom bitmap over the values' canonical string
    forms (``bloom_canon``). Double hashing (Kirsch–Mitzenmacher):
    h_i = h1 + i*h2 mod m."""
    bits = bytearray(n_bits // 8)
    for v in values:
        d = _hashlib.md5(bloom_canon(v).encode()).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1
        for i in range(k):
            b = (h1 + i * h2) % n_bits
            bits[b >> 3] |= 1 << (b & 7)
    return base64.b64encode(bytes(bits)).decode()


def bloom_might_contain(bloom_b64: str, value, k: int = 5) -> bool:
    bits = base64.b64decode(bloom_b64)
    n_bits = len(bits) * 8
    d = _hashlib.md5(bloom_canon(value).encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    for i in range(k):
        b = (h1 + i * h2) % n_bits
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return False
    return True
