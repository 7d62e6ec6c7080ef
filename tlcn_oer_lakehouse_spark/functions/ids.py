"""Deterministic identity & fingerprint expressions.

Re-expresses the reference's content-addressed ID conventions as pure
column expressions (JVM-side, codegen'd) instead of Python-side hashlib
calls inside RDD mapPartitions:

- ``resource_uid`` = sha256(resource_id)           (transformer.py:305-307)
- ``asset_uid``    = sha256(resource_uid||path)    (transformer.py:1608)
- ``record_fingerprint`` = sha256(canonical payload) (transformer.py:310-337)
- surrogate keys from hash prefixes                 (gold_analytics.py:258-263;
  the reference uses abs(xxhash64) — we expose that too, plus a portable
  md5-prefix variant whose value is reproducible outside the JVM)

All are deterministic, so re-runs of any pipeline stage are idempotent by
construction — the property the reference's MERGE-based incremental layer
depends on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_uid(*cols: Column | str) -> Column:
    """Content-addressed UID: sha256 over '||'-joined parts."""
    parts = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.sha2(F.concat_ws("||", *parts), 256)


def md5_fingerprint(*cols: Column | str) -> Column:
    """Change-detection fingerprint over a canonical column tuple."""
    parts = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.md5(F.concat_ws("||", *parts))


def surrogate_key(*cols: Column | str) -> Column:
    """64-bit surrogate key from the first 8 hex chars of md5 — portable
    (identical value computable in any engine), unlike xxhash64."""
    return F.conv(F.substring(md5_fingerprint(*cols), 1, 8), 16, 10).cast("long")


def xxhash_surrogate_key(*cols: Column | str) -> Column:
    """The reference's own surrogate scheme: abs(xxhash64(...))
    (gold_analytics.py:258-263). JVM-only value; fastest at scale."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.abs(F.xxhash64(*parts))


PAIR_ID_LIMIT = 1 << 31  # packed pair ids must lie in [0, PAIR_ID_LIMIT)


def packed_pairs(items: Column) -> Column:
    """Every ``(items[i], items[j])`` with i < j, each packed into one
    long ``a << 32 | b`` — an 8-byte aggregate key instead of a struct
    (guide §2.3 narrow types); :func:`unpack_pair` inverts it.

    The packing is lossless only for ids in [0, 2^31): a negative or
    wider id would alias another pair and silently corrupt the counts
    keyed on it.  So the whole row fails (``raise_error``) if any item
    is out of range — one ``exists`` pass per array, i.e. each item is
    checked once before pairing, not once per pair.  Items are cast to
    long, so an int-typed array packs correctly too."""

    def out_of_range(x: Column) -> Column:
        return (x < 0) | (x >= PAIR_ID_LIMIT)

    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda y: F.shiftleft(x.cast("long"), 32).bitwiseOR(y.cast("long")),
            ),
        )
    )
    first_bad = F.element_at(F.filter(items, out_of_range), 1)
    return F.when(
        F.exists(items, out_of_range),
        F.raise_error(
            F.concat(
                F.lit(f"packed pair key: id outside [0, {PAIR_ID_LIMIT}): "),
                first_bad.cast("string"),
            )
        ),
    ).otherwise(pairs)


def unpack_pair(p: Column, first: str, second: str) -> list[Column]:
    """The two ids of a :func:`packed_pairs` key, as longs named
    ``first`` and ``second``."""
    return [
        F.shiftrightunsigned(p, 32).alias(first),
        p.bitwiseAND(F.lit((1 << 32) - 1)).alias(second),
    ]
