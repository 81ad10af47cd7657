"""The seeded hash lanes, in one place.

Every seeded operator picks its hash with ``hasher`` (or ``rank_on``):

* ``"xxhash64"`` — the scale lane: one JVM intrinsic per value.
* ``"md5"`` — the engine-portable lane: the first 15 hex chars of md5 read
  as an exact 60-bit integer (``conv`` is exact there). hashlib replays it
  as ``int(md5(s).hexdigest()[:15], 16)`` and DuckDB with the strpos hex
  sum in ``__spark_entry__._hex_int``, so the oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def check_hasher(hasher: str, name: str = "hasher") -> str:
    """``hasher`` if it names a lane; ``ValueError`` otherwise (a typo
    must not fall through to a lane silently)."""
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"{name} must be 'xxhash64' or 'md5', got {hasher!r}")
    return hasher


def _md5_prefix(col, n_hex: int):
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def md5_60(col):
    """Exact non-negative 60-bit integer of the first 15 hex chars of
    ``md5(col)``."""
    return _md5_prefix(col, 15)


def md5_32(col):
    """Exact 32-bit integer of the first 8 hex chars of ``md5(col)``."""
    return _md5_prefix(col, 8)


def md5_rank_expr(col, seed):
    """The engine-portable seeded rank: :func:`md5_60` of
    ``col || ':' || seed``."""
    return md5_60(F.concat_ws(":", col.cast("string"), F.lit(seed)))


def seeded_hash(col, hasher: str, seed=None, name: str = "hasher"):
    """The 64-bit key of ``col`` in the ``hasher`` lane. With ``seed``:
    :func:`md5_rank_expr` or ``xxhash64(col, seed)``; without:
    :func:`md5_60` or ``xxhash64(col)``. Raises on an unknown lane."""
    if check_hasher(hasher, name) == "md5":
        return md5_60(col) if seed is None else md5_rank_expr(col, seed)
    return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
