"""Rendezvous (highest-random-weight) hashing — Thaler & Ravishankar 1996.

The shard/partition assignment a 100 TB pipeline wants when the bucket
count CHANGES over time (executor pools, cache shards, sink files):
every key goes to ``argmax_b weight(key, b)``, so growing B -> B+1 moves
ONLY the keys whose new argmax is the new bucket (~1/(B+1) of them),
never reshuffling the rest — unlike ``hash(key) % B`` where nearly all
keys move.  That minimal-movement law is exactly what checkpoint/resume
needs when a resumed run has a different parallelism (north rule: same
output at N and 4N executors).

Implementation is engine-portable exact integer math, no UDF:

    weight(key, b) = int56(md5(key || ':' || b))   (first 14 hex chars)
    packed(key, b) = weight * 64 + b               (< 2^62, sign-safe)
    bucket(key)    = greatest(packed(key, 0..B-1)) % 64

Packing weight and bucket into ONE int64 makes plain ``greatest`` the
argmax in Spark (whole-stage codegen) and DuckDB alike — DuckDB 1.0's
``greatest`` can't compare structs — and gives a deterministic tie-break
for free (packed values are unique per bucket).  B <= 64.

Map-only: B codegen'd md5 calls per row, no shuffle at any width.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_BUCKETS = 64


def _packed(key: Column, b: int) -> Column:
    w = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":{b}"))), 1, 14),
        16,
        10,
    ).cast("long")
    return w * MAX_BUCKETS + b


def hrw_bucket(key: Column, n_buckets: int) -> Column:
    """Rendezvous bucket of ``key`` among ``n_buckets`` (map-only argmax)."""
    if not 1 <= n_buckets <= MAX_BUCKETS:
        raise ValueError(f"n_buckets must be 1..{MAX_BUCKETS}")
    if n_buckets == 1:
        return F.lit(0)
    return F.greatest(*[_packed(key, b) for b in range(n_buckets)]) % MAX_BUCKETS


# --- DuckDB SQL twin -----------------------------------------------------------

def _sql_packed(key: str, b: int) -> str:
    return (
        f"(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{b}'), 1, 14))::BIGINT"
        f" * {MAX_BUCKETS} + {b})"
    )


def sql_hrw_bucket(key: str, n_buckets: int) -> str:
    if not 1 <= n_buckets <= MAX_BUCKETS:
        raise ValueError(f"n_buckets must be 1..{MAX_BUCKETS}")
    if n_buckets == 1:
        return "0"
    packs = ", ".join(_sql_packed(key, b) for b in range(n_buckets))
    return f"(greatest({packs}) % {MAX_BUCKETS})"
