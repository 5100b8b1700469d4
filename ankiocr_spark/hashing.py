"""The deterministic hash family for bucketing/sketch operators.

One family: md5-derived integers via ``conv(substr(md5(x), 1, k), 16, 10)``
— reproducible bit-exactly by the DuckDB oracles
(``('0x' || substr(md5(x), 1, k))::BIGINT``), which is what makes every
dedup/bucketing driver query value-checkable. ``hash60`` and ``hash31``
are the only definitions, so swapping in a cheaper JVM-native hash (e.g.
``F.xxhash64``, which skips the hex-string materialization and base parse
per row) is an edit to these two functions plus a matching oracle — not a
runtime switch.

Hash quality note: md5's 60 truncated bits are far past the collision
needs of 4096-bucket feature spaces, 2^31-1 minhash fields, and
100-bucket split ledgers. Sites hashing for CONTENT IDENTITY
(dedup_exact's ``md5(text)`` digest, crawl digests) call md5 directly —
digests are an interface with external systems, not a bucketing device.

Reference analog: the reference pins all identity to note ids
(`api.py:252-268`); hashing strategy is pure Spark machinery with no
reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import functions as F

#: Mersenne field for minhash bases — see dedup.MINHASH_P rationale
_P31 = (1 << 31) - 1


def hash60(col) -> "F.Column":
    """Non-negative 60-bit integer hash of a column (strings are hashed
    as-is; cast other types to string first for oracle parity)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash31(col) -> "F.Column":
    """Hash into the Mersenne field [0, 2^31-1) — the minhash base."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % F.lit(_P31)
    )
