"""Skew mitigation utilities.

First line of defense is AQE's runtime skew-join splitting
(session.RUNTIME_CONFS enables it) — it rewrites skewed sort-merge join
partitions automatically. This module is the manual fallback for the
case AQE does not cover: shuffle-hash joins against a side too big to
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    uniform: DataFrame,
    on: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy-hitter keys on the ``skewed`` side.

    The skewed side gets a salt in [0, buckets); the ``uniform`` side is
    replicated once per salt value (explode of a literal range — cost
    ×buckets on the SMALLER side only). The join key becomes
    (key..., salt), so a heavy key's rows spread over ``buckets``
    shuffle partitions instead of hot-spotting one reducer.

    The salt only has to spread rows of the same key — it never affects
    the result — so it comes from monotonically_increasing_id, which is
    free (no hash of row content).
    """
    s = skewed.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(buckets)).cast("int")
    )
    u = uniform.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return s.join(u, [*on, "__salt"], how).drop("__salt")

