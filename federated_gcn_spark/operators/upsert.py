"""MERGE INTO (upsert) semantics as a relational plan.

The lakehouse write primitive: apply a batch of updates/inserts to a
keyed table — matched keys take the update's values, unmatched update
keys insert, everything else carries over (optionally: matched keys in
a delete set drop). Delta/Iceberg spell this MERGE INTO; here the engine
computes the merged RESULT relationally and leaves the write to the
caller.

Scale shape: one full-outer-shaped pass — implemented as
(base left_anti updates) ∪ updates — so cost is one anti join keyed on
the merge key (AQE broadcasts the update side when it is a trickle,
which is the common case). Updates win wholesale (last-writer-wins per
key); for column-level merges compose with operators/incremental.py
state algebra instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dedupe_updates(
    updates: DataFrame, keys: list[str], order_col: str | None
) -> DataFrame:
    """Collapse duplicate merge keys inside the updates batch so the
    merged snapshot stays key-unique (last-writer-wins).  The winner per
    key is the greatest struct ordering — ``order_col`` leads when given
    (the caller's writer order, e.g. an update timestamp), remaining
    value columns break ties deterministically.  One map-side-combinable
    max aggregate, no window sort."""
    vals = [c for c in updates.columns if c not in keys]
    fields = ([order_col] if order_col and order_col not in keys else []) + [
        c for c in vals if c != order_col
    ]
    if not fields:
        return updates.distinct()
    packed = updates.groupBy(*keys).agg(F.max(F.struct(*fields)).alias("__w"))
    return packed.select(
        *keys, *[F.col(f"__w.{c}").alias(c) for c in vals]
    ).select(*updates.columns)


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    deletes: DataFrame | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """The merged relation: updates replace matched keys, insert
    otherwise; keys present in ``deletes`` (a key-only DataFrame) are
    dropped from the base and NOT re-inserted.

    Duplicate keys WITHIN the updates batch are collapsed before the
    merge (the snapshot contract is one row per key): the row with the
    greatest ``order_col`` wins when provided, otherwise the
    lexicographically greatest value row — deterministic either way."""
    updates = _dedupe_updates(updates, keys, order_col)
    survivors = base.join(updates.select(*keys), keys, "left_anti")
    if deletes is not None:
        survivors = survivors.join(deletes.select(*keys), keys, "left_anti")
        updates = updates.join(deletes.select(*keys), keys, "left_anti")
    return survivors.unionByName(updates)
