"""Round-4 wave 27: storage-layer audits — the data-engineering
queries a 100 TB lakehouse runs about its own tables.

- ``table_fingerprint``: order-independent content checksum of the
  orders table per status — COUNT + BIT_XOR / MIN / MAX of a full
  row hash (xxhash64 over every column).  XOR is commutative, so the
  fingerprint is layout-, partition- and order-invariant: the
  cheap "are these two copies of the table identical?" audit.
- ``snapshot_diff_stats``: CDC-style diff of two table versions via a
  full outer join on the key comparing row hashes — rows added /
  deleted / changed / unchanged (v2 is derived deterministically from
  v1 by seeded hash: ~1% deletes, ~2% price updates, ~1% inserts).
- ``zone_map_skipping_report``: how many 4096-row files a
  min/max zone map lets a 1995-only scan skip under (a) the physical
  key-ordered layout and (b) a date-sorted layout (closed form) — the
  quantified argument for sort/Z-order before write.
- ``shard_assignment_balance``: hash-sharding vs range-sharding the
  documents table into 32 shards — per-scheme max/mean skew and the
  exact chi-square balance statistic (k * sum(c^2) - n^2) / n.

Cross-engine determinism: row hashes replay Spark's xxhash64 exactly
(plans/xxh64_sql); every tally, XOR, and chi-square input is an exact
integer; ratios are single fixed expressions.

Reference anchor: SURVEY.md §2.1 sources/sinks (the integrity side);
pairs with zorder_curve_sample and join_key_skew_report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register
from federated_gcn_spark.plans.xxh64_sql import (
    pmod_sql,
    to_signed64,
    xxhash64_sql,
)

# Spark-parity row hash over the full orders row (cents/day are the
# exact integer encodings used throughout the catalog).  The enum
# string columns enter through a fixed integer dictionary: hashing 6
# longs keeps the replayed-hash SQL inside DuckDB's binder-depth
# limit, and the encoding is content-lossless for these enums.
_STATUS_CODE_SQL = (
    "CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 WHEN 'P' THEN 3 "
    "ELSE 0 END"
)
_PRIORITY_CODE_SQL = (
    "CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 "
    "WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 "
    "WHEN '5-LOW' THEN 5 ELSE 0 END"
)
def _staged_row_hash_ctes() -> str:
    """The 6-column xxhash64 chain as one CTE per column: chaining the
    seed inline nests each stage's full expression inside the next and
    blows DuckDB's 128-level binder depth; a column reference per stage
    keeps every expression shallow while computing the identical
    chain h = H(c6, H(c5, ... H(c1, 42)))."""
    from federated_gcn_spark.plans.xxh64_sql import hash_long_sql

    cols = [
        "o_orderkey",
        "o_custkey",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT)",
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
        f"CAST({_STATUS_CODE_SQL} AS BIGINT)",
        f"CAST({_PRIORITY_CODE_SQL} AS BIGINT)",
    ]
    ctes = ["s0 AS (SELECT o_orderstatus AS status, " + ", ".join(
        f"{c} AS c{i}" for i, c in enumerate(cols)
    ) + " FROM orders)"]
    seed = "42"
    for i in range(len(cols)):
        ctes.append(
            f"s{i + 1} AS (SELECT status, "
            + ", ".join(f"c{j}" for j in range(i + 1, len(cols)))
            + (", " if i + 1 < len(cols) else "")
            + f"{hash_long_sql(f'c{i}', seed)} AS h{i + 1} FROM s{i})"
        )
        seed = f"h{i + 1}"
    return ", ".join(ctes)


def _orders_row_hash_col():
    status_code = (
        F.when(F.col("o_orderstatus") == "F", 1)
        .when(F.col("o_orderstatus") == "O", 2)
        .when(F.col("o_orderstatus") == "P", 3)
        .otherwise(0)
    )
    priority_code = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .when(F.col("o_orderpriority") == "5-LOW", 5)
        .otherwise(0)
    )
    return F.xxhash64(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.unix_date(F.to_date("o_orderdate")).cast("long"),
        status_code.cast("long"),
        priority_code.cast("long"),
    )


# ---------------------------------------------------------------------------
# Order-independent table fingerprint
# ---------------------------------------------------------------------------

@register(
    "table_fingerprint",
    f"""
    WITH {_staged_row_hash_ctes()},
    h AS (
        SELECT status, {to_signed64('h6')} AS rh FROM s6
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(BIT_XOR(rh) AS BIGINT) AS xor_fingerprint,
           CAST(MIN(rh) AS BIGINT) AS min_hash,
           CAST(MAX(rh) AS BIGINT) AS max_hash
    FROM h GROUP BY status ORDER BY status
    """,
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint of the orders table,
    grouped by status: row count plus BIT_XOR/MIN/MAX of the full-row
    xxhash64.  Differing fingerprints PROVE two replicas (or a table
    before/after a rewrite, compaction, or migration) differ in
    content; agreeing fingerprints are strong but probabilistic
    evidence of equality (a count/XOR/MIN/MAX digest can collide —
    e.g. multisets differing by paired duplicate rows, or a hash
    collision) — no sort, no row-by-row compare.

    100 TB shape: one projection-only scan, one 3-row aggregate with
    map-side combine; XOR's commutativity is what makes the check
    layout-invariant across any partitioning.  Determinism: the oracle
    replays Spark's xxhash64 bit-for-bit (plans/xxh64_sql)."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    h = orders.select(
        F.col("o_orderstatus").alias("status"),
        _orders_row_hash_col().alias("rh"),
    )
    return (
        h.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("rh").cast("long").alias("xor_fingerprint"),
            F.min("rh").cast("long").alias("min_hash"),
            F.max("rh").cast("long").alias("max_hash"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC categories) between two derived table versions
# ---------------------------------------------------------------------------

_KEY_BUCKET = pmod_sql(xxhash64_sql(("o_orderkey", "long"), ("7", "int")), 100)

_V2_SQL = f"""
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN ({_KEY_BUCKET}) IN (1, 2)
                          THEN 100 ELSE 0 END AS cents
        FROM orders WHERE ({_KEY_BUCKET}) <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000 AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE ({_KEY_BUCKET}) = 3
"""


@register(
    "snapshot_diff_stats",
    f"""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), v2 AS ({_V2_SQL}),
    d AS (
        SELECT CASE
                   WHEN v1.k IS NULL THEN 'added'
                   WHEN v2.k IS NULL THEN 'deleted'
                   WHEN v1.cents <> v2.cents THEN 'changed'
                   ELSE 'unchanged'
               END AS category
        FROM v1 FULL OUTER JOIN v2 ON v2.k = v1.k
    )
    SELECT category, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d GROUP BY category ORDER BY category
    """,
)
def snapshot_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two versions of the orders table: a full
    outer join on the key, comparing content — the counts a CDC /
    table-versioning system reports per commit (v2 is derived from v1
    by seeded key-hash: bucket 0 deleted, buckets 1-2 price-bumped,
    bucket 3 cloned as inserts, so both engines build the identical
    pair of versions).

    100 TB shape: one co-partitioned full outer join on the table key
    (both sides shuffle once on k; with bucketed tables it would be
    shuffle-free) and a 4-row tally.  Determinism: categories are
    exact integer / hash-bucket comparisons."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    # One staged (key, cents, bucket) projection feeds v1 and both v2
    # arms — unstaged, the scan + hash ran three times.
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.pmod(F.xxhash64("o_orderkey", F.lit(7)), F.lit(100)).alias(
            "bucket"
        ),
    ).localCheckpoint(eager=False)
    v1 = base.select("k", "cents")
    v2 = (
        base.where(F.col("bucket") != 0)
        .select(
            "k",
            (
                F.col("cents")
                + F.when(F.col("bucket").isin(1, 2), 100).otherwise(0)
            ).alias("cents"),
        )
        .unionAll(
            base.where(F.col("bucket") == 3).select(
                (F.col("k") + 1_000_000_000).alias("k"),
                F.col("cents"),
            )
        )
    )
    d = v1.alias("a").join(
        v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
    )
    cat = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "deleted")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(cat.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("category")
    )


# ---------------------------------------------------------------------------
# Zone-map skipping report
# ---------------------------------------------------------------------------

_D0, _D1 = 9131, 9496  # epoch-days of 1995-01-01 and 1996-01-01


@register(
    "zone_map_skipping_report",
    f"""
    WITH r AS (
        SELECT o_orderkey // 4096 AS file_id,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day
        FROM orders
    ), zone AS (
        SELECT file_id, MIN(day) AS mn, MAX(day) AS mx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM r GROUP BY file_id
    ), keyed AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN mx < {_D0} OR mn >= {_D1}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
        FROM zone
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN day >= {_D0} AND day < {_D1}
                        THEN 1 ELSE 0 END) AS BIGINT) AS matching,
               CAST(SUM(CASE WHEN day < {_D0} THEN 1 ELSE 0 END) AS BIGINT)
                   AS before_start
        FROM r
    )
    SELECT k.n_files, k.n_skipped,
           ROUND(CAST(k.n_skipped AS DOUBLE) / k.n_files, 4)
               AS skip_frac_keyed,
           CAST((t.n + 4095) // 4096 AS BIGINT) AS n_files_sorted,
           CAST((t.n + 4095) // 4096
                - CASE WHEN t.matching = 0 THEN 0
                       ELSE (t.before_start + t.matching - 1) // 4096
                            - t.before_start // 4096 + 1 END AS BIGINT)
               AS n_skipped_sorted,
           ROUND(CAST((t.n + 4095) // 4096
                - CASE WHEN t.matching = 0 THEN 0
                       ELSE (t.before_start + t.matching - 1) // 4096
                            - t.before_start // 4096 + 1 END AS DOUBLE)
                 / ((t.n + 4095) // 4096), 4) AS skip_frac_sorted
    FROM keyed k CROSS JOIN tot t
    """,
)
def zone_map_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) effectiveness for a one-year date
    scan, under the physical key-ordered layout (files = 4096-row key
    ranges — date uncorrelated with key, so min/max spans swallow the
    predicate and almost nothing skips) versus a date-sorted layout
    (closed form: only the files straddling the matching run must be
    read).  The measured case for sorting/Z-ordering cold data before
    write — the companion of zorder_curve_sample.

    100 TB shape: one (file_id, min, max) tally — the same pass a real
    writer uses to emit footer stats — plus a 3-number reduce; the
    sorted-layout counts are arithmetic, not a sort.  Determinism:
    exact integer counts and integer division throughout."""
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    r = orders.select(
        (F.col("o_orderkey") / 4096).cast("long").alias("file_id"),
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day"),
    )
    # one fact pass: the global tallies are exact sums of per-file
    # tallies, so they fold into the zone aggregate and derive from the
    # staged (file-count-sized) result instead of a second fact scan
    zone = r.groupBy("file_id").agg(
        F.min("day").alias("mn"),
        F.max("day").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when((F.col("day") >= _D0) & (F.col("day") < _D1), 1).otherwise(0)
        )
        .cast("long")
        .alias("matching_f"),
        F.sum(F.when(F.col("day") < _D0, 1).otherwise(0))
        .cast("long")
        .alias("before_f"),
    ).localCheckpoint(eager=False)
    keyed = zone.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(
            F.when((F.col("mx") < _D0) | (F.col("mn") >= _D1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_skipped"),
    )
    tot = zone.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("matching_f").cast("long").alias("matching"),
        F.sum("before_f").cast("long").alias("before_start"),
    )
    j = keyed.crossJoin(F.broadcast(tot))
    files_sorted = F.floor((F.col("n") + 4095) / 4096).cast("long")
    needed = F.when(F.col("matching") == 0, F.lit(0).cast("long")).otherwise(
        (
            F.floor((F.col("before_start") + F.col("matching") - 1) / 4096)
            - F.floor(F.col("before_start") / 4096)
            + 1
        ).cast("long")
    )
    skipped_sorted = (files_sorted - needed).cast("long")
    return j.select(
        "n_files",
        "n_skipped",
        F.round(F.col("n_skipped").cast("double") / F.col("n_files"), 4).alias(
            "skip_frac_keyed"
        ),
        files_sorted.alias("n_files_sorted"),
        skipped_sorted.alias("n_skipped_sorted"),
        F.round(skipped_sorted.cast("double") / files_sorted, 4).alias(
            "skip_frac_sorted"
        ),
    )


# ---------------------------------------------------------------------------
# Hash-shard vs range-shard balance
# ---------------------------------------------------------------------------

_SHARDS = 32
_DOC_SHARD = pmod_sql(xxhash64_sql(("doc_id", "long")), _SHARDS)


@register(
    "shard_assignment_balance",
    f"""
    WITH mx AS (
        SELECT MAX(doc_id) + 1 AS span FROM documents
    ), assign AS (
        SELECT ({_DOC_SHARD}) AS hash_shard,
               CAST(doc_id * {_SHARDS} // span AS BIGINT) AS range_shard
        FROM documents CROSS JOIN mx
    ), hs AS (
        SELECT hash_shard AS shard, CAST(COUNT(*) AS BIGINT) AS c
        FROM assign GROUP BY hash_shard
    ), rs AS (
        SELECT range_shard AS shard, CAST(COUNT(*) AS BIGINT) AS c
        FROM assign GROUP BY range_shard
    ), h AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS n,
               CAST(MAX(c) AS BIGINT) AS mx, SUM(CAST(c AS DECIMAL(38,0)) * c)
                   AS q
        FROM hs
    ), r AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS n,
               CAST(MAX(c) AS BIGINT) AS mx, SUM(CAST(c AS DECIMAL(38,0)) * c)
                   AS q
        FROM rs
    )
    SELECT h.k AS hash_shards, ROUND(h.mx * {_SHARDS}.0 / h.n, 4)
               AS hash_max_over_mean,
           ROUND(CAST({_SHARDS} * h.q - CAST(h.n AS DECIMAL(38,0)) * h.n
                      AS DOUBLE) / h.n, 4) AS hash_chi2,
           r.k AS range_shards, ROUND(r.mx * {_SHARDS}.0 / r.n, 4)
               AS range_max_over_mean,
           ROUND(CAST({_SHARDS} * r.q - CAST(r.n AS DECIMAL(38,0)) * r.n
                      AS DOUBLE) / r.n, 4) AS range_chi2
    FROM h CROSS JOIN r
    """,
)
def shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioner-quality audit: shard the documents table 32 ways by
    (a) xxhash64(doc_id) pmod 32 and (b) contiguous doc_id ranges, and
    report each scheme's max/mean skew plus the exact chi-square
    balance statistic chi2 = (k * sum(c^2) - n^2) / n — the number
    that predicts whether a downstream shuffle or write will have a
    straggler shard.

    100 TB shape: two 32-row tallies off one scan; the chi-square is
    cleared of the rational mean (multiply through by k/n), so its
    input is exact integers.  Determinism: the hash shard replays
    Spark's xxhash64; range shards are integer arithmetic off
    MAX(doc_id)."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    mx = docs.agg((F.max("doc_id") + 1).alias("span"))
    # assign feeds both per-scheme tallies; unstaged, each tally re-ran
    # the scan + hash (4 scans counting mx).  One lazy checkpoint on
    # the two-column shard table -> one assignment pass.
    assign = docs.crossJoin(F.broadcast(mx)).select(
        F.pmod(F.xxhash64("doc_id"), F.lit(_SHARDS)).alias("hash_shard"),
        F.floor(F.col("doc_id") * _SHARDS / F.col("span"))
        .cast("long")
        .alias("range_shard"),
    ).localCheckpoint(eager=False)

    def stats(col: str, prefix: str) -> DataFrame:
        cnt = assign.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return cnt.agg(
            F.count(F.lit(1)).cast("long").alias(f"{prefix}_shards"),
            F.sum("c").cast("long").alias(f"{prefix}_n"),
            F.max("c").cast("long").alias(f"{prefix}_mx"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
                f"{prefix}_q"
            ),
        )

    h = stats("hash_shard", "hash")
    r = stats("range_shard", "range")
    j = h.crossJoin(F.broadcast(r))

    def emit(prefix: str):
        k = F.col(f"{prefix}_shards")
        n = F.col(f"{prefix}_n")
        mxc = F.col(f"{prefix}_mx")
        q = F.col(f"{prefix}_q")
        chi2 = (
            (F.lit(_SHARDS) * q - n.cast("decimal(38,0)") * n).cast("double")
            / n
        )
        return [
            k.alias(f"{prefix}_shards"),
            F.round(mxc * float(_SHARDS) / n, 4).alias(
                f"{prefix}_max_over_mean"
            ),
            F.round(chi2, 4).alias(f"{prefix}_chi2"),
        ]

    cols = emit("hash") + emit("range")
    # column order must match the oracle: hash block then range block
    return j.select(
        cols[0], cols[1], cols[2], cols[3], cols[4], cols[5]
    )
