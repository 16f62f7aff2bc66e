"""Document deduplication operators (driver extension §2.10).

All variants follow the same scalable shape: per-doc signature computed
JVM-side (HOFs over token arrays — no Python UDFs), candidate pairs via
an equi-join on a banded/bucketed key (so the shuffle is on small keys,
never doc×doc), then exact verification on the candidates only.

- exact_dedup      : content fingerprint → keep-first (generalizes the
                     reference's id-keyed keep-first, merge.py:38-39)
- minhash_lsh      : word-shingle MinHash signatures + LSH banding
- simhash          : 64-bit SimHash + banded Hamming candidate join
- ngram_jaccard    : exact Jaccard on shingle sets for candidate pairs
- embedding_near_dup: cosine near-dup via random-hyperplane LSH buckets

Determinism: every hash is xxhash64 (fixed algorithm, fixed seeds) —
identical results on any cluster layout.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.functions.text import doc_fingerprint, shingles

_PRIME = 2_147_483_647  # 2^31-1; minhash value domain


def _affine_params(n: int, seed: int) -> tuple[list[int], list[int]]:
    """n seeded (a, b) pairs for the affine hash family h_i(x) = (a·x+b) mod P.

    Driver-side constants inlined into the plan as literal arrays: the
    whole family costs ONE string hash per element plus n long mul-adds,
    instead of n independent string hashes (a·x stays < 2^62, no overflow).
    """
    rng = random.Random(seed)
    a = [rng.randrange(1, _PRIME) for _ in range(n)]
    b = [rng.randrange(0, _PRIME) for _ in range(n)]
    return a, b


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id doc per normalized-content fingerprint.

    Spelled as ``min_by(row, id)`` per fingerprint, NOT a window: an
    aggregate gets map-side partial combine (each task pre-reduces its
    duplicates, so the shuffle carries at most one candidate row per
    (fp, task) instead of every row) and needs no per-group sort. On a
    high-duplication 100 TB corpus that is the difference between
    shuffling the corpus and shuffling the distinct set.
    """
    row = F.struct(*[F.col(c) for c in docs.columns])
    return (
        docs.withColumn("fp", doc_fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min_by(row, F.col(id_col)).alias("__r"))
        .select("__r.*")
    )


def minhash_signature_over(sh: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """ARRAY<BIGINT> MinHash signature over a *precomputed* shingle array.

    sig[i] = min over shingles s of ((a_i·xxhash64(s) + b_i) mod PRIME) —
    the classic affine-family MinHash: ONE string hash per shingle, then
    num_hashes long mul-adds, all codegen'd.

    Expression shape matters enormously here (measured at sf0.1): the
    naive ``transform(hash_idx, i -> array_min(transform(sh, ...)))``
    references ``sh`` inside every hash lambda; Catalyst re-expands the
    shingle expression per hash (projection collapse un-does any
    withColumn staging), which measured ~100× slower. This form stages
    base hashes as their own array first — a lambda *variable* is a bound
    value (evaluated once), unlike a column expression, so the per-hash
    lambda can reference it freely.
    """
    a_params, b_params = _affine_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a in a_params])
    b_arr = F.array(*[F.lit(b).cast("long") for b in b_params])
    bases = F.transform(sh, lambda s: F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(_PRIME)))
    per_shingle = F.transform(
        bases,
        lambda h: F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(a * h + b, F.lit(_PRIME))),
    )
    return F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(_PRIME).cast("long"), num_hashes),
        lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b)),
    )


def with_minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "sig",
    num_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """docs + ARRAY<BIGINT> MinHash signature column (shingles materialized
    once per row, then hashed — see minhash_signature_over)."""
    return docs.withColumn("__sh", shingles(text_col, k)).withColumn(
        out_col, minhash_signature_over(F.col("__sh"), num_hashes, seed)
    ).drop("__sh")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
    jaccard_threshold: float | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) near-duplicate pairs via MinHash banding.

    Two docs collide if any band (num_hashes/bands consecutive signature
    slots) matches exactly. With ``jaccard_threshold`` the candidates are
    verified with the *estimated* Jaccard = fraction of matching minhash
    slots (unbiased estimator; exact verify is ngram_jaccard_pairs).

    Scale: the join key is (band_id, band_hash) — tiny and uniform; the
    classic doc×doc blowup never materializes.
    """
    rows_per_band = num_hashes // bands
    sig = (
        with_minhash_signature(
            docs.select(F.col(id_col).alias("id"), F.col(text_col)),
            text_col=text_col, out_col="sig", num_hashes=num_hashes, k=k, seed=seed,
        )
        .select("id", "sig")
        .localCheckpoint(eager=True)
    )

    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    ),
                    F.lit(seed),
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    est = (
        pairs.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                        lambda m: m,
                    )
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    if jaccard_threshold is not None:
        est = est.where(F.col("est_jaccard") >= jaccard_threshold)
    return est


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify stage).

    J(A,B) = |A∩B| / |A∪B| via array_intersect/array_union on distinct
    shingle arrays — only ever evaluated on LSH candidates.
    """
    sh = docs.select(
        F.col(id_col).alias("id"), F.array_distinct(shingles(text_col, k)).alias("sh")
    )
    out = (
        candidate_pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, cluster_id): transitive closure of near-duplicate pairs.

    Near-duplication is not transitive (A≈B, B≈C does not imply A≈C), but
    corpus dedup treats it as if it were — the standard choice (one
    canonical doc per connected component of the similarity graph), so a
    chain of slightly-drifted copies collapses to one survivor instead of
    ⌈chain/2⌉. Components come from the O(log n) large-star/small-star
    operator (graph/components.py); singleton docs get their own id.
    """
    from federated_gcn_spark.graph.components import connected_components
    from federated_gcn_spark.graph.graph import Graph

    vertices = docs.select(F.col(id_col).alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = connected_components(Graph(vertices, edges))
    return labels.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )


def near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
    exact_verify: bool = True,
) -> DataFrame:
    """Corpus-level near-duplicate removal: MinHash-LSH candidates →
    (optionally exact-Jaccard verified) pairs → connected components →
    keep the lowest-id doc per cluster.

    The full pipeline a 100 TB pretraining corpus actually runs: every
    stage is banded/bucketed (LSH equi-join, component contraction,
    per-cluster keep-first window) — no stage ever materializes doc×doc.
    Returns the surviving docs with their cluster_id attached.
    """
    cand = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, k=k, seed=seed,
        jaccard_threshold=None if exact_verify else jaccard_threshold,
    )
    if exact_verify:
        pairs = ngram_jaccard_pairs(
            docs, cand.select("id_a", "id_b"), text_col=text_col,
            id_col=id_col, k=k, threshold=jaccard_threshold,
        )
    else:
        pairs = cand
    # Only docs that appear in some near-dup pair need cluster resolution;
    # at corpus scale duplicates are the minority, so clustering the pair
    # members alone keeps the component iteration AND the canonical-pick
    # shuffle proportional to |duplicates|, not |corpus|. Untouched docs
    # pass through with a singleton cluster_id (their own id).
    pair_edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    members = (
        pair_edges.select(F.col("id_a").alias(id_col))
        .unionByName(pair_edges.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    member_docs = docs.join(members, id_col, "left_semi")
    clusters = near_dup_clusters(member_docs, pair_edges, id_col)
    joined = member_docs.join(clusters, id_col)
    row = F.struct(*[F.col(c) for c in joined.columns])
    # min_by aggregate, not a window: partial combine + no per-cluster sort
    canonical = (
        joined.groupBy("cluster_id")
        .agg(F.min_by(row, F.col(id_col)).alias("__r"))
        .select("__r.*")
    )
    untouched = docs.join(members, id_col, "left_anti").withColumn(
        "cluster_id", F.col(id_col)
    )
    return canonical.unionByName(untouched.select(canonical.columns))


N_SIMHASH_BITS = 63  # top bit dropped: keeps the BIGINT non-negative


def simhash(text: Column | str, seed: int = 42) -> Column:
    """63-bit SimHash of the token multiset as BIGINT.

    bit j = sign of Σ_tokens ±1 where the per-token bit comes from the
    affine family parity((a_j·xxhash64(token) + b_j) mod P) — ONE string
    hash per token, then 63 long mul-adds (pairwise-independent bits,
    identical SimHash guarantees); single aggregate pass over a counter
    array, JVM-side. Base hashes are staged as their own array so the
    per-bit lambda references a bound value, not a re-expanded
    expression (see minhash_signature_over).
    """
    from federated_gcn_spark.functions.text import tokens

    a_params, b_params = _affine_params(N_SIMHASH_BITS, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a in a_params])
    b_arr = F.array(*[F.lit(b).cast("long") for b in b_params])
    bases = F.transform(
        tokens(text), lambda t: F.pmod(F.xxhash64(t, F.lit(seed)), F.lit(_PRIME))
    )
    bit_seq = F.sequence(F.lit(0), F.lit(N_SIMHASH_BITS - 1))
    counters = F.aggregate(
        bases,
        F.array_repeat(F.lit(0), N_SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: F.when(
                    F.pmod(F.pmod(a * h + b, F.lit(_PRIME)), F.lit(2)) == 1, F.lit(1)
                ).otherwise(F.lit(-1)),
            ),
            lambda a, b: a + b,
        ),
    )
    # assemble: Σ bit_j · 2^j  (pow is exact for powers of two ≤ 2^62)
    return F.aggregate(
        F.zip_with(
            counters,
            bit_seq,
            lambda c, j: F.when(c > 0, F.pow(F.lit(2.0), j).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
