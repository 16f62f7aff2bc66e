"""Mining-shaped queries: link prediction, co-occurrence PMI, cross-doc
span duplication, and SemDeDup-style semantic dedup.

Round-3 additions on top of the §2.10 extension surface:

- ``link_prediction_scores``: the classic neighborhood heuristics
  (common neighbors, Jaccard, Adamic-Adar) that baseline the
  reference's GraphSAGE link predictor (models/supervised.py trains a
  link-prediction GCN; these are the non-learned features every link
  prediction paper compares against).
- ``pmi_top_pairs``: pointwise mutual information over co-occurring
  vocabulary terms — the word2vec/SGNS shifted-PMI statistic, computed
  corpus-wide.
- ``duplicated_span_fraction``: per-document fraction of 8-token
  shingles that also appear in other documents — the detection half of
  exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
  Makes Language Models Better").
- ``semantic_dedup_stats``: SemDeDup (Abbas et al. 2023) shape —
  k-means-cluster the embedding space, then look for near-duplicate
  pairs ONLY within clusters, turning a global O(n²) scan into
  Σ O(n_c²).

All follow the catalog's cross-engine determinism rules (plans.queries
module docstring); the SemDeDup oracle replays the IVF Lloyd training
loop in unrolled DuckDB SQL exactly like ``_ivf_oracle``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from federated_gcn_spark.catalog import load_table
from federated_gcn_spark.plans.queries import register


@register(
    "link_prediction_scores",
    """
    WITH e AS (
        SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), odeg AS (
        SELECT o, COUNT(*) AS d FROM e GROUP BY o
    ), sdeg AS (
        SELECT s, COUNT(*) AS d FROM e GROUP BY s
    ), pairs AS (
        SELECT a.s AS s1, b.s AS s2,
               COUNT(*) AS cn,
               SUM(1.0 / LN(odeg.d)) AS aa
        FROM e a
        JOIN e b ON a.o = b.o AND a.s < b.s
        JOIN odeg ON odeg.o = a.o
        GROUP BY a.s, b.s
    )
    SELECT CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           CAST(cn AS BIGINT) AS common_orders,
           ROUND(aa, 6) AS aa_score,
           ROUND(CAST(cn AS DOUBLE) / (d1.d + d2.d - cn), 6) AS jaccard
    FROM pairs
    JOIN sdeg d1 ON d1.s = s1
    JOIN sdeg d2 ON d2.s = s2
    ORDER BY aa_score DESC, s1, s2
    LIMIT 50
    """,
)
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic-Adar link-prediction scores
    for supplier pairs on the bipartite order→supplier graph (common
    neighbors = shared orders; AA weights each shared order by
    1/ln(degree), Adamic & Adar 2003).

    Scale shape: candidate pairs are generated per shared ORDER, so the
    blowup is Σ deg(order)² — bounded by max items per order (a
    single-digit constant in an order-lines schema), never |suppliers|².
    The order-degree weight joins on the same orderkey the pair join
    shuffles on (exchange reuse); supplier degrees are a broadcast-sized
    aggregate joined to the already-reduced pair table; the final top-50
    is TakeOrderedAndProject.
    """
    e = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Four consumers (odeg, sdeg, both pair-join sides) — pay the
        # scan + distinct shuffle once instead of per consumer.
        .localCheckpoint(eager=False)
    )
    odeg = e.groupBy("o").agg(F.count(F.lit(1)).alias("d"))
    sdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("sd"))
    a = e.select(F.col("o"), F.col("s").alias("s1"))
    b = e.select(F.col("o").alias("_o"), F.col("s").alias("s2"))
    pairs = (
        a.join(b, (F.col("o") == F.col("_o")) & (F.col("s1") < F.col("s2")))
        .join(odeg, "o")
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(1.0 / F.log(F.col("d"))).alias("aa"),
        )
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("sd").alias("d1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("sd").alias("d2"))
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            F.col("s1").cast("long").alias("s1"),
            F.col("s2").cast("long").alias("s2"),
            F.col("cn").cast("long").alias("common_orders"),
            F.round("aa", 6).alias("aa_score"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("aa_score").desc(), "s1", "s2")
        .limit(50)
    )


@register(
    "pmi_top_pairs",
    r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
        FROM documents WHERE TRIM(text) <> ''
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM d
    ), tok AS (
        SELECT DISTINCT doc_id, UNNEST(toks) AS term FROM d
    ), vocab AS (
        SELECT term, COUNT(*) AS df FROM tok GROUP BY term
        ORDER BY df DESC, term LIMIT 200
    ), vt AS (
        SELECT tok.doc_id, tok.term, vocab.df
        FROM tok JOIN vocab USING (term)
    ), co AS (
        SELECT a.term AS t1, b.term AS t2,
               MIN(a.df) AS df1, MIN(b.df) AS df2,
               COUNT(*) AS co_df
        FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
        HAVING COUNT(*) >= 5
    )
    SELECT t1, t2, CAST(co_df AS BIGINT) AS co_df,
           ROUND(LN(CAST(co_df AS DOUBLE) * (SELECT n_docs FROM n)
                    / (CAST(df1 AS DOUBLE) * df2)), 6) AS pmi
    FROM co
    ORDER BY pmi DESC, t1, t2
    LIMIT 40
    """,
)
def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document-level PMI term pairs over the 200-term head
    vocabulary — PMI(a,b) = ln(P(a,b) / P(a)P(b)) with document
    co-occurrence probabilities, the association statistic behind
    SGNS/word2vec's implicit PMI factorization (Levy & Goldberg 2014).

    Scale shape: the vocabulary cap is the quadratic-blowup guard —
    per-doc pairs are (tokens∩vocab)², not tokens². The vocab (200
    rows) broadcasts into the token stream, so the only data-sized
    shuffles are the tokenize groupBys and the doc_id-keyed pair join;
    pair aggregation output is ≤ |vocab|² rows regardless of corpus
    size. Document frequencies ride along with MIN (they are constant
    per term), avoiding two extra join-backs; top-40 is TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.trim(F.col("text")) != ""
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # tok (tokenize + distinct) feeds the vocab aggregate and both pair
    # sides; vt feeds both sides again — unstaged, the final plan
    # re-tokenized the corpus five times.  Two lazy checkpoints -> one
    # tokenize pass (n keeps its own pruned count scan).
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(200)
    )
    vt = tok.join(F.broadcast(vocab), "term").localCheckpoint(eager=False)
    a = vt.select("doc_id", F.col("term").alias("t1"), F.col("df").alias("_df1"))
    b = vt.select(
        F.col("doc_id").alias("_doc"),
        F.col("term").alias("t2"),
        F.col("df").alias("_df2"),
    )
    co = (
        a.join(
            b,
            (F.col("doc_id") == F.col("_doc")) & (F.col("t1") < F.col("t2")),
        )
        .groupBy("t1", "t2")
        .agg(
            F.min("_df1").alias("df1"),
            F.min("_df2").alias("df2"),
            F.count(F.lit(1)).alias("co_df"),
        )
        .where(F.col("co_df") >= 5)
    )
    return (
        co.crossJoin(F.broadcast(n))
        .select(
            "t1",
            "t2",
            F.col("co_df").cast("long").alias("co_df"),
            F.round(
                F.log(
                    F.col("co_df").cast("double")
                    * F.col("n_docs")
                    / (F.col("df1").cast("double") * F.col("df2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(40)
    )


@register(
    "duplicated_span_fraction",
    r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
        FROM documents WHERE TRIM(text) <> ''
    ), sh AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, len(toks) - 6),
                   i -> array_to_string(toks[i:i+7], ' ')))) AS shingle
        FROM d WHERE len(toks) >= 8
    ), sdf AS (
        SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN sdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           ROUND(SUM(CASE WHEN sdf.df >= 2 THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS dup_frac
    FROM sh JOIN sdf USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a document's
    8-token shingles that occur in at least one OTHER document (or
    repeat via an exact duplicate) — the detection statistic of
    exact-substring dedup (Lee et al. 2022 use 50-token spans over a
    suffix array; at Spark scale the equivalent join is
    shingle-hash → groupBy, no global suffix sort needed).

    Scale shape: shingling is a per-row codegen expression (transform +
    slice + array_join — no Python); each doc emits ~len(toks) distinct
    shingles, so the exchange is corpus-token-sized with map-side
    combine on the shingle key; the per-doc rollup reuses the doc_id
    key. Long shingles make the shingle-frequency key space near-unique
    — skew cannot concentrate (only true duplicated text collides, and
    that is exactly the signal).
    """
    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("toks")
    ).where(F.size("toks") >= 8)
    # sh feeds the shingle-frequency aggregate and the scoring join;
    # staged once -> one shingle pass instead of two
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 7),
                    lambda i: F.array_join(F.slice(F.col("toks"), i, 8), " "),
                )
            )
        ).alias("shingle"),
    ).localCheckpoint(eager=False)
    sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    dup = F.when(F.col("df") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (
        sh.join(sdf, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(dup).alias("n_dup"),
            F.round(
                F.sum(dup.cast("double")) / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_dup").cast("long").alias("n_dup"),
            "dup_frac",
        )
    )


def _bpe_oracle(n_merges: int = 8) -> str:
    r"""Replay of operators/bpe.learn_bpe: the word-frequency table, the
    double-space symbol encoding, and ``n_merges`` unrolled iterations
    of (pair count → lexicographic-tiebreak argmax → one-pass greedy
    REPLACE merge). REPLACE's left-to-right non-overlapping scan has
    identical semantics in Spark and DuckDB, and the double-space
    delimiting makes one pass equal the greedy BPE merge (see the
    operator docstring), so the merge tables match exactly."""
    parts = [
        r"""
    WITH w AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
            FROM documents WHERE TRIM(text) <> ''
        ) WHERE word <> '' GROUP BY word
    ), s0 AS MATERIALIZED (
        SELECT freq,
               '  ' || array_to_string(string_split(word, ''), '  ')
                    || '  </w>  ' AS s
        FROM w
    )"""
    ]
    for t in range(1, n_merges + 1):
        parts.append(
            f""", p{t} AS (
        SELECT toks[i] AS l, toks[i + 1] AS r, SUM(freq) AS cnt
        FROM (SELECT freq, string_split(TRIM(s), '  ') AS toks FROM s{t - 1}),
             UNNEST(range(1, len(toks))) AS u(i)
        GROUP BY 1, 2
    ), b{t} AS MATERIALIZED (
        SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l, r LIMIT 1
    ), s{t} AS MATERIALIZED (
        SELECT freq,
               REPLACE(s,
                       ' ' || (SELECT l FROM b{t}) || '  '
                           || (SELECT r FROM b{t}) || ' ',
                       ' ' || (SELECT l FROM b{t})
                           || (SELECT r FROM b{t}) || ' ') AS s
        FROM s{t - 1}
    )"""
        )
    selects = [
        f"""SELECT {t} AS rank, l AS lhs, r AS rhs, l || r AS merged,
               CAST(cnt AS BIGINT) AS cnt FROM b{t}"""
        for t in range(1, n_merges + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rank")
    return "".join(parts)


def _bpe_corpus_oracle(n_merges: int = 8) -> str:
    """Same unrolled training chain as ``_bpe_oracle``, but the final
    select applies the learned table corpus-wide: token counts of the
    fully-segmented corpus (segmentation IS the final s{T} state — BPE
    training's invariant that the working state equals applying the
    merge table from scratch, which tests/test_bpe.py pins on the
    operator side via segment_words round-trips)."""
    chain = _bpe_oracle(n_merges)
    chain = chain[: chain.rindex("\nSELECT 1 AS rank")]
    return (
        chain
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(freq) AS BIGINT) AS total_words,
           CAST(SUM(freq * len(string_split(TRIM(s), '  '))) AS BIGINT)
               AS total_subwords,
           ROUND(SUM(freq * len(string_split(TRIM(s), '  ')))
                 / CAST(SUM(freq) AS DOUBLE), 6) AS fertility
    FROM s{n_merges}
    """
    )


@register("bpe_learned_merges", _bpe_oracle(n_merges=8))
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer-merge training (operators/bpe.py): the
    first 8 learned merges over the document corpus with their pair
    counts. Corpus scale enters only through the word-frequency
    aggregate; each iteration is O(|vocab|) with a 1-row driver
    collect. Oracle replays all 8 iterations in unrolled SQL."""
    from federated_gcn_spark.operators.bpe import learn_bpe_df

    docs = load_table(spark, sf_dir, "documents", parallel=True)
    out = learn_bpe_df(docs, text_col="text", n_merges=8)
    return out.select(
        F.col("rank").alias("rank"),
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "merged",
        "cnt",
    )


@register("bpe_corpus_tokenization", _bpe_corpus_oracle(n_merges=8))
def bpe_corpus_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide application of the learned BPE table: distinct
    words, running words, total subword tokens after 8 merges, and the
    fertility ratio (subwords per word — the statistic that prices a
    tokenizer against a corpus). Segmentation runs on the DISTINCT-word
    table and weights by frequency, so applying the tokenizer costs
    O(|vocab|) regardless of corpus size; the oracle replays training
    AND segmentation in one unrolled chain."""
    from federated_gcn_spark.operators.bpe import (
        _words,
        learn_bpe,
        segment_words,
    )

    docs = load_table(spark, sf_dir, "documents", parallel=True)
    merges = learn_bpe(docs, text_col="text", n_merges=8)
    seg = segment_words(_words(docs, "text"), merges)
    return seg.agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum("freq").cast("long").alias("total_words"),
        F.sum(F.col("freq") * F.size("subtokens"))
        .cast("long")
        .alias("total_subwords"),
        F.round(
            F.sum(F.col("freq") * F.size("subtokens"))
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
    )


def _semdedup_oracle(
    kc: int = 16, seed: int = 42, train_iters: int = 3,
    threshold: float = 0.35,
) -> str:
    """Replay of semantic_dedup_stats: the IVFIndex Lloyd loop unrolled
    (identical CTE chain to queries._ivf_oracle — seeded pick via the
    xxhash64 replay, assign with higher-id tie-break, per-(cluster,dim)
    mean, empty-cluster carry, re-normalize), then a final assignment
    against the trained centroids and the within-cluster exact-cosine
    pair scan."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    h_chain = to_signed64(hash_int_sql(str(seed), hash_long_sql("vec_id", "42")))
    cos = "(dot / (GREATEST(SQRT(n1), 1e-300) * GREATEST(SQRT(n2), 1e-300)))"
    parts = [
        f"""
    WITH ex AS MATERIALIZED (
        SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ), init_sel AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid
        FROM (SELECT vec_id, {h_chain} AS h FROM embeddings)
        ORDER BY h, vec_id LIMIT {kc}
    ), craw AS (
        SELECT s.cid, e.i AS pos, e.v AS val
        FROM init_sel s JOIN ex e ON e.vec_id = s.vec_id
    ), c0 AS MATERIALIZED (
        SELECT cid, pos, val / GREATEST(nrm, 1e-12) AS val
        FROM craw JOIN (
            SELECT cid, SQRT(SUM(val * val)) AS nrm FROM craw GROUP BY cid
        ) USING (cid)
    )"""
    ]
    for t in range(1, train_iters + 1):
        parts.append(
            f""", s{t} AS (
        SELECT e.vec_id, c.cid, SUM(e.v * c.val) AS dot,
               SUM(e.v * e.v) AS n1, SUM(c.val * c.val) AS n2
        FROM ex e JOIN c{t - 1} c ON c.pos = e.i
        GROUP BY e.vec_id, c.cid
    ), a{t} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY {cos} DESC, cid DESC) AS rn
            FROM s{t}
        ) WHERE rn = 1
    ), m{t} AS (
        SELECT a.cid, e.i AS pos, AVG(e.v) AS m
        FROM a{t} a JOIN ex e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.i
    ), u{t} AS (
        SELECT c.cid, c.pos, COALESCE(m.m, c.val) AS x
        FROM c{t - 1} c LEFT JOIN m{t} m ON m.cid = c.cid AND m.pos = c.pos
    ), c{t} AS MATERIALIZED (
        SELECT cid, pos, x / GREATEST(nrm, 1e-12) AS val
        FROM u{t} JOIN (
            SELECT cid, SQRT(SUM(x * x)) AS nrm FROM u{t} GROUP BY cid
        ) USING (cid)
    )"""
        )
    cT = f"c{train_iters}"
    parts.append(
        f""", sfin AS (
        SELECT e.vec_id, c.cid, SUM(e.v * c.val) AS dot,
               SUM(e.v * e.v) AS n1, SUM(c.val * c.val) AS n2
        FROM ex e JOIN {cT} c ON c.pos = e.i
        GROUP BY e.vec_id, c.cid
    ), afin AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY {cos} DESC, cid DESC) AS rn
            FROM sfin
        ) WHERE rn = 1
    ), pr AS (
        SELECT a1.cid AS cid, a1.vec_id AS id_a, a2.vec_id AS id_b
        FROM afin a1 JOIN afin a2
          ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
    ), pd AS (
        SELECT pr.cid, SUM(ea.v * eb.v) AS dot,
               SUM(ea.v * ea.v) AS n1, SUM(eb.v * eb.v) AS n2
        FROM pr
        JOIN ex ea ON ea.vec_id = pr.id_a
        JOIN ex eb ON eb.vec_id = pr.id_b AND eb.i = ea.i
        GROUP BY pr.cid, pr.id_a, pr.id_b
    ), stats AS (
        SELECT cid,
               SUM(CASE WHEN {cos} >= {threshold} THEN 1 ELSE 0 END)
                   AS n_dup_pairs,
               MAX({cos}) AS mx
        FROM pd GROUP BY cid
    ), sizes AS (SELECT cid, COUNT(*) AS sz FROM afin GROUP BY cid)
    SELECT CAST(sizes.cid AS INT) AS cid,
           CAST(sz AS BIGINT) AS cluster_size,
           CAST(COALESCE(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           ROUND(COALESCE(mx, -1.0), 6) AS max_cos
    FROM sizes LEFT JOIN stats USING (cid)
    ORDER BY cid
    """
    )
    return "".join(parts)


@register(
    "semantic_dedup_stats",
    _semdedup_oracle(kc=16, seed=42, train_iters=3, threshold=0.35),
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) shape: k-means-cluster the
    embedding space (reusing IVFIndex's distributed Lloyd training),
    then search for near-duplicate pairs ONLY within clusters — per
    cluster: size, pairs with cosine ≥ τ, and the max intra-cluster
    cosine. Keeping one representative of each ≥τ pair is then the same
    keep-lowest-id rule as near_dedup.

    Scale shape: clustering turns the global O(n²) pair scan into
    Σ O(n_c²) — with balanced clusters an n/k reduction, the entire
    point of SemDeDup. Assignment is an Arrow-batched X@Cᵀ argmax (no
    shuffle; see IVFIndex.assign for the kernel bake-off); the scan
    shuffles each vector ONCE to its cluster's task and runs one BLAS
    matmul per cluster (operators/semdedup.py — ~10× faster than the
    per-pair join spelling, which re-ships both vectors for every
    pair). The oracle replays seeding, 3 Lloyd iterations, assignment,
    and the pair scan in unrolled SQL.
    """
    from federated_gcn_spark.operators.semdedup import semdedup_cluster_stats
    from federated_gcn_spark.operators.similarity import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    index = IVFIndex(emb, k=16, seed=42, train_iters=3)
    assigned = index.assign(emb)
    stats = semdedup_cluster_stats(assigned, threshold=0.35)
    return stats.select(
        "cid",
        "cluster_size",
        "n_dup_pairs",
        F.round("max_cos", 6).alias("max_cos"),
    ).orderBy("cid")


def _quality_clf_oracle(lr: float = 0.5, iterations: int = 10) -> str:
    r"""Replay of the model-based quality filter: surface features per
    document, standardization stats, the unrolled full-batch GD of
    operators/logistic.logistic_fit (same chain as queries.
    _logistic_oracle), and finally APPLYING the model — per-language
    kept/total counts and mean score at the 0.5 threshold."""
    k = 3
    parts = [
        r"""
    WITH fx AS MATERIALIZED (
        SELECT lang,
               CAST(n_chars AS DOUBLE) AS f0,
               CAST(len(string_split_regex(LOWER(TRIM(text)), '\s+'))
                    AS DOUBLE) AS f1,
               CAST(n_chars AS DOUBLE)
                   / len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS f2,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents WHERE TRIM(text) <> ''
    ), st AS (
        SELECT AVG(f0) AS m0, STDDEV_POP(f0) AS s0,
               AVG(f1) AS m1, STDDEV_POP(f1) AS s1,
               AVG(f2) AS m2, STDDEV_POP(f2) AS s2
        FROM fx
    ), staged AS MATERIALIZED (
        SELECT lang, y,
               (f0 - st.m0) / GREATEST(st.s0, 1e-12) AS x0,
               (f1 - st.m1) / GREATEST(st.s1, 1e-12) AS x1,
               (f2 - st.m2) / GREATEST(st.s2, 1e-12) AS x2
        FROM fx, st
    ), it0 AS (
        SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2,
               0.0::DOUBLE AS b
    )"""
    ]
    for t in range(1, iterations + 1):
        z = "w.b" + "".join(f" + w.w{i} * x{i}" for i in range(k))
        resid = f"(1.0 / (1.0 + EXP(-({z}))) - y)"
        grads = ", ".join(f"AVG({resid} * x{i}) AS g{i}" for i in range(k))
        upd = ", ".join(f"w.w{i} - {lr} * g.g{i} AS w{i}" for i in range(k))
        parts.append(
            f""", grad{t} AS MATERIALIZED (
        SELECT {grads}, AVG({resid}) AS gb
        FROM staged, it{t - 1} w
    ), it{t} AS MATERIALIZED (
        SELECT {upd}, w.b - {lr} * g.gb AS b FROM it{t - 1} w, grad{t} g
    )"""
        )
    z = "w.b" + "".join(f" + w.w{i} * x{i}" for i in range(k))
    parts.append(
        f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN 1.0 / (1.0 + EXP(-({z}))) >= 0.5
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(AVG(1.0 / (1.0 + EXP(-({z})))), 6) AS avg_score
    FROM staged, it{iterations} w
    GROUP BY lang
    ORDER BY lang
    """
    )
    return "".join(parts)


@register("quality_classifier_filter", _quality_clf_oracle(lr=0.5, iterations=10))
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier stage of a
    training-data pipeline (the fastText/logistic quality-filter
    pattern of GPT-3 §A / CCNet): train a logistic model ON the corpus
    (surface features: length, token count, mean word length; label:
    the target domain, here lang='en'), then score and threshold every
    document, reporting per-language keep rates.

    Scale shape: features are codegen expressions fused into the scan;
    training is operators/logistic.logistic_fit — each GD step ONE
    map-side-combinable aggregate with weights inlined as literals;
    scoring is a pure expression over the same feature columns (no
    second training pass, no Python). The oracle replays features,
    standardization, all 10 GD steps, AND the threshold application.
    """
    from federated_gcn_spark.operators.logistic import logistic_fit

    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.trim(F.col("text")) != ""
    )
    toks = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
    feat = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("f0"),
        toks.cast("double").alias("f1"),
        (F.col("n_chars").cast("double") / toks).alias("f2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    w, b = logistic_fit(feat, ["f0", "f1", "f2"], "y", lr=0.5, iterations=10)
    stats = feat.agg(
        *[F.avg(f"f{i}").alias(f"m{i}") for i in range(3)],
        *[F.stddev_pop(f"f{i}").alias(f"s{i}") for i in range(3)],
    ).collect()[0]
    z = F.lit(float(b))
    for i in range(3):
        xi = (F.col(f"f{i}") - F.lit(stats[f"m{i}"])) / F.lit(
            max(stats[f"s{i}"], 1e-12)
        )
        z = z + F.lit(float(w[i])) * xi
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        feat.select("lang", score.alias("score"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
        .orderBy("lang")
    )


def _register_anf_oracle(p: int = 7, max_hops: int = 4) -> str:
    """Unrolled-superstep replay of graph/anf.register_anf: same hash,
    same bucket/rho integer pipeline (see _hll machinery in
    queries_engine), same max-merge per hop, summarized per hop with
    exact integer aggregates."""
    from federated_gcn_spark.plans.xxh64_sql import xxhash64_sql

    m = 1 << p
    wbits = 64 - p
    u = xxhash64_sql(("id", "long"))
    bitlen = " + ".join(f"(w >= {1 << k})::INT" for k in range(wbits))
    sql = f"""
    WITH ed AS (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), v AS (
        SELECT DISTINCT src AS id FROM sym
    ), hw AS (
        SELECT id, (u % {m})::BIGINT AS bucket, (u // {m}) AS w
        FROM (SELECT id, ({u}) AS u FROM v)
    ), s0 AS (
        SELECT id, bucket, ({wbits + 1} - ({bitlen})) AS mr FROM hw
    )"""
    for i in range(1, max_hops + 1):
        sql += f""", s{i} AS (
        SELECT id, bucket, MAX(mr) AS mr FROM (
            SELECT sym.dst AS id, s.bucket, s.mr
            FROM sym JOIN s{i - 1} s ON s.id = sym.src
            UNION ALL SELECT id, bucket, mr FROM s{i - 1}
        ) GROUP BY id, bucket
    )"""
    sels = "\n    UNION ALL ".join(
        f"""SELECT CAST({i} AS INT) AS hop,
               CAST(COUNT(DISTINCT id) AS BIGINT) AS nodes,
               CAST(COUNT(*) AS BIGINT) AS filled_regs,
               CAST(SUM(mr) AS BIGINT) AS reg_sum,
               CAST(MAX(mr) AS INT) AS max_reg FROM s{i}"""
        for i in range(max_hops + 1)
    )
    return sql + "\n    " + sels + "\n    ORDER BY hop"


@register("anf_register_supersteps", _register_anf_oracle())
def anf_register_supersteps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-register HyperANF (graph/anf.py:register_anf): the
    iterative sketch max-merge — the genuinely hard distributed part of
    HyperANF — hash-checked against a DuckDB unrolled-superstep replay.
    Together with hll_replay_cardinality (register -> estimate
    arithmetic) and test_anf.py (estimate accuracy), this closes the
    oracle gap that kept hyperanf_reachable_pairs rows-only: every
    deterministic stage of the sketch path now has a value check."""
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.anf import register_anf
    from federated_gcn_spark.plans.queries import _edges_mod50

    edges = _edges_mod50(spark, sf_dir)
    return register_anf(Graph.from_edges(edges), max_hops=4)


@register(
    "covariance_matrix",
    """
    WITH idx AS (SELECT UNNEST(range(1, 65)) AS k)
    SELECT CAST(a.k - 1 AS BIGINT) AS i, CAST(b.k - 1 AS BIGINT) AS j,
           ROUND(COVAR_POP(e.embedding[a.k]::DOUBLE, e.embedding[b.k]::DOUBLE), 4)
               AS cov
    FROM embeddings e CROSS JOIN idx a CROSS JOIN idx b
    GROUP BY a.k, b.k
    ORDER BY i, j
    """,
)
def covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed stage of PCA (operators/pca.py:gram_moments) —
    per-partition numpy Gram partials element-wise-summed via the
    posexplode exchange — value-checked: the full 64x64 population
    covariance matrix vs DuckDB's COVAR_POP, ROUND(4) absorbing the
    summation-order/stable-vs-naive FP delta (<= ~1e-12 on 500 rows).
    This closes the oracle gap on pca_variance's pipeline: the eig on
    the driver (not SQL-expressible) stays pinned against full numpy
    PCA in test_pca.py, but everything distributed is now hash-checked."""
    from federated_gcn_spark.operators.pca import gram_moments

    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    n, mean, cov = gram_moments(emb, "embedding")
    rows = [
        (i, j, round(float(cov[i, j]), 4))
        for i in range(cov.shape[0])
        for j in range(cov.shape[1])
    ]
    return spark.createDataFrame(rows, "i long, j long, cov double")


def _als_rank1_oracle(iterations: int = 3, lam: float = 0.1, rd: int = 4) -> str:
    """Unrolled replay of operators/als.als_rank1 on the custkey x
    partkey implicit-rating matrix.  The per-half-iteration ROUND is the
    cross-engine resync point (see als.py docstring); the init replays
    hash_factor via the xxh64 SQL generator."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    h = to_signed64(hash_int_sql("0", hash_long_sql("i", "42")))
    init = f"ROUND(((({h}) % 2001 + 2001) % 2001 - 1000) / 2000.0, {rd})"
    sql = f"""
    WITH r AS (
        SELECT o_custkey AS u, l_partkey AS i, SUM(l_quantity) AS rt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ), v0 AS (
        SELECT i, {init} AS v FROM (SELECT DISTINCT i FROM r)
    )"""
    prev_v = "v0"
    for it in range(1, iterations + 1):
        sql += f""", u{it} AS (
        SELECT u, ROUND(SUM(rt * v) / ({lam} + SUM(v * v)), {rd}) AS uf
        FROM r JOIN {prev_v} USING (i) GROUP BY u
    ), v{it} AS (
        SELECT i, ROUND(SUM(rt * uf) / ({lam} + SUM(uf * uf)), {rd}) AS v
        FROM r JOIN u{it} USING (u) GROUP BY i
    )"""
        prev_v = f"v{it}"
    n = iterations
    return sql + f"""
    SELECT * FROM (
        SELECT 'user' AS kind, CAST(u AS BIGINT) AS id, uf AS factor
        FROM u{n} ORDER BY u LIMIT 25
    )
    UNION ALL
    SELECT * FROM (
        SELECT 'item' AS kind, CAST(i AS BIGINT) AS id, v AS factor
        FROM v{n} ORDER BY i LIMIT 25
    )
    ORDER BY kind, id
    """


@register("als_rank1_factors", _als_rank1_oracle())
def als_rank1_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALS (operators/als.py:als_rank1) on the implicit
    customer x part quantity matrix, 3 alternating closed-form
    half-steps — hash-replayable, checked
    factor-for-factor against a DuckDB unrolled recursion.  Exercises
    the full alternating join/agg iteration shape of the factorizer."""
    from federated_gcn_spark.operators.als import als_rank1

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum("l_quantity").alias("rating"))
    )
    uf, itf = als_rank1(ratings, iterations=3)
    users = (
        uf.orderBy("user").limit(25)
        .select(F.lit("user").alias("kind"), F.col("user").alias("id"), F.col("u").alias("factor"))
    )
    items = (
        itf.orderBy("item").limit(25)
        .select(F.lit("item").alias("kind"), F.col("item").alias("id"), F.col("v").alias("factor"))
    )
    return users.unionByName(items).orderBy("kind", "id")


def _als_rank2_oracle(
    iterations: int = 2, lam: float = 0.1, rd: int = 4,
    n_users: int = 10, k: int = 5,
) -> str:
    """Unrolled replay of operators/als.als_rank2 (Cramer 2x2 closed
    form, per-half-step ROUND resync) + the top-k recommendation join on
    the frozen factors.  Scores are NOT re-rounded: they are fixed-order
    products/sums of identical 4-dp doubles, so both engines hold
    bit-identical doubles and the (score DESC, item) ranking cannot
    diverge."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    def init(d: int) -> str:
        h = to_signed64(hash_int_sql(str(d), hash_long_sql("i", "42")))
        return f"ROUND(((({h}) % 2001 + 2001) % 2001 - 1000) / 2000.0, {rd})"

    sql = f"""
    WITH r AS (
        SELECT o_custkey AS u, l_partkey AS i, SUM(l_quantity) AS rt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ), v0 AS (
        SELECT i, {init(0)} AS v1, {init(1)} AS v2
        FROM (SELECT DISTINCT i FROM r)
    )"""
    prev = ("v0", "i", "v1", "v2")
    for it in range(1, iterations + 1):
        for tbl, key, f1, f2, okey in (
            (f"u{it}", "u", "u1", "u2", "i"),
            (f"v{it}", "i", "v1", "v2", "u"),
        ):
            ptbl, pkey, pf1, pf2 = prev
            sql += f""", {tbl} AS MATERIALIZED (
        SELECT {key},
               ROUND(((t22 + {lam}) * b1 - t12 * b2)
                     / ((t11 + {lam}) * (t22 + {lam}) - t12 * t12), {rd})
                   AS {f1},
               ROUND(((t11 + {lam}) * b2 - t12 * b1)
                     / ((t11 + {lam}) * (t22 + {lam}) - t12 * t12), {rd})
                   AS {f2}
        FROM (
            SELECT r.{key} AS {key},
                   SUM(r.rt * p.{pf1}) AS b1, SUM(r.rt * p.{pf2}) AS b2,
                   SUM(p.{pf1} * p.{pf1}) AS t11,
                   SUM(p.{pf1} * p.{pf2}) AS t12,
                   SUM(p.{pf2} * p.{pf2}) AS t22
            FROM r JOIN {ptbl} p ON p.{pkey} = r.{pkey}
            GROUP BY r.{key}
        )
    )"""
            prev = (tbl, key, f1, f2)
    n = iterations
    return sql + f""", topu AS (
        SELECT * FROM u{n} ORDER BY u LIMIT {n_users}
    ), scored AS (
        SELECT t.u AS usr, v.i AS itm,
               t.u1 * v.v1 + t.u2 * v.v2 AS score
        FROM topu t CROSS JOIN v{n} v
    ), ranked AS (
        SELECT usr, itm, score,
               ROW_NUMBER() OVER (PARTITION BY usr
                                  ORDER BY score DESC, itm) AS rn
        FROM scored
    )
    SELECT CAST(usr AS BIGINT) AS "user", CAST(itm AS BIGINT) AS item, score
    FROM ranked WHERE rn <= {k}
    """


@register("als_recommendations", _als_rank2_oracle())
def als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 recommendations for the 10 lowest custkeys from a rank-2
    ALS factorization (operators/als.py:als_rank2 — Cramer closed-form
    2x2 solves as pure codegen aggregates), hash-checked end-to-end:
    the oracle unrolls both alternating half-steps AND the top-k
    serving join (converted from rows-only per the round-3 verdict).

    100 TB shape: two flat-aggregate
    shuffles per half-step, factors move while ratings stay put, item
    factors broadcast at serving, per-user top-k as a user-partitioned
    window over the broadcast join."""
    from federated_gcn_spark.operators.als import als_rank2

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum("l_quantity").alias("rating"))
    )
    uf, itf = als_rank2(ratings, iterations=2)
    users = uf.orderBy("user").limit(10)
    scored = users.crossJoin(
        F.broadcast(itf.select("item", "v1", "v2"))
    ).select(
        "user",
        "item",
        (F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2")).alias("score"),
    )
    w = Window.partitionBy("user").orderBy(F.col("score").desc(), F.col("item"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("user", "item", "score")
    )


def _pq_oracle(
    n_sub: int = 4,
    n_codes: int = 8,
    seed: int = 42,
    train_iters: int = 2,
    k: int = 10,
    query_id: int = 3,
    dim: int = 64,
) -> str:
    """Replay of operators/pq.PQIndex end-to-end: per-subspace seeded
    init, unrolled Lloyd (argmin-L2 assign with lowest-code tie-break,
    per-(code,dim) mean, empty-code carry), final encode, ADC score for
    the query vector.  The Spark kernel's ``-2x.c + ||c||^2`` and the
    oracle's ``sum (x-c)^2`` are equal in exact arithmetic; argmin
    flips only on sub-1e-12 knife edges (same acceptance as
    _ivf_oracle), and exact duplicate centroids tie to the lowest code
    on both sides."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    sd = dim // n_sub
    parts = [
        """
    WITH ex AS MATERIALIZED (
        SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    )"""
    ]
    for s in range(n_sub):
        h = to_signed64(hash_int_sql(str(seed + s), hash_long_sql("vec_id", "42")))
        lo, hi = s * sd, (s + 1) * sd  # 1-based i in (lo, hi]
        parts.append(
            f""", sx{s} AS MATERIALIZED (
        SELECT vec_id, i - {lo} AS sd, v FROM ex WHERE i > {lo} AND i <= {hi}
    ), init{s} AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code
        FROM (SELECT vec_id, {h} AS h FROM embeddings)
        ORDER BY h, vec_id LIMIT {n_codes}
    ), c{s}_0 AS MATERIALIZED (
        SELECT t.code, x.sd, x.v AS val
        FROM init{s} t JOIN sx{s} x ON x.vec_id = t.vec_id
    )"""
        )
        for t in range(1, train_iters + 1):
            parts.append(
                f""", d{s}_{t} AS (
        SELECT x.vec_id, c.code, SUM((x.v - c.val) * (x.v - c.val)) AS d
        FROM sx{s} x JOIN c{s}_{t - 1} c ON c.sd = x.sd
        GROUP BY x.vec_id, c.code
    ), a{s}_{t} AS MATERIALIZED (
        SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d ASC, code ASC) AS rn
            FROM d{s}_{t}
        ) WHERE rn = 1
    ), m{s}_{t} AS (
        SELECT a.code, x.sd, AVG(x.v) AS m
        FROM a{s}_{t} a JOIN sx{s} x ON x.vec_id = a.vec_id
        GROUP BY a.code, x.sd
    ), c{s}_{t} AS MATERIALIZED (
        SELECT c.code, c.sd, COALESCE(m.m, c.val) AS val
        FROM c{s}_{t - 1} c
        LEFT JOIN m{s}_{t} m ON m.code = c.code AND m.sd = c.sd
    )"""
            )
    # final encode per subspace + per-subspace LUT against the query
    for s in range(n_sub):
        T = train_iters
        parts.append(
            f""", fd{s} AS (
        SELECT x.vec_id, c.code, SUM((x.v - c.val) * (x.v - c.val)) AS d
        FROM sx{s} x JOIN c{s}_{T} c ON c.sd = x.sd
        GROUP BY x.vec_id, c.code
    ), fa{s} AS (
        SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d ASC, code ASC) AS rn
            FROM fd{s}
        ) WHERE rn = 1
    ), lut{s} AS (
        SELECT c.code, SUM((c.val - q.v) * (c.val - q.v)) AS ld
        FROM c{s}_{T} c
        JOIN sx{s} q ON q.sd = c.sd AND q.vec_id = {query_id}
        GROUP BY c.code
    ), sc{s} AS (
        SELECT f.vec_id, l.ld FROM fa{s} f JOIN lut{s} l ON l.code = f.code
    )"""
        )
    score_union = "\n        UNION ALL ".join(
        f"SELECT vec_id, ld FROM sc{s}" for s in range(n_sub)
    )
    return (
        "".join(parts)
        + f"""
    SELECT vec_id, ROUND(SUM(ld), 6) AS adc_dist
    FROM ({score_union})
    GROUP BY vec_id
    ORDER BY adc_dist, vec_id
    LIMIT {k}
    """
    )


@register("pq_adc_topk", _pq_oracle())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 4x8 codebooks
    trained with 2 distributed Lloyd iterations per subspace, vectors
    encoded to 4 small codes, then ADC top-10 for vec_id 3's embedding
    — the compressed-domain search that makes 100 TB vector corpora
    RAM-resident.  Replayed end-to-end (init, training, encode, LUT
    scoring) by an unrolled DuckDB oracle."""
    from federated_gcn_spark.operators.pq import PQIndex

    emb = load_table(spark, sf_dir, "embeddings", parallel=True)
    idx = PQIndex(emb, n_sub=4, n_codes=8, train_iters=2)
    q = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    return idx.adc_topk(idx.encode(emb), q, k=10)


def _sssp_oracle(max_iters: int = 6) -> str:
    """Unrolled Bellman-Ford replay on the weighted order→supplier
    graph: integer weights (MIN quantity per edge), so every distance
    is exact; the source is the smallest vertex id.  Spark's early exit
    is invisible here — relaxation past convergence is a no-op."""
    sql = """
    WITH ed AS (
        SELECT l_orderkey AS src, l_suppkey + 10000000 AS dst,
               CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM lineitem WHERE l_orderkey % 50 = 0
        GROUP BY l_orderkey, l_suppkey
    ), sym AS (
        SELECT src, dst, w FROM ed
        UNION ALL SELECT dst AS src, src AS dst, w FROM ed
    ), d0 AS (
        SELECT (SELECT MIN(src) FROM sym) AS id, CAST(0 AS BIGINT) AS dist
    )"""
    for t in range(1, max_iters + 1):
        sql += f""", d{t} AS (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT e.dst AS id, d.dist + e.w AS dist
            FROM d{t - 1} d JOIN sym e ON e.src = d.id
            UNION ALL SELECT id, dist FROM d{t - 1}
        ) GROUP BY id
    )"""
    return sql + f"""
    SELECT CAST(id AS BIGINT) AS id, dist FROM d{max_iters} ORDER BY id
    """


@register("sssp_distances", _sssp_oracle())
def sssp_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (graph/sssp.py — distributed Bellman-Ford, one
    relax-join + MIN aggregate per superstep) from the lowest order
    vertex over the quantity-weighted order→supplier graph, 6
    supersteps, hash-checked against an unrolled DuckDB replay.  The
    weighted complement of bfs_distances."""
    from federated_gcn_spark.graph.sssp import sssp

    lineitem = load_table(spark, sf_dir, "lineitem")
    ed = (
        lineitem.where(F.col("l_orderkey") % 50 == 0)
        .groupBy(
            F.col("l_orderkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
    )
    sym = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    source = sym.agg(F.min("src")).collect()[0][0]
    return (
        sssp(sym, int(source), max_iters=6)
        .select(F.col("id").cast("long"), "dist")
        .orderBy("id")
    )


@register(
    "bigram_nll",
    r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS l
        FROM documents WHERE TRIM(text) <> ''
    ), toks AS (
        SELECT doc_id, UNNEST(l) AS term FROM d
    ), v AS (
        SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vsz FROM toks
    ), bi AS (
        SELECT doc_id, l[pos] AS w1, l[pos + 1] AS w2
        FROM d, UNNEST(range(1, len(l))) AS t(pos)
    ), c1 AS (
        SELECT w1, COUNT(*) AS n1 FROM bi GROUP BY w1
    ), c12 AS (
        SELECT w1, w2, COUNT(*) AS n12 FROM bi GROUP BY w1, w2
    )
    SELECT doc_id,
           ROUND(AVG(-LN((n12 + 0.5) / (n1 + 0.5 * (SELECT vsz FROM v)))), 6)
               AS bigram_nll,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM bi JOIN c1 USING (w1) JOIN c12 USING (w1, w2)
    GROUP BY doc_id
    """,
)
def bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score: per-document mean negative log
    conditional likelihood -ln P(w2 | w1) under the corpus's own
    add-0.5-smoothed bigram model — the conditional complement of
    unigram_nll: a doc of common words in IMPROBABLE order (shuffled
    text, keyword stuffing) scores high here while unigram_nll sees
    nothing wrong.

    Scale shape: bigrams are built positionally from the in-row token
    array (posexplode + element_at — no self-join on position); the
    context counts c(w1) and pair counts c(w1,w2) are partial-final
    aggregates of that one exploded stream, joined back on the same
    keys (exchange reuse on w1); the vocabulary size rides as a
    broadcast 1-row side."""
    docs = load_table(spark, sf_dir, "documents", parallel=True).where(
        F.trim(F.col("text")) != ""
    )
    # d (tokenized arrays) feeds the vocab count and the bigram stream;
    # bi feeds both count aggregates and the scoring join — unstaged,
    # the corpus was scanned + tokenized four times.  Two lazy
    # checkpoints -> one tokenize pass, one bigram build.
    d = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("l")
    ).localCheckpoint(eager=False)
    toks = d.select(F.explode("l").alias("term"))
    v = toks.agg(F.countDistinct("term").cast("double").alias("vsz"))
    bi = d.select(
        "doc_id",
        "l",
        F.posexplode(F.expr("slice(l, 1, size(l) - 1)")).alias("pos", "w1"),
    ).select(
        "doc_id", "w1", F.expr("element_at(l, pos + 2)").alias("w2")
    ).localCheckpoint(eager=False)
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    return (
        bi.join(c1, "w1")
        .join(c12, ["w1", "w2"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    -F.log(
                        (F.col("n12") + 0.5) / (F.col("n1") + 0.5 * F.col("vsz"))
                    )
                ),
                6,
            ).alias("bigram_nll"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def _mis_oracle(rounds: int = 8, seed: int = 42) -> str:
    """Unrolled replay of graph/mis.luby_mis on the order→supplier
    graph: same xxhash64(id, seed) priorities, same (hash, id)
    lexicographic dominance, same deactivate-neighborhood step.  Rounds
    past convergence produce empty winner sets on both sides."""
    from federated_gcn_spark.plans.xxh64_sql import (
        hash_int_sql,
        hash_long_sql,
        to_signed64,
    )

    h = to_signed64(hash_int_sql(str(seed), hash_long_sql("id", "42")))
    sql = f"""
    WITH ed AS (
        SELECT DISTINCT l_orderkey AS src, l_suppkey + 10000000 AS dst
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), sym AS (
        SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ), v AS (
        SELECT DISTINCT src AS id FROM sym
    ), pr AS MATERIALIZED (
        SELECT id, ({h}) AS h FROM v
    ), a0 AS (
        SELECT id FROM v
    )"""
    for t in range(1, rounds + 1):
        sql += f""", w{t} AS MATERIALIZED (
        SELECT a.id FROM a{t - 1} a JOIN pr p ON p.id = a.id
        WHERE NOT EXISTS (
            SELECT 1 FROM sym e
            JOIN a{t - 1} n ON n.id = e.src
            JOIN pr pn ON pn.id = e.src
            WHERE e.dst = a.id AND (pn.h, pn.id) > (p.h, p.id)
        )
    ), a{t} AS MATERIALIZED (
        SELECT a.id FROM a{t - 1} a
        WHERE NOT EXISTS (SELECT 1 FROM w{t} w WHERE w.id = a.id)
          AND NOT EXISTS (
            SELECT 1 FROM sym e JOIN w{t} w ON w.id = e.src
            WHERE e.dst = a.id
          )
    )"""
    union = "\n    UNION ALL ".join(
        f"SELECT id FROM w{t}" for t in range(1, rounds + 1)
    )
    return sql + f"""
    SELECT CAST(id AS BIGINT) AS id FROM ({union}) ORDER BY id
    """


@register("mis_members", _mis_oracle())
def mis_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set via distributed Luby rounds
    (graph/mis.py) over the order→supplier graph — the symmetry-
    breaking primitive behind conflict-free scheduling of training
    partitions.  Hash priorities make every round a pure function of
    the data; the DuckDB oracle replays all 8 unrolled rounds."""
    from federated_gcn_spark.graph import Graph
    from federated_gcn_spark.graph.mis import luby_mis
    from federated_gcn_spark.plans.queries import _edges_mod50

    edges = _edges_mod50(spark, sf_dir)
    return luby_mis(Graph.from_edges(edges), max_rounds=8).select(
        F.col("id").cast("long")
    ).orderBy("id")
