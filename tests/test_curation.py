"""Round-2 curation operators: repetition stats, PII redaction,
decontamination, domain-mixture sampling, sequence packing."""

import pytest
from pyspark.sql import functions as F

from federated_gcn_spark.functions.redact import (
    email_count,
    ipv4_count,
    phone_count,
    redact_pii,
)
from federated_gcn_spark.operators.decontam import (
    contamination_report,
)
from federated_gcn_spark.operators.pack import (
    _next_fit,
    pack_sequences,
    packing_stats,
)
from federated_gcn_spark.operators.quality import repetition_stats
from federated_gcn_spark.operators.sample import mixture_sample, uniform_fraction


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_example(spark):
    # "a a a b": 2-grams = [a a, a a, a b] -> top 2/3, dup 2/3; ttr 2/4
    out = repetition_stats(_docs(spark, [(1, "a a a b")]), n=2).collect()[0]
    assert out.n_grams == 3
    assert out.top_gram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out.dup_gram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out.ttr == pytest.approx(0.5, abs=1e-6)


def test_repetition_stats_no_repeats_and_short_docs(spark):
    rows = {
        r.doc_id: r
        for r in repetition_stats(
            _docs(spark, [(1, "x y z"), (2, "solo"), (3, "")]), n=2
        ).collect()
    }
    assert rows[1].n_grams == 2 and rows[1].dup_gram_frac == 0.0
    assert rows[1].top_gram_frac == pytest.approx(0.5)
    assert rows[2].n_grams == 0 and rows[2].top_gram_frac == 0.0
    assert rows[3].n_grams == 0 and rows[3].ttr == 1.0
    assert set(rows) == {1, 2, 3}  # every doc keeps a row


def test_repetition_stats_flags_boilerplate(spark):
    spam = "buy now " * 50
    clean = " ".join(f"w{i}" for i in range(100))
    rows = {
        r.doc_id: r
        for r in repetition_stats(
            _docs(spark, [(1, spam), (2, clean)]), n=2
        ).collect()
    }
    assert rows[1].dup_gram_frac > 0.9 > rows[2].dup_gram_frac
    assert rows[1].ttr < 0.1 < rows[2].ttr


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_redact_pii_all_types(spark):
    txt = "mail a.b+c@ex.org ip 192.168.0.1 tel 555-123-4567 done"
    out = spark.range(1).select(
        redact_pii(F.lit(txt)).alias("r"),
        email_count(F.lit(txt)).alias("e"),
        ipv4_count(F.lit(txt)).alias("i"),
        phone_count(F.lit(txt)).alias("p"),
    ).collect()[0]
    assert out.r == "mail <EMAIL> ip <IP> tel <PHONE> done"
    assert (out.e, out.i, out.p) == (1, 1, 1)


def test_phone_count_does_not_claim_ips(spark):
    # dotted-quad that is phone-shaped after partial masking must not
    # inflate the phone count; counts add up to placeholders emitted
    txt = "ip 255.255.255.255 and 10.0.0.1"
    out = spark.range(1).select(
        ipv4_count(F.lit(txt)).alias("i"),
        phone_count(F.lit(txt)).alias("p"),
        redact_pii(F.lit(txt)).alias("r"),
    ).collect()[0]
    assert out.i == 2 and out.p == 0
    assert out.r == "ip <IP> and <IP>"


def test_redact_pii_clean_text_untouched(spark):
    txt = "no pii here just words and 42 numbers"
    out = spark.range(1).select(redact_pii(F.lit(txt)).alias("r")).collect()[0]
    assert out.r == txt


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_contamination_report_counts_shared_grams(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps"),   # shares "the quick brown" etc.
            (2, "totally unrelated words here"),
        ],
    )
    eval_df = _docs(spark, [(100, "the quick brown fox")])
    hits = {r.doc_id: r.n_hits for r in contamination_report(train, eval_df, n=3).collect()}
    # eval 3-grams: {the quick brown, quick brown fox}; doc 1 shares both
    assert hits == {1: 2}


def test_decontaminate_short_eval_docs_are_inert(spark):
    # eval docs shorter than n contribute no grams -> nothing contaminated
    train = _docs(spark, [(1, "a b c d e")])
    eval_df = _docs(spark, [(100, "a b")])
    assert contamination_report(train, eval_df, n=3).count() == 0


# ---------------------------------------------------------------------------
# mixture_sample
# ---------------------------------------------------------------------------

def _domain_df(spark):
    rows = [(i, "en" if i % 10 < 6 else ("de" if i % 10 < 9 else "fr"))
            for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mixture_sample_hits_target_shares(spark):
    df = _domain_df(spark)  # 600 en / 300 de / 100 fr
    out = mixture_sample(
        df, "lang", {"en": 0.5, "de": 0.3, "fr": 0.2}, key_col="doc_id"
    )
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # fr binds: scale = 100/0.2 = 500 -> targets en 250, de 150, fr 100
    assert counts["fr"] == pytest.approx(100, abs=1)  # frac 1.0 keeps all
    assert counts["en"] == pytest.approx(250, rel=0.15)
    assert counts["de"] == pytest.approx(150, rel=0.15)


def test_mixture_sample_is_layout_independent(spark):
    df = _domain_df(spark)
    shares = {"en": 0.6, "de": 0.4}
    a = sorted(r.doc_id for r in mixture_sample(df, "lang", shares, "doc_id").collect())
    b = sorted(
        r.doc_id
        for r in mixture_sample(df.repartition(13), "lang", shares, "doc_id").collect()
    )
    assert a == b
    # domains outside the target mixture are dropped entirely
    langs = {r.lang for r in mixture_sample(df, "lang", shares, "doc_id").select("lang").distinct().collect()}
    assert langs == {"en", "de"}


def test_mixture_sample_rejects_bad_shares(spark):
    df = _domain_df(spark)
    with pytest.raises(ValueError):
        mixture_sample(df, "lang", {}, "doc_id")
    with pytest.raises(ValueError):
        mixture_sample(df, "lang", {"en": 1.0, "de": -0.5}, "doc_id")


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_next_fit_hand_example():
    # budget 10: [4,4,4] -> bins 0,0,1 ; oversized item isolated
    assert list(_next_fit([4, 4, 4], 10)) == [0, 0, 1]
    assert list(_next_fit([12, 3, 3], 10)) == [0, 1, 1]
    assert list(_next_fit([], 10)) == []


def test_next_fit_matches_scalar_reference():
    """The searchsorted-vectorized scan is bin-for-bin identical to the
    obvious one-row-at-a-time next-fit loop, including oversized items
    mid-stream and exact-fit boundaries."""
    import random

    def scalar_next_fit(tokens, budget):
        bins, bin_id, fill = [], 0, 0
        for t in tokens:
            if fill > 0 and fill + t > budget:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            fill += t
        return bins

    rng = random.Random(7)
    for budget in (1, 7, 64, 512):
        for _ in range(20):
            toks = [rng.choice([1, 2, 3, budget, budget + 5, budget // 2 or 1])
                    for _ in range(rng.randrange(0, 60))]
            assert list(_next_fit(toks, budget)) == scalar_next_fit(toks, budget), (
                budget, toks)


def _chunks_df(spark):
    rows = []
    for d in range(40):
        lang = "en" if d % 2 == 0 else "de"
        for c in range((d % 4) + 1):
            rows.append((d, c, 30 + (d * 7 + c * 11) % 41, lang))
    return spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_tokens long, lang string"
    )


def test_pack_sequences_respects_budget_and_keeps_rows(spark):
    chunks = _chunks_df(spark)
    packed = pack_sequences(chunks, group_col="lang", budget=128)
    assert packed.count() == chunks.count()
    per_bin = packed.groupBy("lang", "bin_id").agg(F.sum("n_tokens").alias("t"))
    assert per_bin.where(F.col("t") > 128).count() == 0
    # bins are dense 0..n-1 per group
    for lang in ("en", "de"):
        bins = sorted(
            r.bin_id for r in packed.where(F.col("lang") == lang).select("bin_id").distinct().collect()
        )
        assert bins == list(range(len(bins)))


def test_pack_sequences_deterministic_under_layout(spark):
    chunks = _chunks_df(spark)
    a = sorted(map(tuple, pack_sequences(chunks, "lang", budget=100).collect()))
    b = sorted(
        map(tuple, pack_sequences(chunks.repartition(17), "lang", budget=100).collect())
    )
    assert a == b


def test_packing_stats_invariants(spark):
    chunks = _chunks_df(spark)
    packed = pack_sequences(chunks, "lang", budget=128)
    stats = {r.lang: r for r in packing_stats(packed, "lang", budget=128).collect()}
    total = {r.lang: r.n for r in chunks.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, row in stats.items():
        assert row.n_chunks == total[lang]
        assert row.max_bin_tokens <= 128
        assert 0 < row.utilization <= 1.0
        # next-fit guarantee: any two adjacent bins together overflow the
        # budget, so utilization is > 0.5 asymptotically; allow slack
        assert row.utilization > 0.4


def test_pack_rejects_bad_budget(spark):
    with pytest.raises(ValueError):
        pack_sequences(_chunks_df(spark), "lang", budget=0)


# ---------------------------------------------------------------------------
# triangle counting (graph/triangles.py)
# ---------------------------------------------------------------------------

def test_triangle_stats_toy_graph(spark):
    from federated_gcn_spark.graph.triangles import triangle_stats

    # 5-cycle + chord (1,3) + separate 2-path: exactly one triangle {1,2,3}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (1, 3), (10, 11), (11, 12)],
        "src long, dst long",
    )
    row = triangle_stats(edges).collect()[0]
    assert row.n_nodes == 8 and row.n_edges == 8
    assert row.n_triangles == 1
    assert row.n_wedges == 10
    assert row.clustering == pytest.approx(0.3, abs=1e-6)


def test_triangle_stats_ignores_dups_loops_and_direction(spark):
    from federated_gcn_spark.graph.triangles import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    noisy = k4 + [(0, 0), (1, 1), (2, 3), (2, 3)]
    row = triangle_stats(spark.createDataFrame(noisy, "src long, dst long")).collect()[0]
    assert row.n_edges == 6 and row.n_triangles == 4  # K4
    assert row.clustering == pytest.approx(1.0, abs=1e-6)
