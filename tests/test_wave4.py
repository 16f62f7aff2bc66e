"""Naive Bayes language classifier and chi-squared term selection vs
pure-Python references (a third implementation, independent of both the
Spark plan and the DuckDB oracle), plus layout invariance of the
decimal-summed argmax."""

import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq
import pytest

from federated_gcn_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"
LANGS = ["de", "en", "es", "fr", "zh"]


def _docs():
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    return [
        (d["doc_id"], d["lang"], re.split(r"\s+", d["text"].strip().lower()))
        for d in tbl
        if d["text"].strip()
    ]


def _round6(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _python_nb_confusion():
    docs = _docs()
    ct = {lang: Counter() for lang in LANGS}
    ndocs = Counter()
    for _, lang, toks in docs:
        ct[lang].update(toks)
        ndocs[lang] += 1
    vocab = set()
    for c in ct.values():
        vocab.update(c)
    v = len(vocab)
    tot = {lang: sum(ct[lang].values()) for lang in LANGS}
    lp = {
        term: {
            lang: _round6(math.log((ct[lang][term] + 1) / (tot[lang] + v)))
            for lang in LANGS
        }
        for term in vocab
    }
    total_docs = sum(ndocs.values())
    pri = {lang: _round6(math.log(ndocs[lang] / total_docs)) for lang in LANGS}
    confusion = Counter()
    for _, lang, toks in docs:
        scores = {
            k: sum((lp[t][k] for t in toks), Decimal(0)) + pri[k] for k in LANGS
        }
        pred = max(LANGS, key=lambda k: (scores[k], [-ord(ch) for ch in k]))
        confusion[(lang, pred)] += 1
    return dict(confusion)


def test_naive_bayes_matches_python_reference(spark):
    got = {
        (r["lang_actual"], r["lang_pred"]): r["n_docs"]
        for r in QUERIES["naive_bayes_lang"](spark, SF_DIR).collect()
    }
    assert got == _python_nb_confusion()


def test_naive_bayes_layout_invariant(spark):
    """The decimal-summed argmax must not depend on shuffle layout."""
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(n):
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            return sorted(
                map(tuple, QUERIES["naive_bayes_lang"](spark, SF_DIR).collect())
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)

    assert run(3) == run(13)


def _python_chi2_top():
    docs = _docs()
    ct = {lang: Counter() for lang in LANGS}
    for _, lang, toks in docs:
        ct[lang].update(toks)
    tf = Counter()
    for c in ct.values():
        tf.update(c)
    t_k = {lang: sum(ct[lang].values()) for lang in LANGS}
    n = sum(t_k.values())
    top = {}
    for lang in LANGS:
        scored = []
        for term, f in tf.items():
            if f < 5:
                continue
            a = float(ct[lang][term])
            d = float(n - t_k[lang] - f + ct[lang][term])
            b = float(f - ct[lang][term])
            c = float(t_k[lang] - ct[lang][term])
            det = a * d - b * c
            chi2 = (
                float(n) * det * det
                / (float(f) * float(n - f) * float(t_k[lang]) * float(n - t_k[lang]))
            )
            scored.append((term, chi2, ct[lang][term]))
        scored.sort(key=lambda x: (-x[1], x[0]))
        top[lang] = [
            (term, _round_half_up4(chi2), cnt) for term, chi2, cnt in scored[:10]
        ]
    return top


def _round_half_up4(x: float) -> float:
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def test_chi2_matches_python_reference(spark):
    rows = QUERIES["chi2_top_terms"](spark, SF_DIR).collect()
    got = defaultdict(list)
    for r in rows:
        got[r["lang"]].append((r["term"], r["chi2"], r["tf_in_class"]))
    ref = _python_chi2_top()
    for lang in LANGS:
        got_sorted = sorted(got[lang], key=lambda x: (-x[1], x[0]))
        assert got_sorted == ref[lang], lang


def test_chi2_shape(spark):
    rows = QUERIES["chi2_top_terms"](spark, SF_DIR).collect()
    per_lang = Counter(r["lang"] for r in rows)
    assert set(per_lang) == set(LANGS)
    assert all(v == 10 for v in per_lang.values())
    assert all(r["chi2"] >= 0 for r in rows)


def _event_user_days():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    con.close()
    return rows


def _python_new_vs_returning():
    user_days = defaultdict(set)
    for uid, day in _event_user_days():
        user_days[uid].add(day)
    first = {uid: min(days) for uid, days in user_days.items()}
    daily = defaultdict(lambda: [0, 0])  # day -> [new, active]
    for uid, days in user_days.items():
        for day in days:
            daily[day][1] += 1
            if day == first[uid]:
                daily[day][0] += 1
    out, cum = [], 0
    for day in sorted(daily):
        new, active = daily[day]
        cum += new
        out.append((day, new, active - new, active, cum))
    return out


def test_new_vs_returning_matches_python_reference(spark):
    rows = QUERIES["new_vs_returning_users"](spark, SF_DIR).collect()
    got = sorted(
        (r["day"], r["new_users"], r["returning_users"], r["active_users"],
         r["cum_users"])
        for r in rows
    )
    assert got == _python_new_vs_returning()


def _python_abc():
    tbl = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_partkey", "l_extendedprice", "l_discount"]
    ).to_pylist()
    per_part = Counter()
    for r in tbl:
        price_c = int(_round_half_up0(r["l_extendedprice"] * 100))
        disc_c = int(_round_half_up0(r["l_discount"] * 100))
        per_part[r["l_partkey"]] += price_c * (100 - disc_c)
    grp = Counter()
    for rev in per_part.values():
        grp[rev] += 1
    total = sum(rev * n for rev, n in grp.items())
    out = defaultdict(lambda: [0, 0])
    cum = 0
    for rev in sorted(grp, reverse=True):
        n = grp[rev]
        cls = "A" if cum * 100 < total * 80 else ("B" if cum * 100 < total * 95 else "C")
        out[cls][0] += n
        out[cls][1] += rev * n
        cum += rev * n
    return {
        cls: (n, _round_half_up(rev / 10000, 2), _round_half_up(rev / total, 6))
        for cls, (n, rev) in out.items()
    }


def _round_half_up0(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def _round_half_up(x: float, nd: int) -> float:
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def test_abc_matches_python_reference(spark):
    rows = QUERIES["abc_revenue_classes"](spark, SF_DIR).collect()
    got = {
        r["abc_class"]: (r["n_parts"], r["revenue"], r["revenue_share"])
        for r in rows
    }
    assert got == _python_abc()


def test_abc_shares_partition_the_parts(spark):
    rows = QUERIES["abc_revenue_classes"](spark, SF_DIR).collect()
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-4
    tbl = pq.read_table(f"{SF_DIR}/lineitem.parquet", columns=["l_partkey"])
    assert sum(r["n_parts"] for r in rows) == len(set(tbl["l_partkey"].to_pylist()))


def _python_ship_lag():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o.o_orderpriority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE))
            FROM read_parquet('{SF_DIR}/lineitem.parquet') l
            JOIN read_parquet('{SF_DIR}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey"""
    ).fetchall()
    con.close()
    by_prio = defaultdict(list)
    for prio, lag in rows:
        by_prio[prio].append(lag)
    out = {}
    for prio, lags in by_prio.items():
        lags.sort()
        n = len(lags)

        def kth(k):
            return lags[k - 1]

        out[prio] = (
            n,
            kth((n + 1) // 2),
            kth(-(-9 * n // 10)),
            kth(-(-99 * n // 100)),
            _round_half_up(sum(1 for x in lags if x < 0) / n, 6),
        )
    return out


def test_ship_lag_matches_python_reference(spark):
    rows = QUERIES["ship_lag_percentiles"](spark, SF_DIR).collect()
    got = {
        r["priority"]: (r["n_items"], r["p50_lag"], r["p90_lag"], r["p99_lag"],
                        r["negative_lag_share"])
        for r in rows
    }
    assert got == _python_ship_lag()


def _python_burst():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts) // 1000000000, value FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    con.close()
    by_user = defaultdict(list)
    for uid, sec, val in rows:
        by_user[uid].append((sec, val))
    out = {}
    for uid, evs in by_user.items():
        evs.sort(key=lambda x: x[0])
        secs = [s for s, _ in evs]
        bursts, bvals = [], []
        for i, (s, _) in enumerate(evs):
            lo = s - 600
            in_frame = [(s2, v2) for s2, v2 in evs if lo <= s2 <= s]
            bursts.append(len(in_frame))
            bvals.append(_round_half_up(sum(v for _, v in in_frame), 6))
        peak = max(bursts)
        if peak >= 5:
            out[uid] = (
                peak,
                sum(1 for b in bursts if b >= 5),
                _round_half_up(max(bvals), 6),
                len(evs),
            )
    return out


def test_burst_detection_matches_python_reference(spark):
    rows = QUERIES["burst_detection"](spark, SF_DIR).collect()
    got = {
        r["user_id"]: (r["peak_burst"], r["n_burst_events"],
                       r["peak_burst_value"], r["n_events"])
        for r in rows
    }
    ref = _python_burst()
    assert set(got) == set(ref)
    for uid in got:
        g, r = got[uid], ref[uid]
        assert g[0] == r[0] and g[1] == r[1] and g[3] == r[3], uid
        assert abs(g[2] - r[2]) < 1e-5, uid


def _python_drift():
    docs = _docs()
    ca, cb = Counter(), Counter()
    for doc_id, _, toks in docs:
        (ca if doc_id % 2 == 0 else cb).update(toks)
    vocab = set(ca) | set(cb)
    v = len(vocab)
    na, nb = sum(ca.values()), sum(cb.values())
    rows = []
    for t in vocab:
        xnum = (ca[t] + 1) * (nb + v) - (cb[t] + 1) * (na + v)
        pa = (ca[t] + 1) / (na + v)
        pb = (cb[t] + 1) / (nb + v)
        rows.append((t, ca[t], cb[t], xnum, pa, pb))
    kl_ab = sum(
        _round_dec(pa * math.log(pa / pb), 12) for _, _, _, _, pa, pb in rows
    )
    kl_ba = sum(
        _round_dec(pb * math.log(pb / pa), 12) for _, _, _, _, pa, pb in rows
    )
    rows.sort(key=lambda r: (-abs(r[3]), r[0]))
    top = [
        (t, a, b, _round_half_up(pa - pb, 9),
         float(_round_dec(pa * math.log(pa / pb), 12)
               .quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)))
        for t, a, b, _, pa, pb in rows[:10]
    ]
    return top, _round_half_up(float(kl_ab), 6), _round_half_up(float(kl_ba), 6)


def _round_dec(x: float, nd: int) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)


def test_corpus_drift_matches_python_reference(spark):
    rows = QUERIES["corpus_drift_report"](spark, SF_DIR).collect()
    top_ref, kl_ab_ref, kl_ba_ref = _python_drift()
    got = [
        (r["term"], r["c_a"], r["c_b"], r["p_diff"], r["kl_contrib"])
        for r in sorted(rows, key=lambda r: (-abs(r["p_diff"]), r["term"]))
    ]
    ref_sorted = sorted(top_ref, key=lambda r: (-abs(r[3]), r[0]))
    assert got == ref_sorted
    assert rows[0]["kl_ab"] == kl_ab_ref
    assert rows[0]["kl_ba"] == kl_ba_ref


def _python_psi():
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    ).to_pylist()
    rows = [
        (int(_round_half_up0(r["o_totalprice"] * 100)), r["o_orderkey"] % 2)
        for r in tbl
    ]
    a = sorted(c for c, h in rows if h == 0)
    n = len(a)
    edges = [a[(i * n + 9) // 10 - 1] for i in range(1, 10)]
    ca, cb = Counter(), Counter()
    for c, h in rows:
        bucket = sum(1 for e in edges if c > e)
        (ca if h == 0 else cb)[bucket] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    out = {}
    psi = Decimal(0)
    for bucket in set(ca) | set(cb):
        pa = (ca[bucket] + 1) / (na + 10)
        pb = (cb[bucket] + 1) / (nb + 10)
        term = _round_dec((pa - pb) * math.log(pa / pb), 12)
        psi += term
        out[bucket] = (
            ca[bucket], cb[bucket], _round_half_up(pa - pb, 9),
            float(term.quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)),
        )
    return out, _round_half_up(float(psi), 6)


def test_psi_matches_python_reference(spark):
    rows = QUERIES["psi_price_drift"](spark, SF_DIR).collect()
    ref, psi_ref = _python_psi()
    got = {
        r["bucket"]: (r["c_a"], r["c_b"], r["p_diff"], r["psi_contrib"])
        for r in rows
    }
    assert got == ref
    assert all(r["psi"] == psi_ref for r in rows)


def test_hll_rolling_tracks_exact_and_merges_correctly(spark):
    """The merged 7-day estimate must (a) track the exact sliding
    distinct within HLL error (p=7 -> ~9% rse; assert 25%), and (b)
    EQUAL the estimate of a sketch built directly on the window's rows
    — the merge-equals-union semilattice property."""
    from federated_gcn_spark.operators.sketch import hll_replay, hll_rolling_estimate

    # cardinalities well past the raw estimator's small-range bias zone
    rows = [(uid, day) for day in range(10) for uid in range(day * 700, day * 700 + 2000)]
    df = spark.createDataFrame(rows, "user_id long, day long")
    est = {
        r["day"]: r["est_distinct"]
        for r in hll_rolling_estimate(df, "user_id", "day").collect()
    }
    by_day = defaultdict(set)
    for uid, day in rows:
        by_day[day].add(uid)
    for day in range(10):
        exact = len(set().union(*(by_day[d] for d in range(max(0, day - 6), day + 1))))
        assert abs(est[day] - exact) / exact < 0.25, (day, est[day], exact)
    # merge == direct-union sketch, checked on the last window
    direct = spark.createDataFrame(
        [(uid, 1) for uid, day in rows if 3 <= day <= 9], "user_id long, g int"
    )
    direct_est = hll_replay(direct, "user_id", "g").collect()[0]["est_distinct"]
    assert est[9] == direct_est


def _python_theil_sen():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT)
            FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"""
    ).fetchall()
    con.close()
    days = sorted(rows)
    slopes = sorted(
        (days[j][1] - days[i][1]) / float(days[j][0] - days[i][0])
        for i in range(len(days))
        for j in range(i + 1, len(days))
    )
    n_days = len(days)
    n_pairs = len(slopes)
    slope = slopes[(n_pairs + 1) // 2 - 1]
    resid = sorted(r - slope * d for d, r in days)
    intercept = resid[(n_days + 1) // 2 - 1]
    return (n_days, n_pairs, _round_half_up(slope / 100, 6),
            _round_half_up(intercept / 100, 2))


def test_theil_sen_matches_python_reference(spark):
    r = QUERIES["theil_sen_trend"](spark, SF_DIR).collect()[0]
    assert (r["n_days"], r["n_pairs"], r["slope_per_day"], r["intercept"]) \
        == _python_theil_sen()


def test_hybrid_rrf_consistent_with_parents(spark):
    """Fusion must preserve the parents' rankings: every fused row's
    ranks agree with independently recomputed parent rank lists, and the
    RRF score is exactly the reciprocal-rank sum of those ranks."""
    from federated_gcn_spark.plans.queries import bm25_search, similarity_topk

    b = bm25_search(spark, SF_DIR).collect()
    c = similarity_topk(spark, SF_DIR).collect()
    rb = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(b, key=lambda r: (-r["bm25"], r["doc_id"]))
        )
    }
    rc = {
        r["vec_id"]: i + 1
        for i, r in enumerate(
            sorted(c, key=lambda r: (-r["cos_sim"], r["vec_id"]))
        )
    }
    rows = QUERIES["hybrid_search_rrf"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["bm25_rank"] == rb.get(r["doc_id"])
        assert r["cos_rank"] == rc.get(r["doc_id"])
        expected = (1 / (60 + rb[r["doc_id"]]) if r["doc_id"] in rb else 0) + (
            1 / (60 + rc[r["doc_id"]]) if r["doc_id"] in rc else 0
        )
        assert abs(r["rrf"] - expected) < 1e-9
    # fused order is by rrf desc then doc_id
    vals = [(-r["rrf"], r["doc_id"]) for r in rows]
    assert vals == sorted(vals)


def test_audience_venn_partitions_customers(spark):
    rows = QUERIES["audience_venn"](spark, SF_DIR).collect()
    tbl = pq.read_table(f"{SF_DIR}/customer.parquet", columns=["c_custkey"])
    assert sum(r["n_customers"] for r in rows) == tbl.num_rows
    masks = {(r["in_building"], r["in_rich"], r["in_urgent"]) for r in rows}
    assert len(masks) == len(rows)  # regions are disjoint
    assert masks <= {(a, b, c) for a in (0, 1) for b in (0, 1) for c in (0, 1)}


def _python_assortativity():
    import duckdb

    con = duckdb.connect()
    edges = con.execute(
        f"SELECT DISTINCT l_suppkey, l_partkey FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    ).fetchall()
    con.close()
    ds, dp = Counter(), Counter()
    for s, p in edges:
        ds[s] += 1
        dp[p] += 1
    xs = [(ds[s], dp[p]) for s, p in edges]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    r = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    return n, _round_half_up(r, 6)


def test_assortativity_matches_python_reference(spark):
    row = QUERIES["degree_assortativity"](spark, SF_DIR).collect()[0]
    n, r = _python_assortativity()
    assert row["n_edges"] == n
    assert abs(row["assortativity"] - r) < 1e-6


def _python_gini():
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    ).to_pylist()
    spend = Counter()
    for r in tbl:
        spend[r["o_custkey"]] += int(_round_half_up0(r["o_totalprice"] * 100))
    xs = sorted(spend.values())
    n = len(xs)
    total = sum(xs)
    wrs = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2 * wrs / (n * total) - (n + 1) / n
    return n, _round_half_up(total / 100, 2), _round_half_up(gini, 6)


def test_gini_matches_python_reference(spark):
    r = QUERIES["gini_customer_spend"](spark, SF_DIR).collect()[0]
    n, total, gini = _python_gini()
    assert r["n_customers"] == n
    assert r["total_spend"] == total
    assert abs(r["gini"] - gini) < 2e-6


def test_benford_chi2_and_counts(spark):
    rows = QUERIES["benford_first_digit"](spark, SF_DIR).collect()
    tbl = pq.read_table(f"{SF_DIR}/orders.parquet", columns=["o_totalprice"])
    cents = [int(_round_half_up0(v * 100)) for v in tbl["o_totalprice"].to_pylist()]
    obs = Counter(int(str(c)[0]) for c in cents)
    got = {r["digit"]: r["observed"] for r in rows}
    assert got == dict(obs)
    n = len(cents)
    ps = [0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
          0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
          0.05799194697768673, 0.05115252244738129, 0.04575749056067514]
    chi2 = sum(
        (obs.get(d, 0) - ps[d - 1] * n) ** 2 / (ps[d - 1] * n)
        for d in range(1, 10)
        if d in obs
    )
    assert all(abs(r["chi2"] - chi2) < 1e-3 for r in rows)
    # synthetic uniform prices must FAIL Benford hard (df=8 -> p<<0.001 at 26+)
    assert rows[0]["chi2"] > 100


def test_exact_dedup_clusters_match_union_find(spark):
    """Fixed-round label propagation must reach the TRUE components of
    the pair graph (union-find reference), i.e. the round count with
    converged-tail fill is sufficient, not just oracle-consistent."""
    from federated_gcn_spark.plans.queries_wave3 import set_similarity_pairs

    pairs = [
        (r["id_a"], r["id_b"])
        for r in set_similarity_pairs(spark, SF_DIR).collect()
    ]
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ref = Counter(find(x) for x in parent)
    got = {
        r["canonical_doc"]: r["n_members"]
        for r in QUERIES["exact_dedup_clusters"](spark, SF_DIR).collect()
    }
    assert got == dict(ref)


def test_hits_matches_python_power_iteration(spark):
    """4 max-normalized rounds must equal a plain python HITS on the
    same edges, and authority mass must concentrate on high-in-degree
    suppliers (top authority has the max in-degree)."""
    import duckdb

    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT l_orderkey, l_suppkey + 10000000
            FROM read_parquet('{SF_DIR}/lineitem.parquet')
            WHERE l_orderkey % 10 = 0"""
    ).fetchall()
    con.close()
    hub = {s: 1.0 for s, _ in edges}
    auth = {}
    for _ in range(4):
        auth = Counter()
        for s, d in edges:
            auth[d] += hub[s]
        mx = max(auth.values())
        auth = {d: _round_half_up(v / mx, 12) for d, v in auth.items()}
        hub = Counter()
        for s, d in edges:
            hub[s] += auth[d]
        mx = max(hub.values())
        hub = {s: _round_half_up(v / mx, 12) for s, v in hub.items()}
    top = sorted(auth.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["id"], r["authority"])
        for r in QUERIES["hits_authorities"](spark, SF_DIR).collect()
    ]
    assert got == [(d, _round_half_up(v, 9)) for d, v in top]
    indeg = Counter(d for _, d in edges)
    assert indeg[got[0][0]] == max(indeg.values())


def test_corpus_health_report_invariants(spark):
    rows = QUERIES["corpus_health_report"](spark, SF_DIR).collect()
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id"])
    assert sum(r["n_docs"] for r in rows) == tbl.num_rows
    for r in rows:
        assert 0 <= r["dup_rate"] <= 1
        assert 0 <= r["avg_quality"] <= 1
        assert r["dup_docs"] <= r["n_docs"]
        assert r["total_tokens"] >= r["n_docs"]  # every non-empty doc has tokens


def test_adaboost_matches_python_reference(spark):
    """Full python AdaBoost replay (exact Fraction-free decimal weights)
    must reproduce the trace: chosen stumps, error rates, alphas."""
    from federated_gcn_spark.plans.queries_wave4 import _ADA_GRID, _ADA_ROUNDS

    docs = _docs()
    tbl = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "n_chars"]
    ).to_pylist()
    chars = {r["doc_id"]: r["n_chars"] for r in tbl}
    sws = {"the", "a", "of", "and", "to", "in", "is", "it"}
    rows = []
    for doc_id, lang, toks in docs:
        rows.append(
            (
                1 if lang == "en" else -1,
                len(toks),
                chars[doc_id],
                sum(1 for t in toks if t in sws),
            )
        )
    w = [Decimal(1) for _ in rows]
    got_trace = []
    for rnd in range(1, _ADA_ROUNDS + 1):
        best = None
        for fid, thr in _ADA_GRID:
            for pol in (1, -1):
                err = sum(
                    wi
                    for wi, (y, f1, f2, f3) in zip(w, rows)
                    if (pol if (f1, f2, f3)[fid - 1] <= thr else -pol) != y
                )
                key = (err, fid, thr, pol)
                if best is None or key < best:
                    best = key
        err, fid, thr, pol = best
        e = float(err) / float(sum(w))
        alpha = _round_half_up(0.5 * math.log((1 - e) / e), 9)
        fw = _round_half_up(math.exp(alpha), 9)
        fc = _round_half_up(math.exp(-alpha), 9)
        w = [
            Decimal(
                repr(
                    _round_half_up(
                        float(wi)
                        * (
                            fw
                            if (pol if (f1, f2, f3)[fid - 1] <= thr else -pol)
                            != y
                            else fc
                        ),
                        12,
                    )
                )
            )
            for wi, (y, f1, f2, f3) in zip(w, rows)
        ]
        got_trace.append((rnd, fid, thr, pol, _round_half_up(e, 6), alpha))
    spark_trace = [
        (r["round"], r["fid"], r["thr"], r["pol"], r["err_rate"], r["alpha"])
        for r in QUERIES["adaboost_stumps"](spark, SF_DIR).collect()
    ]
    assert sorted(spark_trace) == got_trace
    # boosting sanity: every chosen stump beats random on the weighted set
    assert all(t[4] < 0.5 for t in got_trace)


def _daily_rev():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT)
            FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"""
    ).fetchall()
    con.close()
    return dict(rows)


def test_moving_median_matches_python(spark):
    daily = _daily_rev()
    got = {
        r["day"]: (r["n_days_in_window"], r["median_revenue"])
        for r in QUERIES["moving_median_revenue"](spark, SF_DIR).collect()
    }
    for day in daily:
        members = sorted(
            daily[d] for d in daily if day - 6 <= d <= day
        )
        med = members[(len(members) + 1) // 2 - 1]
        assert got[day] == (len(members), _round_half_up(med / 100, 2)), day


def test_mann_kendall_matches_python(spark):
    daily = sorted(_daily_rev().items())
    n = len(daily)
    s = sum(
        (1 if daily[j][1] > daily[i][1] else -1 if daily[j][1] < daily[i][1] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    tie_counts = Counter(v for _, v in daily)
    tie_term = sum(c * (c - 1) * (2 * c + 5) for c in tie_counts.values() if c > 1)
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    s_adj = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
    z = _round_half_up(s_adj / math.sqrt(var18 / 18), 6)
    r = QUERIES["mann_kendall_trend"](spark, SF_DIR).collect()[0]
    assert (r["s_stat"], r["n"], r["var18"], r["z_score"]) == (s, n, var18, z)


def test_autocorrelation_matches_python(spark):
    daily = _daily_rev()
    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in QUERIES["revenue_autocorrelation"](spark, SF_DIR).collect()
    }
    for lag in range(1, 8):
        pairs = [
            (daily[d], daily[d + lag]) for d in daily if d + lag in daily
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        acf = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        assert got[lag] == (n, _round_half_up(acf, 6)), lag


def test_cusum_matches_python(spark):
    daily = sorted(_daily_rev().items())
    n = len(daily)
    total = sum(v for _, v in daily)
    best = None
    prefix = 0
    for i, (day, v) in enumerate(daily, start=1):
        prefix += v
        stat = n * prefix - i * total
        key = (-abs(stat), day)
        if best is None or key < best[0]:
            best = (key, day, stat)
    _, day, stat = best
    r = QUERIES["cusum_changepoint"](spark, SF_DIR).collect()[0]
    assert r["changepoint_day"] == day
    assert r["n_days"] == n
    assert r["direction"] == ("above_mean_run" if stat > 0 else "below_mean_run")
    assert abs(r["max_cusum"] - stat / (n * 100)) < 0.01


def test_weekday_profile_matches_python(spark):
    daily = _daily_rev()
    by_wd = defaultdict(list)
    for d, v in daily.items():
        by_wd[d % 7].append(v)
    total = sum(daily.values())
    n_total = len(daily)
    got = {
        r["weekday"]: (r["n_days"], r["avg_revenue"], r["seasonal_index"])
        for r in QUERIES["weekday_seasonal_profile"](spark, SF_DIR).collect()
    }
    for wd, vals in by_wd.items():
        mean_wd = sum(vals) / len(vals)
        assert got[wd] == (
            len(vals),
            _round_half_up(mean_wd / 100, 2),
            _round_half_up(mean_wd / (total / n_total), 6),
        ), wd


def test_ewma_matches_python(spark):
    daily = _daily_rev()
    got = {
        r["day"]: (r["n_members"], r["ewma_revenue"])
        for r in QUERIES["ewma_smoothed_revenue"](spark, SF_DIR).collect()
    }
    for day in daily:
        num = Decimal(0)
        den = Decimal(0)
        cnt = 0
        for off in range(20):
            d = day - off
            if d in daily:
                cnt += 1
                num += Decimal(repr(_round_half_up(daily[d] * 0.7 ** off, 6)))
                den += Decimal(repr(_round_half_up(0.7 ** off, 6)))
        ewma = _round_half_up(float(num) / float(den) / 100, 2)
        assert got[day] == (cnt, ewma), day


def _loglog_ols(points):
    n = len(points)
    xs = [Decimal(repr(_round_half_up(math.log(x), 9))) for x, _ in points]
    ys = [Decimal(repr(_round_half_up(math.log(y), 9))) for _, y in points]
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx = float(sum(a * a for a in xs))
    sxy = float(sum(a * b for a, b in zip(xs, ys)))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return n, _round_half_up(slope, 6), _round_half_up((sy - slope * sx) / n, 6)


def test_zipf_fit_matches_python(spark):
    docs = _docs()
    tf = Counter()
    for _, _, toks in docs:
        tf.update(toks)
    ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [(rank, freq) for rank, (_, freq) in enumerate(ranked, start=1)]
    n, slope, intercept = _loglog_ols(pts)
    r = QUERIES["zipf_exponent_fit"](spark, SF_DIR).collect()[0]
    assert (r["vocab_size"], r["zipf_slope"], r["log_intercept"]) == (
        n, slope, intercept,
    )


def test_heaps_fit_matches_python(spark):
    docs = sorted(_docs())
    seen = set()
    cum_toks = 0
    pts = []
    for _, _, toks in docs:
        cum_toks += len(toks)
        seen.update(toks)
        if seen:
            pts.append((cum_toks, len(seen)))
    n, beta, logk = _loglog_ols(pts)
    r = QUERIES["vocab_growth_heaps"](spark, SF_DIR).collect()[0]
    assert (r["n_points"], r["heaps_beta"], r["heaps_log_k"]) == (n, beta, logk)


def test_kaplan_meier_matches_python(spark):
    user_days = defaultdict(set)
    for uid, day in _event_user_days():
        user_days[uid].add(day)
    spans = {u: (min(d), max(d)) for u, d in user_days.items()}
    max_day = max(l for _, l in spans.values())
    obs = [
        (l - f, 1 if l < max_day else 0) for f, l in spans.values()
    ]
    n_users = len(obs)
    byd = defaultdict(lambda: [0, 0])
    for dur, ch in obs:
        byd[dur][0] += 1
        byd[dur][1] += ch
    left_before = 0
    cum_ln = Decimal(0)
    dead = False
    ref = {}
    for dur in sorted(byd):
        leaving, events = byd[dur]
        n_risk = n_users - left_before
        left_before += leaving
        if events == 0:
            continue
        if events >= n_risk:
            dead = True
        else:
            lnf = Decimal(
                repr(_round_half_up(math.log((n_risk - events) / n_risk), 12))
            )
            cum_ln += lnf
        ref[dur] = (
            n_risk,
            events,
            0.0 if dead else _round_half_up(math.exp(float(cum_ln)), 6),
        )
    got = {
        r["duration"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in QUERIES["kaplan_meier_churn"](spark, SF_DIR).collect()
    }
    assert got == ref
    # survival is non-increasing
    survs = [v[2] for _, v in sorted(got.items())]
    assert survs == sorted(survs, reverse=True)


def test_ks_two_sample_matches_python(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    ).to_pylist()
    a = sorted(
        int(_round_half_up0(r["o_totalprice"] * 100))
        for r in tbl
        if r["o_orderkey"] % 2 == 0
    )
    b = sorted(
        int(_round_half_up0(r["o_totalprice"] * 100))
        for r in tbl
        if r["o_orderkey"] % 2 == 1
    )
    n1, n2 = len(a), len(b)
    values = sorted(set(a) | set(b))
    import bisect

    best = None
    for v in values:
        cum1 = bisect.bisect_right(a, v)
        cum2 = bisect.bisect_right(b, v)
        d_scaled = abs(n2 * cum1 - n1 * cum2)
        key = (-d_scaled, v)
        if best is None or key < best[0]:
            best = (key, v, d_scaled)
    _, at, d_scaled = best
    d = d_scaled / (n1 * n2)
    r = QUERIES["ks_two_sample_price"](spark, SF_DIR).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["at_price"] == _round_half_up(at / 100, 2)
    assert r["d_stat"] == _round_half_up(d, 6)
    assert r["ks_lambda"] == _round_half_up(
        d * math.sqrt(n1 * n2 / (n1 + n2)), 6
    )


def test_spearman_matches_scipy_style_python(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_quantity", "l_extendedprice"]
    ).to_pylist()
    xs = [int(r["l_quantity"]) for r in tbl]
    ys = [int(_round_half_up0(r["l_extendedprice"] * 100)) for r in tbl]

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j) / 2  # average of ranks i+1..j
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    rho = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    r = QUERIES["spearman_qty_price"](spark, SF_DIR).collect()[0]
    assert r["n_rows"] == n
    assert abs(r["spearman_rho"] - rho) < 1e-6


def test_contingency_association_matches_python(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_returnflag", "l_linestatus"]
    ).to_pylist()
    ct = Counter((r["l_returnflag"], r["l_linestatus"]) for r in tbl)
    ca, cb = Counter(), Counter()
    for (a, b), c in ct.items():
        ca[a] += c
        cb[b] += c
    n = sum(ct.values())
    chi2 = Decimal(0)
    mi = Decimal(0)
    for (a, b), c in ct.items():
        exp = ca[a] * cb[b] / n
        chi2 += Decimal(repr(_round_half_up((c - exp) ** 2 / exp, 9)))
        mi += Decimal(
            repr(_round_half_up((c / n) * math.log(c * n / (ca[a] * cb[b])), 12))
        )
    r = QUERIES["contingency_association"](spark, SF_DIR).collect()[0]
    assert r["n_rows"] == n
    assert r["chi2"] == _round_half_up(float(chi2), 4)
    assert r["cramers_v"] == _round_half_up(
        math.sqrt(float(chi2) / (n * (min(len(ca), len(cb)) - 1))), 6
    )
    assert r["mutual_info_nats"] == _round_half_up(float(mi), 6)
    assert r["mutual_info_nats"] >= 0


def test_elasticity_matches_python(spark):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT p.p_brand, l.l_quantity,
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
            FROM read_parquet('{SF_DIR}/lineitem.parquet') l
            JOIN read_parquet('{SF_DIR}/part.parquet') p
              ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0"""
    ).fetchall()
    con.close()
    groups = defaultdict(list)
    for brand, q, cents in rows:
        x = Decimal(repr(_round_half_up(math.log(q), 9)))
        y = Decimal(repr(_round_half_up(math.log(cents / 100.0), 9)))
        groups[brand].append((x, y))
    got = {
        r["brand"]: (r["n_items"], r["elasticity_slope"])
        for r in QUERIES["price_elasticity_by_brand"](spark, SF_DIR).collect()
    }
    for brand, pts in groups.items():
        n = len(pts)
        sx = float(sum(x for x, _ in pts)); sy = float(sum(y for _, y in pts))
        sxx = float(sum(x * x for x, _ in pts))
        sxy = float(sum(x * y for x, y in pts))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[brand] == (n, _round_half_up(slope, 6)), brand


def test_negative_sampling_layout_invariant_and_flags(spark):
    """Hash draws must be layout-independent, every edge gets exactly 3
    slots, and collision flags are exact vs the true edge set."""
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(n):
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            return sorted(
                map(
                    tuple,
                    QUERIES["negative_sampling_table"](spark, SF_DIR).collect(),
                )
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)

    a = run(3)
    assert a == run(13)
    import duckdb

    con = duckdb.connect()
    edges = set(
        con.execute(
            f"""SELECT DISTINCT l_orderkey, l_suppkey
                FROM read_parquet('{SF_DIR}/lineitem.parquet')
                WHERE l_orderkey % 10 = 0"""
        ).fetchall()
    )
    con.close()
    per_edge = Counter(src for src, _, _, _ in a)
    assert all(v % 3 == 0 for v in per_edge.values())
    import pyarrow.parquet as _pq

    n_sup = _pq.read_metadata(f"{SF_DIR}/supplier.parquet").num_rows
    for src, slot, neg, is_col in a:
        assert is_col == (1 if (src, neg) in edges else 0)
        # sampled domain is the REAL key range 1..n (round-3 ADVICE fix:
        # bare pmod sampled 0..n-1, where 0 is never a vertex)
        assert 1 <= neg <= n_sup


def test_source_entropy_bounds(spark):
    rows = QUERIES["source_lang_entropy"](spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r["lang_entropy_nats"] <= math.log(5) + 1e-9
        assert r["n_langs"] <= 5


def test_burstiness_matches_python(spark):
    by_user = defaultdict(list)
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ns(ts) // 1000000000, event_id FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    con.close()
    for uid, sec, eid in rows:
        by_user[uid].append((sec, eid))
    gaps = []
    for evs in by_user.values():
        evs.sort()
        gaps.extend(b[0] - a[0] for a, b in zip(evs, evs[1:]))
    n = len(gaps)
    s1 = sum(gaps)
    s2 = sum(g * g for g in gaps)
    sd_scaled = math.sqrt(n * s2 - s1 * s1)
    r = QUERIES["interevent_burstiness"](spark, SF_DIR).collect()[0]
    assert r["n_gaps"] == n
    assert r["mean_gap_sec"] == _round_half_up(s1 / n, 4)
    assert r["poisson_rate_per_sec"] == _round_half_up(n / s1, 9)
    assert r["gap_cv"] == _round_half_up(sd_scaled / s1, 6)
    assert r["burstiness"] == _round_half_up(
        (sd_scaled - s1) / (sd_scaled + s1), 6
    )
    assert -1 <= r["burstiness"] <= 1


def test_runs_test_matches_python(spark):
    daily = sorted(_daily_rev().items())
    vals = sorted(v for _, v in daily)
    med = vals[(len(vals) + 1) // 2 - 1]
    signs = [(d, 1 if v > med else 0) for d, v in daily if v != med]
    r_count = sum(
        1
        for i, (_, s) in enumerate(signs)
        if i == 0 or signs[i - 1][1] != s
    )
    n1 = sum(s for _, s in signs)
    n2 = len(signs) - n1
    exp_r = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1.0))
    )
    r = QUERIES["runs_test_revenue"](spark, SF_DIR).collect()[0]
    assert (r["n_runs"], r["n_above"], r["n_below"]) == (r_count, n1, n2)
    assert r["expected_runs"] == _round_half_up(exp_r, 4)
    assert abs(r["z_score"] - (r_count - exp_r) / math.sqrt(var_r)) < 1e-5


def test_powerlaw_fit_matches_python(spark):
    import duckdb

    con = duckdb.connect()
    degs = [
        d
        for (d,) in con.execute(
            f"""SELECT COUNT(*) FROM (
                    SELECT DISTINCT l_suppkey, l_partkey
                    FROM read_parquet('{SF_DIR}/lineitem.parquet'))
                GROUP BY l_partkey"""
        ).fetchall()
    ]
    con.close()
    dmin = min(degs)
    s = sum(
        Decimal(repr(_round_half_up(math.log(d / (dmin - 0.5)), 12)))
        for d in degs
    )
    alpha = _round_half_up(1.0 + len(degs) / float(s), 6)
    r = QUERIES["degree_powerlaw_fit"](spark, SF_DIR).collect()[0]
    assert (r["n_vertices"], r["d_min"], r["powerlaw_alpha"]) == (
        len(degs), dmin, alpha,
    )


def test_kruskal_wallis_matches_scipy_formula(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderpriority", "o_totalprice"]
    ).to_pylist()
    data = [
        (r["o_orderpriority"], int(_round_half_up0(r["o_totalprice"] * 100)))
        for r in tbl
    ]
    vals = sorted(v for _, v in data)
    # average ranks
    from bisect import bisect_left, bisect_right

    def avg_rank(v):
        lo, hi = bisect_left(vals, v), bisect_right(vals, v)
        return (lo + 1 + hi) / 2

    groups = defaultdict(list)
    for g, v in data:
        groups[g].append(avg_rank(v))
    n = len(data)
    h = 12 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    tie_counts = Counter(v for _, v in data)
    tie_sum = sum(c ** 3 - c for c in tie_counts.values() if c > 1)
    h_corr = h / (1 - tie_sum / (n ** 3 - n))
    r = QUERIES["kruskal_wallis_priority"](spark, SF_DIR).collect()[0]
    assert r["n_groups"] == len(groups)
    assert r["n_rows"] == n
    assert abs(r["h_statistic"] - h_corr) < 1e-4


def test_mann_whitney_matches_python(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    ).to_pylist()
    data = [
        (r["o_orderkey"] % 2, int(_round_half_up0(r["o_totalprice"] * 100)))
        for r in tbl
    ]
    vals = sorted(v for _, v in data)
    from bisect import bisect_left, bisect_right

    def avg_rank(v):
        return (bisect_left(vals, v) + 1 + bisect_right(vals, v)) / 2

    r1 = sum(avg_rank(v) for g, v in data if g == 0)
    n1 = sum(1 for g, _ in data if g == 0)
    n2 = len(data) - n1
    u = r1 - n1 * (n1 + 1) / 2
    r = QUERIES["mann_whitney_halves"](spark, SF_DIR).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["u_statistic"] == _round_half_up(u, 1)
    assert r["rank_biserial"] == _round_half_up(2 * u / (n1 * n2) - 1, 6)


def test_wilcoxon_matches_python(spark):
    daily = _daily_rev()
    diffs = [
        daily[d + 7] - daily[d] for d in daily if d + 7 in daily
    ]
    nz = [d for d in diffs if d != 0]
    ads = sorted(abs(d) for d in nz)
    from bisect import bisect_left, bisect_right

    def avg_rank(v):
        return (bisect_left(ads, v) + 1 + bisect_right(ads, v)) / 2

    n = len(nz)
    w_plus = sum(avg_rank(abs(d)) for d in nz if d > 0)
    tie_counts = Counter(ads)
    tie_sum = sum(c ** 3 - c for c in tie_counts.values() if c > 1)
    var = n * (n + 1) * (2 * n + 1) / 24 - tie_sum / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    r = QUERIES["wilcoxon_wow_revenue"](spark, SF_DIR).collect()[0]
    assert r["n_pairs"] == n
    assert r["w_plus"] == _round_half_up(w_plus, 1)
    assert abs(r["z_score"] - z) < 1e-5


def _halves_cents():
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    ).to_pylist()
    a = [int(_round_half_up0(r["o_totalprice"] * 100)) for r in tbl
         if r["o_orderkey"] % 2 == 0]
    b = [int(_round_half_up0(r["o_totalprice"] * 100)) for r in tbl
         if r["o_orderkey"] % 2 == 1]
    return a, b


def test_wasserstein_matches_python(spark):
    a, b = _halves_cents()
    n1, n2 = len(a), len(b)
    values = sorted(set(a) | set(b))
    from bisect import bisect_right

    a_s, b_s = sorted(a), sorted(b)
    w_scaled = 0
    for v, nxt in zip(values, values[1:]):
        cum1 = bisect_right(a_s, v)
        cum2 = bisect_right(b_s, v)
        w_scaled += abs(n2 * cum1 - n1 * cum2) * (nxt - v)
    r = QUERIES["wasserstein_price_drift"](spark, SF_DIR).collect()[0]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["wasserstein_dollars"] == _round_half_up(
        w_scaled / (n1 * n2) / 100, 4
    )
    # sanity: equals scipy-style mean |F1-F2| integral
    assert r["wasserstein_dollars"] > 0


def test_hellinger_matches_python(spark):
    a, b = _halves_cents()
    n1, n2 = len(a), len(b)
    ca = Counter(v // 100000 for v in a)
    cb = Counter(v // 100000 for v in b)
    buckets = set(ca) | set(cb)
    bc = sum(
        Decimal(repr(_round_half_up(
            math.sqrt((ca.get(k, 0) / n1) * (cb.get(k, 0) / n2)), 12
        )))
        for k in buckets
    )
    r = QUERIES["hellinger_price_drift"](spark, SF_DIR).collect()[0]
    assert r["n_buckets"] == len(buckets)
    assert r["bhattacharyya"] == _round_half_up(float(bc), 6)
    assert r["hellinger"] == _round_half_up(
        math.sqrt(1 - min(float(bc), 1.0)), 6
    )
    assert 0 <= r["hellinger"] <= 1


def test_rolling_correlation_matches_python(spark):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT),
                   COUNT(*)
            FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"""
    ).fetchall()
    con.close()
    daily = {d: (r, n) for d, r, n in rows}
    got = {
        r["day"]: (r["n_days_in_window"], r["rolling_corr"])
        for r in QUERIES["rolling_correlation_revenue_orders"](
            spark, SF_DIR
        ).collect()
    }
    for day in daily:
        pts = [daily[d] for d in daily if day - 29 <= d <= day]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx == 0 or vy == 0:
            expected = None
        else:
            expected = _round_half_up(
                (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)), 6
            )
        assert got[day] == (n, expected), day


def test_odds_ratio_matches_python(spark):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT c.c_mktsegment = 'BUILDING',
                   MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END)
            FROM read_parquet('{SF_DIR}/customer.parquet') c
            JOIN read_parquet('{SF_DIR}/orders.parquet') o
              ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, 1"""
    ).fetchall()
    con.close()
    a = sum(1 for e, y in rows if e and y)
    b = sum(1 for e, y in rows if e and not y)
    c_ = sum(1 for e, y in rows if not e and y)
    d = sum(1 for e, y in rows if not e and not y)
    orr = a * d / (b * c_)
    se = math.sqrt(1 / a + 1 / b + 1 / c_ + 1 / d)
    r = QUERIES["odds_ratio_urgent_building"](spark, SF_DIR).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (a, b, c_, d)
    assert r["odds_ratio"] == _round_half_up(orr, 6)
    assert r["relative_risk"] == _round_half_up(
        (a / (a + b)) / (c_ / (c_ + d)), 6
    )
    assert abs(r["or_ci_low"] - math.exp(math.log(orr) - 1.959964 * se)) < 1e-5
    assert abs(r["or_ci_high"] - math.exp(math.log(orr) + 1.959964 * se)) < 1e-5
    assert r["or_ci_low"] <= r["odds_ratio"] <= r["or_ci_high"]


def test_gains_lift_invariants(spark):
    rows = sorted(
        QUERIES["gains_lift_table"](spark, SF_DIR).collect(),
        key=lambda r: -r["score_decile"],
    )
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["lang"])
    n_all = tbl.num_rows
    pos_all = sum(1 for v in tbl["lang"].to_pylist() if v == "en")
    assert sum(r["n_docs"] for r in rows) == n_all
    assert sum(r["n_pos"] for r in rows) == pos_all
    # cumulative gain is non-decreasing from the top decile down and ends at 1
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-9
    # each decile holds roughly a tenth of the population (value-domain
    # edges can only cut between distinct scores)
    for r in rows:
        assert r["n_docs"] > 0
    # lift is rate / base rate
    for r in rows:
        assert abs(
            r["lift"] - r["positive_rate"] / (pos_all / n_all)
        ) < 1e-4


def test_rfm_matches_python(spark):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o_custkey,
                   date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE)
                        FROM read_parquet('{SF_DIR}/orders.parquet'))),
                   COUNT(*),
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT)
            FROM read_parquet('{SF_DIR}/orders.parquet')
            GROUP BY o_custkey"""
    ).fetchall()
    con.close()
    custs = [(r, f, m) for _, r, f, m in rows]
    n = len(custs)

    def edges(vals):
        sv = sorted(vals)
        return [sv[-(-i * n // 5) - 1] for i in range(1, 5)]

    re_, fe, me = (
        edges([r for r, _, _ in custs]),
        edges([f for _, f, _ in custs]),
        edges([m for _, _, m in custs]),
    )
    seg = defaultdict(lambda: [0, 0])
    for r, f, m in custs:
        rs = 5 - sum(1 for e in re_ if r > e)
        fs = 1 + sum(1 for e in fe if f > e)
        ms = 1 + sum(1 for e in me if m > e)
        seg[(rs, fs, ms)][0] += 1
        seg[(rs, fs, ms)][1] += m
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): (
            r["n_customers"], r["avg_spend_cents"],
        )
        for r in QUERIES["rfm_segmentation"](spark, SF_DIR).collect()
    }
    assert got == {
        k: (c, total // c) for k, (c, total) in seg.items()
    }


def test_cohort_ltv_matches_python(spark):
    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    ).to_pylist()
    rows = [
        (
            r["o_custkey"],
            r["o_orderdate"].year * 12 + r["o_orderdate"].month - 1,
            int(_round_half_up0(r["o_totalprice"] * 100)),
        )
        for r in tbl
    ]
    first = {}
    for ck, ym, _ in rows:
        first[ck] = min(first.get(ck, ym), ym)
    sizes = Counter(first.values())
    spend = defaultdict(int)
    for ck, ym, cents in rows:
        spend[(first[ck], ym - first[ck])] += cents
    ref = {}
    for cohort in sizes:
        cum = 0
        for age in sorted(a for c, a in spend if c == cohort):
            cum += spend[(cohort, age)]
            ref[(cohort, age)] = (sizes[cohort], cum // sizes[cohort])
    got = {
        (r["cohort_month"], r["age_months"]): (
            r["n_customers"], r["ltv_per_customer_cents"],
        )
        for r in QUERIES["cohort_ltv_curve"](spark, SF_DIR).collect()
    }
    assert got == ref
    # LTV is non-decreasing with age within a cohort
    for cohort in sizes:
        ages = sorted(a for c, a in got if c == cohort)
        vals = [got[(cohort, a)][1] for a in ages]
        assert vals == sorted(vals)
