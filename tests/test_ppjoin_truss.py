"""Exact set-similarity join (prefix filter) and k-truss peeling against
pure-Python references."""

import itertools
import random

import pytest

from federated_gcn_spark.graph.truss import ktruss_trace
from federated_gcn_spark.operators.ppjoin import set_similarity_join


# ---------------------------------------------------------------------------
# set_similarity_join
# ---------------------------------------------------------------------------

def _brute_force_pairs(sets, t):
    out = {}
    for (ia, ea), (ib, eb) in itertools.combinations(sorted(sets.items()), 2):
        inter = len(ea & eb)
        union = len(ea | eb)
        if union and inter / union >= t:
            out[(ia, ib)] = (inter, len(ea), len(eb))
    return out


def _run_join(spark, sets, t):
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()],
        "id long, elems array<string>",
    )
    rows = set_similarity_join(df, "id", "elems", threshold=t).collect()
    return {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"]) for r in rows
    }


def test_ppjoin_hand_example(spark):
    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},   # J(1,2) = 3/5 = 0.6
        3: {"x", "y", "z"},        # disjoint from 1, 2
        4: {"x", "y", "z"},        # J(3,4) = 1.0
        5: {"a"},                  # too small for any 0.5 match vs 1/2
    }
    got = _run_join(spark, sets, 0.5)
    assert got == {(1, 2): (3, 4, 4), (3, 4): (3, 3, 3)}


def test_ppjoin_exactness_vs_brute_force(spark):
    """The prefix filter must lose NOTHING: distributed result ==
    all-pairs brute force on random sets, at two thresholds."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    sets = {
        i: set(rng.sample(vocab, rng.randint(3, 14))) for i in range(60)
    }
    # plant two near-dup pairs
    sets[100] = set(sets[3])
    sets[101] = set(sets[5]) | {"w0"}
    for t in (0.5, 0.8):
        assert _run_join(spark, sets, t) == _brute_force_pairs(sets, t)


def test_contract_exact_clones_is_closure_exact(spark):
    """Clone contraction + components + grp_n expansion must equal
    union-find over the uncontracted all-pairs join — including an
    isolated clone pair (no near-dup partner) and a clone group attached
    to a near-dup neighbor."""
    from federated_gcn_spark.operators.ppjoin import contract_exact_clones

    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "d"},   # exact clone of 1
        3: {"a", "b", "c", "e"},   # near-dup of the {1,2} set (J=0.6)
        4: {"x", "y", "z"},
        5: {"x", "y", "z"},        # isolated clone pair: cluster {4,5}
        6: {"p", "q", "r"},        # true singleton: in no cluster
    }
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()],
        "id long, elems array<string>",
    )
    reps = contract_exact_clones(df, "id", "elems")
    got_reps = {
        r["id"]: (set(r["elems"]), r["grp_n"]) for r in reps.collect()
    }
    assert got_reps == {
        1: ({"a", "b", "c", "d"}, 2),
        3: ({"a", "b", "c", "e"}, 1),
        4: ({"x", "y", "z"}, 2),
        6: ({"p", "q", "r"}, 1),
    }
    # contracted join emits ONE pair for the {1,2}~3 cluster (not 2+1)
    pairs = set_similarity_join(
        reps.select("id", "elems"), "id", "elems", threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}
    # reference: union-find over the brute-force uncontracted pairs
    ref_pairs = _brute_force_pairs(sets, 0.5)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in ref_pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    ref = Counter(find(x) for x in parent)
    # expand contracted clusters: pair components + isolated clone groups
    comp = {1: [1, 3], 4: [4]}  # canonical -> member reps (from the join)
    got = {
        c: sum(got_reps[m][1] for m in members) for c, members in comp.items()
    }
    assert got == dict(ref)


def test_ppjoin_threshold_validation(spark):
    df = spark.createDataFrame([(1, ["a"])], "id long, elems array<string>")
    with pytest.raises(ValueError):
        set_similarity_join(df, "id", "elems", threshold=0.0)


def test_ppjoin_max_pairs_guard_fails_fast_on_high_duplication(spark):
    """A duplication-heavy corpus must abort with the bounded-twin
    pointer BEFORE the quadratic shuffle: 200 clones alone imply
    C(200,2) = 19900 pairs > max_pairs=100."""
    from federated_gcn_spark.operators.ppjoin import PairListOverflowError

    rows = [(i, ["a", "b", "c"]) for i in range(200)]
    rows += [(1000, ["x", "y"]), (1001, ["x", "z"])]
    df = spark.createDataFrame(rows, "id long, elems array<string>")
    with pytest.raises(PairListOverflowError) as exc:
        set_similarity_join(df, "id", "elems", threshold=0.5, max_pairs=100)
    msg = str(exc.value)
    assert "set_similarity_topk" in msg and "set_similarity_counts" in msg
    assert "19900" in msg
    # explicit opt-out emits the full contract output
    n = set_similarity_join(
        df, "id", "elems", threshold=0.9, max_pairs=None
    ).count()
    assert n == 19900
    # validation: the cap itself must be positive
    with pytest.raises(ValueError):
        set_similarity_join(df, "id", "elems", threshold=0.5, max_pairs=0)


def test_ppjoin_guard_trips_on_int64_wrapped_bound():
    """If ANSI is off and the bigint clone-pair SUM wraps negative, the
    guard must still trip — a wrapped bound means the true bound is
    astronomically over any cap (round-8 advice)."""
    from federated_gcn_spark.operators.ppjoin import _guard_tripped

    assert _guard_tripped(101, 100)
    assert not _guard_tripped(100, 100)
    assert not _guard_tripped(0, 100)
    # int64 wrap: true total ~9.3e18 pairs showed up as a negative sum
    assert _guard_tripped(-9223372036854775808, 10_000_000)
    assert _guard_tripped(-1, 10_000_000)


def test_ppjoin_default_guard_leaves_output_unchanged(spark):
    """With the default cap the guard passes silently and the rows are
    bit-identical to the explicit opt-out plan."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    sets = {i: set(rng.sample(vocab, rng.randint(3, 10))) for i in range(40)}
    sets[50] = set(sets[2])  # one clone group of 2: bound 1 <= default cap
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()],
        "id long, elems array<string>",
    )

    def snap(**kw):
        return sorted(
            tuple(r) for r in set_similarity_join(
                df, "id", "elems", threshold=0.5, **kw
            ).collect()
        )

    assert snap() == snap(max_pairs=None)


# ---------------------------------------------------------------------------
# k-truss
# ---------------------------------------------------------------------------

def _py_ktruss(edges, k):
    """Reference peel: recompute supports, drop, repeat."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        supp = {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }
        keep = {e for e in es if supp[e] >= k - 2}
        if keep == es:
            return es
        es = keep


def _truss_graph():
    """A 5-clique, a triangle glued to it by one vertex, a pendant path."""
    clique = list(itertools.combinations(range(5), 2))
    return clique + [(4, 10), (4, 11), (10, 11), (11, 20), (20, 21)]


def _final_size(spark, df, k):
    """The converged tail of the fixed-round trace: the k-truss's size."""
    rows = ktruss_trace(spark, df, k, 12).collect()
    return max(rows, key=lambda r: r["round"])["n_edges"]


@pytest.mark.parametrize("k", [3, 4, 5])
def test_k_truss_matches_python_peel(spark, k):
    edges = _truss_graph()
    df = spark.createDataFrame(edges, "src long, dst long")
    assert _final_size(spark, df, k) == len(_py_ktruss(edges, k))


def test_k_truss_random_graph_matches_python(spark):
    rng = random.Random(11)
    edges = list(
        {
            (min(u, v), max(u, v))
            for u, v in (
                (rng.randrange(30), rng.randrange(30)) for _ in range(140)
            )
            if u != v
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (3, 4):
        assert _final_size(spark, df, k) == len(_py_ktruss(edges, k))


def test_ktruss_trace_fill_matches_early_exit(spark):
    """Fixed-round trace tail == the early-exit Python peel's fixpoint,
    trace nonincreasing."""
    edges = _truss_graph()
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = sorted(
        (r["round"], r["n_edges"])
        for r in ktruss_trace(spark, df, 4, 6).collect()
    )
    sizes = [n for _, n in rows]
    assert len(sizes) == 7
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    assert sizes[-1] == len(_py_ktruss(edges, 4))


def test_ktruss_k_validation(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        ktruss_trace(spark, df, 2, 3)
