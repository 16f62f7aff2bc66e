"""barrier / rounds coverage.

The fast path rewraps through Spark's private ``internalCreateDataFrame``
(barrier.py); a Spark upgrade could remove it, flipping every iterative
algorithm onto the public fallback. These tests pin that the fallback
(and the last-resort plain checkpoint) stay CORRECT, so the flip would
be a perf event, not a wrong-answer event — that the fallback really is
exercised when forced, and that each failed strategy is logged by name.
They also pin the round loop's contract: an until-converged loop raises
at its cap, a bounded one reports it, and rounds label their jobs.
"""

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from federated_gcn_spark import barrier as bmod
from federated_gcn_spark.barrier import (
    NotConverged,
    _rewrap_public,
    barrier,
    rounds,
)
from federated_gcn_spark.graph import Graph
from federated_gcn_spark.graph.bfs import bfs_distances
from federated_gcn_spark.graph.components import connected_components
from federated_gcn_spark.graph.kcore import core_numbers
from federated_gcn_spark.graph.pagerank import pagerank
from federated_gcn_spark.graph.split import spanning_forest


def _toy_graph(spark):
    # two components: a 5-cycle and a 3-path (ids 100..102)
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(100, 101), (101, 102)]
    return Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))


def _path_graph(spark, n):
    edges = [(i, i + 1) for i in range(n - 1)]
    return Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))


def _rewrap_gone(ck, sess):
    raise RuntimeError("forced")


def _failed_strategies(caplog):
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == bmod.__name__ and "_rewrap_gone failed" in r.getMessage()
    ]


def test_public_rewrap_preserves_rows_and_schema(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    ck = df.localCheckpoint(eager=True)
    out = _rewrap_public(ck, spark)
    assert out.schema == df.schema
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )


def test_iterative_algorithms_converge_on_public_fallback(
    spark, monkeypatch, caplog
):
    """Make the internal rewrap fail, so the public-API branch runs, and
    assert components + pagerank produce bit-identical results to the
    default (internal) path, with the failure logged by name."""
    g = _toy_graph(spark)
    cc_fast = sorted(map(tuple, connected_components(g).collect()))
    pr_fast = {
        r["id"]: round(r["rank"], 12)
        for r in pagerank(g, max_iterations=8).collect()
    }

    calls = {"n": 0}

    def counting_public(ck, sess):
        calls["n"] += 1
        return _rewrap_public(ck, sess)

    monkeypatch.setattr(
        bmod, "_REWRAP_STRATEGIES", (_rewrap_gone, counting_public)
    )
    caplog.set_level(logging.WARNING, logger=bmod.__name__)
    cc_slow = sorted(map(tuple, connected_components(g).collect()))
    pr_slow = {
        r["id"]: round(r["rank"], 12)
        for r in pagerank(g, max_iterations=8).collect()
    }
    assert calls["n"] > 0, "fallback was never exercised"
    assert len(_failed_strategies(caplog)) == calls["n"]
    assert cc_slow == cc_fast
    assert pr_slow == pr_fast
    # sanity: ranks form a distribution
    assert abs(sum(pr_slow.values()) - 1.0) < 1e-9


def test_last_resort_plain_checkpoint_is_correct(spark, monkeypatch, caplog):
    """With every rewrap strategy failing, barrier degrades to the plain
    checkpoint — correct rows, stats regrowth only — and says so."""
    monkeypatch.setattr(bmod, "_REWRAP_STRATEGIES", (_rewrap_gone,))
    caplog.set_level(logging.WARNING, logger=bmod.__name__)
    df = spark.range(50).selectExpr("id", "id % 7 AS k")
    out, (n,) = barrier(df, F.count(F.lit(1)))
    assert n == 50
    assert _failed_strategies(caplog)
    assert out.count() == 50
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in df.collect()
    )

    g = _toy_graph(spark)
    labels = connected_components(g)
    # 5-cycle collapses to one label, the 3-path to another
    comp = {}
    for r in labels.collect():
        comp.setdefault(r[1], set()).add(r[0])
    assert sorted(len(v) for v in comp.values()) == [3, 5]


def test_numpy_parity_on_fallback(spark, monkeypatch):
    """Pagerank on the public fallback still matches a dense NumPy power
    iteration (same update rule, dangling redistribution)."""
    monkeypatch.setattr(bmod, "_REWRAP_STRATEGIES", (_rewrap_public,))
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]  # 3 is dangling
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long"))
    got = {r["id"]: r["rank"] for r in pagerank(g, 0.85, 6).collect()}

    n = 4
    adj = {0: [1], 1: [2], 2: [0, 3], 3: []}
    r = np.full(n, 1.0 / n)
    for _ in range(6):
        dangling = sum(r[v] for v in range(n) if not adj[v])
        nxt = np.full(n, (1 - 0.85) / n + 0.85 * dangling / n)
        for u, outs in adj.items():
            for v in outs:
                nxt[v] += 0.85 * r[u] / len(outs)
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])


def test_barrier_count_probe_and_rows(spark):
    """barrier(df, count) returns the stats-cut frame AND its exact row
    count from one materializing action."""
    df = spark.range(57).selectExpr("id", "id % 7 AS v")
    out, (n,) = barrier(df, F.count(F.lit(1)))
    assert n == 57
    assert out.schema == df.schema
    assert sorted(r["id"] for r in out.collect()) == list(range(57))


def test_barrier_count_probe_on_rewrap_failure(spark, monkeypatch, caplog):
    """If every rewrap strategy fails, barrier(df, count) still returns a
    correct frame + count (the plain lazy checkpoint), and the warning
    names the failed strategy."""
    monkeypatch.setattr(bmod, "_REWRAP_STRATEGIES", (_rewrap_gone,))
    caplog.set_level(logging.WARNING, logger=bmod.__name__)
    df = spark.range(11)
    out, (n,) = barrier(df, F.count(F.lit(1)))
    assert n == 11
    assert sorted(r["id"] for r in out.collect()) == list(range(11))
    assert len(_failed_strategies(caplog)) == 1


def _jobs_in_group(spark, group, fn):
    """Spark jobs that ``fn()`` ran, counted through the status tracker."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in zip(keys, outer):
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # tracker is fed async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_barrier_call_runs_one_job_per_upstream_exchange(spark):
    """Under AQE a lazy barrier still runs every upstream exchange at the
    call; a probe adds its own exchange and result stage. Each case builds
    fresh frames: a frame whose exchanges already ran reuses them."""

    def frames():
        base = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
        return base, base.groupBy("k").agg(F.sum("v").alias("s"))

    cases = {
        "narrow": lambda base, agg: barrier(base.where("v > 3")),
        "aggregate": lambda base, agg: barrier(agg),
        "aggregate_joined_back": lambda base, agg: barrier(base.join(agg, "k")),
        "probed_aggregate": lambda base, agg: barrier(agg, F.count("*")),
    }
    got = {
        name: _jobs_in_group(spark, f"barrier-jobs-{name}", lambda: fn(*frames()))
        for name, fn in cases.items()
    }
    assert got == {
        "narrow": 0,
        "aggregate": 1,
        "aggregate_joined_back": 2,
        "probed_aggregate": 3,
    }


def test_luby_coloring_parity_fixed_reference(spark):
    """Pin luby_coloring's exact output on a toy graph: the single
    count-probed barrier round restructure (r11) must not move any vertex's
    color (the SQL oracle replays priorities round by round)."""
    from federated_gcn_spark.graph.coloring import luby_coloring

    g = _toy_graph(spark)
    colored = {
        r["id"]: r["color"]
        for r in luby_coloring(
            g, n_colors=4, rounds_per_color=5, seed=42
        ).collect()
    }
    assert colored == {
        0: 0, 1: 1, 2: 0, 3: 2, 4: 1, 100: 0, 101: 1, 102: 0,
    }
    # and it is a proper coloring
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(100, 101), (101, 102)]
    assert all(colored[a] != colored[b] for a, b in edges)


def test_capped_components_raise_not_converged(spark):
    """An until-converged loop never returns a partial answer at its cap."""
    stats = {}
    with pytest.raises(NotConverged) as err:
        connected_components(_path_graph(spark, 8), max_iterations=1, stats=stats)
    assert err.value.name == "graph.components.connected_components"
    assert err.value.max_rounds == 1
    assert stats == {"iterations": 1, "converged": False}


@pytest.mark.parametrize(
    "name, run",
    [
        ("graph.kcore.core_numbers",
         lambda g: core_numbers(g, max_iterations=1)),
        ("graph.bfs.bfs_distances", lambda g: bfs_distances(g, 0, max_hops=2)),
        ("graph.split.spanning_forest", lambda g: spanning_forest(g, max_rounds=1)),
    ],
)
def test_capped_fixpoints_raise_not_converged(spark, name, run):
    with pytest.raises(NotConverged) as err:
        run(_path_graph(spark, 8))
    assert err.value.name == name


def test_capped_label_propagation_reports_not_converged(spark):
    """LPA's cap is part of its answer: a capped run returns the same
    labelling as before and flags it in stats instead of raising."""
    from federated_gcn_spark.graph.labelprop import label_propagation

    g = _path_graph(spark, 8)
    capped = {}
    got = {
        r["id"]: r["community"]
        for r in label_propagation(g, max_iterations=1, stats=capped).collect()
    }
    # one synchronous superstep with a self-vote, ties to the smaller
    # label: each vertex takes min(own, neighbors)
    assert got == {v: max(v - 1, 0) for v in range(8)}
    assert capped == {"iterations": 1, "converged": False}

    done = {}
    label_propagation(_toy_graph(spark), max_iterations=20, stats=done)
    assert done["converged"] is True
    assert done["iterations"] < 20


def test_rounds_label_jobs_and_restore(spark):
    """Each round sets the job description; the caller's comes back
    after a break, after exhaustion and after NotConverged."""
    sc = spark.sparkContext
    desc = "spark.job.description"
    sc.setLocalProperty(desc, "outer")
    try:
        seen = []
        for i in rounds("t.loop", 5):
            seen.append(sc.getLocalProperty(desc))
            if i == 3:
                break
        assert seen == ["t.loop round 1", "t.loop round 2", "t.loop round 3"]
        assert sc.getLocalProperty(desc) == "outer"

        stats = {}
        assert list(rounds("t.bounded", 2, bounded=True, stats=stats)) == [1, 2]
        assert stats == {"iterations": 2, "converged": False}
        assert sc.getLocalProperty(desc) == "outer"

        with pytest.raises(NotConverged):
            for _ in rounds("t.capped", 2):
                pass
        assert sc.getLocalProperty(desc) == "outer"
    finally:
        sc.setLocalProperty(desc, None)
