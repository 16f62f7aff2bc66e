"""One barrier and one round loop for driver-driven fixpoints.

Catalyst has no loop operator, so iterative algorithms (connected
components, Borůvka spanning forest, pagerank, random walks, pointer
jumping) re-enter the planner every superstep. ``localCheckpoint`` cuts
*lineage*, but since SPARK-39834 the resulting ``LogicalRDD`` carries the
origin plan's *statistics* forward. Size estimation multiplies child
sizes through joins, so a loop that joins the previous iteration's
checkpoint with itself SQUARES the carried ``sizeInBytes`` every
superstep: the estimate's bit-length doubles per iteration (measured:
15 → 29 → 56 → 111 → 220 bits per self-join jump), and after ~30
iterations the optimizer burns minutes in BigInteger multiplication
inside every stats-driven rule (join selection, runtime-filter
injection) — the driver, not the cluster, becomes the bottleneck, at ANY
data scale.

``barrier`` therefore takes a lazy ``localCheckpoint`` and re-wraps the
checkpointed RDD[InternalRow] in a fresh ``LogicalRDD`` WITHOUT origin
stats, so every superstep's plan starts from flat leaf estimates. The
zero-copy path goes through ``SparkSession.internalCreateDataFrame``
(``private[sql]``, but Scala access modifiers don't survive to bytecode,
so py4j can call it); if that internal API ever moves, the fallback
round-trips through the public ``createDataFrame(RDD[Row], schema)``
(correct, costs one extra row conversion per downstream pass), and
failing even that returns the plain checkpoint (correct, re-grows
stats). Each failed strategy is logged as a warning.

"Lazy" defers only the frame's final stage. Under AQE a DataFrame
becomes an RDD only after its query stages have run, so the call itself
runs one Spark job per upstream exchange (shuffle-map or broadcast
stage): none for a narrow frame, one for a ``groupBy().agg()``, two for
an aggregate joined back to its input. These jobs run outside any
``QueryExecution`` action, so a ``QueryExecutionListener`` never sees
them; they do carry the caller's job group and round label. The final
stage is checkpointed on first computation, inside whatever action
consumes the chain. Probe columns add the probe aggregate, whose
exchange and result stage are two more jobs (three in all for a probed
aggregate); the frame's final stage runs inside the first of them.
``tests/test_barrier.py`` pins these counts.

``rounds`` is the loop header: ``for i in rounds(name, cap): ...; if
done: break``. An until-converged loop (the default) that runs out of
rounds without a ``break`` raises :class:`NotConverged` — a capped
fixpoint never returns a partial answer quietly. ``bounded=True``
declares that the cap is part of the answer's definition (PageRank's
supersteps, a hop radius, Luby's round budget), so running out is a
normal exit. ``stats`` gets ``iterations`` and ``converged`` (left by
``break``); each round's Spark jobs carry the description
``"<name> round <i>"``, and the caller's description (never its job
group) is restored after the loop.
"""

from __future__ import annotations

import logging

from pyspark import SparkContext
from pyspark.sql import DataFrame

__all__ = ["barrier", "rounds", "NotConverged"]
_log = logging.getLogger(__name__)
_DESCRIPTION = "spark.job.description"


class NotConverged(RuntimeError):
    """An until-converged loop used all ``max_rounds`` without a fixpoint."""

    def __init__(self, name: str, max_rounds: int):
        super().__init__(f"{name} did not converge within {max_rounds} rounds")
        self.name = name
        self.max_rounds = max_rounds


def _rewrap_internal(ck: DataFrame, spark) -> DataFrame:
    """Zero-copy stats cut via ``internalCreateDataFrame`` (private[sql];
    callable from py4j because Scala access modifiers don't reach
    bytecode). May break on a Spark upgrade — hence the strategy list."""
    je = ck._jdf.queryExecution()
    jdf = spark._jsparkSession.internalCreateDataFrame(
        je.toRdd(), je.analyzed().schema(), False
    )
    return DataFrame(jdf, spark)


def _rewrap_public(ck: DataFrame, spark) -> DataFrame:
    """Public-API stats cut: round-trip the checkpointed RDD through
    ``createDataFrame(RDD[Row], schema)``. Same fresh-LogicalRDD effect,
    costs one extra InternalRow↔Row conversion per downstream pass."""
    jdf = spark._jsparkSession.createDataFrame(ck._jdf.rdd(), ck._jdf.schema())
    return DataFrame(jdf, spark)


# Tried in order; tests force the fallback by patching this list.
_REWRAP_STRATEGIES = (_rewrap_internal, _rewrap_public)


def _rewrap(ck: DataFrame) -> DataFrame:
    for strategy in _REWRAP_STRATEGIES:
        try:
            return strategy(ck, ck.sparkSession)
        except Exception as exc:
            _log.warning("barrier: rewrap strategy %s failed (%s)",
                         strategy.__name__, type(exc).__name__,
                         exc_info=_log.isEnabledFor(logging.DEBUG))
    _log.warning("barrier: no rewrap strategy left; stats re-grow per round")
    return ck


def barrier(df: DataFrame, *probe):
    """Cut lineage and carried statistics of ``df``: the lazily
    checkpointed frame, or ``(frame, row)`` with ``probe`` columns."""
    out = _rewrap(df.localCheckpoint(eager=False))
    if not probe:
        return out
    return out, out.agg(*probe).collect()[0]


def rounds(name: str, max_rounds: int, *, bounded: bool = False,
           stats: dict | None = None):
    """Yield 1..``max_rounds`` under an active SparkContext; see the
    module docstring."""
    sc = SparkContext._active_spark_context
    outer = sc.getLocalProperty(_DESCRIPTION)
    i, converged = 0, False
    try:
        for i in range(1, max_rounds + 1):
            sc.setLocalProperty(_DESCRIPTION, f"{name} round {i}")
            try:
                yield i
            except GeneratorExit:
                converged = True
                raise
        if not bounded:
            raise NotConverged(name, max_rounds)
    finally:
        if stats is not None:
            stats["iterations"] = i
            stats["converged"] = converged
        sc.setLocalProperty(_DESCRIPTION, outer)
