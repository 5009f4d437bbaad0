"""The loop shell of the iterative operators: lineage truncation, block
release, the one-pass undirected edge set, and the round loop that ties
them together.

Every operator that materializes its state each round (connected
components, k-core, label propagation, the IVF Lloyd loop) runs through
:func:`iterate`, so the checkpoint -> probe -> release order lives in one
place.  Loops that materialize nothing per round (BFS hops, kmeans_cells,
the graph-ANN hops, pagerank's fixed unroll) stay lazily composed: the
shell would add a job to each of their rounds.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def checkpoint(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eager lineage truncation, so a loop's plan does not grow with its
    rounds (the classic iterative-Spark failure mode).

    Default: ``localCheckpoint`` — executor-local blocks, no extra I/O, the
    right trade on a healthy cluster.  But those blocks die with their
    executor, and at 100 TB a 30-round star job WILL see executor loss —
    one lost block then fails the whole job with no recompute path (the
    lineage was truncated).  Passing ``checkpoint_dir`` switches to a
    reliable ``checkpoint()`` into that directory (HDFS/S3 at cluster
    scale), making each round restartable at the cost of one write+read
    per round.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint()


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind an eagerly ``localCheckpoint``'ed
    frame.

    ``DataFrame.unpersist`` only talks to the SQL cache manager, so the
    RDD blocks backing a localCheckpoint are never released by it — the
    leak an iterative operator would otherwise accumulate one state per
    round.  This reaches the ``LogicalRDD``'s internal RDD (guarded: a
    no-op on any plan that is not a checkpoint scan, and on reliable
    checkpoints, whose data lives in files).  Call ONLY on superseded
    frames — the frame cannot be recomputed afterwards because its lineage
    was truncated at checkpoint time.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover — internal-API drift tolerance
        pass


def undirect(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every ``(src, dst)`` edge, as ``(src, dst)`` rows.

    ONE pass, ``explode(array(fwd, rev))``, instead of
    ``unionAll(edges, edges-reversed)``: the union form runs the EDGE
    PRODUCER twice — exchange reuse covers the subtree below the producer's
    last shuffle, but the per-pair compute above it (the entity-resolution
    Levenshtein DP, the co-purchase support count reduce) is re-executed
    per branch.  Same row multiset (round-14 A/B: 1.40s -> 0.78s for the
    entity-resolution edge set).  Other columns are dropped.
    """
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias(src), F.col(dst).alias(dst)),
                F.struct(F.col(dst).alias(src), F.col(src).alias(dst)),
            )
        ).alias("_e")
    ).select("_e.*")


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Callable[[DataFrame], bool] | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``rounds`` rounds of ``state = checkpoint(step(state))``;
    returns ``(state, converged)``.

    Each round checkpoints the stepped state, then evaluates ``until`` on
    it (convergence is read from the materialized round, never by
    recomputing it), then releases the blocks of the superseded state —
    the caller's initial state included, so hand in a checkpointed initial
    state only if the loop may own it.  Without the release a 30-round job
    pins 30 generations of state in executor storage.  ``converged`` is
    True when ``until`` stopped the loop; with ``until=None`` every round
    runs and ``converged`` is False.
    """
    for _ in range(rounds):
        nxt = checkpoint(step(state), checkpoint_dir)
        done = until is not None and until(nxt)
        release_local_checkpoint(state)
        state = nxt
        if done:
            return state, True
    return state, False
