"""One fixpoint driver for the iterative graph operators.

:func:`fixpoint` owns what each graph loop used to hand-roll: the
checkpoint cadence, the convergence count and the release of the
checkpoints it made.  It is the one loop that owns lineage truncation,
as GraphX's Pregel operator does (Gonzalez et al., OSDI 2014).
``dedup.connected_components``, ``graph.label_propagation``,
``graph.pagerank`` and ``graph.pagerank_exact`` run through it, and new
graph loops should too.

Cadence: the state is lazily ``localCheckpoint``-ed after every
``STEPS_PER_CHECK`` steps and after the last step, so one check covers
two steps of plan.  Two is what the contracted CC merge, the planted LPA
query and ``pagerank_exact`` already used; for general CC callers it
measured neutral against checking every step.

Convergence: a step whose frame carries a boolean ``_chg`` column is
tracked.  Each check counts the ``_chg`` rows, and that count is the
action that materializes the lazy checkpoint; the loop stops at zero.
Checking only the last step of a block is sound because a step is a
deterministic function of the state: a step that changes nothing proves
the fixpoint whatever the earlier steps of the block did, and every
later step would return the same rows.  An untracked loop (PageRank) runs
all ``max_steps`` and its last checkpoint is eager.  Either way the
returned frame is materialized, so the driver then releases every
checkpoint it made except the result's own.

Loops that stay outside, and why:

- ``similarity.nndescent`` stops on a new-edge fraction, not on zero
  changes, and records a per-round ``stats`` trajectory.
- ``similarity.ivf_refine`` collects the centroids to the driver in every
  iteration.
- ``bpe.bpe_train``, ``pq.pq_train``, ``linalg.logreg_irls`` and
  ``unigram.unigram_train`` carry driver-side state between rounds.
- The BFS in ``queries/composite.py::graph_bfs_levels_q`` returns the
  union of every frontier it checkpointed, so none can be released, and
  it stops on an empty frontier rather than a change count.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STEPS_PER_CHECK = 2


def release(checkpointed: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed frame.

    ``DataFrame.unpersist`` only reaches CacheManager entries; a local
    checkpoint's blocks belong to the RDD its ``LogicalRDD`` wraps."""
    checkpointed._jdf.logicalPlan().rdd().unpersist(False)


def fixpoint(
    step: Callable[[DataFrame, int], DataFrame], state: DataFrame | None, max_steps: int
) -> tuple[DataFrame, int | None]:
    """Run ``state = step(state, i)`` for ``i`` in ``range(max_steps)``.

    Returns ``(frame, changed)``: the last state (without ``_chg``) and the
    ``_chg`` count of the last check, or ``None`` for an untracked step.
    ``changed != 0`` means the budget ran out first; what that means is the
    caller's call (CC raises, LPA returns the labels it has)."""
    made: list[DataFrame] = []
    changed = None
    for i in range(max_steps):
        frame = step(state, i)
        tracked = "_chg" in frame.columns
        last = i + 1 == max_steps
        if last or (i + 1) % STEPS_PER_CHECK == 0:
            frame = frame.localCheckpoint(eager=last and not tracked)
            made.append(frame)
            if tracked:
                changed = frame.filter(F.col("_chg")).count()
        state = frame.drop("_chg") if tracked else frame
        if changed == 0:
            break
    for checkpointed in made[:-1]:
        release(checkpointed)
    return state, changed
