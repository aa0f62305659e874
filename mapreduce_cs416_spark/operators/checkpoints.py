"""The one way to release ``localCheckpoint`` storage.

A checkpointed frame's blocks belong to the RDD inside its plan's
``LogicalRDD`` node. ``DataFrame.unpersist()`` only consults the cache
manager, so it leaves those blocks pinned until the RDD is garbage
collected; a loop that checkpoints every round, or a long-lived service
that checkpoints every micro-batch, must free them by hand.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def free(df: DataFrame) -> None:
    """Unpersist the RDD of every ``LogicalRDD`` leaf of ``df``'s
    analyzed plan, now.

    For a frame that is itself a checkpoint this frees exactly its own
    blocks. For a frame DERIVED from checkpoints (an operator's lazy
    result, say) it frees every checkpoint the frame reads — including
    ones the caller built the frame from — so call it only once the
    frame and everything else reading those checkpoints is consumed:
    an action after ``free`` fails on the missing blocks instead of
    recomputing them. Best-effort: where the plan cannot be inspected
    (no JVM-backed frame, a py4j failure) the blocks are left for
    garbage collection."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except (AttributeError, Py4JError):
        pass
