"""Storage lifecycle of eagerly checkpointed intermediates.

Operators cut their plans with ``localCheckpoint(eager=True)`` so every
later plan starts from a leaf. ``unpersist()`` on such a frame frees
nothing — the blocks belong to the checkpoint RDD under the frame's
``LogicalRDD`` — so dead checkpoints are released here, explicitly.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_release_warned = False


def release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpointed frame's storage blocks deterministically —
    ContextCleaner would otherwise wait on driver GC + py4j finalization,
    which lets executor storage accumulate across repeated calls in a
    long-lived session. A released frame CANNOT be recomputed (the
    checkpoint truncated its lineage), so this is only ever called on dead
    intermediates, never on a returned frame.

    Failure is OBSERVABLE, not swallowed silently: if a future Spark
    version stops analyzing a localCheckpointed frame to a LogicalRDD, the
    executor-storage leak this call exists to prevent would return
    undetected under a bare ``except: pass``. A one-time warning names the
    plan class so the regression shows up in logs, and
    tests/test_curation.py::test_curate_releases_stage_checkpoints pins
    the block count across repeated curate() calls."""
    global _release_warned
    try:
        plan = df._jdf.queryExecution().analyzed()
        cls = plan.getClass().getSimpleName()
        if cls != "LogicalRDD":
            if not _release_warned:
                _release_warned = True
                _log.warning(
                    "checkpoint release no-op: analyzed plan is %s, not "
                    "LogicalRDD — executor storage will be GC-freed only; "
                    "update release_checkpoint for this Spark version",
                    cls,
                )
            return
        plan.rdd().unpersist(False)
    except Exception as exc:  # GC-driven cleanup remains the fallback
        if not _release_warned:
            _release_warned = True
            _log.warning("checkpoint release failed (%s); relying on GC", exc)
