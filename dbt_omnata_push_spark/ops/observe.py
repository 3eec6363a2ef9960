"""Materialize, measure, decide: sizes observed on the job that computes
a frame.

Every runtime decision the engine takes from a size (an empty push
skips, DML reports rows written, an iterative operator stops at its
fixpoint, an llmops operator trains driver-local when its input fits
the driver) reads that size from an ``Observation`` riding the frame's
one materializing action, so measuring costs no extra Spark job. The
gates then collect only after the size has chosen the local path:
``limit > 0 and n <= limit`` runs local, ``limit = 0`` forces the
distributed path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, Callable[[], dict]]:
    """Attach named aggregates (default: the row count ``n``) to ``df``.

    Returns ``(observed_df, get)``. ``get()`` returns the metrics as a
    dict, NULL read as 0; call it only AFTER an action over
    ``observed_df`` has run, since it blocks until one has."""
    aggs = aggs or {"n": F.count(F.lit(1)).cast("long")}
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
    return out, lambda: {k: obs.get[k] or 0 for k in aggs}


def materialized(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """``observed`` plus an eager ``localCheckpoint``: the frame is
    evaluated exactly once. Returns the checkpointed frame and its
    metrics."""
    out, get = observed(df, **aggs)
    out = out.localCheckpoint()
    return out, get()
