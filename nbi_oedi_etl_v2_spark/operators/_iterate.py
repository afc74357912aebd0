"""The one step every iterative operator's round ends with: checkpoint
the round's state, and read the loop's signals from that same job.

A round that checkpoints its state and then probes it (``count``,
``isEmpty``, a join against the previous state) pays a second job per
round for what the checkpoint's own pass could have counted. Here the
signals ride the checkpoint as ``Observation`` metrics instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _observed(obs: Observation) -> dict:
    """``obs``'s metrics, or ``{}`` when its plan saw no row: adaptive
    execution drops an empty stage together with the observation in
    it, and Spark then reports an empty row for it."""
    return obs.get if obs._jo.getRow().length() else {}


def checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` eagerly ``localCheckpoint``ed, and the metrics its
    checkpoint job observed: ``n``, its row count, plus ``metrics``
    (aggregate columns over ``df``, by alias). An empty ``df`` reads
    ``n`` = 0, and each other metric as its aggregate over no row, or
    as missing when adaptive execution dropped the observation."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), *metrics).localCheckpoint()
    return out, {"n": 0, **_observed(obs)}
