"""Bounded-fan-in collection of partial-gradient frames.

The model family's training loops (cdae.train, gan.train,
crossdomain.fit_mlp_map) compute exact per-partition partial gradients
with Arrow ``mapInPandas`` and sum them on the driver — the classic
parameter-server-on-driver shape. Each partial is O(params), so the
DATA scale is safe at any corpus size, but the driver fan-in grows with
the partition count: at 1000+ executors, ``collect()`` would receive
1000+ gradient-sized rows per pass.

``tree_collect`` inserts a TreeAggregate-style intermediate combine:
when the partials frame has more partitions than ``fan_in``, a single
repartition + map-side elementwise sum reduces it to ≤ ``fan_in``
combined rows before the driver touches anything. Below the threshold
(every local/test run) it is a plain ``collect`` — byte-identical
trajectories to the pre-tree engine; above it, the driver's per-pass
fan-in is a constant no matter the cluster width.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

TREE_FAN_IN = 64


def tree_collect(partials: DataFrame, fan_in: int = TREE_FAN_IN) -> list:
    """Collect a partial-gradient frame (array<double> gradient columns +
    double scalar columns, one row per input partition) with driver
    fan-in bounded by ``fan_in`` via an intermediate combine stage."""
    if partials.rdd.getNumPartitions() <= fan_in:
        return partials.collect()

    def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            for c in pdf.columns:
                for v in pdf[c]:
                    if isinstance(v, (list, np.ndarray)):
                        arr = np.asarray(v, dtype=np.float64)
                        acc[c] = arr if c not in acc else acc[c] + arr
                    else:
                        acc[c] = float(v) + acc.get(c, 0.0)
        if acc:
            yield pd.DataFrame(
                {
                    c: [v.tolist() if isinstance(v, np.ndarray) else v]
                    for c, v in acc.items()
                }
            )

    return partials.repartition(fan_in).mapInPandas(
        combine, partials.schema
    ).collect()
