"""One partial-sum pass for every model trainer.

Each trainer here (``cdae._train``, ``gan.train``'s D and G passes,
``crossdomain._gram_sums`` and ``crossdomain.fit_mlp_map``) takes the same
distributed step: broadcast the parameters, sum exact per-batch partials
over Arrow ``mapInPandas`` batches (numpy BLAS), add them up on the driver
and step there, the classic parameter-server-on-driver shape.
``batch_sums`` is that step; a caller keeps only its per-batch math and its
update.

Each partition ships its sums as ``(name, shape, data)`` rows, the layout
of ``scoring.save_params``. A partial is O(params), so the data scale is
safe at any corpus size, but the driver's fan-in grows with the partition
count: with more than ``fan_in`` partitions, one repartition and a second
summing pass (TreeAggregate-style) cut it to at most ``fan_in`` row groups
before the driver touches anything. At or below it (every local run), the
driver adds the partitions' sums in partition order, so the float sums
follow the partition layout: a run repeats bit for bit for a fixed layout,
and another layout moves only the low bits.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .scoring import PARAMS_SCHEMA

TREE_FAN_IN = 64


def _add(acc: dict, sums: dict) -> None:
    """Add ``sums``' arrays into ``acc``, name by name, as float64."""
    for k, v in sums.items():
        acc[k] = acc.get(k, 0.0) + np.asarray(v, dtype=np.float64)


def _row_sums(rows: Iterable) -> dict:
    """``(name, shape, data)`` rows summed by name, in row order."""
    acc: dict = {}
    for name, shape, data in rows:
        _add(acc, {name: np.reshape(data, tuple(shape))})
    return acc


def _summing(fn: Callable, bv) -> Callable:
    """The ``mapInPandas`` function that sums ``fn(batch, value)`` over a
    partition's non-empty batches and yields the sums as rows (none for an
    empty partition). ``bv`` is the broadcast ``value``, or None."""

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        value = None if bv is None else bv.value
        acc: dict = {}
        for pdf in batches:
            if len(pdf):
                _add(acc, fn(pdf, value))
        if acc:
            yield pd.DataFrame({
                "name": list(acc),
                "shape": [list(np.shape(v)) for v in acc.values()],
                "data": [np.ravel(v) for v in acc.values()],
            })

    return part


def batch_sums(
    frame: DataFrame,
    fn: Callable[[pd.DataFrame, Any], dict],
    value: Any = None,
    fan_in: int = TREE_FAN_IN,
) -> dict[str, np.ndarray]:
    """The sum, over every non-empty Arrow batch of ``frame``, of
    ``fn(batch, value)``: a dict of float64 arrays (scalars as 0-d
    arrays). ``value`` reaches the executors as one broadcast, released
    when the sums are in. An empty frame gives ``{}``."""
    bv = frame.sparkSession.sparkContext.broadcast(value)
    try:
        parts = frame.mapInPandas(_summing(fn, bv), PARAMS_SCHEMA)
        if parts.rdd.getNumPartitions() > fan_in:
            parts = parts.repartition(fan_in).mapInPandas(
                _summing(lambda pdf, _: _row_sums(pdf.itertuples(False)), None),
                PARAMS_SCHEMA,
            )
        rows = parts.collect()
    finally:
        bv.unpersist()
    return {k: np.asarray(v) for k, v in _row_sums(rows).items()}
