"""etl_master_spark.model.reduce.batch_sums: the one partial-sum pass of
every model trainer — its summation order, its fan-in combine, scalars and
empty partitions — and the empty-input results of the trainers built on
it."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from etl_master_spark.model.reduce import batch_sums

BATCH_ROWS = 3


@pytest.fixture
def small_batches(spark):
    """Arrow batches of ``BATCH_ROWS`` rows for the test."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    yield
    spark.conf.set(key, old)


def _frame(spark, values: np.ndarray, n_parts: int):
    """(i, v ARRAY<DOUBLE>) rows in ``n_parts`` partitions, in row order."""
    rows = [(i, v.tolist()) for i, v in enumerate(values)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts), "i long, v array<double>"
    )


def _batch_fn():
    """The per-batch sums under test; a closure, so that the workers get
    it by value rather than importing this module."""

    def batch(pdf: pd.DataFrame, scale: float) -> dict:
        v = np.array(pdf["v"].tolist(), dtype=np.float64)
        return {"outer": scale * (v.T @ v), "col": v.sum(axis=0), "n": len(pdf)}

    return batch


def _values(n: int) -> np.ndarray:
    """Rows whose magnitudes span many decades, so summation order shows
    in the low bits."""
    rng = np.random.default_rng(5)
    return rng.normal(size=(n, 4)) * 10.0 ** rng.integers(-6, 7, size=(n, 1))


def _ordered_sums(values: np.ndarray, layout: list[list[int]]) -> dict:
    """numpy sums of the batch function over ``layout``'s partitions in
    order, each one's ``BATCH_ROWS``-row batches in order."""
    total: dict = {}
    for rows in layout:
        part: dict = {}
        for start in range(0, len(rows), BATCH_ROWS):
            pdf = pd.DataFrame({"v": list(values[rows[start:start + BATCH_ROWS]])})
            for k, v in _batch_fn()(pdf, 0.5).items():
                part[k] = part.get(k, 0.0) + np.asarray(v, dtype=np.float64)
        for k, v in part.items():
            total[k] = total.get(k, 0.0) + v
    return total


def test_sums_follow_partition_then_batch_order(spark, small_batches):
    values = _values(40)
    frame = _frame(spark, values, 4)
    got = batch_sums(frame, _batch_fn(), 0.5)

    # the layout Spark actually ran: rows of each partition, in order
    layout = frame.rdd.glom().map(lambda rows: [r["i"] for r in rows]).collect()
    assert len(layout) == 4 and sorted(sum(layout, [])) == list(range(40))
    want = _ordered_sums(values, layout)
    assert set(got) == {"outer", "col", "n"}
    for k in want:
        assert got[k].dtype == np.float64
        assert np.array_equal(got[k], want[k]), k
    assert float(got["n"]) == 40.0
    # the check can fail: the same rows summed in another order differ
    assert not np.array_equal(got["outer"], _ordered_sums(values, layout[::-1])["outer"])


def test_fan_in_combine_matches_the_flat_path(spark, small_batches):
    frame = _frame(spark, _values(45), 9)
    assert frame.rdd.getNumPartitions() == 9
    flat = batch_sums(frame, _batch_fn(), 2.0)
    tree = batch_sums(frame, _batch_fn(), 2.0, fan_in=2)
    assert set(tree) == set(flat)
    for k in flat:
        assert tree[k].shape == flat[k].shape
        assert np.allclose(tree[k], flat[k], rtol=1e-12, atol=0.0), k
    assert float(tree["n"]) == 45.0


def test_scalars_and_empty_partitions(spark, small_batches):
    values = _values(3)
    frame = _frame(spark, values, 6)  # at least 3 empty partitions
    got = batch_sums(frame, _batch_fn(), 1.0)
    assert got["n"].shape == () and float(got["n"]) == 3.0
    assert np.allclose(got["col"], values.sum(axis=0))
    assert batch_sums(frame.limit(0), _batch_fn(), 1.0) == {}


def test_linear_maps_without_shared_users_are_zero(spark, monkeypatch):
    """No user in both domains: the ridge maps are zero, and the MLP,
    given no rows, keeps its initial weights without a single pass."""
    from etl_master_spark.model import crossdomain
    from etl_master_spark.model.crossdomain import fit_linear_map, fit_mlp_map

    dim = 4
    rng = np.random.default_rng(1)

    def emb(first_user: int):
        return spark.createDataFrame(
            [(first_user + i, rng.normal(size=dim).tolist()) for i in range(6)],
            "user_id long, embedding array<double>",
        )

    emb_x, emb_y = emb(0), emb(100)
    zero = np.zeros((dim, dim))
    shared = fit_linear_map(emb_x, emb_y, strategy="shared")
    assert set(shared) == {"W"} and np.array_equal(shared["W"], zero)
    two = fit_linear_map(emb_x, emb_y, strategy="two_maps")
    assert np.array_equal(two["W1"], zero) and np.array_equal(two["W2"], zero)
    no_pairs = spark.createDataFrame(
        spark.sparkContext.parallelize([], 2), "x array<double>, y array<double>"
    )

    def no_pass(*args, **kwargs):
        raise AssertionError("batch_sums ran on a frame with no rows")

    monkeypatch.setattr(crossdomain, "batch_sums", no_pass)
    mlp = fit_mlp_map(no_pairs, dim)
    init = np.random.default_rng(72)
    assert np.array_equal(mlp["W1"], init.normal(0.0, 0.1, (dim, dim)))
    assert np.array_equal(mlp["W2"], init.normal(0.0, 0.1, (dim, dim)))
