"""Multimodal column plumbing + MLlib pipelines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark.catalog import load
from nyc_taxi_data_prediction_pyspark_spark.ml.embeddings import EMB_DIM, with_embeddings
from nyc_taxi_data_prediction_pyspark_spark.ml.forecast import fit_demand_model, predict_demand
from nyc_taxi_data_prediction_pyspark_spark.operators import multimodal
from nyc_taxi_data_prediction_pyspark_spark.schemas import MEDIA, conforms


def test_attach_binary_schema(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, src_col="text", id_col="doc_id", mime="text/plain")
    assert conforms(media.schema, MEDIA) == []
    row = media.first()
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))


def test_decode_media_batch_shape(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(20)
    media = multimodal.attach_binary(docs, src_col="text", id_col="doc_id", mime="text/plain")
    decoded = multimodal.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 4 for r in rows)
    assert all(r["width"] >= 1 and r["height"] >= 1 for r in rows)


def test_frame_sample_real_decode(spark):
    """Frame sampling is a REAL SRV0 parse: sampled frames must be the
    exact payload slices, at the right timestamps, one output row per
    sampled frame (the expanding mapInPandas shape)."""
    vids = multimodal.synthetic_video_table(
        spark, n_videos=5, n_frames=24, width=8, height=6, fps=12
    )
    frames = multimodal.frame_sample(vids, every_ms=500).collect()
    # 24 frames at 12 fps = 2000 ms; samples at 0/500/1000/1500 ms
    by_vid = {}
    for r in frames:
        by_vid.setdefault(r["media_id"], []).append(r)
    assert set(len(v) for v in by_vid.values()) == {4}
    payloads = {r["media_id"]: bytes(r["payload"]) for r in vids.collect()}
    for vid, rows in by_vid.items():
        for r in sorted(rows, key=lambda r: r["frame_idx"]):
            assert r["ts_ms"] == r["frame_idx"] * 1000 // 12
            fsz = r["width"] * r["height"]
            start = 10 + r["frame_idx"] * fsz  # SRV0 header is 10 bytes
            assert bytes(r["frame"]) == payloads[vid][start : start + fsz]


def test_resize_frames_nearest_neighbor(spark):
    """Resize is real resampling: a downscaled frame's pixels must be
    the exact nearest-neighbor grid gather of the source frame."""
    import numpy as np

    vids = multimodal.synthetic_video_table(
        spark, n_videos=2, n_frames=4, width=8, height=6, fps=4
    )
    frames = multimodal.frame_sample(vids, every_ms=250)
    small = multimodal.resize_frames(frames, 4, 3)
    src = {(r["media_id"], r["frame_idx"]): r for r in frames.collect()}
    for r in small.collect():
        assert (r["width"], r["height"]) == (4, 3)
        s = src[(r["media_id"], r["frame_idx"])]
        img = np.frombuffer(bytes(s["frame"]), dtype=np.uint8).reshape(6, 8)
        expect = img[np.ix_((np.arange(3) * 6) // 3, (np.arange(4) * 8) // 4)]
        assert bytes(r["frame"]) == expect.tobytes()


def test_audio_features_real_signal_math(spark):
    """Audio features are real windowed DSP: RMS of a sine ≈ A/√2 and
    the FFT band holding the clip's frequency carries the energy."""
    import math

    clips = multimodal.synthetic_audio_table(
        spark, n_clips=3, n_samples=8000, sample_rate=8000
    )
    rows = multimodal.audio_features(clips, window_ms=125).collect()
    # 8000 samples / (125 ms @ 8 kHz = 1000-sample windows) = 8 windows
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r["media_id"], []).append(r)
    assert set(len(v) for v in by_clip.values()) == {8}
    for cid, rs in by_clip.items():
        for r in rs:
            rms, zcr, peak, *bands = r["feature"]
            assert math.isclose(rms, (12000 / 32768) / math.sqrt(2), rel_tol=0.02)
            assert 0 < zcr < 0.5 and 0.3 < peak <= 1.0
            # clip freq is 100-299 Hz -> rfft bin < 38 of 501 -> band 0
            assert bands[0] == max(bands)


def test_media_stats_totals(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, src_col="text", id_col="doc_id", mime="text/plain")
    stats = multimodal.media_stats(media).first()
    assert stats["n_media"] == docs.count()
    assert stats["total_bytes"] > 0


def test_embeddings_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(10).select("doc_id", "text")
    e1 = {r["doc_id"]: r["embedding"] for r in with_embeddings(docs).collect()}
    e2 = {r["doc_id"]: r["embedding"] for r in with_embeddings(docs).collect()}
    assert e1 == e2
    assert all(len(v) == EMB_DIM for v in e1.values())


def _bow_reference(text):
    """The hashed bag-of-words stand-in in plain Python: md5 bucket of
    each ``str.split()`` token of the lower-cased text, histogram over
    the token count, rounded to float32 like the FloatType column."""
    import hashlib

    import numpy as np

    v = [0.0] * EMB_DIM
    for tok in (text or "").lower().split():
        v[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % EMB_DIM] += 1.0
    s = sum(v) or 1.0
    return [float(np.float32(x / s)) for x in v]


def test_native_embeddings_bit_equal_python_reference(spark, sf_dir):
    """The native stand-in encoder equals the Python reference bit for
    bit — on the corpus and on rows where Python's whitespace set
    (NBSP, ideographic space, \\x1c-\\x1f), NULL, empty text and
    non-ASCII case mapping would expose a narrower split or lower."""
    extra = [
        "a\xa0b",
        "x\u3000y z",
        "p\x1cq",
        "  lead  trail ",
        "",
        None,
        "TAB\there\nnl",
        "ΑΣ Straße İx",
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(-1 - i, t) for i, t in enumerate(extra)], "doc_id long, text string"
        )
    )
    got = with_embeddings(docs).collect()
    assert len(got) == docs.count()
    bad = [r["doc_id"] for r in got if list(r["embedding"]) != _bow_reference(r["text"])]
    assert bad == []


def test_forecast_pipeline_predicts(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    preds = predict_demand(events)
    assert preds.count() > 0
    assert preds.where(F.col("prediction").isNull()).count() == 0


def test_grouped_linear_fit_closed_form_matches_numpy(spark, sf_dir):
    """The decimal-exact closed form (q68, oracle-checked) and the
    applyInPandas/numpy lstsq variant must agree to float tolerance —
    the contract that licenses swapping in arbitrary per-group Python
    models behind the same interface."""
    import math

    from nyc_taxi_data_prediction_pyspark_spark.catalog import load
    from nyc_taxi_data_prediction_pyspark_spark.ml import forecast

    ev = load(spark, sf_dir, "events").withColumn("x_hour", F.hour("ts"))
    exact = {
        r["event_type"]: r
        for r in forecast.grouped_linear_fit(
            ev, group="event_type", x="x_hour", y="value"
        ).collect()
    }
    pandas_fit = {
        r["event_type"]: r
        for r in forecast.grouped_linear_fit_pandas(
            ev, group="event_type", x="x_hour", y="value"
        ).collect()
    }
    assert set(exact) == set(pandas_fit) and len(exact) > 0
    for k, e in exact.items():
        p = pandas_fit[k]
        assert p["n_obs"] == e["n_obs"]
        assert math.isclose(p["slope"], e["slope"], rel_tol=1e-6, abs_tol=1e-9)
        assert math.isclose(p["intercept"], e["intercept"], rel_tol=1e-6, abs_tol=1e-9)


def test_grouped_ols2_matches_numpy_lstsq(spark):
    """Independent reference for the two-feature Cramer closed form
    (q249): numpy lstsq on the same rows — a wholly different
    algorithm (QR/SVD vs cofactor expansion), so a shared-algebra
    mirror bug cannot pass both."""
    import math

    import numpy as np

    from nyc_taxi_data_prediction_pyspark_spark.ml import forecast

    # deterministic pseudo-random data with a real planted signal
    def lcg(seed):
        s = seed
        while True:
            s = (s * 6364136223846793005 + 1442695040888963407) % 2**63
            yield (s >> 20) / float(2**43)

    g = lcg(11)
    rows = []
    for grp, (a0, a1, a2) in [("g1", (5.0, 2.0, -3.0)), ("g2", (-1.0, 0.5, 4.0))]:
        for _ in range(300):
            x1 = int(next(g) * 24)
            x2 = int(next(g) * 7) + 1
            y = a0 + a1 * x1 + a2 * x2 + (next(g) - 0.5) * 2.0
            rows.append((grp, x1, x2, float(y)))
    df = spark.createDataFrame(rows, "grp string, x1 long, x2 long, y double")
    got = {
        r["grp"]: r
        for r in forecast.grouped_linear_fit2(
            df, group="grp", x1="x1", x2="x2", y="y"
        ).collect()
    }
    for grp in ("g1", "g2"):
        sub = [(x1, x2, y) for g2_, x1, x2, y in rows if g2_ == grp]
        A = np.array([[1.0, x1, x2] for x1, x2, _ in sub])
        yv = np.array([y for *_, y in sub])
        beta, *_ = np.linalg.lstsq(A, yv, rcond=None)
        pred = A @ beta
        ss_res = float(((yv - pred) ** 2).sum())
        ss_tot = float(((yv - yv.mean()) ** 2).sum())
        r = got[grp]
        assert r["n_obs"] == len(sub)
        assert math.isclose(r["b0"], beta[0], rel_tol=1e-4, abs_tol=1e-5)
        assert math.isclose(r["b1"], beta[1], rel_tol=1e-4, abs_tol=1e-5)
        assert math.isclose(r["b2"], beta[2], rel_tol=1e-4, abs_tol=1e-5)
        assert math.isclose(r["r2"], 1.0 - ss_res / ss_tot, rel_tol=1e-4)
        assert r["r2"] > 0.9  # the planted signal is actually recovered


def test_grouped_ols2_collinear_features_yield_null(spark):
    """x2 = 2*x1 makes the moment matrix singular: det = 0 must
    surface as NULL coefficients, never an ANSI divide error."""
    from nyc_taxi_data_prediction_pyspark_spark.ml import forecast

    rows = [("g", i % 5, 2 * (i % 5), float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, x1 long, x2 long, y double")
    out = forecast.grouped_linear_fit2(
        df, group="grp", x1="x1", x2="x2", y="y"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["b0"] is None and r["b1"] is None and r["b2"] is None and r["r2"] is None


def test_jl_recall_matches_numpy_replay(spark):
    """Independent reference for the JL projection audit (q250): the
    exact and projected top-k rankings replayed with numpy float64
    (matrix ops, different summation order) — ranking positions are
    robust to fold-order ulps except at exact round-6 ties, which the
    (cos, id) total order resolves identically."""
    import numpy as np

    from nyc_taxi_data_prediction_pyspark_spark.operators import similarity

    rng_rows = []

    def lcg(seed):
        s = seed
        while True:
            s = (s * 6364136223846793005 + 1442695040888963407) % 2**63
            yield (s >> 20) / float(2**43)

    g = lcg(23)
    for i in range(1, 101):
        rng_rows.append((i, [2.0 * next(g) - 1.0 for _ in range(16)]))
    df = spark.createDataFrame(rng_rows, ["vec_id", "embedding"])
    planes = similarity.random_hyperplanes(16, 8, seed=137)
    got = {
        r["dim"]: (r["n_overlap"], r["recall"])
        for r in similarity.jl_recall(df, planes, dims=(2, 4, 8), k=5).collect()
    }

    V = np.array([v for _, v in rng_rows])
    ids = np.array([i for i, _ in rng_rows])
    P = np.array(planes)  # (8, 16)
    proj = V @ P.T  # (100, 8)
    q_full, q_proj = V[0], proj[0]

    def topk(mat, qv, k):
        cos = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = sorted(
            range(1, len(mat)), key=lambda j: (-round(cos[j], 6), ids[j])
        )
        return [ids[j] for j in order[:k]]

    exact = set(topk(V, q_full, 5))
    for d in (2, 4, 8):
        want = set(topk(proj[:, :d], q_proj[:d], 5))
        n_overlap = len(exact & want)
        assert got[d] == (n_overlap, n_overlap / 5), (d, got[d], n_overlap)
    # the full-width projection of a 16-dim space by 8 planes is still
    # lossy; sanity: overlap counts are within [0, 5] and not all zero
    assert any(n for n, _ in got.values())


def _srv0(frames, w, h, fps=10):
    import struct

    return struct.pack("<4sHHH", b"SRV0", w, h, fps) + b"".join(frames)


def _ahash_reference(frame, w, h):
    import numpy as np

    img = np.frombuffer(frame, dtype=np.uint8).reshape(h, w)
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    cells = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            cells[i, j] = img[
                ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)
            ].mean()
    bits = (cells > cells.mean()).astype(int).ravel()
    ph = 0
    for b in bits:
        ph = (ph << 1) | int(b)
    return ph - (1 << 64) if ph >= 1 << 63 else ph


def test_frame_phash_and_near_dupes(spark):
    import numpy as np

    from nyc_taxi_data_prediction_pyspark_spark.operators import multimodal

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    tweaked = base.copy()
    tweaked[0, 0] = 255 - tweaked[0, 0]  # one-pixel change
    other = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    rows = [
        (1, _srv0([base.tobytes()], 16, 16)),
        (2, _srv0([tweaked.tobytes()], 16, 16)),
        (3, _srv0([other.tobytes()], 16, 16)),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    frames = multimodal.frame_sample(media, every_ms=1000)
    ph = multimodal.frame_phash(frames)
    got = {r["media_id"]: r["phash"] for r in ph.collect()}
    # bit-exact vs the Python reference
    assert got[1] == _ahash_reference(base.tobytes(), 16, 16)
    assert got[3] == _ahash_reference(other.tobytes(), 16, 16)
    # the one-pixel tweak stays within a few bits of the original
    ham12 = bin((got[1] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert ham12 <= 3
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dupes(ph, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == ham12
    assert not any(3 in k for k in pairs)  # the unrelated frame stays out


def test_phash_banding_is_lossless_within_bands_minus_one(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators import multimodal

    # craft hashes at exact Hamming distances: 3 (must be found at
    # bands=4) and 4 spread over all bands (may legitimately be missed
    # by banding if over threshold; here max_hamming=3 excludes it)
    h0 = 0x0123456789ABCDEF
    h3 = h0 ^ 0b111                      # 3 bits in one band
    h4 = h0 ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48))  # 1 bit/band
    df = spark.createDataFrame(
        [(1, h0), (2, h3), (3, h4)], "media_id long, phash long"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dupes(df, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 3
    assert (1, 3) not in pairs  # hamming 4 > max_hamming

    # a 3-member bucket: 10, 11 and 12 share band 3 (the top 16 bits);
    # 10 and 11 differ in one bit, so they share bands 1, 2 and 3 and
    # must still be reported once; 13 shares no band with anyone
    h1 = h0 ^ 1
    h2 = h0 ^ (0b11 << 16) ^ (1 << 32)   # 3 bits from h0, 4 from h1
    h3 = ~h0 & ((1 << 63) - 1)
    hs = {10: h0, 11: h1, 12: h2, 13: h3}
    df = spark.createDataFrame(list(hs.items()), "media_id long, phash long")
    got = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.phash_near_dupes(df, max_hamming=3).collect()
    ]
    want = sorted(
        (a, b, bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1"))
        for a in hs
        for b in hs
        if a < b and bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert want == [(10, 11, 1), (10, 12, 3)]
    assert sorted(got) == want


def test_q197_native_frames_match_python_synth(spark):
    """q197's natively built frames equal the Python md5 synth they
    replace, byte for byte, over even and odd ids (the odd member of
    each pair has its first pixel shifted by 96 mod 256)."""
    import hashlib

    import numpy as np

    from __spark_entry__ import _doc_frames

    def synth(did):
        px = np.frombuffer(
            b"".join(hashlib.md5(f"{did // 2}_{j}".encode()).digest() for j in range(4)),
            dtype=np.uint8,
        ).copy()
        if did % 2 == 1:
            px[0] = (int(px[0]) + 96) % 256
        return px.tobytes()

    ids = list(range(40)) + [1_000_001, 1_000_002, 2**40 + 1, 2**62]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    frames = _doc_frames(docs)
    assert frames.dtypes == [
        ("media_id", "bigint"),
        ("frame_idx", "int"),
        ("ts_ms", "bigint"),
        ("width", "int"),
        ("height", "int"),
        ("frame", "binary"),
    ]
    got = {r["media_id"]: r for r in frames.collect()}
    assert sorted(got) == sorted(ids)
    for i in ids:
        r = got[i]
        assert (r["frame_idx"], r["ts_ms"], r["width"], r["height"]) == (0, 0, 8, 8)
        assert bytes(r["frame"]) == synth(i), i


def test_q219_native_payloads_match_python_synth(spark):
    """q219's natively built SRV0 payloads equal the Python md5 synth
    they replace, byte for byte: header, then 12 frames whose pixels
    are md5 bytes of (doc, frame div 4) plus frame mod 4."""
    import hashlib
    import struct

    import numpy as np

    from __spark_entry__ import _video_payloads

    def synth(did):
        frames = []
        for f in range(12):
            base = np.frombuffer(
                b"".join(hashlib.md5(f"{did}_{f // 4}_{j}".encode()).digest() for j in range(4)),
                dtype=np.uint8,
            )
            frames.append(((base.astype(np.int64) + f % 4) % 256).astype(np.uint8))
        return struct.pack("<4sHHH", b"SRV0", 8, 8, 12) + b"".join(fr.tobytes() for fr in frames)

    ids = list(range(40)) + [1_000_001, 1_000_002, 2**40 + 1, 2**62]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    videos = _video_payloads(docs)
    assert videos.dtypes == [("media_id", "bigint"), ("payload", "binary")]
    got = {r["media_id"]: bytes(r["payload"]) for r in videos.collect()}
    assert sorted(got) == sorted(ids)
    for i in ids:
        assert got[i] == synth(i), i


def test_scene_changes_hand_computed(spark):
    """2x2 video, 4 frames: two identical, a hard cut, a near-identical
    pair -> exactly one boundary at frame 2 with the exact SAD."""
    import struct

    f0 = bytes([10, 20, 30, 40])
    f1 = f0                              # SAD 0
    f2 = bytes([200, 210, 220, 230])     # SAD 4*190 = 760  (the cut)
    f3 = bytes([201, 210, 220, 230])     # SAD 1
    payload = struct.pack("<4sHHH", b"SRV0", 2, 2, 4) + f0 + f1 + f2 + f3
    df = spark.createDataFrame([(7, bytearray(payload))], "media_id long, payload binary")
    rows = multimodal.scene_changes(df, threshold=500).collect()
    assert [tuple(r) for r in rows] == [(7, 4, 1, 2, 760)]
    # threshold above the cut -> no changes, sentinel index
    rows = multimodal.scene_changes(df, threshold=1000).collect()
    assert [tuple(r) for r in rows] == [(7, 4, 0, -1, 760)]


def test_scene_changes_rejects_bad_magic(spark):
    import struct

    payload = struct.pack("<4sHHH", b"JUNK", 2, 2, 1) + bytes(4)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    with pytest.raises(Exception, match="SRV0"):
        multimodal.scene_changes(df, threshold=10).collect()


def test_conformal_intervals_periodic_series(spark):
    """A perfectly 168h-periodic series has all-zero calibration
    residuals -> qhat = 0 and full test coverage; one injected test
    spike breaks exactly one hour's coverage."""
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.ml import forecast

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for h in range(336):  # 2 exact weekly periods, 1 event per hour
        eid += 1
        rows.append((eid, 1, base + dt.timedelta(hours=h), "click"))
    # spike in the TEST window (test = last 40% of the 168
    # forecastable hours -> indices 268..335)
    eid += 1
    rows.append((eid, 1, base + dt.timedelta(hours=300, minutes=30), "click"))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = forecast.conformal_interval_backtest(
        df, lag_hours=168, alpha_pct=10, cal_frac_pct=60
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.qhat == 0 and not r.qhat_clamped
    assert r.n_cal == 100 and r.n_test == 68
    assert r.n_covered == r.n_test - 1  # only the spiked hour misses
    assert r.coverage == (r.n_test - 1) / r.n_test
