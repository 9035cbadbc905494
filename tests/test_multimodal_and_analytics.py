"""Multimodal plumbing + analytics operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from multivac_spark.functions import multimodal
from multivac_spark.operators import analytics


def test_multimodal_feature_plumbing(spark):
    media = multimodal.synth_media_df(spark, 30, decodable=False)
    feats = multimodal.extract_features_stage(media, use_fake_decoder=True)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["decode_error"] is None
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] == 256
    # determinism: same payload → same feature
    again = {r["url"]: r["feature"]
             for r in multimodal.extract_features_stage(
                 media, use_fake_decoder=True).collect()}
    for r in rows:
        assert again[r["url"]] == r["feature"]


def test_multimodal_real_decode_end_to_end(spark):
    """Real decoders over real payloads: PPM+BMP images, PCM WAV audio,
    PPM-stream video — all rows decode, features are content-derived."""
    media = multimodal.synth_media_df(spark, 30, decodable=True)
    rows = multimodal.extract_features_stage(media).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["decode_error"] is None, (r["url"], r["decode_error"])
        assert len(r["feature"]) == multimodal.FEATURE_DIM
    # image features carry width/height in slots 0/1
    img = [r for r in rows if r["kind"] == "image"][0]
    assert abs(img["feature"][0] - 0.032) < 1e-6   # w=32
    assert abs(img["feature"][1] - 0.024) < 1e-6   # h=24


def test_multimodal_real_decoder_errors_isolated(spark):
    media = multimodal.synth_media_df(spark, 9, decodable=False)
    feats = multimodal.extract_features_stage(media, use_fake_decoder=False)
    rows = feats.collect()
    assert len(rows) == 9
    assert all(r["decode_error"] is not None for r in rows)
    assert all(r["feature"] is None for r in rows)


def test_image_decoders_agree_and_resize():
    """The BMP writer/decoder round-trips the exact PPM pixel array;
    nearest-neighbor resize picks source pixels (no interpolation)."""
    ppm = multimodal._synth_ppm(7)
    arr_ppm = multimodal.decode_image(ppm)
    arr_bmp = multimodal.decode_image(multimodal._synth_bmp(7))
    assert arr_ppm.shape == (24, 32, 3)
    assert np.array_equal(arr_ppm, arr_bmp)
    small = multimodal.resize_image(arr_ppm, 6, 8)
    assert small.shape == (6, 8, 3)
    assert small[0, 0].tolist() == arr_ppm[0, 0].tolist()


def test_wav_decode_sine_rms():
    """0.5-amplitude sine → RMS ≈ 0.5/√2; rate and mono downmix held."""
    x, rate = multimodal.decode_audio(multimodal._synth_wav(3))
    assert rate == 8000 and len(x) == 2000
    assert abs(np.sqrt(np.mean(x**2)) - 0.5 / np.sqrt(2)) < 0.01
    feats = multimodal.audio_features(x, rate)
    assert len(feats) == multimodal.FEATURE_DIM
    assert abs(feats[0] - 0.25) < 1e-6  # duration


def test_video_frame_sampling():
    stream = multimodal._synth_ppm_stream(2, n_frames=6)
    frames = multimodal.sample_video_frames(stream, n=4)
    assert len(frames) == 4
    assert all(f.shape == (12, 16, 3) for f in frames)
    # evenly spaced: first sampled frame is frame 0
    first, _ = multimodal._ppm_parse_one(stream, 0)
    assert np.array_equal(frames[0], first)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "head_id long, tail_id long")


def test_degree_centrality_star(spark):
    # star: 0 connected to 1..4
    e = _edges(spark, [(0, i) for i in range(1, 5)])
    res = {r["node"]: (r["degree"], r["centrality_micro"])
           for r in analytics.degree_centrality(e).collect()}
    assert res[0] == (4, 1_000_000)  # 4/(5-1)
    assert res[1] == (1, 250_000)


def test_eigenvector_centrality_two_components(spark):
    # two components: triangle 0-1-2 and edge 3-4; the reference's
    # tolerance-escalation path must still return scores
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (3, 4)])
    res = {r["node"]: r["score"]
           for r in analytics.eigenvector_centrality(e, max_iter=25).collect()}
    assert set(res) == {0, 1, 2, 3, 4}
    # triangle nodes symmetric and dominant
    assert abs(res[0] - res[1]) < 1e-3
    assert res[0] > res[3]


def test_eigenvector_driver_route_matches_distributed(spark, monkeypatch):
    """The numpy driver route and the per-iteration Spark loop implement
    the same update/convergence/escalation — scores agree to float
    noise on the oracle's ring+chords graph."""
    from multivac_spark import session

    rows = ([(i, (i + 1) % 50) for i in range(50)]
            + [(i, (3 * i + 7) % 50) for i in range(50)])
    e = _edges(spark, rows)
    fast = {r["node"]: r["score"]
            for r in analytics.eigenvector_centrality(
                e, max_iter=15).collect()}
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    dist = {r["node"]: r["score"]
            for r in analytics.eigenvector_centrality(
                e, max_iter=15).collect()}
    assert set(fast) == set(dist)
    assert max(abs(fast[k] - dist[k]) for k in fast) < 1e-12


def test_eigenvector_one_job_per_iteration(spark, monkeypatch):
    """VERDICT r1 #7: each power-iteration round is ONE job, the
    observed ``stats_barrier`` that stages the round and carries its
    norm and convergence delta. ``DRIVER_ROWS = 0`` forces the
    distributed loop (a 29-edge path is under the driver cap). The loop
    runs 3 rounds (3 attempts x ``max_iter=1``: a path is bipartite, so
    the iteration oscillates and the tol is unreachable).

    With AQE off that is 3 set-up jobs (the sizing collect, the sym and
    the observed nodes barriers) + 3 rounds. Under AQE (the session
    default) each barrier also runs one job per shuffle stage of its
    own plan: 5 set-up jobs + 7 per round."""
    from multivac_spark import session

    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    e = _edges(spark, [(i, i + 1) for i in range(29)])
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n_jobs = {}
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", mode)
            group = f"eig-jobs-aqe-{mode}"
            sc.setJobGroup(group, "count jobs per iteration")
            analytics.eigenvector_centrality(e, max_iter=1, tol=1e-300)
            n_jobs[mode] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n_jobs == {"false": 3 + 3, "true": 5 + 3 * 7}, n_jobs


def test_centrality_delta_and_top_triples(spark):
    before = spark.createDataFrame([(0, 1.0), (1, 2.0)],
                                   "node long, score double")
    after = spark.createDataFrame([(0, 2.0), (2, 3.0)],
                                  "node long, score double")
    gains = {r["node"]: r["gain"]
             for r in analytics.centrality_delta(before, after).collect()}
    assert gains[0] == pytest.approx(0.5)        # (2-1)/(1+1)
    assert gains[1] == pytest.approx(-2.0 / 3.0)  # (0-2)/(2+1)
    assert gains[2] == pytest.approx(3.0)        # (3-0)/(0+1)

    edges = spark.createDataFrame([(0, 2, 0), (0, 1, 1)],
                                  "head_id long, tail_id long, rel_id long")
    gdf = spark.createDataFrame(list(gains.items()), "node long, gain double")
    top = analytics.top_triples_by_gain(edges, gdf, k=1).collect()
    assert (top[0]["head_id"], top[0]["tail_id"]) == (0, 2)  # 0.5+3.0
