"""Exact oracle for operators/media.tonal_audit: planted pure tones vs
sine+noise corpus clips per codec, dominant-frequency accuracy, edge
semantics (undecodable / too-short / silent / NaN payloads), the synth
tone_rate injector parity (q136 fixture), and the suite wire-through for
the opt-in "tonal" check."""

import numpy as np
import pandas as pd
import pytest

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media
from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth

SR = 8000


def _clip(cid: str, pcm: np.ndarray, codec: str = "pcm_s16le", sr: int = SR) -> dict:
    return {
        "clip_id": cid,
        "part": 0,
        "bytes": codecs.encode(pcm, codec) if codec in codecs.CODECS else b"\x01",
        "codec": codec,
        "sr_hz": sr,
    }


def _audit(spark, rows, **kw):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return media.tonal_audit(df, **kw).toPandas().set_index("clip_id").sort_index()


def _sine(n: int, f0: float, sr: int = SR, noise: float = 0.0, seed: int = 0):
    t = np.arange(n, dtype=np.float64) / sr
    x = 0.55 * np.sin(2 * np.pi * f0 * t)
    if noise:
        x = x + noise * np.random.default_rng(seed).standard_normal(n)
    return np.clip(x, -0.999, 0.999)


def test_pure_tone_vs_recorded_per_codec(spark):
    """The load-bearing separation: a noise-free sine is tonal under every
    codec (G.711 quantization noise included); the corpus's sine+8%-noise
    carrier never is. Off-bin frequencies exercise the Hann window (the
    rectangular-window leakage case that collapses the margin)."""
    rng = np.random.default_rng(1)
    rows, want = [], {}
    for k, codec in enumerate(codecs.CODECS):
        for trial in range(4):
            n = int(rng.integers(400, 12000))
            f0 = 80.0 + 400.0 * rng.uniform()  # arbitrary, almost surely off-bin
            cid_t = f"tone_{codec}_{trial}"
            cid_n = f"norm_{codec}_{trial}"
            rows.append(_clip(cid_t, _sine(n, f0), codec=codec))
            rows.append(
                _clip(cid_n, _sine(n, f0, noise=0.08, seed=100 * k + trial), codec=codec)
            )
            want[cid_t] = True
            want[cid_n] = False
    got = _audit(spark, rows)
    for cid, tonal in want.items():
        g = got.loc[cid]
        assert bool(g["decode_ok"]), cid
        assert bool(g["tonal"]) == tonal, (cid, g["spectral_flatness"])
        # the margin itself: flagged clips sit well under threshold,
        # recorded-style clips well over (10x guard bands each side)
        if tonal:
            assert g["spectral_flatness"] < media._TONAL_FLATNESS_THRESHOLD / 2, cid
        else:
            assert g["spectral_flatness"] > media._TONAL_FLATNESS_THRESHOLD * 10, cid


def test_dominant_hz_matches_planted_frequency(spark):
    """dominant_hz resolves the tone's frequency to within one FFT bin
    (sr / n_used); dominant_share concentrates near 1 for a windowed sine."""
    cases = [(440.0, 8000), (1000.0, 16000), (3123.0, 44100)]
    rows = [
        _clip(f"t{int(f)}", _sine(16000, f, sr=sr), sr=sr) for f, sr in cases
    ]
    got = _audit(spark, rows)
    for f, sr in cases:
        g = got.loc[f"t{int(f)}"]
        n_used = int(g["n_used"])
        assert n_used == 8192  # max_samples cap engaged on a 16000-sample clip
        assert abs(g["dominant_hz"] - f) <= sr / n_used + 1e-9, f
        assert g["dominant_share"] > 0.5, f


def test_white_noise_is_not_tonal(spark):
    x = np.clip(0.3 * np.random.default_rng(7).standard_normal(8000), -0.999, 0.999)
    got = _audit(spark, [_clip("noise", x)])
    g = got.loc["noise"]
    assert not bool(g["tonal"])
    assert g["spectral_flatness"] > 0.1  # near-flat spectrum


def test_edge_semantics(spark):
    rows = [
        # unknown codec -> decode_ok False, NaN stats, never tonal
        _clip("c_bad", _sine(800, 440.0), codec="opus"),
        # too short for a stable spectrum -> NaN flatness, never tonal
        _clip("c_short", _sine(100, 440.0)),
        # digital silence -> loudness_audit's domain, never tonal here
        _clip("c_zero", np.zeros(2000)),
        # NaN float payload -> the payload check's defect, never tonal
        {
            "clip_id": "c_nan",
            "part": 0,
            "bytes": np.full(2000, np.nan, dtype="<f4").tobytes(),
            "codec": "pcm_f32le",
            "sr_hz": SR,
        },
    ]
    got = _audit(spark, rows)
    assert not bool(got.loc["c_bad", "decode_ok"])
    for cid in ("c_bad", "c_short", "c_zero", "c_nan"):
        assert not bool(got.loc[cid, "tonal"]), cid
        assert np.isnan(got.loc[cid, "spectral_flatness"]), cid
    assert bool(got.loc["c_short", "decode_ok"])
    assert int(got.loc["c_short", "n_used"]) == 100


def test_synth_tone_rate_parity(spark):
    """The q136 fixture contract: tonal_audit flags EXACTLY the clips the
    synth injector's independent tone stream planted (and tone_rate=0
    leaves the table byte-identical to the pre-injector generator)."""
    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7, tone_rate=0.03)
    exp = t.violations_expected.to_pandas()
    planted = set(exp[exp["check"] == "tonal"]["clip_id"])
    assert planted, "fixture must actually plant tones"
    # other checks' planted rows are untouched by the tone stream
    base = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    eb = base.violations_expected.to_pandas()
    assert set(map(tuple, eb.values)) <= set(map(tuple, exp.values))
    assert base.clips.num_rows == t.clips.num_rows

    got = (
        media.tonal_audit(spark.createDataFrame(t.clips.to_pandas()))
        .toPandas()
        .set_index("clip_id")
    )
    flagged = set(got[got["tonal"]].index)
    assert flagged == planted


def test_tonal_violations_adapter(spark):
    rows = [
        _clip("c_tone", _sine(4000, 440.0), codec="ulaw"),
        _clip("c_norm", _sine(4000, 440.0, noise=0.08, seed=3)),
        _clip("c_bad", _sine(800, 440.0), codec="opus"),  # NOT re-reported
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    v = wave_violations(df, None, SuiteSpec(), ("tonal",)).toPandas()
    assert list(v["key"]) == ["c_tone"]
    assert set(v["check"]) == {"tonal"}
    assert float(v["severity"].iloc[0]) == 2.5
    assert "dominant_hz=" in v["detail"].iloc[0]


def test_tonal_in_suite(spark, clip_dir, tmp_path):
    """Wire-through: checks=("tonal",) runs end-to-end; the spec knob
    reaches the operator (threshold 0 -> zero violations) and is part of
    checkpoint lineage."""
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite

    spec = SuiteSpec(checks=("tonal",), tonal_flatness_threshold=0.0)
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    assert all(set(v.violations_by_check) <= {"tonal"} for v in res.verdicts.values())
    assert sum(v.violations_by_check.get("tonal", 0) for v in res.verdicts.values()) == 0
    assert spec.spec_hash() != SuiteSpec(checks=("tonal",)).spec_hash()


def test_tonal_flows_through_stream_ingest(spark, tmp_path):
    """The landing-zone stream shares wave_violations with the batch suite,
    so the opt-in content checks run per micro-batch too: planted pure
    tones land in the sink exactly once (and nothing else, with only the
    tonal+stutter checks enabled)."""
    import os

    from audit_anomaly_detection_etl_spark.streaming import incremental

    t = synth.generate_clips(n_clips=300, n_parts=4, seed=19, tone_rate=0.02)
    exp = t.violations_expected.to_pandas()
    planted = set(exp[exp["check"] == "tonal"]["clip_id"])
    assert planted
    data = str(tmp_path / "data")
    synth.write_clip_tables(t, data)
    sink = str(tmp_path / "sink")

    spec = SuiteSpec(checks=("tonal", "stutter"))
    q = incremental.incremental_clip_validation(
        spark, os.path.join(data, "clips"), sink, str(tmp_path / "ck"), spec=spec
    )
    q.awaitTermination()
    got = spark.read.parquet(sink).toPandas()
    assert set(got["check"]) == {"tonal"}
    assert set(got["key"]) == planted
    assert len(got) == len(planted)  # exactly once


def test_batched_fft_path_matches_reference_kernel(spark):
    """Clips at >= max_samples take the batched 2-D rfft path; their
    flatness/dominant values must match an independent per-clip numpy
    reference (and a clip 1 sample short of the cap — the loop path — must
    agree with the same reference too)."""
    rng = np.random.default_rng(31)
    rows, ref_pcm = [], {}
    for i in range(6):
        n = 8192 if i < 4 else 8191  # 4 batched, 2 loop-path
        f0 = 100.0 + 70.0 * i
        noise = 0.08 if i % 2 else 0.0
        x = _sine(n, f0, noise=noise, seed=i)
        cid = f"b{i}"
        codec = ["pcm_s16le", "ulaw", "alaw", "pcm_f32le"][i % 4]
        rows.append(_clip(cid, x, codec=codec))
        ref_pcm[cid] = (codecs.decode(codecs.encode(x, codec), codec), n)
    got = _audit(spark, rows)
    for cid, (dec, n) in ref_pcm.items():
        m = min(n, 8192)
        x = np.asarray(dec, dtype=np.float64)[:m]
        p1 = np.abs(np.fft.rfft(x * np.hanning(m))[1:]) ** 2
        tot = p1.sum()
        want_flat = np.exp(np.log(p1 + (tot / p1.size) * 1e-12).mean()) / (tot / p1.size)
        b = int(np.argmax(p1)) + 1
        g = got.loc[cid]
        assert int(g["n_used"]) == m, cid
        assert g["spectral_flatness"] == pytest.approx(want_flat, rel=1e-9), cid
        assert g["dominant_hz"] == pytest.approx(b * SR / m, rel=1e-12), cid
        assert g["dominant_share"] == pytest.approx(p1[b - 1] / tot, rel=1e-9), cid


def test_chunked_batched_fft_matches_unchunked(spark):
    """The batched-FFT path is memory-bounded by processing rows in
    _FFT_CHUNK_ELEMS chunks; forcing many tiny chunks must not change any
    verdict or spectral value vs one big chunk (the kernel is per-row)."""
    rows = []
    for i in range(7):
        tone = i % 2 == 0
        pcm = _sine(12000, 440.0 + 10 * i, noise=0.0 if tone else 0.5, seed=i)
        rows.append(_clip(f"c{i}", pcm))
    base = _audit(spark, rows, max_samples=4096)
    # 2 rows per chunk -> 4 chunks over the 7 clips (param, not a module
    # global: executor processes re-import the module and would not see a
    # monkeypatched value)
    chunked = _audit(spark, rows, max_samples=4096, fft_chunk_elems=4096 * 2)
    pd.testing.assert_frame_equal(base, chunked)
