"""Planted-swap oracle for operators/payload.codec_sniff_audit: every
deterministically mislabeled G.711 clip must be flagged, no correctly
labeled clip may be (including noise-heavy content, the absolute-threshold
trap), with roughness values matching a direct numpy recomputation."""

import numpy as np
import pandas as pd
import pytest

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import payload
from audit_anomaly_detection_etl_spark.sources import synth

SR = 8000


def _roughness(x: np.ndarray) -> float:
    x = x.astype(np.float64)
    e = float(np.mean(x * x))
    if len(x) < 2 or e <= 0:
        return float("nan")
    d = np.diff(x)
    return float(np.mean(d * d)) / e


def _rows_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "part", "bytes", "codec"])
    )


def test_sniff_planted_swaps_exact(spark):
    """Swap the declared law on a deterministic subset of synth clips
    (bytes untouched): every swapped G.711 clip flags, nothing else does."""
    t = synth.generate_clips(n_clips=300, n_parts=4, seed=17)
    pdf = t.clips.to_pandas()
    swap = {"ulaw": "alaw", "alaw": "ulaw"}
    swapped = set()
    for i in range(0, len(pdf), 7):
        c = pdf.at[i, "codec"]
        if c in swap:
            pdf.at[i, "codec"] = swap[c]
            swapped.add(pdf.at[i, "clip_id"])
    got = (
        payload.codec_sniff_audit(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("clip_id")
    )
    assert swapped  # the fixture must plant something
    flagged = set(got.index[got["suspect_codec"]])
    # every planted swap is caught...
    missed = swapped - flagged
    assert not missed, f"missed planted swaps: {sorted(missed)[:5]}"
    # ...and nothing else is (synth's duplicate rows share clip_ids with
    # identical payloads, so flagged-by-id == planted-by-id exactly)
    extra = flagged - swapped
    assert not extra, f"false positives: {sorted(extra)[:5]}"


def test_sniff_roughness_matches_numpy(spark):
    t = synth.generate_clips(n_clips=80, n_parts=2, seed=23)
    pdf = t.clips.to_pandas()
    got = (
        payload.codec_sniff_audit(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("clip_id")
    )
    checked = 0
    for _, row in pdf.iterrows():
        c, b = row["codec"], row["bytes"]
        if c not in codecs.CODECS or not b or len(b) % codecs.bytes_per_sample(c):
            continue
        g = got.loc[row["clip_id"]]
        if isinstance(g, pd.DataFrame):
            g = g.iloc[0]
        want = _roughness(codecs.decode(b, c))
        assert g["roughness_declared"] == pytest.approx(round(want, 6), abs=2e-6)
        checked += 1
    assert checked > 60


def test_sniff_noise_content_is_not_flagged(spark):
    """White noise has roughness ~2 under EVERY law — the ratio test keeps
    correctly-labeled noise clean where an absolute threshold would flag."""
    rng = np.random.default_rng(5)
    noise = (rng.standard_normal(SR) * 0.2).clip(-0.99, 0.99)
    rows = []
    for c in ("ulaw", "alaw", "pcm_s16le"):
        rows.append((f"noise_{c}", 0, codecs.encode(noise, c), c))
    got = _rows_df(spark, rows)
    out = payload.codec_sniff_audit(got).toPandas().set_index("clip_id")
    assert not out["suspect_codec"].any(), out[out["suspect_codec"]].index.tolist()
    # sanity: the noise really does sit in the absolute-threshold trap zone
    assert (out["roughness_declared"] > payload._SNIFF_MIN_ROUGHNESS).all()


def test_sniff_swapped_tone_is_flagged_and_identifies_law(spark):
    tt = np.arange(SR, dtype=np.float64) / SR
    tone = 0.4 * np.sin(2 * np.pi * 300 * tt)
    rows = [
        ("lied_ulaw", 0, codecs.encode(tone, "alaw"), "ulaw"),  # really alaw
        ("lied_alaw", 0, codecs.encode(tone, "ulaw"), "alaw"),  # really ulaw
        ("honest", 0, codecs.encode(tone, "ulaw"), "ulaw"),
    ]
    out = payload.codec_sniff_audit(_rows_df(spark, rows)).toPandas().set_index("clip_id")
    assert bool(out.loc["lied_ulaw", "suspect_codec"])
    assert out.loc["lied_ulaw", "best_alt_codec"] == "alaw"
    assert bool(out.loc["lied_alaw", "suspect_codec"])
    assert out.loc["lied_alaw", "best_alt_codec"] == "ulaw"
    assert not bool(out.loc["honest", "suspect_codec"])


def test_sniff_edge_inputs(spark):
    rows = [
        ("unknown", 0, b"\x01\x02\x03\x04", "opus"),  # unknown codec
        ("empty", 0, b"", "ulaw"),
        ("silence", 0, codecs.encode(np.zeros(400), "ulaw"), "ulaw"),
        ("one", 0, codecs.encode(np.array([0.3]), "ulaw"), "ulaw"),
    ]
    out = payload.codec_sniff_audit(_rows_df(spark, rows)).toPandas().set_index("clip_id")
    assert not out["suspect_codec"].any()
    assert not bool(out.loc["unknown", "decode_ok"])
    assert not bool(out.loc["empty", "decode_ok"])
    # silence: zero energy => roughness undefined => never suspect
    assert not bool(out.loc["silence", "decode_ok"])
    assert not bool(out.loc["one", "decode_ok"])


def test_sniff_violations_adapter_and_suite(spark, clip_dir, tmp_path):
    tt = np.arange(SR, dtype=np.float64) / SR
    tone = 0.4 * np.sin(2 * np.pi * 300 * tt)
    rows = [
        ("lied", 0, codecs.encode(tone, "alaw"), "ulaw"),
        ("honest", 0, codecs.encode(tone, "ulaw"), "ulaw"),
    ]
    from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    v = wave_violations(_rows_df(spark, rows), None, SuiteSpec(), ("codec_sniff",)).toPandas()
    assert list(v["key"]) == ["lied"]
    assert set(v["check"]) == {"codec_sniff"}
    assert float(v["severity"].iloc[0]) == 4.2
    assert "best_alt=alaw" in v["detail"].iloc[0]

    # suite wire-through: ratio knob reaches the operator (absurd ratio ->
    # zero violations) and enters spec-hash lineage
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite

    spec = SuiteSpec(checks=("codec_sniff",), codec_sniff_ratio=1e9)
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    assert all(
        set(v.violations_by_check) <= {"codec_sniff"} for v in res.verdicts.values()
    )
    assert (
        sum(v.violations_by_check.get("codec_sniff", 0) for v in res.verdicts.values())
        == 0
    )
    assert spec.spec_hash() != SuiteSpec(checks=("codec_sniff",)).spec_hash()


def test_sniff_never_raises_on_arbitrary_bytes(spark):
    """Robustness contract (same as the RIFF-walker fuzz): arbitrary byte
    payloads under every declared codec must produce a row, never an
    executor exception — junk f32 reinterpretations carry signaling NaNs,
    inf energies, and ~1e38 magnitudes through the roughness math."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(120):
        nb = int(rng.integers(0, 600))
        raw = rng.integers(0, 256, nb, dtype=np.uint8).tobytes()
        codec = ["pcm_s16le", "pcm_f32le", "ulaw", "alaw", "opus", ""][i % 6]
        rows.append((f"f{i:03d}", i % 4, raw, codec))
    out = payload.codec_sniff_audit(_rows_df(spark, rows)).toPandas()
    assert len(out) == 120
    # the flag column is always a concrete bool, never null
    assert out["suspect_codec"].isin([True, False]).all()
