"""Exact oracle for operators/media.stutter_audit: planted frame repeats
per codec, run-length and min_repeats semantics, silence exclusion (the
dropout check's domain), alignment robustness, edge cases, the q138
fixture parity, and the suite wire-through for the opt-in "stutter"
check."""

import numpy as np
import pandas as pd
import pytest

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media
from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth

SR = 8000
FLEN = int(SR * 0.020)  # 160 samples per 20 ms frame


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
    return media.stutter_audit(df, **kw).toPandas().set_index("clip_id").sort_index()


def _noise(n: int, seed: int = 0, amp: float = 0.3) -> np.ndarray:
    return np.clip(amp * np.random.default_rng(seed).standard_normal(n), -0.999, 0.999)


def test_planted_repeats_per_codec(spark):
    """One frame tiled k times, frame-aligned: exactly one run of k
    identical frames, under every codec (stateless round-trips preserve
    frame identity); the untouched noise carrier never stutters."""
    rows, want = [], {}
    for codec in codecs.CODECS:
        base = _noise(40 * FLEN, seed=hash(codec) % 2**31)
        stut = base.copy()
        stut[10 * FLEN : 15 * FLEN] = np.tile(stut[10 * FLEN : 11 * FLEN], 5)
        rows.append(_clip(f"s_{codec}", stut, codec=codec))
        rows.append(_clip(f"c_{codec}", base, codec=codec))
        want[f"s_{codec}"] = 5
        want[f"c_{codec}"] = 0
    got = _audit(spark, rows)
    for cid, k in want.items():
        g = got.loc[cid]
        assert bool(g["decode_ok"]), cid
        if k:
            assert int(g["n_stutters"]) == 1, cid
            assert int(g["max_repeat_frames"]) == k, cid
            assert g["stutter_ms_total"] == pytest.approx(k * 20.0), cid
        else:
            assert int(g["n_stutters"]) == 0, cid


def test_min_repeats_threshold(spark):
    base = _noise(30 * FLEN, seed=5)
    two = base.copy()
    two[8 * FLEN : 10 * FLEN] = np.tile(two[8 * FLEN : 9 * FLEN], 2)  # 2 identical
    three = base.copy()
    three[8 * FLEN : 11 * FLEN] = np.tile(three[8 * FLEN : 9 * FLEN], 3)
    got = _audit(spark, [_clip("two", two), _clip("three", three)], min_repeats=3)
    assert int(got.loc["two", "n_stutters"]) == 0
    assert int(got.loc["three", "n_stutters"]) == 1
    assert int(got.loc["three", "max_repeat_frames"]) == 3
    # the knob: min_repeats=2 now counts the pair
    got2 = _audit(spark, [_clip("two", two)], min_repeats=2)
    assert int(got2.loc["two", "n_stutters"]) == 1


def test_unaligned_plant_still_caught(spark):
    """A repeat region NOT aligned to the audit's frame grid still contains
    >= k-1 full aligned identical frames (periodicity argument) — the q138
    fixture relies on this."""
    base = _noise(40 * FLEN, seed=9)
    stut = base.copy()
    s = 10 * FLEN + 37  # deliberately off-grid
    stut[s : s + 5 * FLEN] = np.tile(stut[s : s + FLEN], 5)
    got = _audit(spark, [_clip("off", stut)])
    g = got.loc["off"]
    assert int(g["n_stutters"]) == 1
    assert int(g["max_repeat_frames"]) >= 4


def test_silence_repeats_are_dropouts_not_stutters(spark):
    """Identical all-silent frames belong to dropout_audit — excluded here
    even though they are bit-identical."""
    base = _noise(30 * FLEN, seed=11)
    quiet = base.copy()
    quiet[8 * FLEN : 14 * FLEN] = 0.0
    got = _audit(spark, [_clip("gap", quiet)])
    assert int(got.loc["gap", "n_stutters"]) == 0
    # the same window at audible level IS a stutter (constant != silence)
    loud = base.copy()
    loud[8 * FLEN : 14 * FLEN] = 0.25
    got2 = _audit(spark, [_clip("dc", loud)])
    assert int(got2.loc["dc", "n_stutters"]) == 1
    assert int(got2.loc["dc", "max_repeat_frames"]) == 6


def test_two_separate_runs_counted(spark):
    base = _noise(40 * FLEN, seed=13)
    x = base.copy()
    x[5 * FLEN : 8 * FLEN] = np.tile(x[5 * FLEN : 6 * FLEN], 3)
    x[20 * FLEN : 24 * FLEN] = np.tile(x[20 * FLEN : 21 * FLEN], 4)
    got = _audit(spark, [_clip("twice", x)])
    g = got.loc["twice"]
    assert int(g["n_stutters"]) == 2
    assert int(g["max_repeat_frames"]) == 4
    assert g["stutter_ms_total"] == pytest.approx(7 * 20.0)


def test_edge_semantics(spark):
    rows = [
        _clip("c_bad", _noise(800), codec="opus"),  # undecodable
        _clip("c_short", np.full(2 * FLEN, 0.2)),  # < min_repeats frames
        {
            "clip_id": "c_nan",  # NaN frames never compare equal
            "part": 0,
            "bytes": np.full(10 * FLEN, np.nan, dtype="<f4").tobytes(),
            "codec": "pcm_f32le",
            "sr_hz": SR,
        },
        _clip("c_sr0", np.full(10 * FLEN, 0.2), sr=0),  # schema's defect
    ]
    got = _audit(spark, rows)
    assert not bool(got.loc["c_bad", "decode_ok"])
    assert np.isnan(got.loc["c_bad", "stutter_ms_total"])
    for cid in ("c_short", "c_nan", "c_sr0"):
        assert int(got.loc[cid, "n_stutters"]) == 0, cid


def test_corpus_clips_are_clean(spark):
    """The synth corpus (sine+noise carriers, all codecs, planted
    violations included) must produce ZERO stutters — the noise floor
    differs every frame."""
    t = synth.generate_clips(n_clips=300, n_parts=8, seed=3)
    got = media.stutter_audit(spark.createDataFrame(t.clips.to_pandas())).toPandas()
    assert int(got["n_stutters"].sum()) == 0


def test_q138_fixture_flags_exactly_the_planted_subset(spark):
    """Replays the q138 fixture transform and asserts the audit flags all
    planted clips and nothing else."""
    t = synth.generate_clips(n_clips=200, n_parts=8, seed=7)
    pdf = t.clips.to_pandas()
    planted = set()
    for i in range(0, len(pdf), 9):
        c, b, sr = pdf.at[i, "codec"], pdf.at[i, "bytes"], int(pdf.at[i, "sr_hz"])
        if (
            c in codecs.CODECS
            and b
            and sr > 0
            and len(b) % codecs.bytes_per_sample(c) == 0
        ):
            pcm = np.array(codecs.decode(b, c), dtype=np.float64)
            flen = int(round(sr * 0.020))
            s = len(pcm) // 4
            if s > 0 and s + 5 * flen < len(pcm) - 1:
                pcm[s : s + 5 * flen] = np.tile(pcm[s : s + flen], 5)
                pdf.at[i, "bytes"] = codecs.encode(pcm, c)
                planted.add(pdf.at[i, "clip_id"])
    assert planted
    got = media.stutter_audit(spark.createDataFrame(pdf)).toPandas()
    flagged = set(got[got["n_stutters"] > 0]["clip_id"])
    assert flagged == planted


def test_stutter_violations_adapter(spark):
    base = _noise(30 * FLEN, seed=21)
    stut = base.copy()
    stut[8 * FLEN : 13 * FLEN] = np.tile(stut[8 * FLEN : 9 * FLEN], 5)
    rows = [
        _clip("c_hit", stut),
        _clip("c_clean", base),
        _clip("c_bad", base, codec="opus"),  # NOT re-reported
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    v = wave_violations(df, None, SuiteSpec(), ("stutter",)).toPandas()
    assert list(v["key"]) == ["c_hit"]
    assert set(v["check"]) == {"stutter"}
    assert float(v["severity"].iloc[0]) == 3.5
    assert "max_repeat_frames=5" in v["detail"].iloc[0]


def test_stutter_in_suite(spark, clip_dir, tmp_path):
    """Wire-through: checks=("stutter",) runs end-to-end; the spec knob
    reaches the operator (min_repeats absurdly high -> zero violations)
    and is part of checkpoint lineage."""
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite

    spec = SuiteSpec(checks=("stutter",), stutter_params=(20.0, 10**6))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    assert all(set(v.violations_by_check) <= {"stutter"} for v in res.verdicts.values())
    assert sum(v.violations_by_check.get("stutter", 0) for v in res.verdicts.values()) == 0
    assert spec.spec_hash() != SuiteSpec(checks=("stutter",)).spec_hash()


def test_stutter_randomized_patterns_match_oracle(spark):
    """120 seeded random clips with random tiled windows (frame-aligned
    and off-grid, overlapping, edge-touching) in ONE batch vs a pure-python
    frame-repeat oracle — randomized coverage of alignment and run-merge
    interactions beyond the handbuilt shapes."""

    def oracle(pcm, sr, frame_ms, min_repeats, eps):
        flen = max(1, int(round(sr * frame_ms / 1000.0)))
        k = len(pcm) // flen
        runs, cur = [], 1
        for f in range(1, k):
            a = pcm[(f - 1) * flen : f * flen]
            b = pcm[f * flen : (f + 1) * flen]
            same = bool((a == b).all()) and float(np.abs(b).max()) > eps
            if same:
                cur += 1
            else:
                if cur >= min_repeats:
                    runs.append(cur)
                cur = 1
        if cur >= min_repeats:
            runs.append(cur)
        return runs

    rng = np.random.default_rng(99)
    rows, pcms = [], {}
    for i in range(120):
        n = int(rng.integers(2, 30 * FLEN))
        pcm = np.where(rng.random(n) < 0.5, 0.3, -0.3)
        for _ in range(int(rng.integers(0, 3))):
            w = int(rng.integers(FLEN // 2, 4 * FLEN))
            a = int(rng.integers(0, n))
            reps = int(rng.integers(2, 6))
            chunk = pcm[a : a + w]
            if len(chunk) == 0:
                continue
            tiled = np.tile(chunk, reps)[: max(0, n - a)]
            pcm[a : a + len(tiled)] = tiled
        if rng.random() < 0.2:  # some silent windows (dropout's domain)
            a = int(rng.integers(0, n))
            pcm[a : a + int(rng.integers(1, 5 * FLEN))] = 0.0
        codec = ["pcm_s16le", "ulaw", "alaw", "pcm_f32le"][i % 4]
        cid = f"r{i:03d}"
        pcms[cid] = (pcm, codec)
        rows.append(_clip(cid, pcm, codec=codec))
    got = _audit(spark, rows, min_repeats=3)
    eps = media._DROPOUT_ZERO_EPS
    for cid, (pcm, codec) in pcms.items():
        dec = codecs.decode(codecs.encode(pcm, codec), codec)
        runs = oracle(np.asarray(dec), SR, 20.0, 3, eps)
        g = got.loc[cid]
        assert int(g["n_stutters"]) == len(runs), cid
        assert int(g["max_repeat_frames"]) == (max(runs) if runs else 0), cid
        assert g["stutter_ms_total"] == pytest.approx(
            sum(runs) * (FLEN / SR * 1000.0)
        ), cid


def test_stutter_and_tonal_never_raise_on_arbitrary_bytes(spark):
    """Robustness contract (RIFF-walker fuzz sibling): arbitrary byte
    payloads under every declared codec must produce a row, never an
    executor exception — junk f32 reinterpretations carry NaN/inf through
    the frame-equality and FFT paths."""
    rng = np.random.default_rng(17)
    rows = []
    for i in range(120):
        nb = int(rng.integers(0, 6000))
        raw = rng.integers(0, 256, nb, dtype=np.uint8).tobytes()
        codec = ["pcm_s16le", "pcm_f32le", "ulaw", "alaw", "opus", ""][i % 6]
        rows.append(
            {"clip_id": f"f{i:03d}", "part": i % 4, "bytes": raw,
             "codec": codec, "sr_hz": SR}
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    st = media.stutter_audit(df).toPandas()
    to = media.tonal_audit(df).toPandas()
    assert len(st) == 120 and len(to) == 120
    assert st["n_stutters"].notna().all()
    assert to["tonal"].isin([True, False]).all()
