"""Exact run-length oracle for operators/media.dropout_audit: interior
digital-silence runs recomputed per clip with a reference numpy RLE, plus
boundary semantics (leading/trailing/all-zero excluded), codec zero-code
behavior (A-law's nonzero zero), batch-concatenation non-merge, and the
suite wire-through for the opt-in "dropout" check."""

import numpy as np
import pandas as pd
import pytest

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media
from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth

SR = 8000
MIN_MS = 30.0


def _oracle(pcm: np.ndarray, sr: int, min_ms: float, eps: float) -> dict:
    """Reference per-clip RLE: interior runs of |x| <= eps, >= min_ms."""
    m = np.abs(np.asarray(pcm, dtype=np.float64)) <= eps
    runs = []
    start = None
    for i, v in enumerate(m):
        if v and start is None:
            start = i
        elif not v and start is not None:
            runs.append((start, i - 1))
            start = None
    if start is not None:
        runs.append((start, len(m) - 1))
    out = []
    for s, e in runs:
        if s == 0 or e == len(m) - 1:
            continue  # boundary-touching: trim policy / all-zero, not a dropout
        ms = (e - s + 1) / sr * 1000.0
        if ms >= min_ms:
            out.append(ms)
    return {
        "n_dropouts": len(out),
        "max_dropout_ms": max(out) if out else 0.0,
        "dropout_ms_total": sum(out),
    }


def _tone(n: int, amp: float = 0.3) -> np.ndarray:
    """Zero-free signal: an alternating square wave, |x| = amp at EVERY
    sample — a sine's on-grid zero crossings would extend planted gaps by a
    sample and break exact-millisecond expectations."""
    t = np.arange(n, dtype=np.float64)
    return amp * np.where(t % 2 == 0, 1.0, -1.0)


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
    return (
        media.dropout_audit(df, **kw).toPandas().set_index("clip_id").sort_index()
    )


def test_dropout_matches_rle_oracle(spark):
    """Handbuilt shapes, exact sample counts -> exact millisecond values."""
    gap = lambda ms: np.zeros(int(SR * ms / 1000.0))  # noqa: E731
    rows = [
        # one interior 100 ms gap
        _clip("c_one", np.concatenate([_tone(800), gap(100), _tone(800)])),
        # leading 100 ms silence: boundary-touching, not a dropout
        _clip("c_lead", np.concatenate([gap(100), _tone(1600)])),
        # trailing 100 ms silence: boundary-touching, not a dropout
        _clip("c_trail", np.concatenate([_tone(1600), gap(100)])),
        # all zeros: one run touching both ends -> 0 dropouts (loudness owns it)
        _clip("c_allzero", np.zeros(1600)),
        # 40 ms + 35 ms interior gaps count; a 10 ms gap is below min_run_ms
        _clip(
            "c_multi",
            np.concatenate(
                [_tone(400), gap(40), _tone(400), gap(10), _tone(400), gap(35), _tone(400)]
            ),
        ),
        # exactly at threshold: 30 ms == min_run_ms counts (>=)
        _clip("c_edge", np.concatenate([_tone(400), gap(30), _tone(400)])),
        # one sample short of threshold: stays clean
        _clip(
            "c_under",
            np.concatenate([_tone(400), np.zeros(int(SR * 0.030) - 1), _tone(400)]),
        ),
        # clean tone
        _clip("c_clean", _tone(1600)),
    ]
    got = _audit(spark, rows, min_run_ms=MIN_MS)
    for r in rows:
        pcm = codecs.decode(r["bytes"], r["codec"])
        want = _oracle(pcm, r["sr_hz"], MIN_MS, media._DROPOUT_ZERO_EPS)
        g = got.loc[r["clip_id"]]
        assert bool(g["decode_ok"]), r["clip_id"]
        assert int(g["n_dropouts"]) == want["n_dropouts"], r["clip_id"]
        assert g["max_dropout_ms"] == pytest.approx(want["max_dropout_ms"]), r["clip_id"]
        assert g["dropout_ms_total"] == pytest.approx(want["dropout_ms_total"]), r["clip_id"]
    # the shape-level expectations the oracle itself must encode:
    assert int(got.loc["c_one", "n_dropouts"]) == 1
    assert got.loc["c_one", "max_dropout_ms"] == pytest.approx(100.0)
    assert int(got.loc["c_lead", "n_dropouts"]) == 0
    assert int(got.loc["c_trail", "n_dropouts"]) == 0
    assert int(got.loc["c_allzero", "n_dropouts"]) == 0
    assert int(got.loc["c_multi", "n_dropouts"]) == 2
    assert got.loc["c_multi", "dropout_ms_total"] == pytest.approx(75.0)
    assert int(got.loc["c_edge", "n_dropouts"]) == 1
    assert int(got.loc["c_under", "n_dropouts"]) == 0
    assert int(got.loc["c_clean", "n_dropouts"]) == 0


def test_dropout_survives_every_codec(spark):
    """A zeroed window re-encoded through each codec stays under the
    digital-silence gate — including A-law, whose zero code decodes to
    1/4096, not 0."""
    pcm = np.concatenate([_tone(800), np.zeros(int(SR * 0.05)), _tone(800)])
    rows = [_clip(f"c_{c}", pcm, codec=c) for c in codecs.CODECS]
    got = _audit(spark, rows)
    for c in codecs.CODECS:
        g = got.loc[f"c_{c}"]
        assert int(g["n_dropouts"]) == 1, c
        assert g["max_dropout_ms"] == pytest.approx(50.0, abs=0.5), c


def test_dropout_batch_boundaries_do_not_merge(spark):
    """Clip A ending in zeros followed (in the same Arrow batch) by clip B
    starting with zeros: the concatenated mask must not merge them into one
    interior run — both stay boundary-touching, 0 dropouts each."""
    a = np.concatenate([_tone(800), np.zeros(800)])
    b = np.concatenate([np.zeros(800), _tone(800)])
    got = _audit(spark, [_clip("a", a), _clip("b", b)])
    assert int(got.loc["a", "n_dropouts"]) == 0
    assert int(got.loc["b", "n_dropouts"]) == 0


def test_dropout_undecodable_and_quiet_speech(spark):
    rows = [
        # unknown codec -> decode_ok False, NaN stats
        _clip("c_bad", _tone(100), codec="opus"),
        # torn payload (odd byte count for s16le)
        {
            "clip_id": "c_torn",
            "part": 0,
            "bytes": b"\x00\x01\x02",
            "codec": "pcm_s16le",
            "sr_hz": SR,
        },
        # quiet-but-real speech at -60 dBFS: decodes ABOVE the zero gate,
        # never a dropout even for long stretches
        _clip(
            "c_quiet",
            np.concatenate([_tone(400), np.full(800, 1e-3), _tone(400)]),
        ),
    ]
    got = _audit(spark, rows)
    assert not bool(got.loc["c_bad", "decode_ok"])
    assert np.isnan(got.loc["c_bad", "max_dropout_ms"])
    assert not bool(got.loc["c_torn", "decode_ok"])
    assert bool(got.loc["c_quiet", "decode_ok"])
    assert int(got.loc["c_quiet", "n_dropouts"]) == 0


def test_dropout_synth_planting_matches_q134_fixture(spark):
    """The q134 fixture transform (zero a 50 ms window at 1/4 of each 9th
    clip) produces exactly the planted dropouts on decodable clips."""
    t = synth.generate_clips(n_clips=120, n_parts=4, seed=7)
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
            w = int(sr * 0.05)
            s = len(pcm) // 4
            if s > 0 and s + w < len(pcm) - 1:
                pcm[s : s + w] = 0.0
                pdf.at[i, "bytes"] = codecs.encode(pcm, c)
                planted.add(pdf.at[i, "clip_id"])
    got = (
        media.dropout_audit(spark.createDataFrame(pdf), min_run_ms=30.0)
        .toPandas()
        .set_index("clip_id")
    )
    assert planted  # the fixture must actually plant something
    for cid in planted:
        g = got.loc[cid]
        if isinstance(g, pd.DataFrame):  # synth's deliberate duplicate rows
            g = g.iloc[0]
        assert int(g["n_dropouts"]) >= 1, cid
        assert g["max_dropout_ms"] >= 50.0 - 0.5, cid


def test_dropout_violations_adapter(spark):
    rows = [
        _clip("c_hit", np.concatenate([_tone(800), np.zeros(800), _tone(800)])),
        _clip("c_clean", _tone(1600)),
        _clip("c_bad", _tone(100), codec="opus"),  # undecodable: NOT re-reported
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    v = wave_violations(df, None, SuiteSpec(), ("dropout",)).toPandas()
    assert list(v["key"]) == ["c_hit"]
    assert set(v["check"]) == {"dropout"}
    assert float(v["severity"].iloc[0]) == 3.5
    assert "n_dropouts=1" in v["detail"].iloc[0]


def test_dropout_in_suite(spark, clip_dir, tmp_path):
    """Wire-through: checks=("dropout",) runs end-to-end; spec knob reaches
    the operator (min_run_ms absurdly high -> zero violations)."""
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite

    spec = SuiteSpec(checks=("dropout",), dropout_min_run_ms=1e9)
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    assert all(set(v.violations_by_check) <= {"dropout"} for v in res.verdicts.values())
    assert sum(v.violations_by_check.get("dropout", 0) for v in res.verdicts.values()) == 0
    # the knob is part of checkpoint lineage
    assert spec.spec_hash() != SuiteSpec(checks=("dropout",)).spec_hash()


def test_dropout_randomized_patterns_match_oracle(spark):
    """200 seeded random zero-patterned clips in ONE batch vs the pure-
    python RLE oracle — randomized coverage of run/boundary interactions
    (runs at clip edges, adjacent runs, whole-clip silence, sub-threshold
    runs) beyond the handbuilt shapes."""
    rng = np.random.default_rng(42)
    rows, pcms = [], {}
    for i in range(200):
        n = int(rng.integers(2, 4000))
        pcm = np.where(rng.random(n) < 0.5, 0.3, -0.3)  # zero-free carrier
        # zero out a random number of random windows (may touch edges/overlap)
        for _ in range(int(rng.integers(0, 4))):
            a = int(rng.integers(0, n))
            b = min(n, a + int(rng.integers(1, 1200)))
            pcm[a:b] = 0.0
        codec = ["pcm_s16le", "ulaw", "alaw", "pcm_f32le"][i % 4]
        cid = f"r{i:03d}"
        pcms[cid] = (pcm, codec)
        rows.append(_clip(cid, pcm, codec=codec))
    got = _audit(spark, rows, min_run_ms=MIN_MS)
    for cid, (pcm, codec) in pcms.items():
        dec = codecs.decode(codecs.encode(pcm, codec), codec)
        want = _oracle(dec, SR, MIN_MS, media._DROPOUT_ZERO_EPS)
        g = got.loc[cid]
        assert int(g["n_dropouts"]) == want["n_dropouts"], cid
        assert g["max_dropout_ms"] == pytest.approx(want["max_dropout_ms"]), cid
        assert g["dropout_ms_total"] == pytest.approx(want["dropout_ms_total"]), cid
