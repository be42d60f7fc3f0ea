"""Exact numpy oracle for operators/media.loudness_audit: per-clip dBFS,
gain, headroom and verdicts recomputed from the decoded PCM, plus verdict
edge cases (silence, undecodable, boost-that-would-clip)."""

import numpy as np
import pandas as pd
import pytest

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media
from audit_anomaly_detection_etl_spark.operators.schema_check import TableSchemaSpec
from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth


def _loudness_rows(df, key_col="clip_id", part_col="part"):
    """The loudness check's violation rows through the suite's check table,
    under a spec naming ``key_col``/``part_col`` as the table's key/part."""
    spec = SuiteSpec(schema_spec=TableSchemaSpec([], key_col=key_col, part_col=part_col))
    return wave_violations(df, None, spec, ("loudness",))


FS = 1.0  # decoded PCM is normalized float in [-1, 1)
TARGET = -20.0
TOL = 1.0


def _oracle(pcm: np.ndarray) -> dict:
    rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
    peak = float(np.max(np.abs(pcm.astype(np.float64))))
    if rms <= 0:
        return {"verdict": "undecodable"}
    rms_db = 20.0 * np.log10(rms / FS)
    peak_db = 20.0 * np.log10(peak / FS)
    gain = TARGET - rms_db
    headroom = -peak_db
    if abs(gain) <= TOL:
        v = "ok"
    elif gain > 0 and gain > headroom:
        v = "boost_clips"
    elif gain > 0:
        v = "boost"
    else:
        v = "attenuate"
    return {
        "rms_dbfs": rms_db,
        "peak_dbfs": peak_db,
        "gain_db": gain,
        "headroom_db": headroom,
        "verdict": v,
    }


def test_loudness_matches_numpy_oracle(spark):
    t = synth.generate_clips(n_clips=300, n_parts=4, seed=11)
    clips = spark.createDataFrame(t.clips.to_pandas())
    got = (
        media.loudness_audit(media.audio_features(clips), TARGET, TOL)
        .toPandas()
        .set_index("clip_id")
    )
    verdicts = set()
    checked = 0
    for _, row in t.clips.to_pandas().iterrows():
        g = got.loc[row["clip_id"]]
        if isinstance(g, pd.DataFrame):
            g = g.iloc[0]
        if row["codec"] not in codecs.CODECS:
            assert g["verdict"] == "undecodable"
            assert g["gain_db"] is None or np.isnan(g["gain_db"])
            continue
        want = _oracle(codecs.decode(row["bytes"], row["codec"]))
        assert g["verdict"] == want["verdict"]
        if want["verdict"] != "undecodable":
            for k in ("rms_dbfs", "peak_dbfs", "gain_db", "headroom_db"):
                assert g[k] == pytest.approx(want[k], abs=2e-6), (row["clip_id"], k)
        verdicts.add(g["verdict"])
        checked += 1
    assert checked > 250
    assert verdicts  # at least one decodable verdict class observed


def test_loudness_verdict_edges(spark):
    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr
    mk = lambda amp: (amp * np.sin(2 * np.pi * 440 * t)).astype(np.float64)  # noqa: E731
    # sine RMS = amp/sqrt(2); pick amps for each verdict at TARGET=-20 dBFS
    quiet = mk(0.002)  # rms ~ -57 dBFS -> needs +37 dB, headroom ~54 dB: boost
    loud = mk(0.9)  # rms ~ -3.9 dBFS -> attenuate
    at_target = mk((10 ** (TARGET / 20.0)) * np.sqrt(2.0))  # exactly -20
    # spiky-quiet: tiny rms but one near-full-scale spike -> boost would clip
    spiky = mk(0.002)
    spiky[100] = 0.97
    silence = np.zeros(sr)
    rows = []
    for i, pcm in enumerate([quiet, loud, at_target, spiky, silence]):
        rows.append(
            {
                "clip_id": f"c{i}",
                "part": 0,
                "bytes": codecs.encode(pcm, "pcm_s16le"),
                "codec": "pcm_s16le",
                "sr_hz": sr,
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = (
        media.loudness_audit(media.audio_features(df), TARGET, TOL)
        .toPandas()
        .set_index("clip_id")["verdict"]
    )
    assert out["c0"] == "boost"
    assert out["c1"] == "attenuate"
    assert out["c2"] == "ok"
    assert out["c3"] == "boost_clips"
    assert out["c4"] == "undecodable"


def test_loudness_in_suite(spark, clip_dir, tmp_path):
    """Wire-through: checks=("loudness",) with an absurdly high target makes
    every decodable non-silent clip a boost_clips violation."""
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    spec = SuiteSpec(checks=("loudness",), loudness_bounds=(60.0, 1.0))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    total = sum(v.violations_by_check.get("loudness", 0) for v in res.verdicts.values())
    assert total > 1000  # nearly all 1200 clips need +gain beyond headroom
    assert all(set(v.violations_by_check) <= {"loudness"} for v in res.verdicts.values())


def test_spec_loader_accepts_loudness(tmp_path):
    from audit_anomaly_detection_etl_spark.plans.spec import (
        SuiteSpec,
        spec_from_file,
    )

    p = tmp_path / "s.json"
    p.write_text('{"checks": ["schema", "loudness"], "loudness_bounds": [-18, 2]}')
    spec = spec_from_file(str(p))
    assert "loudness" in spec.checks
    assert spec.loudness_bounds == (-18.0, 2.0)
    # bounds participate in the lineage hash
    assert spec.spec_hash() != SuiteSpec(checks=("schema", "loudness")).spec_hash()


def test_custom_key_with_bystander_clip_id(spark):
    """A spec key_col != clip_id over a table that ALSO carries a clip_id
    column (e.g. a foreign-key reference): the remap must shadow the
    bystander, not duplicate the name (AMBIGUOUS_REFERENCE), and a
    misspelled key must fail fast by name."""
    # quiet floor + one large spike: gain to -20 dBFS far exceeds headroom
    pcm = np.full(1600, 0.001, dtype=np.float32)
    pcm[100] = 0.5
    raw = codecs.encode(pcm, "pcm_s16le")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "utt_id": ["u1"],
                "clip_id": ["bystander-fk"],  # different meaning entirely
                "bytes": [raw],
                "sr_hz": [16000],
                "dur_ms": [100],
                "codec": ["pcm_s16le"],
                "part": [0],
            }
        )
    )
    out = _loudness_rows(df, key_col="utt_id").collect()
    assert [r["key"] for r in out] == ["u1"]  # quiet clip -> boost_clips
    with pytest.raises(ValueError, match="no_such"):
        _loudness_rows(df, key_col="no_such")
