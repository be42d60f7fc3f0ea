"""payload_sample cost tier: the reference-comparison (decode) pass runs on
a deterministic key-hash sample; everything else keeps full coverage."""

import os

import pytest

from audit_anomaly_detection_etl_spark.plans.runner import run_suite
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec, spec_from_dict

PAYLOAD_CHECKS = {
    "codec", "payload_snr", "dur_mismatch", "transcript_null",
    "transcript_mismatch",
}


def _by_check(res) -> dict:
    out: dict = {}
    for v in res.verdicts.values():
        for c, n in v.violations_by_check.items():
            out[c] = out.get(c, 0) + n
    return out


def _run(spark, clip_dir, ckdir, sample):
    spec = SuiteSpec(
        checks=("payload",), payload_sample=sample, key_partitioned=True
    )
    return run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=os.path.join(clip_dir, "clips_ref"),
        hist_ref_path=None,
        checkpoint_dir=str(ckdir),
        spec=spec,
    )


def test_full_sample_equals_unsampled(spark, clip_dir, tmp_path):
    base = _by_check(_run(spark, clip_dir, tmp_path / "a", None))
    full = _by_check(_run(spark, clip_dir, tmp_path / "b", (1.0, "s")))
    assert base == full and sum(base.values()) > 0


def test_sample_is_deterministic_subset(spark, clip_dir, tmp_path):
    base = _by_check(_run(spark, clip_dir, tmp_path / "a", None))
    half1 = _by_check(_run(spark, clip_dir, tmp_path / "c", (0.5, "s1")))
    half2 = _by_check(_run(spark, clip_dir, tmp_path / "d", (0.5, "s1")))
    assert half1 == half2  # same salt -> identical evidence basis
    assert sum(half1.values()) < sum(base.values())
    assert all(half1.get(c, 0) <= base.get(c, 0) for c in base)
    assert set(half1) <= PAYLOAD_CHECKS


def test_different_salts_cover_different_keys(spark, clip_dir, tmp_path):
    import pyspark.sql.functions as F

    clips = spark.read.parquet(os.path.join(clip_dir, "clips"))

    def keys(salt):
        return {
            r["clip_id"]
            for r in clips.where(
                F.pmod(F.xxhash64(F.concat(F.col("clip_id"), F.lit(salt))), F.lit(10**6))
                < F.lit(500_000)
            ).collect()
        }

    a, b = keys("s1"), keys("s2")
    union = a | b
    assert len(a) == pytest.approx(clips.count() * 0.5, rel=0.15)
    # rotating the salt sweeps coverage: two half-samples cover ~75%
    assert len(union) > len(a) * 1.3


def test_sample_is_part_of_spec_hash_and_loader():
    s0 = SuiteSpec().spec_hash()
    s1 = SuiteSpec(payload_sample=(0.1, "a")).spec_hash()
    s2 = SuiteSpec(payload_sample=(0.1, "b")).spec_hash()
    assert len({s0, s1, s2}) == 3  # fraction/salt are lineage

    spec = spec_from_dict({"payload_sample": [0.25, "epoch-3"]})
    assert spec.payload_sample == (0.25, "epoch-3")
    assert spec_from_dict({"payload_sample": None}).payload_sample is None
    with pytest.raises(ValueError):
        spec_from_dict({"payload_sample": [1.5, "x"]})
    with pytest.raises(ValueError):
        spec_from_dict({"payload_sample": [0.5]})


def test_sample_gates_payload_rows_only(spark, tmp_path):
    """A sampled payload check beside audio checks: the wave's one decode
    pass sees every clip, so dropout and tonal rows cover every key while
    payload rows appear only for the sampled keys."""
    import numpy as np
    import pyarrow as pa
    import pyspark.sql.functions as F

    from audit_anomaly_detection_etl_spark.functions import codecs
    from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
    from audit_anomaly_detection_etl_spark.sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=4, seed=9, tone_rate=0.05)
    clips_pd = t.clips.to_pandas()
    dirty = set(t.violations_expected.column("clip_id").to_pylist())
    long_clean = [
        i for i in range(len(clips_pd))
        if clips_pd.at[i, "clip_id"] not in dirty and clips_pd.at[i, "dur_ms"] >= 300
    ]
    for i in long_clean[:12]:  # a 50 ms interior dropout
        codec, sr = clips_pd.at[i, "codec"], int(clips_pd.at[i, "sr_hz"])
        pcm = codecs.decode(clips_pd.at[i, "bytes"], codec).astype(np.float64)
        mid = len(pcm) // 2
        pcm[mid : mid + sr // 20] = 0.0
        clips_pd.at[i, "bytes"] = codecs.encode(pcm, codec)
    t.clips = pa.Table.from_pandas(clips_pd, schema=t.clips.schema, preserve_index=False)
    synth.write_clip_tables(t, str(tmp_path))
    clips = spark.read.parquet(str(tmp_path / "clips"))
    ref = spark.read.parquet(str(tmp_path / "clips_ref"))

    def rows(checks, sample=None):
        spec = SuiteSpec(checks=checks, payload_sample=sample)
        df = wave_violations(clips, ref, spec, checks).toPandas()
        return sorted(map(tuple, df[["key", "check", "detail", "part", "severity"]].values))

    sample = (0.5, "s1")
    got = rows(("payload", "dropout", "tonal"), sample)
    audio = rows(("dropout", "tonal"))
    payload_full = rows(("payload",))
    sampled = {
        r["clip_id"]
        for r in clips.where(
            F.pmod(F.xxhash64(F.concat(F.col("clip_id"), F.lit("s1"))), F.lit(10**6))
            < F.lit(500_000)
        ).collect()
    }
    got_audio = [r for r in got if r[1] in ("dropout", "tonal")]
    got_payload = [r for r in got if r[1] in PAYLOAD_CHECKS]
    assert len(got) == len(got_audio) + len(got_payload)
    assert got_audio == audio
    assert {"dropout", "tonal"} <= {r[1] for r in audio}
    assert {r[0] for r in audio} - sampled  # unsampled keys keep their audio rows
    assert got_payload == [r for r in payload_full if r[0] in sampled]
    assert got_payload == rows(("payload",), sample)
    assert 0 < len(got_payload) < len(payload_full)
