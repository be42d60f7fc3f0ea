"""The wave's one decode pass (plans/checks.py:_decode_pass): payload and
the audio opt-ins share one mapInPandas, so a duplicated ref key must fan
out the payload rows only, and a slice without a ref table still runs the
audio checks."""

import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.operators import media, payload
from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth

AUDIO = ("loudness", "dropout", "codec_sniff", "tonal", "stutter")


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("decode_pass")
    t = synth.generate_clips(n_clips=300, n_parts=4, seed=21, tone_rate=0.05)
    synth.write_clip_tables(t, str(d))
    return spark.read.parquet(f"{d}/clips"), spark.read.parquet(f"{d}/clips_ref")


def _rows(df) -> list:
    pdf = df.toPandas()
    return sorted(map(tuple, pdf[["key", "check", "detail", "part", "severity"]].values))


_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
# AQE turns the sort-merge join into a shuffled hash join that builds the
# smaller clip (left) side and streams the ref rows, so one clip row's
# matches come back apart from each other
_HASH_BUILD_LEFT = {
    **_NO_BROADCAST, "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m"
}
JOIN_CONFS = {
    "default_batches": ({}, None),
    "2_row_batches": ({_ARROW_BATCH: "2"}, None),
    "sort_merge": (_NO_BROADCAST, "SortMergeJoin"),
    "hash_build_left": (_HASH_BUILD_LEFT, "BuildLeft"),
    "hash_build_left_2_row_batches": ({**_HASH_BUILD_LEFT, _ARROW_BATCH: "2"}, "BuildLeft"),
}


@pytest.mark.parametrize("conf, join", JOIN_CONFS.values(), ids=JOIN_CONFS.keys())
def test_duplicate_ref_key_fans_out_payload_rows_only(spark, tables, conf, join):
    """Whatever the join strategy and Arrow batch size, a clip row's joined
    rows may arrive split across batches or apart from each other: the
    audio kernels must still run once per clip row."""
    clips, ref = tables
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        _check_duplicate_ref_key(clips, ref, join)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _check_duplicate_ref_key(clips, ref, join):
    audio = _rows(wave_violations(clips, None, SuiteSpec(checks=AUDIO), AUDIO))
    k = sorted(r[0] for r in audio if r[1] == "tonal")[0]
    # the tone clip twice, and three ref rows for it: two with a transcript
    # that differs from the clip's
    clips2 = clips.unionByName(clips.where(F.col("clip_id") == k))
    other = ref.where(F.col("clip_id") == k).withColumn("transcript_ref", F.lit("x"))
    ref2 = ref.unionByName(other).unionByName(other)
    spec = SuiteSpec(checks=("payload",) + AUDIO)
    wave = wave_violations(clips2, ref2, spec, spec.checks)
    got = _rows(wave)
    if join is not None:  # the join strategy the case is about ran
        assert join in wave._jdf.queryExecution().executedPlan().toString()

    # payload rows: one per (clip row, ref row) pair, as payload_report gives
    want_payload = _rows(payload.payload_violations(payload.payload_report(clips2, ref2)))
    assert [r for r in got if r[1] not in AUDIO] == want_payload
    assert sum(r[0] == k and r[1] == "transcript_mismatch" for r in got) == 4
    # audio rows: one per clip row, however many ref rows it joins
    want_audio = _rows(wave_violations(clips2, None, SuiteSpec(checks=AUDIO), AUDIO))
    assert [r for r in got if r[1] in AUDIO] == want_audio
    assert sum(r[0] == k and r[1] == "tonal" for r in got) == 2


def test_no_ref_runs_audio_checks_and_skips_payload(tables):
    clips, _ref = tables
    spec = SuiteSpec(checks=("payload",) + AUDIO)
    got = _rows(wave_violations(clips, None, spec, spec.checks))
    assert got and {r[1] for r in got} <= set(AUDIO)
    tones = {r.clip_id for r in media.tonal_audit(clips).where("tonal").collect()}
    assert {r[0] for r in got if r[1] == "tonal"} == tones
    assert got == _rows(wave_violations(clips, None, SuiteSpec(checks=AUDIO), AUDIO))
