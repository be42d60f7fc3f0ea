"""ISO-BMFF container parser oracles: builder round-trip field equality,
version-1 boxes, structural refusals, byte-flip fuzz, and the Spark
video_metadata operator end-to-end (exact oracle for q143)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from audit_anomaly_detection_etl_spark.functions.mp4 import (
    Mp4Error,
    _box,
    build_minimal_mp4,
    parse_mp4,
)


def test_round_trip_fields():
    raw = build_minimal_mp4(duration_ms=2500.0, width=1280, height=720)
    m = parse_mp4(raw)
    assert m["brand"] == "isom"
    assert m["duration_ms"] == pytest.approx(2500.0)
    assert m["n_tracks"] == 2
    assert m["has_video"] and m["has_audio"]
    assert (m["width"], m["height"]) == (1280.0, 720.0)


def test_audio_only_file():
    m = parse_mp4(build_minimal_mp4(duration_ms=900.0, width=None))
    assert m["n_tracks"] == 1
    assert m["has_audio"] and not m["has_video"]
    assert m["width"] is None and m["height"] is None


def test_nonstandard_timescale_scales_duration():
    raw = build_minimal_mp4(duration_ms=1500.0, timescale=90000)
    assert parse_mp4(raw)["duration_ms"] == pytest.approx(1500.0, abs=0.02)


def test_mvhd_version1_parses():
    """64-bit duration form: splice a v1 mvhd into a built file."""
    ts, dur = 1000, 4321
    mvhd_v1 = _box(
        b"mvhd",
        struct.pack(">B3xQQIQ", 1, 0, 0, ts, dur) + bytes(80),
    )
    base = build_minimal_mp4(duration_ms=1.0, timescale=ts)
    i = base.find(b"mvhd") - 4
    (old_size,) = struct.unpack(">I", base[i : i + 4])
    # rebuild moov with the replacement mvhd (sizes must stay consistent)
    moov_start = base.find(b"moov") - 4
    (moov_size,) = struct.unpack(">I", base[moov_start : moov_start + 4])
    moov_body = base[moov_start + 8 : moov_start + moov_size]
    new_body = mvhd_v1 + moov_body[old_size:]
    rebuilt = (
        base[:moov_start] + _box(b"moov", new_body)
        + base[moov_start + moov_size :]
    )
    assert parse_mp4(rebuilt)["duration_ms"] == pytest.approx(4321.0)


@pytest.mark.parametrize(
    "mutate,match",
    [
        (lambda r: r[:10], "truncated|too short"),
        (lambda r: r.replace(b"ftyp", b"junk", 1), "first box is not ftyp"),
        (lambda r: r.replace(b"moov", b"m00v", 1), "no moov"),
        (lambda r: r.replace(b"mvhd", b"mvhX", 1), "moov without mvhd"),
        (
            lambda r: r[: r.find(b"moov") - 4]
            + struct.pack(">I", 1 << 30)
            + r[r.find(b"moov") :],
            "overruns",
        ),
    ],
)
def test_structural_damage_refused(mutate, match):
    raw = build_minimal_mp4()
    with pytest.raises(Mp4Error, match=match):
        parse_mp4(mutate(raw))


def test_zero_timescale_refused():
    raw = bytearray(build_minimal_mp4())
    i = raw.find(b"mvhd") + 4 + 12
    raw[i : i + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(Mp4Error, match="timescale"):
        parse_mp4(bytes(raw))


def _empty_tkhd_at_eof() -> bytes:
    """A video trak whose tkhd is an empty 8-byte box AFTER its mdia, in a
    moov that is the file's last box: the tkhd body starts exactly at EOF."""
    mvhd = _box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, 1000, 1000) + bytes(80))
    hdlr = _box(b"hdlr", bytes(8) + b"vide" + bytes(13))
    trak = _box(b"trak", _box(b"mdia", hdlr) + _box(b"tkhd", b""))
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isomiso2")
    raw = ftyp + _box(b"moov", mvhd + trak)
    assert raw.endswith(b"\x00\x00\x00\x08tkhd")
    return raw


def test_empty_tkhd_at_eof_refused():
    # reading the tkhd version byte past EOF raised IndexError, which
    # video_metadata does not catch: one payload failed the whole task
    with pytest.raises(Mp4Error, match="short tkhd"):
        parse_mp4(_empty_tkhd_at_eof())


def test_empty_tkhd_at_eof_degrades_in_spark(spark):
    from audit_anomaly_detection_etl_spark.operators.media import video_metadata

    df = spark.createDataFrame(
        [("v", bytearray(_empty_tkhd_at_eof()))], "video_id string, bytes binary"
    )
    (row,) = video_metadata(df).collect()
    assert not row["container_ok"] and row["parse_error"] == "short tkhd"


def test_fuzz_mutations_never_crash():
    base = build_minimal_mp4(duration_ms=1234.0)
    rng = np.random.default_rng(7)
    for trial in range(400):
        raw = bytearray(base)
        if trial % 3 == 0:
            raw = raw[: rng.integers(1, len(raw))]
        else:
            for _ in range(int(rng.integers(1, 4))):
                raw[int(rng.integers(0, len(raw)))] = int(rng.integers(0, 256))
        try:
            m = parse_mp4(bytes(raw))
        except Mp4Error:
            continue
        assert set(m) == {
            "brand", "duration_ms", "n_tracks", "has_video", "has_audio",
            "width", "height",
        }


def test_spark_video_metadata_operator(spark):
    from audit_anomaly_detection_etl_spark.operators.media import video_metadata

    rows = [
        ("v0", bytearray(build_minimal_mp4(duration_ms=1000.0, width=320, height=240))),
        ("v1", bytearray(build_minimal_mp4(duration_ms=2000.0, width=None))),
        ("v2", bytearray(b"\x00\x00\x00\x08junk")),
        ("v3", None),
    ]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    got = {r["video_id"]: r for r in video_metadata(df).collect()}
    assert got["v0"]["container_ok"] and got["v0"]["width"] == 320.0
    assert got["v0"]["dur_ms"] == 1000.0 and got["v0"]["has_audio"]
    assert got["v1"]["container_ok"] and not got["v1"]["has_video"]
    assert not got["v2"]["container_ok"] and got["v2"]["parse_error"]
    assert not got["v3"]["container_ok"]


def test_q143_video_container_audit_exact_oracle(spark):
    """Exact oracle for the q143 catalog aggregate: the seeded fixture mix
    is deterministic, so the per-brand counts and duration stats are
    pinned exactly."""
    from audit_anomaly_detection_etl_spark import queries

    rows = queries.QUERIES["q143_video_container_audit"](spark, None).collect()
    got = {r["brand"]: r for r in rows}
    # 18 fixtures: i%3==0 -> isom video+audio, i%3==1 -> mp42 audio-only,
    # i%3==2 -> corrupt (brand NULL)
    assert got["isom"]["n"] == 6 and got["isom"]["n_ok"] == 6
    assert got["isom"]["n_video"] == 6
    assert got["mp42"]["n"] == 6 and got["mp42"]["n_video"] == 0
    assert got[None]["n"] == 6 and got[None]["n_ok"] == 0
    assert got["isom"]["mean_dur_ms"] == pytest.approx(
        np.mean([1000.0 + 250.0 * i for i in range(0, 18, 3)]), abs=0.01
    )
