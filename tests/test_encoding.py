"""Encoding-hygiene check: expression-level exact counts, suite
wire-through with planted-anomaly parity, and the no-double-count /
default-ON contracts.

The planted corruption sits in BOTH the clip transcript and its reference
copy (synth injects upstream of the reference split), so transcript
byte-equality passes and ONLY the encoding check can catch it — that
isolation is asserted here.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.functions import text as T
from audit_anomaly_detection_etl_spark.plans.runner import run_suite, wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec


def test_signal_expressions_exact_counts(spark):
    rows = [
        ("clean", "plain ascii text", 0, 0, 0, 0),
        ("repl", "bad �� marks", 2, 0, 0, 0),
        ("ctrl", "a\x07b and\x1fc plus del\x7f", 0, 3, 0, 0),
        # tab/newline/CR are NOT control violations
        ("ws_ok", "tab\there\nnewline\rcr", 0, 0, 0, 0),
        # UTF-8-as-latin-1: 'Ã©'(é) + 'Ã¯'(ï) + 'â€' punct lead = 3 pairs
        ("moji", "cafÃ© naÃ¯ve â€™quote", 0, 0, 3, 0),
        ("bom", "﻿starts with bom", 0, 0, 0, 1),
        ("mixed", "x�y\x00z Â w", 1, 1, 1, 0),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "name string, text string"
    )
    t = F.col("text")
    got = {
        r["name"]: (r["repl"], r["ctrl"], r["moji"], r["bom"])
        for r in df.select(
            "name",
            T.repl_char_count(t).alias("repl"),
            T.ctrl_char_count(t).alias("ctrl"),
            T.mojibake_count(t).alias("moji"),
            T.bom_char_count(t).alias("bom"),
        ).collect()
    }
    for name, _txt, repl, ctrl, moji, bom in rows:
        assert got[name] == (repl, ctrl, moji, bom), name


def test_encoding_violations_rows(spark):
    df = spark.createDataFrame(
        [
            ("k1", "clean text", 0),
            ("k2", "has � repl and\x07ctrl", 0),
            ("k3", None, 1),  # null owned by schema check, not reported here
            ("k4", "cafÃ©", 1),
        ],
        "clip_id string, transcript string, part int",
    )
    v = wave_violations(df, None, SuiteSpec(), ("encoding",)).collect()
    by_key = {r["key"]: r for r in v}
    assert set(by_key) == {"k2", "k4"}
    assert by_key["k2"]["check"] == "encoding"
    assert by_key["k2"]["detail"] == "repl=1 ctrl=1 mojibake=0 bom=0"
    assert by_key["k4"]["detail"] == "repl=0 ctrl=0 mojibake=1 bom=0"
    assert by_key["k4"]["part"] == 1 and by_key["k4"]["severity"] == 3.5


def test_encoding_is_default_on():
    assert "encoding" in SuiteSpec().checks
    # and it changes the spec hash (checkpoint lineage invalidation)
    base = SuiteSpec()
    without = SuiteSpec(checks=tuple(c for c in base.checks if c != "encoding"))
    assert base.spec_hash() != without.spec_hash()


def test_suite_planted_parity_and_isolation(spark, clip_dir, tmp_path):
    """checks=("encoding",) catches EXACTLY the synth-planted encoding rows;
    because the corruption is planted in both transcript copies, a
    payload-check run over the same table reports no transcript_mismatch
    for those clip_ids (byte-equality passes — the isolation claim)."""
    exp = pq.read_table(
        os.path.join(clip_dir, "violations_expected.parquet")
    ).to_pandas()
    exp_enc = set(exp[exp.check == "encoding"].clip_id)
    assert exp_enc, "generator must plant encoding anomalies at n=1200"

    spec = SuiteSpec(checks=("encoding",))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=os.path.join(clip_dir, "clips_ref"),
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck_enc"),
        spec=spec,
    )
    v = spark.read.parquet(res.violations_path).toPandas()
    assert set(v.check) == {"encoding"}
    assert set(v.key) == exp_enc

    # isolation: none of the planted encoding clips trips transcript checks
    spec2 = SuiteSpec(checks=("payload",))
    res2 = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=os.path.join(clip_dir, "clips_ref"),
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck_pay"),
        spec=spec2,
    )
    v2 = spark.read.parquet(res2.violations_path).toPandas()
    mism = set(v2[v2.check == "transcript_mismatch"].key)
    assert not (mism & exp_enc)


def test_cross_engine_fuzz_parity(spark):
    """Seeded fuzz over an adversarial alphabet — NUL, C0 controls, DEL,
    mojibake lead bytes next to arbitrary continuations, isolated U+0080/BF,
    astral-plane chars (UTF-16 surrogate pairs in the JVM), BOM, U+FFFD —
    asserting per-row equality of all four signals between Spark (Java
    regex, UTF8String codepoint length) and DuckDB (RE2, codepoint length).
    This is the gate's parity claim tested at the row grain, where a
    length-semantics or regex-dialect divergence would first appear."""
    import random

    import duckdb

    alphabet = (
        list("abc XYZ 012 .,!")
        + ["\x00", "\x07", "\x1f", "\x7f", "\t", "\n", "\r"]
        + ["Ã", "Â", "â", "€", "™", "é", "ï", "\xa0", "\xbf", "\x80"]
        + ["�", "﻿", "😀", "𝄞", "中", "ß"]
    )
    rng = random.Random(1234)
    samples = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(400)
    ]

    con = duckdb.connect()
    duck = [
        con.execute(
            "SELECT length($1) - length(replace($1, $2, '')),"
            "       length($1) - length(regexp_replace($1, $3, '', 'g')),"
            "       CAST(FLOOR((length($1)"
            "            - length(regexp_replace($1, $4, '', 'g'))) / 2) AS BIGINT),"
            "       length($1) - length(replace($1, $5, ''))",
            [s, T.REPL_CHAR, T.CTRL_CHAR_RE, T.MOJIBAKE_RE, T.BOM_CHAR],
        ).fetchone()
        for s in samples
    ]

    df = spark.createDataFrame(list(enumerate(samples)), "i int, text string")
    t = F.col("text")
    sp = {
        r["i"]: (r["r"], r["c"], r["m"], r["b"])
        for r in df.select(
            "i",
            T.repl_char_count(t).alias("r"),
            T.ctrl_char_count(t).alias("c"),
            T.mojibake_count(t).alias("m"),
            T.bom_char_count(t).alias("b"),
        ).collect()
    }
    mismatches = [
        (samples[i], tuple(duck[i]), sp[i])
        for i in range(len(samples))
        if tuple(duck[i]) != sp[i]
    ]
    assert not mismatches, mismatches[:5]


def test_encoding_plan_is_scan_only(spark):
    """Scale contract: the violations plan is a single-scan codegen
    projection + filter — no exchange, no join, no Python eval."""
    df = spark.createDataFrame(
        [("k", "t", 0)], "clip_id string, transcript string, part int"
    )
    v = wave_violations(df, None, SuiteSpec(), ("encoding",))
    plan = v._jdf.queryExecution().executedPlan().toString()
    for banned in ("Exchange", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert banned not in plan, plan
