"""Core validation operators vs pandas oracles on the synthesized clips table."""

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.operators import (
    column_stats,
    drift,
    outliers,
    referential,
    schema_check,
    uniqueness,
)
from audit_anomaly_detection_etl_spark.sources import synth


@pytest.fixture(scope="module")
def clips(spark, clip_dir):
    return spark.read.parquet(os.path.join(clip_dir, "clips"))


@pytest.fixture(scope="module")
def clips_pdf(clip_dir):
    return pq.read_table(os.path.join(clip_dir, "clips")).to_pandas()


@pytest.fixture(scope="module")
def expected(clip_dir):
    return pq.read_table(os.path.join(clip_dir, "violations_expected.parquet")).to_pandas()


def test_column_stats_matches_pandas(spark, clips, clips_pdf):
    out = column_stats.column_stats(
        clips, numeric_cols=["sr_hz", "dur_ms"], all_cols=["sr_hz", "dur_ms", "transcript", "bytes"]
    ).toPandas().set_index("column")
    assert out.loc["dur_ms", "min"] == clips_pdf.dur_ms.min()
    assert out.loc["dur_ms", "max"] == clips_pdf.dur_ms.max()
    assert abs(out.loc["dur_ms", "mean"] - clips_pdf.dur_ms.mean()) < 1e-6
    # sample stddev, matching pandas .std() (SURVEY.md §7.3)
    assert abs(out.loc["dur_ms", "stddev"] - clips_pdf.dur_ms.std()) < 1e-6
    exp_null = clips_pdf.transcript.isna().mean()
    assert abs(out.loc["transcript", "null_rate"] - exp_null) < 1e-12
    assert (out.n_rows == len(clips_pdf)).all()


def test_column_stats_grouped(spark, clips, clips_pdf):
    out = column_stats.column_stats(clips, numeric_cols=["dur_ms"], group_by=["codec"]).toPandas()
    exp = clips_pdf.groupby("codec").dur_ms.mean()
    got = out.set_index("codec")["mean"]
    for codec, m in exp.items():
        assert abs(got[codec] - m) < 1e-9


def test_uniqueness_finds_exact_dups(spark, clips, clips_pdf, expected):
    dups = uniqueness.duplicate_keys(clips, ["clip_id"]).toPandas()
    vc = clips_pdf.clip_id.value_counts()
    exp_dups = vc[vc > 1]
    assert sorted(dups.clip_id) == sorted(exp_dups.index)
    assert dict(zip(dups.clip_id, dups.dup_count)) == exp_dups.to_dict()
    exp_ids = set(expected[expected.check == "uniqueness"].clip_id)
    assert set(dups.clip_id) == exp_ids

    # violation rows: one per physical duplicate row
    v = uniqueness.uniqueness_violations(clips).toPandas()
    assert len(v) == int(exp_dups.sum())
    assert set(v.check) == {"uniqueness"}


def test_uniqueness_salt_invariance(spark, clips):
    a = uniqueness.duplicate_keys(clips, ["clip_id"], n_salts=1).toPandas()
    b = uniqueness.duplicate_keys(clips, ["clip_id"], n_salts=64).toPandas()
    assert sorted(map(tuple, a.values.tolist())) == sorted(map(tuple, b.values.tolist()))


@pytest.mark.parametrize("broadcast", [True, False])
def test_referential_both_directions(spark, clips, clip_dir, expected, broadcast):
    """A broadcast hint on the reference side leaves the rows unchanged: a
    full outer join cannot broadcast, so Spark plans a shuffle join either
    way."""
    ref = spark.read.parquet(os.path.join(clip_dir, "clips_ref"))
    if broadcast:
        ref = F.broadcast(ref)
    v = referential.referential_violations(clips, ref).toPandas()
    exp_missing = set(expected[expected.check == "referential_missing_ref"].clip_id)
    exp_orphan = set(expected[expected.check == "referential_orphan_ref"].clip_id)
    assert set(v[v.check == "referential_missing_ref"].key) == exp_missing
    assert set(v[v.check == "referential_orphan_ref"].key) == exp_orphan


def test_referential_join_edge_cases(spark):
    """Null keys match nothing and stay on their own side; a key present on
    both sides (duplicated or not) gives no row; k unmatched duplicate clip
    rows give k missing_ref rows; a ref side without ``part`` gives
    null-part orphans."""
    clips = spark.createDataFrame(
        [("a", 0), ("a", 0), (None, 1), ("m", 2), ("m", 2), ("m", 2), ("b", 3)],
        "clip_id string, part int",
    )
    ref = spark.createDataFrame(
        [("a", 0), ("a", 0), ("b", 3), (None, 1), ("o", 5)],
        "clip_id string, part int",
    )
    missing = ("referential_missing_ref", "clip has no reference row")
    orphan = ("referential_orphan_ref", "reference row has no clip")

    def rows(r):
        v = referential.referential_violations(clips, r).collect()
        return sorted((tuple(x) for x in v), key=repr)

    want = [(None, *missing, 1, 2.0)] + [("m", *missing, 2, 2.0)] * 3
    assert rows(ref) == sorted(
        want + [(None, *orphan, 1, 1.0), ("o", *orphan, 5, 1.0)], key=repr
    )
    assert rows(ref.drop("part")) == sorted(
        want + [(None, *orphan, None, 1.0), ("o", *orphan, None, 1.0)], key=repr
    )


def test_schema_check_diff_and_domain(spark, clips, clips_pdf):
    spec = schema_check.TableSchemaSpec(
        columns=[
            schema_check.ColumnSpec("clip_id", "string", nullable=False),
            schema_check.ColumnSpec("bytes", "binary", nullable=False),
            schema_check.ColumnSpec("sr_hz", "int", min_value=1),
            schema_check.ColumnSpec("dur_ms", "int", min_value=1),
            schema_check.ColumnSpec("codec", "string", allowed=list(__import__("audit_anomaly_detection_etl_spark.functions.codecs", fromlist=["CODECS"]).CODECS)),
            schema_check.ColumnSpec("transcript", "string"),
        ]
    )
    # structural diff on correct schema: clean
    assert schema_check.schema_diff(clips.schema, spec) == []
    # drop a column and flip a type -> detected
    broken = clips.drop("codec").withColumn("sr_hz", F.col("sr_hz").cast("string"))
    issues = {(d["column"], d["issue"]) for d in schema_check.schema_diff(broken.schema, spec)}
    assert ("codec", "missing") in issues and ("sr_hz", "type_mismatch") in issues

    # domain violations: exactly the injected unknown-codec rows
    v = schema_check.constraint_violations(clips, spec).toPandas()
    exp_bad_codec = set(clips_pdf[~clips_pdf.codec.isin(spec.columns[4].allowed)].clip_id)
    got = set(v[v.detail == "codec:domain"].key)
    assert got == exp_bad_codec


def test_histogram_matches_numpy(spark, clips, clips_pdf):
    spec = drift.BinSpec("dur_ms", *synth.DUR_BINS)
    h = drift.histogram(clips, spec).toPandas().set_index("bin")["count"]
    edges = np.linspace(spec.lo, spec.hi, spec.n_bins + 1)
    idx = np.clip(
        np.searchsorted(edges, clips_pdf.dur_ms.to_numpy(float), side="right") - 1,
        0,
        spec.n_bins - 1,
    )
    exp = pd.Series(idx).value_counts()
    for b, c in exp.items():
        assert h[b] == c
    assert h.sum() == len(clips_pdf)


def test_multi_histogram_single_scan_and_parity(spark, clips):
    """The drift stage's histogram job must scan the table ONCE for all
    columns (stack-then-explode, not per-column union) and agree with the
    per-spec histogram on every (group, col, bin) count."""
    from scripts.audit_plans import plan_of

    specs = [drift.BinSpec("dur_ms", *synth.DUR_BINS), drift.BinSpec("sr_hz", *synth.SR_BINS)]
    tall = drift.multi_histogram(clips, specs, group_by=["part"])
    import re

    plan = plan_of(tall)
    # formatted plans list each node twice (tree + detail); count node ids
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, plan[:3000]

    got = {
        (r["part"], r["col"], r["bin"]): r["count"] for r in tall.collect()
    }
    exp = {}
    for s in specs:
        for r in drift.histogram(clips, s, group_by=["part"]).collect():
            exp[(r["part"], s.col, r["bin"])] = r["count"]
    assert got == exp


def test_drift_clean_vs_drifted(spark, clips, clip_dir):
    href = spark.read.parquet(os.path.join(clip_dir, "hist_ref.parquet"))
    specs = [drift.BinSpec("dur_ms", *synth.DUR_BINS), drift.BinSpec("sr_hz", *synth.SR_BINS)]
    clean = drift.drift_verdicts(drift.drift_metrics(clips, href, specs))
    assert all(not m["drifted"] for m in clean), clean

    drifted_t = synth.generate_clips(n_clips=1200, seed=42, drift=True, inject_violations=False)
    ddf = spark.createDataFrame(drifted_t.clips.to_pandas())
    dm = drift.drift_verdicts(drift.drift_metrics(ddf, href, specs))
    assert any(m["drifted"] for m in dm), dm


def test_sigma_iqr_flags_match_pandas_reference_semantics(spark):
    # mirrors data_processing/nodes.py:119-148 on a small deterministic frame
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", None], 400),
            "v": rng.normal(10, 3, 400).round(3),
        }
    )
    pdf.loc[::97, "v"] = 100.0  # clear outliers
    df = spark.createDataFrame(pdf)

    out = outliers.sigma_bounds_flags(df, "v", ["g"], k=2.0).toPandas()
    grp = pdf.groupby("g", dropna=False).v
    lo = grp.transform(lambda s: s.mean() - 2 * s.std())
    hi = grp.transform(lambda s: s.mean() + 2 * s.std())
    exp = ~pdf.v.between(lo, hi)
    got = out.set_index(out.index).sort_values(["g", "v"]).outside_sigma.to_numpy()
    exps = pdf.assign(f=exp).sort_values(["g", "v"]).f.to_numpy()
    assert (got == exps).all()

    out2 = outliers.iqr_bounds_flags(df, "v", ["g"], k=1.5).toPandas()
    med = grp.transform("median")
    iqr = grp.transform(lambda s: s.quantile(0.75) - s.quantile(0.25))
    exp2 = ~pdf.v.between(med - 1.5 * iqr, med + 1.5 * iqr)
    got2 = out2.sort_values(["g", "v"]).outside_iqr.to_numpy()
    exps2 = pdf.assign(f=exp2).sort_values(["g", "v"]).f.to_numpy()
    assert (got2 == exps2).all()


def test_global_low_quantile_flag(spark):
    pdf = pd.DataFrame({"v": np.r_[np.random.default_rng(1).normal(50, 5, 500), [1.0, 2.0]]})
    df = spark.createDataFrame(pdf)
    out = outliers.global_low_quantile_flag(df, "v").toPandas()
    q1, q3 = pdf.v.quantile(0.25), pdf.v.quantile(0.75)
    exp = pdf.v < q1 - 1.5 * (q3 - q1)
    assert (out.sort_values("v").low_outlier.to_numpy() == exp[pdf.v.sort_values().index].to_numpy()).all()
    assert out.low_outlier.sum() == exp.sum() >= 2  # the 2 planted + any natural


def test_rate_anomaly_flags_spike_and_mad_zero(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # type "a": 20 events/hour for 48 hours, then a 200-event replay storm
    for h in range(48):
        n = 200 if h == 40 else 20
        for i in range(n):
            rows.append(("a", base + dt.timedelta(hours=h, seconds=i)))
    # type "b": perfectly constant 5/hour -> MAD = 0 -> NULL z, never flagged
    for h in range(48):
        for i in range(5):
            rows.append(("b", base + dt.timedelta(hours=h, seconds=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = outliers.rate_anomaly(df).toPandas()

    a = out[out.event_type == "a"].set_index("bucket_ts")
    spike = a.loc[base + dt.timedelta(hours=40)]
    # 47/48 buckets identical => MAD = 0 => the lone storm flags via the
    # off-median fallback (NULL z), steady buckets stay clean
    assert spike["anomalous"] == 1 and spike["n_events"] == 200
    steady = a.drop(index=base + dt.timedelta(hours=40))
    assert (steady["anomalous"] == 0).all()
    b = out[out.event_type == "b"]
    assert (b["anomalous"] == 0).all()
    assert b["robust_z"].isna().all() and (b["mad_rate"] == 0).all()


def test_null_pattern_profile_counts_and_shares(spark):
    rows = [
        (1, "a", 1.0),      # 000
        (None, "b", 2.0),   # 100
        (None, None, 3.0),  # 110 (correlated pair)
        (None, None, 4.0),  # 110
        (5, "c", None),     # 001
        (6, "d", 6.0),      # 000
    ]
    df = spark.createDataFrame(rows, "x long, y string, z double")
    out = {
        r["pattern"]: r
        for r in column_stats.null_pattern_profile(df, ["x", "y", "z"]).collect()
    }
    assert set(out) == {"000", "100", "110", "001"}
    assert out["000"]["n_rows"] == 2 and out["000"]["null_cols"] == ""
    assert out["100"]["n_rows"] == 1 and out["100"]["null_cols"] == "x"
    assert out["110"]["n_rows"] == 2 and out["110"]["null_cols"] == "x,y"
    assert out["001"]["n_rows"] == 1 and out["001"]["null_cols"] == "z"
    assert abs(out["110"]["share"] - round(2 / 6, 6)) < 1e-9
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-5


def test_null_pattern_profile_column_order_is_positional(spark):
    df = spark.createDataFrame([(None, 1)], "a string, b long")
    r = column_stats.null_pattern_profile(df, ["b", "a"]).collect()[0]
    assert r["pattern"] == "01" and r["null_cols"] == "a"


def test_json_key_profile_classes(spark):
    from audit_anomaly_detection_etl_spark.operators import schema_check as sc

    rows = [
        ('{"k": 1}',),
        ('{"k": 2}',),
        ('{"b": 1, "a": 2}',),   # sorted -> a,b
        ("oops",),
        ("[1,2]",),              # valid JSON, not an object -> invalid
        ('"scalar"',),           # ditto
        ("{}",),                 # empty object -> ''
        (None,),
    ]
    df = spark.createDataFrame(rows, "props string")
    out = {r["key_set"]: r["n_rows"] for r in sc.json_key_profile(df, "props").collect()}
    assert out == {"k": 2, "a,b": 1, "<invalid>": 3, "": 1, "<null>": 1}
