"""Regression tests for the round-4 adversarial review of the oldest core
modules (scoring / media / drift) — each test pins one previously-wrong edge:

- neighbor detectors must not materialize dense n x n distance matrices
  (chunked kernels, bit-identical scores),
- ranked_anomalies rank must be int64 (offsets are global row counts),
- fit_ensemble on an empty features table must fail loudly,
- resample_audio must quarantine empty payloads (ok=false),
- wav_consistency must treat NULL declared sr/codec as violations,
- frame_sample_plan must not emit phantom frames for NULL/zero durations,
- histogram() must not emit a bin=NULL group for NaN values,
- categorical_drift must give a defined verdict at dof=0 (one category),
- the loudness check must accept a non-default key_col.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import drift, media, scoring


def _xy(n=300, d=4, seed=7):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, d))


def test_knn_chunking_matches_dense(monkeypatch):
    X = _xy()
    base = scoring.KnnDistanceDetector().fit(X)
    ref = base.decision_function(X[:50])
    # force many tiny chunks; scores must agree to BLAS-blocking epsilon
    # (GEMM on a different block shape reorders float sums at ~1e-16)
    monkeypatch.setattr(scoring, "_CHUNK_ELEMS", 64)
    small = scoring.KnnDistanceDetector().fit(X)
    np.testing.assert_allclose(small.decision_function(X[:50]), ref, rtol=1e-12)
    assert small.offset_ == pytest.approx(base.offset_, rel=1e-12)


def test_local_density_chunking_matches_dense(monkeypatch):
    X = _xy(seed=11)
    base = scoring.LocalDensityDetector().fit(X)
    ref = base.decision_function(X[:50])
    monkeypatch.setattr(scoring, "_CHUNK_ELEMS", 64)
    small = scoring.LocalDensityDetector().fit(X)
    np.testing.assert_allclose(small.decision_function(X[:50]), ref, rtol=1e-12)
    np.testing.assert_allclose(small.sample_kdist_, base.sample_kdist_, rtol=1e-12)
    assert small.offset_ == pytest.approx(base.offset_, rel=1e-12)


def test_fit_ensemble_empty_features_raises(spark):
    import audit_anomaly_detection_etl_spark.queries as Q

    feats = Q.user_features(spark, "/root/testdata/sf0.001").where("1 = 0")
    with pytest.raises(ValueError, match="empty"):
        scoring.fit_ensemble(feats, Q.USER_FEATURE_COLS, "user_id", sample_mod=1)


def test_ranked_anomalies_rank_is_long(spark):
    out = spark.createDataFrame(
        [(i, float(i % 3), 1 if i % 4 == 0 else 0) for i in range(20)],
        "user_id int, anomaly_score double, anomaly_prediction int",
    )
    raw = spark.createDataFrame(
        [(i, f"u{i}") for i in range(20)], "user_id int, name string"
    )
    ranked = scoring.ranked_anomalies(out, raw, "user_id")
    assert dict(ranked.dtypes)["rank"] == "bigint"
    ranks = sorted(r["rank"] for r in ranked.collect())
    assert ranks == list(range(1, 21))


def test_resample_audio_quarantines_empty_payload(spark):
    pcm = codecs.encode(np.linspace(-0.4, 0.4, 160), "pcm_s16le")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "clip_id": ["good", "empty", "nullbytes"],
                "part": [0, 0, 0],
                "bytes": [pcm, b"", None],
                "sr_hz": [8000, 8000, 8000],
                "codec": ["pcm_s16le"] * 3,
            }
        )
    )
    rows = {r["clip_id"]: r for r in media.resample_audio(df, 16000).collect()}
    assert rows["good"]["ok"] and rows["good"]["n_samples"] > 0
    assert not rows["empty"]["ok"] and rows["empty"]["bytes"] is None
    assert not rows["nullbytes"]["ok"]


def test_wav_null_declared_metadata_is_violation(spark):
    wav = codecs.encode_wav(np.zeros(80) + 0.1, sr_hz=8000, codec="pcm_s16le")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "clip_id": ["c1"],
                "part": [0],
                "bytes": [wav],
                "sr_hz": pd.array([None], dtype="Int32"),
                "dur_ms": pd.array([10], dtype="Int32"),
                "codec": [None],
            }
        )
    )
    checks = {
        v["check"] for v in media.wav_consistency_violations(df).collect()
    }
    assert "wav_sr_mismatch" in checks
    assert "wav_codec_mismatch" in checks
    # details must not be NULLed out by concat-with-NULL
    for v in media.wav_consistency_violations(df).collect():
        assert v["detail"] is not None


def test_frame_plan_skips_null_and_zero_duration(spark):
    videos = spark.createDataFrame(
        pd.DataFrame(
            {
                "video_id": ["ok", "nul", "zero", "neg"],
                "fps": [24.0] * 4,
                "dur_ms": pd.array([1500, None, 0, -10], dtype="Int32"),
            }
        )
    )
    got = media.frame_sample_plan(videos, every_ms=1000.0).collect()
    assert {r["video_id"] for r in got} == {"ok"}


def test_histogram_excludes_nan(spark):
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (5.0,)], "x double"
    )
    spec = drift.BinSpec("x", 0.0, 10.0, 4)
    rows = drift.histogram(df, spec).collect()
    assert all(r["bin"] is not None for r in rows)
    assert sum(r["count"] for r in rows) == 2


def test_categorical_drift_single_category_defined(spark):
    df = spark.createDataFrame(
        [("2024-01-0%d 00:00:00" % (1 + i % 2), "only") for i in range(10)],
        "ts string, cat string",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "cat")
    rows = drift.categorical_drift(df, "cat").collect()
    assert rows
    for r in rows:
        assert r["dof"] == 0
        assert r["chi2_crit"] == 0.0
        assert r["drifted"] is False


def test_loudness_violations_custom_key_col(spark):
    # a clip whose required boost exceeds headroom: quiet RMS (~-57 dBFS,
    # gain ~+37 dB needed) with one near-full-scale spike (headroom ~0.9 dB)
    x = np.full(4000, 0.0005)
    x[0] = 0.9
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "utt_id": ["u1"],
                "pt": [3],
                "bytes": [codecs.encode(x, "pcm_s16le")],
                "sr_hz": [8000],
                "codec": ["pcm_s16le"],
            }
        )
    )
    from audit_anomaly_detection_etl_spark.operators.schema_check import TableSchemaSpec
    from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    spec = SuiteSpec(schema_spec=TableSchemaSpec([], key_col="utt_id", part_col="pt"))
    rows = wave_violations(df, None, spec, ("loudness",)).collect()
    assert rows and rows[0]["key"] == "u1" and rows[0]["part"] == 3


# --- second review batch: dedup / similarity / uniqueness / vocab /
# --- referential / outliers edge defects


def test_cosine_knn_survives_zero_vector(spark):
    from audit_anomaly_detection_etl_spark.operators import similarity

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    q = spark.createDataFrame([(9, [1.0, 0.0])], "vec_id int, embedding array<double>")
    rows = similarity.cosine_knn(base, q, k=3).collect()
    by_n = {r["neighbor_id"]: r["cos"] for r in rows}
    assert by_n[1] == 1.0 and by_n[3] == 0.0  # zero vector scores 0, no crash


def test_distinct_counts_all_null_group(spark):
    from audit_anomaly_detection_etl_spark.operators import vocab

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", None), ("b", None)], "g string, v string"
    )
    rows = {r["g"]: r for r in vocab.distinct_counts(df, "g", "v").collect()}
    assert rows["a"]["rows_per_distinct"] == 1.0
    assert rows["b"]["n_distinct"] == 0
    assert rows["b"]["rows_per_distinct"] is None  # no crash, NULL ratio


def test_zipf_audit_flat_curve_fails_not_crashes(spark):
    from audit_anomaly_detection_etl_spark.operators import vocab

    docs = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",)], "text string"
    )
    r = vocab.zipf_audit(docs).collect()[0]
    assert r["zipf_ok"] is False  # uniform tf: deny=0 — defined false


def test_vocab_divergence_empty_side_reports_divergence(spark):
    from pyspark.sql import functions as SF

    from audit_anomaly_detection_etl_spark.operators import vocab

    docs = spark.createDataFrame(
        [("the quick brown fox",), ("lazy dog jumps over",)], "text string"
    )
    r = vocab.vocab_divergence(docs, SF.lit(True)).collect()[0]
    assert r["n_tokens_b"] == 0
    assert r["diverged"] is True and r["jsd_norm"] == 0.5


def test_rate_anomaly_keeps_null_group(spark):
    from audit_anomaly_detection_etl_spark.operators import outliers

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:05:00"), ("a", "2024-01-01 01:05:00")]
        + [(None, "2024-01-01 0%d:10:00" % h) for h in range(4)],
        "event_type string, ts string",
    ).selectExpr("event_type", "CAST(ts AS TIMESTAMP) AS ts")
    got = outliers.rate_anomaly(df)
    groups = {r["event_type"] for r in got.collect()}
    assert None in groups and "a" in groups


def test_uniqueness_violations_null_dup_keys(spark):
    from audit_anomaly_detection_etl_spark.operators import uniqueness

    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("c1", 1), ("c1", 1), ("c2", 3)],
        "clip_id string, part int",
    )
    rows = uniqueness.uniqueness_violations(df).collect()
    keys = [r["key"] for r in rows]
    assert keys.count(None) == 2 and keys.count("c1") == 2


def test_exact_duplicates_covers_null_text(spark):
    from audit_anomaly_detection_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "hi")], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r for r in dedup.exact_duplicates(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["dup_count"] == 2 and rows[1]["is_canonical"]
    assert rows[2]["dup_count"] == 2 and not rows[2]["is_canonical"]


def test_kmeans_fit_small_and_empty_sample(spark):
    from audit_anomaly_detection_etl_spark.operators import similarity

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    cents = similarity.kmeans_fit(base, n_centroids=8)
    assert len(cents) == 2  # clamped to sample size
    with pytest.raises(ValueError, match="empty"):
        similarity.kmeans_fit(base.where("vec_id < 0"), n_centroids=8)


def test_fk_health_matrix_empty_child(spark):
    from audit_anomaly_detection_etl_spark.operators import referential

    child = spark.createDataFrame([], "fk int, x int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    r = referential.fk_health_matrix(
        [("edge", child, "fk", "parent", parent, "pk")]
    ).collect()[0]
    assert r["child_rows"] == 0 and r["null_fk_rows"] == 0
    assert r["ok"] is True  # defined verdict, not NULL


def test_aggregate_reconciliation_null_amounts_verdict(spark):
    from audit_anomaly_detection_etl_spark.operators import referential

    parent = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 7.0)], "k int, total double"
    )
    child = spark.createDataFrame(
        [(1, None), (1, None), (2, 5.0)], "k int, amt double"
    )
    rows = {
        r["k"]: r["verdict"]
        for r in referential.aggregate_reconciliation(
            parent, child, "k", "k", "total", F.col("amt")
        ).collect()
    }
    assert rows == {1: "null_amounts", 2: "consistent", 3: "missing_child"}


# --- third review batch: ANSI division crashes and NULL-escape edges in
# --- embedqa / sampling / column_stats / quality_filter / components / drift


def test_embedding_qa_null_vector_flagged(spark):
    from audit_anomaly_detection_etl_spark.operators import embedqa

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None)], "vec_id int, embedding array<double>"
    )
    rows = {r["vec_id"]: r for r in embedqa.embedding_qa(df).collect()}
    assert rows[1]["zero_norm"] is False and rows[1]["l2_norm"] == 5.0
    # NULL vector must land on a defined flag, not NULL-escape every filter
    assert rows[2]["zero_norm"] is True and rows[2]["l2_norm"] == 0.0


def test_mixing_weights_zero_token_source(spark):
    from audit_anomaly_detection_etl_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a", "hello world"), (2, "a", "more text"), (3, "b", "   ")],
        "doc_id int, source string, text string",
    )
    rows = {r["source"]: r for r in sampling.mixing_weights(docs).collect()}
    assert rows["a"]["weight"] == 1.0
    assert rows["b"]["weight"] == 0.0
    assert rows["b"]["sample_factor"] is None  # 0/0: NULL, not a crash


def test_mixture_materialize_zero_token_source(spark):
    from audit_anomaly_detection_etl_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a", "hello world"), (2, "a", "more text"), (3, "b", None)],
        "doc_id int, source string, text string",
    )
    out = sampling.mixture_materialize(docs, rate=1.0).collect()
    assert {r["doc_id"] for r in out} == {1, 2}  # zero-token source: no copies


def test_profile_diff_constant_column_no_drift(spark):
    from audit_anomaly_detection_etl_spark.operators import column_stats as cs

    schema = (
        "column string, n_rows long, mean double, stddev double, "
        "null_rate double, min double, max double"
    )
    ref = spark.createDataFrame([("c", 10, 5.0, 0.0, 0.0, 5.0, 5.0)], schema)
    cur = spark.createDataFrame([("c", 12, 5.0, 0.0, 0.0, 5.0, 5.0)], schema)
    r = cs.profile_diff(ref, cur).collect()[0]
    # identical constant column: z undefined (se=0) but verdict defined false
    assert r["mean_shift_z"] is None and r["mean_drift"] is False


def test_column_stats_empty_input(spark):
    from audit_anomaly_detection_etl_spark.operators import column_stats as cs

    df = spark.createDataFrame([], "x double, y string")
    rows = cs.column_stats(df, ["x"], ["x", "y"]).collect()
    assert len(rows) == 2  # global agg row survives an empty table
    assert all(r["null_rate"] is None and r["n_rows"] == 0 for r in rows)


def test_filter_verdicts_null_text_is_killed(spark):
    from audit_anomaly_detection_etl_spark.operators import quality_filter

    docs = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the lazy dog and then "
                        "runs a of to and far away home again soon")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in quality_filter.filter_verdicts(docs).collect()}
    assert rows[1]["keep"] is False and rows[1]["first_fail"] == "too_short"
    assert rows[2]["keep"] is True


def test_dedup_clusters_keeper_survives_filtered_canonical(spark):
    from audit_anomaly_detection_etl_spark.operators import components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a int, doc_b int"
    )
    docs = spark.createDataFrame([(2,), (3,), (4,)], "doc_id int")
    rows = {r["doc_id"]: r for r in components.dedup_clusters(docs, pairs).collect()}
    # doc 1 (the component's min label) is not in docs: the cluster must
    # still retain exactly one canonical survivor among present docs
    assert rows[2]["keep"] is True and rows[3]["keep"] is False
    assert rows[4]["keep"] is True and rows[4]["cluster_size"] == 1


def test_binspec_rejects_degenerate_range():
    from audit_anomaly_detection_etl_spark.operators.drift import BinSpec

    with pytest.raises(ValueError, match="hi must exceed lo"):
        BinSpec("x", 1.0, 1.0, 10)
    with pytest.raises(ValueError, match="n_bins"):
        BinSpec("x", 0.0, 1.0, 0)


def _write_lineitem(tmp_path, rows):
    import os

    os.makedirs(tmp_path, exist_ok=True)
    pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    ).to_parquet(os.path.join(tmp_path, "lineitem.parquet"))
    return str(tmp_path)


def test_q108_degenerate_fits_yield_zero_violations(spark, tmp_path):
    """A regression that cannot be fit (n <= 2, or zero x-variance, or a
    perfectly collinear cloud with rsd == 0) must emit zero conformance
    violations — not abort with ANSI DIVIDE_BY_ZERO."""
    import audit_anomaly_detection_etl_spark.queries as Q

    single = _write_lineitem(tmp_path / "one", [(1, 1, 5.0, 50.0)])
    assert Q.QUERIES["q108_regression_conformance"](spark, single).count() == 0

    novar = _write_lineitem(
        tmp_path / "novar", [(i, 1, 7.0, 10.0 * i) for i in range(1, 11)]
    )
    assert Q.QUERIES["q108_regression_conformance"](spark, novar).count() == 0

    collinear = _write_lineitem(
        tmp_path / "line", [(i, 1, float(i), 10.0 * i) for i in range(1, 21)]
    )
    assert Q.QUERIES["q108_regression_conformance"](spark, collinear).count() == 0


def test_q108_flags_planted_relationship_outlier(spark, tmp_path):
    """The 3-sigma residual screen must flag a row whose price is far off
    the global price ~ quantity line even though both fields are in range."""
    import audit_anomaly_detection_etl_spark.queries as Q

    rows = [
        (i, 1, float(i % 40 + 1), 10.0 * (i % 40 + 1) + (0.5 if i % 2 else -0.5))
        for i in range(1, 101)
    ]
    rows.append((999, 1, 20.0, 600.0))  # on-range fields, off-line pairing
    sf = _write_lineitem(tmp_path, rows)
    out = Q.QUERIES["q108_regression_conformance"](spark, sf).collect()
    assert [r["l_orderkey"] for r in out] == [999]
    assert abs(out[0]["resid_z"]) > 3.0
