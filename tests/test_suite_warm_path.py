"""What a warm ``run_suite`` pays for: each table root is read (listed,
schema-inferred) once per run however many waves there are, a repeated run
compiles no new generated classes, and a spec whose partition column is not
``part`` is refused instead of reporting a clean run of nothing."""

import dataclasses
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from audit_anomaly_detection_etl_spark.plans.runner import run_suite
from audit_anomaly_detection_etl_spark.plans.spec import ALL_CHECKS, SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth, tableio


def _write(tmp_path, n_clips, n_parts, seed):
    d = str(tmp_path / "data")
    synth.write_clip_tables(
        synth.generate_clips(n_clips=n_clips, n_parts=n_parts, seed=seed), d
    )
    return os.path.join(d, "clips"), os.path.join(d, "clips_ref")


@pytest.mark.parametrize("key_partitioned", [True, False], ids=["key", "nonkey"])
def test_each_root_read_once_per_run(spark, tmp_path, monkeypatch, key_partitioned):
    """40 partitions in waves of 8: one read per root, not one per wave."""
    clips, ref = _write(tmp_path, 400, 40, 21)
    reads = Counter()
    orig = tableio.read_table

    def spy(spark_, root):
        reads[root] += 1
        return orig(spark_, root)

    monkeypatch.setattr(tableio, "read_table", spy)
    spec = SuiteSpec(
        checks=("schema", "uniqueness", "referential", "byte_length"),
        key_partitioned=key_partitioned,
    )
    res = run_suite(
        spark, clips, ref, None, str(tmp_path / "ck"), spec=spec, wave_size=8
    )
    assert len(res.ran_parts) == 40  # 5 waves
    assert reads == {clips: 1, ref: 1}


def test_repeated_run_compiles_nothing_new(spark, tmp_path):
    """The codegen cache holds the suite's working set (~95 generated
    classes for every check with global key checks, more than Spark's
    default cache keeps): the third run over the same table, on a fresh
    checkpoint, reuses them. A few may still compile, because AQE can number
    a plan's codegen stages differently from run to run."""
    clips, ref = _write(tmp_path, 200, 4, 22)
    hist = os.path.join(os.path.dirname(clips), "hist_ref.parquet")
    spec = SuiteSpec(checks=ALL_CHECKS, key_partitioned=False)
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for i in range(3):
        before = timer.getCount()
        run_suite(spark, clips, ref, hist, str(tmp_path / f"ck{i}"), spec=spec)
        compiled = timer.getCount() - before
    assert compiled <= 5, f"third run compiled {compiled} classes"


def test_custom_partition_column_is_refused(spark, tmp_path):
    """A table partitioned by 'pt': the runner lists part=K directories and
    slices on 'part', so it used to find no partitions and return 0
    verdicts with violations_path=None, a clean report of nothing."""
    t = synth.generate_clips(n_clips=200, n_parts=4, seed=23)
    spark.createDataFrame(t.clips.to_pandas()).withColumnRenamed(
        "part", "pt"
    ).write.partitionBy("pt").parquet(str(tmp_path / "clips"))
    spec = SuiteSpec(
        checks=("schema", "stats", "byte_length"),
        schema_spec=dataclasses.replace(SuiteSpec().schema_spec, part_col="pt"),
    )
    with pytest.raises(ValueError, match="'pt'"):
        run_suite(spark, str(tmp_path / "clips"), None, None, str(tmp_path / "ck"), spec=spec)


def test_empty_table_returns_no_verdicts(spark, tmp_path):
    """No partition directories at all: no waves, no verdicts, no error."""
    schema = synth.generate_clips(n_clips=1, n_parts=1, seed=24).clips.schema
    root = tmp_path / "clips"
    root.mkdir()
    pq.write_table(pa.Table.from_pylist([], schema=schema), str(root / "empty.parquet"))
    res = run_suite(
        spark, str(root), None, None, str(tmp_path / "ck"),
        spec=SuiteSpec(checks=("schema", "stats", "byte_length")),
    )
    assert res.verdicts == {} and res.ran_parts == [] and res.violations_path is None
