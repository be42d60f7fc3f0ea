"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB target, not the local test rig:
AQE re-plans shuffles at runtime (coalescing small partitions, splitting
skewed ones — the engine's skew story for long-duration clips leans on
``skewJoin`` plus explicit salting in operators/uniqueness.py), Arrow moves
pandas-UDF batches zero-copy, and ``maxRecordsPerBatch`` is bounded because a
single Arrow batch of long audio clips can otherwise blow executor memory
(SURVEY.md §7.3 'Binary payloads in Arrow').

The codegen cache (``spark.sql.codegen.cache.maxEntries``, a static conf)
holds 1000 compiled classes instead of Spark's 100. A suite run plans the
same operators wave after wave and run after run, so each generated class
should be Janino-compiled once per JVM. The suite's working set overflows
the default. Measured on local[4]: the default checks plus the six audio
checks (600 clips, 4 partitions) generate 97 distinct classes per run, and a
64-partition table validated and then resumed in waves of 8, with its
metrics log and screen, 172 since session start. The cache is segmented
and evicts per segment, so it starts evicting before it holds 100 entries.
At the default, every warm run compiled again: 44-65 classes (audio suite)
and 109-122 (resume, about 0.8 s of compile time per run). At 1000 both
compile nothing from their third run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "audit-anomaly-validation",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 512,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[{}]".format(os.environ.get("SPARK_GRAFT_CPUS", "*")))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # adaptive execution: runtime shuffle-partition coalescing + skew split
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF boundaries; bounded batches for binary audio
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        # parquet scans: pushdown + pruning are on by default; keep splits sane
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle_partitions(master)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # a suite run's working set (97 to 172 generated classes) overflows
        # the default 100; 1000 keeps warm runs compile-free (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _default_shuffle_partitions(master: str) -> int:
    """2x parallelism locally; on a real cluster this is set per-job via
    --conf (rule of thumb: 2-3x total executor cores, or rely on AQE
    coalescing from a higher initial value).
    """
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return 2 * (os.cpu_count() or 8)
        try:
            return 2 * int(inner)
        except ValueError:
            return 32
    return 200


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable on executors when the job was launched
    without ``--py-files`` (e.g. ``python jobs/validate.py`` from an
    arbitrary cwd): zip the installed package and ``addPyFile`` it — the
    same distribution path ``spark-submit --py-files`` uses, built on
    demand. No-op when the driver itself imported the package from a
    ``--py-files`` zip (spark-submit already shipped that archive; walking
    inside it to re-zip would fail).
    """
    import shutil
    import tempfile

    import audit_anomaly_detection_etl_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if ".zip" in pkg_dir:
        return
    staging = tempfile.mkdtemp(prefix="engine_pyfiles_")
    zip_base = os.path.join(staging, "engine")
    shutil.make_archive(
        zip_base,
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(zip_base + ".zip")
