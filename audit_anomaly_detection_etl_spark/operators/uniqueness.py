"""Key-uniqueness via salted two-phase hash aggregation.

Reference analogue: the survey-grain dedup ``groupby(audit_id).first()``
(SURVEY.md A12, features_engineering/nodes.py:487-488) — single-node pandas.
North rule mandates the distributed form: *salted hash-aggregate dedup*.

Why two phases: a plain ``groupBy(key).count()`` already gets map-side
partial aggregation, but the final shuffle still routes every partial for a
hot key to ONE reducer. Phase 1 aggregates on ``(salt, key)`` where the salt
is derived from the physical input split (``spark_partition_id``), bounding
any reducer's share of a hot key to ~n_salts^-1; phase 2 re-aggregates the
(tiny) partial counts by key. At 10^12 rows with a pathological duplicate
key this is the difference between a straggler OOM and an even shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key_cols: list[str], n_salts: int = 32) -> DataFrame:
    """Keys appearing more than once, with counts. Two-phase salted agg."""
    salt = F.pmod(F.spark_partition_id(), F.lit(n_salts)).alias("__salt")
    partial = df.select(*key_cols, salt).groupBy("__salt", *key_cols).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sum("__cnt").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    key_col: str = "clip_id",
    part_col: str = "part",
    n_salts: int = 32,
) -> DataFrame:
    """VIOLATION_SCHEMA rows for duplicated keys.

    The dup-key set is expected to be minuscule relative to the table, so the
    join back to recover partitions broadcasts it (hint explicit — at
    10^12 rows we don't want AQE to guess late).
    """
    dups = duplicate_keys(df, [key_col], n_salts=n_salts).select(
        F.col(key_col).alias("__dup_key"), "dup_count"
    )
    keyed = df.select(F.col(key_col), F.col(part_col).cast("int").alias("part"))
    # null-safe join: duplicated NULL keys (the most common key-integrity
    # defect) are detected by duplicate_keys but a plain equi-join back
    # would drop them, silently passing the uniqueness check
    return keyed.join(
        F.broadcast(dups), keyed[key_col].eqNullSafe(dups["__dup_key"])
    ).select(
        F.col(key_col).alias("key"),
        F.lit("uniqueness").alias("check"),
        F.concat(F.lit("duplicate clip_id x"), F.col("dup_count")).alias("detail"),
        "part",
        F.lit(4.0).alias("severity"),
    )


def dup_locality_report(
    df: DataFrame,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Where do duplicates LIVE: for every duplicated key, whether all its
    occurrences share one storage partition or straddle several — the
    empirical test of the ``key_partitioned`` contract (plans/spec.py).

    If the table is truly bucket-partitioned by hash(key), every duplicate
    is intra-partition and per-partition uniqueness checks (which resume
    from checkpoints wave-by-wave) are COMPLETE. Any cross-partition
    duplicate found here is proof the contract is broken — the suite must
    flip to ``key_partitioned=False`` (global key checks) or re-bucket the
    table. Run this once per ingest change; it is the audit that licenses
    the cheap path.

    One salted-style two-phase agg to duplicate-key grain carrying min/max
    partition; one summary row: (n_dup_keys, n_intra_partition,
    n_cross_partition, max_partition_span, key_partitioned_safe).

    No distinct-aggregate anywhere: "straddles partitions" only needs the
    PREDICATE n_parts > 1, and min(part) != max(part) answers it exactly
    with plain map-side-combinable aggs — at 10^12 rows that removes the
    per-key distinct-partition wall entirely (and unlike an HLL tier it
    costs zero accuracy).
    """
    straddles = F.col("p_min") != F.col("p_max")
    per_key = (
        df.select(key_col, part_col)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(part_col).alias("p_min"),
            F.max(part_col).alias("p_max"),
        )
        .where(F.col("n") > 1)
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_keys"),
        F.sum((~straddles).cast("long")).alias("n_intra_partition"),
        F.sum(straddles.cast("long")).alias("n_cross_partition"),
        F.coalesce(F.max(F.col("p_max") - F.col("p_min")), F.lit(0))
        .cast("long")
        .alias("max_partition_span"),
        F.coalesce(F.sum(straddles.cast("long")) == 0, F.lit(True)).alias(
            "key_partitioned_safe"
        ),
    )


def transcript_reuse(
    clips: DataFrame,
    transcript_col: str = "transcript",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Label-reuse audit: transcripts attached to MORE THAN ONE distinct
    audio payload. Exact dedup (q20) finds identical (transcript, audio)
    pairs; this finds the inverse defect — one transcript shared by
    different recordings, which is either legitimate re-recording or a
    misaligned pairing upstream (a join that fanned out), and at training
    time both deserve a cap (the mixture over-weights that text either
    way).

    One projection to (md5(transcript), md5(bytes)) — the payload bytes
    reduce to a 32-char digest inside the scan, so the shuffle carries
    hashes, never audio — then two hash-agg phases to transcript grain.

    Returns (transcript_md5, n_rows, n_audio_variants) for transcripts with
    n_audio_variants > 1.
    """
    t = F.md5(F.col(transcript_col).cast("binary")).alias("transcript_md5")
    a = F.md5(F.col(bytes_col)).alias("audio_md5")
    pairs = (
        clips.where(
            F.col(transcript_col).isNotNull() & F.col(bytes_col).isNotNull()
        )
        .select(t, a)
    )
    return (
        pairs.groupBy("transcript_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # distinct grain: per transcript_md5 group (keyed agg)
            F.countDistinct("audio_md5").cast("long").alias("n_audio_variants"),
        )
        .where(F.col("n_audio_variants") > 1)
    )


def label_conflicts(
    clips: DataFrame,
    transcript_col: str = "transcript",
    bytes_col: str = "bytes",
) -> DataFrame:
    """The inverse of transcript_reuse and the worse defect: ONE audio
    payload carrying CONFLICTING transcripts. Re-recordings of a script are
    legitimate; two different labels for bit-identical audio cannot both be
    right — it is a labeling error or a corrupted join, and training on
    both teaches the model noise. Same digest-first shape as
    transcript_reuse: payloads reduce to md5 inside the scan, two hash-agg
    phases to audio grain.

    Returns (audio_md5, n_rows, n_transcripts) where n_transcripts > 1.
    """
    a = F.md5(F.col(bytes_col)).alias("audio_md5")
    t = F.md5(F.col(transcript_col).cast("binary")).alias("transcript_md5")
    pairs = clips.where(
        F.col(transcript_col).isNotNull() & F.col(bytes_col).isNotNull()
    ).select(a, t)
    return (
        pairs.groupBy("audio_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # distinct grain: per audio_md5 group (keyed agg)
            F.countDistinct("transcript_md5").cast("long").alias("n_transcripts"),
        )
        .where(F.col("n_transcripts") > 1)
    )
