"""Suite runner: one resumable validation job over a partitioned clips table.

Execution model (SURVEY.md §7.1 steps 2+7):

- ``plan_resume`` (driver, O(partitions)) decides which partitions still need
  validation under the current (snapshot, spec) lineage.
- each table root is read ONCE per run (``tableio.read_table``: the file
  listing and schema inference happen there). Waves and the legacy drift
  histograms take partition-pruned slices of those frames
  (``tableio.partition_slice``); the ``key_partitioned=False`` ref side and
  the global key checks use them whole. No wave lists a table again.
- pending partitions are processed in *waves* of ``wave_size`` partitions.
  A wave's per-partition verdict markers are written only after the wave
  completes, so a kill loses at most one wave of work and a resume re-runs
  exactly the unmarked partitions. (On a 1000-executor cluster a wave is
  sized to keep every executor busy — e.g. hundreds of Iceberg partitions
  per wave; waves exist for checkpoint granularity, not parallelism.)
- within a wave, all row-level checks compose into one violations plan: a
  union of the table-wide checks' plans, one projection of every Catalyst
  row check's flags and one Python pass for the decode checks, all over
  the wave slice. Each branch of the union scans the slice itself; nothing
  is cached beneath the union (before AQE, the default checks over a
  key-partitioned plain-parquet table scan the clips slice 5 times and the
  ref slice twice). The union's RESULT is persisted, so the exact
  per-check counts and the capped sink write compute it once. One more
  aggregate over the slice computes the stats and drift histograms.

Check decomposability: uniqueness and referential checks are run per-wave,
which is correct when the table is bucket-partitioned by hash(clip_id)
(``SuiteSpec.key_partitioned`` — duplicates and their reference rows land in
the same partition by construction). For tables whose partition column is
NOT a key function, set ``key_partitioned=False``: those two checks are
pulled OUT of the resumable per-wave plan and run globally over the full
table on every invocation — including resumes, so cross-wave duplicates a
killed run never co-scanned are still caught (``_global_key_checks``; they
scan only the key/part columns — cheap relative to payload decode, which
stays resumable). Their rows land in ``violations_global`` (overwritten per
run, never checkpointed) and in ``SuiteResult.global_violations_by_check``.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import VIOLATION_COLS, column_stats, drift, schema_check
from ..sources import tableio
from .. import __version__
from .checkpoint import CheckpointStore, PartitionVerdict, plan_resume
from .checks import CHECKS, NON_ROW_LEVEL_CHECKS, wave_violations  # noqa: F401
from .spec import SuiteSpec


@dataclass
class SuiteResult:
    snapshot_id: str
    spec_hash: str
    verdicts: dict[int, PartitionVerdict]
    ran_parts: list[int]
    skipped_parts: list[int]
    schema_issues: list[dict]
    drift_metrics: list[dict]
    # None when no violation rows exist on disk (nothing to read)
    violations_path: str | None
    # key_partitioned=False only: per-run global uniqueness/referential
    # results (recomputed every invocation, never checkpointed — partition
    # markers only carry partition-decomposable state)
    global_violations_path: str | None = None
    global_violations_by_check: dict | None = None


class KilledMidRun(RuntimeError):
    """Raised by the fault injector in tests (kill/resume scenario)."""


# the checks a table whose partition column is not a key function cannot
# decide per wave (uniqueness, referential): the entries with a ``build``
_KEY_CHECKS = tuple(c for c in CHECKS if c.build is not None)


def _global_key_checks(
    read: Callable[[str], DataFrame],
    clips_root: str, ref_root: str | None, spec: SuiteSpec
) -> DataFrame | None:
    """key_partitioned=False path: the ``_KEY_CHECKS`` over the FULL table,
    every invocation. Cross-partition duplicates / orphans cannot be
    decomposed per-wave when the partition column is not a key function, so
    these checks are excluded from the resumable per-wave plan and
    recomputed here — scanning only (key, part) columns, which is cheap
    relative to payload decode (the scan prunes to two columns). ``read``
    is the run's once-per-root table reader."""
    entries = [c for c in _KEY_CHECKS if c.name in spec.checks]
    if not entries:
        return None
    need_ref = ref_root and any(c.needs_ref for c in entries)
    ref_full = read(ref_root) if need_ref else None
    return wave_violations(
        read(clips_root), ref_full, spec, tuple(c.name for c in entries)
    )


def _cap_sink(viols: DataFrame, cap: int | None) -> DataFrame:
    """Sink bound: a catastrophic failure (ref table gone, every row tripping
    one check) must not write table-scale example rows. Keep only the top
    ``cap`` most severe rows per (part, check) — deterministic order:
    severity desc, key asc, detail asc. row_number + <= cap compiles to
    WindowGroupLimit (top-k kept map-side per group, no full per-group sort
    materialization); the window is partitioned, so the plan-audit
    WindowExec rule holds. Truncation is always discoverable: verdict /
    summary counts aggregate the UNCAPPED set before this is applied."""
    if cap is None:
        return viols
    w = Window.partitionBy("part", "check").orderBy(
        F.desc("severity"), F.asc("key"), F.asc("detail")
    )
    return (
        viols.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(cap))
        .drop("__rn")
    )


def run_suite(
    spark: SparkSession,
    clips_root: str,
    ref_root: str | None,
    hist_ref_path: str | None,
    checkpoint_dir: str,
    spec: SuiteSpec | None = None,
    wave_size: int = 8,
    fail_after_waves: int | None = None,
) -> SuiteResult:
    spec = spec or SuiteSpec()
    part_col = spec.schema_spec.part_col
    if part_col != "part":
        # partitions are listed from part=K directories and sliced on the
        # 'part' column: any other name would find no partitions and report
        # a clean run of nothing
        raise ValueError(
            f"run_suite needs the table partitioned by 'part'; the spec's "
            f"partition column is {part_col!r}"
        )
    if "encoding" in spec.checks and not any(
        c.name == spec.encoding_text_col for c in spec.schema_spec.columns
    ):
        raise ValueError(
            f"encoding check enabled but spec schema has no column "
            f"'{spec.encoding_text_col}' (set SuiteSpec.encoding_text_col or "
            "drop the check)"
        )
    store = CheckpointStore(checkpoint_dir)
    spec_hash = spec.spec_hash()
    snap, pending, done, part_fps = plan_resume(clips_root, store, spec_hash, spark)

    # the run's one read per root: every slice below is cut from these
    # frames, so each root is listed once per run, not once per wave
    read = functools.cache(lambda root: tableio.read_table(spark, root))
    full = read(clips_root)
    schema_issues = (
        schema_check.schema_diff(full.schema, spec.schema_spec) if "schema" in spec.checks else []
    )
    # snapshot-to-snapshot evolution check (Iceberg compatibility rules):
    # diff against the schema recorded at the last fully-validated snapshot
    if "schema" in spec.checks:
        prev_schema = store.read_table_schema()
        if prev_schema is not None and prev_schema["snapshot_id"] != snap:
            schema_issues = schema_issues + schema_check.schema_evolution(
                prev_schema["columns"], full.schema
            )

    # gate the read on the check, not just the path: jobs pass hist_ref_path
    # unconditionally, and a drift-less spec must neither pay the read nor
    # fail on a missing/unreadable snapshot it would never use
    hist_ref = (
        spark.read.parquet(hist_ref_path)
        if (hist_ref_path and "drift" in spec.checks)
        else None
    )
    drift_refs = (
        drift.ref_counts(hist_ref, spec.drift_specs) if hist_ref is not None else None
    )
    violations_path = f"{checkpoint_dir.rstrip('/')}/violations"

    all_drift: list[dict] = []
    ran: list[int] = []
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]
    for w_i, wave in enumerate(waves):
        if fail_after_waves is not None and w_i >= fail_after_waves:
            raise KilledMidRun(f"injected kill before wave {w_i} (parts {wave})")

        wave_df = tableio.partition_slice(full, wave)
        # payload joins ref on key: when the partition column is NOT a key
        # function, a clip's ref row can live outside the wave, and a
        # wave-pruned ref side would silently skip its SNR/transcript checks
        # (left join -> has_ref=False, no violation). Non-key layouts pay a
        # full-ref-side join per wave — prefer key-partitioned tables.
        if ref_root is None:
            ref_df = None
        elif spec.key_partitioned:
            ref_df = tableio.partition_slice(read(ref_root), wave)
        else:
            ref_df = read(ref_root)

        key_names = () if spec.key_partitioned else [c.name for c in _KEY_CHECKS]
        wave_checks = tuple(c for c in spec.checks if c not in key_names)
        viols = wave_violations(wave_df, ref_df, spec, wave_checks)
        # clear this wave's previous violation partitions FIRST: dynamic
        # overwrite only replaces partitions PRESENT in the new write, so a
        # re-validated partition that is now clean would otherwise keep its
        # stale rows forever while its marker says passed
        for p in wave:
            shutil.rmtree(
                os.path.join(violations_path, f"part={p}"), ignore_errors=True
            )
        if viols is not None:
            # persist: the union plan (incl. payload decode) computes ONCE;
            # the summary aggregate materializes it and the sink write reads
            # the cache — no parquet read-back job, no decode recompute
            viols = viols.select(*VIOLATION_COLS).repartition("part").persist()
            # EXACT counts first, from the FULL violation set — verdicts and
            # metrics never see the sink cap below
            viol_summary = (
                viols.groupBy("part", "check").agg(F.count(F.lit(1)).alias("n")).collect()
            )
            sink = _cap_sink(viols, spec.max_violation_rows_per_check)
            # idempotent: dynamic overwrite replaces exactly this wave's parts
            # (writer-scoped option — run_suite must not flip the SHARED
            # session's overwrite semantics for unrelated jobs)
            sink.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("part").parquet(violations_path)
            viols.unpersist()
        else:
            viol_summary = []

        # stats + histograms FUSED into one wide aggregation job per wave —
        # every aggregate is algebraic, so the extra bin-count columns ride
        # the same map-side combine; the wave is scanned once for all
        # metrics (columns pruned to the stat/drift columns).
        need_stats = "stats" in spec.checks
        need_hists = drift_refs is not None
        # NB: no binary columns in the stat set — a null-rate over bytes
        # would drag the payload through the metrics scan (null bytes already
        # surface as schema-constraint violations); the key column's
        # null-rate is the uniqueness/schema checks' job. Derived from the
        # ACTIVE spec so file-driven custom schemas get stats over their own
        # columns instead of crashing on hard-coded names.
        _numeric = {"int", "integer", "long", "bigint", "short", "float", "double"}
        num_cols = [
            c.name for c in spec.schema_spec.columns if c.dtype in _numeric
        ]
        stat_cols = [
            c.name
            for c in spec.schema_spec.columns
            if c.dtype != "binary" and c.name != spec.schema_spec.key_col
        ]
        stats_rows: list[dict] = []
        wave_counts: dict = {}
        if need_stats or need_hists:
            aggs = (
                column_stats.stat_aggs(num_cols, stat_cols)
                if need_stats
                else [F.count(F.lit(1)).alias("n_rows")]
            )
            if need_hists:
                aggs = aggs + drift.bucket_count_aggs(spec.drift_specs)
            wide = wave_df.groupBy(part_col).agg(*aggs).collect()
            n_rows = {}
            for r in wide:
                d = r.asDict()
                p = d[part_col]
                n_rows[p] = d["n_rows"]
                if need_stats:
                    for t in column_stats.tall_stats_from_wide(d, num_cols, stat_cols):
                        stats_rows.append({part_col: p, **t})
                if need_hists:
                    wave_counts[(p,)] = drift.counts_from_wide(d, spec.drift_specs)
        else:
            n_rows = {
                r[part_col]: r["n"]
                for r in wave_df.groupBy(part_col)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        if need_hists:
            wave_drift = drift.drift_verdicts(
                drift.metrics_from_counts(
                    wave_counts, drift_refs, spec.drift_specs, group_by=[part_col]
                ),
                psi_threshold=spec.psi_threshold,
            )
        else:
            wave_drift = []
        all_drift.extend(wave_drift)

        by_part: dict[int, dict] = {p: {} for p in wave}
        for r in viol_summary:
            by_part.setdefault(int(r["part"]), {})[r["check"]] = int(r["n"])
        drift_by_part: dict[int, list] = {}
        for m in wave_drift:
            drift_by_part.setdefault(int(m[part_col]), []).append(m)

        for p in wave:
            checks_counts = by_part.get(p, {})
            n_viol = sum(checks_counts.values())
            drifted = any(m["drifted"] for m in drift_by_part.get(p, []))
            metrics = {
                "column_stats": [
                    {k: v for k, v in r.items() if k != part_col}
                    for r in stats_rows
                    if r[part_col] == p
                ],
                "drift": [
                    {k: v for k, v in m.items() if k != part_col}
                    for m in drift_by_part.get(p, [])
                ],
                # raw additive bin counts: lineage for this partition AND the
                # input to global drift on resumed runs (no table re-scan)
                "hist": {
                    col: [int(x) for x in arr]
                    for col, arr in wave_counts.get((p,), {}).items()
                },
            }
            v = PartitionVerdict(
                part=int(p),
                passed=(n_viol == 0 and not drifted),
                n_rows=int(n_rows.get(p, 0)),
                n_violations=int(n_viol),
                violations_by_check=checks_counts,
                metrics=metrics,
                snapshot_id=snap,
                spec_hash=spec_hash,
                engine_version=__version__,
                part_fingerprint=part_fps.get(int(p), ""),
            )
            store.write(v)
            done[p] = v
            ran.append(p)

    # global drift = sum of per-partition bin counts (additive), covering
    # both partitions validated this run and partitions replayed from
    # checkpoint markers — the 10^12-row table is never re-scanned for it.
    global_drift: list[dict] = []
    if drift_refs is not None:
        import numpy as np

        total = {s.col: np.zeros(s.n_bins, dtype=np.float64) for s in spec.drift_specs}
        legacy = []  # markers written before hist lineage existed
        for p, v in done.items():
            h = (v.metrics or {}).get("hist")
            if h:
                for col, arr in h.items():
                    total[col] += np.asarray(arr, dtype=np.float64)
            else:
                legacy.append(p)
        if legacy:
            extra = drift.grouped_histograms(
                tableio.partition_slice(full, legacy), spec.drift_specs
            )
            for col, arr in extra.get((), {}).items():
                total[col] += arr
        global_drift = drift.drift_verdicts(
            drift.metrics_from_counts({(): total}, drift_refs, spec.drift_specs),
            psi_threshold=spec.psi_threshold,
        )
        for m in global_drift:
            m["scope"] = "global"

    # key_partitioned=False: global uniqueness/referential EVERY invocation
    # (including resumes — the whole point: cross-wave duplicates that a
    # killed run never co-scanned are still caught). Written to a separate
    # path, fully overwritten, never checkpointed.
    global_path = None
    global_by_check = None
    if not spec.key_partitioned:
        g = _global_key_checks(read, clips_root, ref_root, spec)
        if g is not None:
            global_path = f"{checkpoint_dir.rstrip('/')}/violations_global"
            g = g.select(*VIOLATION_COLS).persist()
            # exact counts from the FULL set, then the capped sink write —
            # same contract as the per-wave path (truncation discoverable:
            # count > surviving sink rows)
            global_by_check = {
                r["check"]: r["n"]
                for r in g.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            _cap_sink(g, spec.max_violation_rows_per_check).write.mode(
                "overwrite"
            ).parquet(global_path)
            g.unpersist()

    # record the validated schema as the next run's evolution baseline —
    # reached only on a completed pass (a kill above leaves the old baseline
    # in place) and only when no BREAKING evolution was reported: a dropped
    # column / narrowed type must keep re-reporting until the table or the
    # spec is actually fixed, not self-acknowledge after one run
    # (checkpoint.py write_table_schema contract)
    if "schema" in spec.checks and not any(
        i.get("breaking") for i in schema_issues
    ):
        store.write_table_schema(
            snap, {f.name: f.dataType.simpleString() for f in full.schema.fields}
        )

    ran_set = set(ran)
    return SuiteResult(
        snapshot_id=snap,
        spec_hash=spec_hash,
        verdicts=done,
        ran_parts=ran,
        skipped_parts=sorted(p for p in done if p not in ran_set),
        schema_issues=schema_issues,
        drift_metrics=global_drift + all_drift,
        # None when no violation rows exist on disk (a stats/drift-only spec,
        # or an all-clean table whose stale partitions were just cleared):
        # a parquet read of an empty/absent dir would raise
        violations_path=(
            violations_path
            if os.path.isdir(violations_path)
            and any(n.startswith("part=") for n in os.listdir(violations_path))
            else None
        ),
        global_violations_path=global_path,
        global_violations_by_check=global_by_check,
    )


def ranked_violations(
    spark: SparkSession, violations_path: str | None, global_path: str | None = None
) -> DataFrame:
    """Global ranked violation output — the reference's sorted anomaly table
    (SURVEY.md O1): severity desc, then key for determinism. Pass the
    SuiteResult's ``global_violations_path`` to fold in the
    key_partitioned=False global-check rows. Either path may be None
    (SuiteResult sets violations_path=None when no rows exist on disk);
    with both absent the result is a correctly-typed empty frame.
    """
    sides = [
        spark.read.parquet(p).select(*VIOLATION_COLS)
        for p in (violations_path, global_path)
        if p
    ]
    if not sides:
        return spark.createDataFrame(
            [], "key string, check string, detail string, part int, severity double"
        )
    v = sides[0]
    for s in sides[1:]:
        v = v.unionByName(s)
    return v.orderBy(F.desc("severity"), "key", "check")


def quarantine_rows(
    clips: DataFrame,
    violations: DataFrame,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """FULL rows for every violating key, with a per-key violation summary —
    the table a curation pipeline subtracts from training input before the
    next epoch (violation rows alone carry keys, not payloads; re-scoring,
    manual review and re-ingest all need the payload).

    Shape at 10^12 rows: violations reduce to key grain FIRST (checks set,
    max severity, count — one row per violating key, a ~1% fraction), then
    join back to the detail table on (part, key) so the shuffle carries the
    summary, not the payloads, and the partition column keeps the join
    aligned with the table's bucket layout. Duplicate keys in the detail
    table fan out intentionally: BOTH copies of a duplicated clip belong in
    quarantine. Reference-side orphan keys have no detail row and don't
    appear here — the ranked violation table remains the complete record.

    CAP INTERACTION: when the violations sink was written with
    ``spec.max_violation_rows_per_check`` set, a series that hit the cap is
    missing keys here too (the sink keeps top-N example rows; verdict
    counts stay exact). jobs/validate.py detects saturation from the
    verdicts and reports ``quarantine_complete`` — a complete kill-list
    requires ``max_violation_rows_per_check: null``.
    """
    # the violations frame ALWAYS names its partition column 'part'
    # (VIOLATION_SCHEMA); part_col applies only to the clips side of the join
    per_key = (
        violations.where(F.col("key").isNotNull())
        .groupBy(F.col("part").alias("__qpart"), F.col("key"))
        .agg(
            F.sort_array(F.collect_set("check")).alias("checks"),
            F.max("severity").alias("max_severity"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )
    )
    joined = clips.join(
        per_key,
        (clips[key_col] == per_key["key"]) & (clips[part_col] == per_key["__qpart"]),
    )
    return joined.select(clips["*"], "checks", "max_severity", "n_violations")
