"""Thin Iceberg-style table IO over hive-partitioned parquet, with a live
Iceberg-catalog branch when one is configured.

No Iceberg runtime jar ships in this sandbox, so the default (filesystem)
branch emulates the three Iceberg capabilities the engine depends on
(SURVEY.md §7.1 step 1). THE MAPPING — this is the single place it is
documented; every concept on the left binds to the metadata on the right
when ``location`` names a table through a configured
``spark.sql.catalog.<name>`` (detected by :func:`iceberg_catalog_of`):

====================== ============================== =========================
engine concept          filesystem emulation           Iceberg binding
====================== ============================== =========================
partition listing       scan of ``part=K`` dirs        ``<tbl>.files`` metadata
                                                       table, grouped by
                                                       ``partition.part``
snapshot identity       sha256 of (relative file name, current ``snapshot_id``
 (checkpoint lineage)   size) over the whole tree      from ``<tbl>.snapshots``
partition fingerprint   sha256 of (file name, size)    sha256 of (``file_path``,
 (resume grain)         within one ``part=K`` dir      ``file_size_in_bytes``)
                                                       of that partition's
                                                       manifest entries
partition-pruned read   ``read.parquet(root)``         ``spark.table(tbl)``
                        ``.where(part IN ...)``        ``.where(part IN ...)``
                        (hive dir pruning)             (manifest pruning)
====================== ============================== =========================

Both branches yield the same contract: fingerprints change exactly when a
partition's data files change, so ``plans/checkpoint.plan_resume`` re-validates
only touched partitions regardless of storage. A real deployment flips over
by pointing ``clips_root`` at ``catalog.db.table`` — no code edits.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_PART_RE = re.compile(r"^part=(\d+)$")


def session_table_of(spark: SparkSession, location: str) -> bool:
    """True when ``location`` names a table in the SESSION catalog (e.g. a
    bucketed table written by :func:`write_bucketed`) rather than a
    filesystem path or an Iceberg-catalog table. Path-like strings and
    existing paths can never be misrouted — same guard shape as
    :func:`iceberg_catalog_of`."""
    if not location or "/" in location or os.path.sep in location:
        return False
    if os.path.exists(location) or iceberg_catalog_of(spark, location):
        return False
    try:
        return bool(spark.catalog.tableExists(location))
    except Exception:
        return False


def _fs_root(spark: SparkSession | None, root: str) -> str:
    """Resolve a location to the filesystem directory holding its
    ``part=K`` dirs. Session-catalog tables resolve through the catalog's
    recorded Location, so the manifest-digest lineage (list_partitions /
    snapshot_id / partition_fingerprints) works identically for bucketed
    tables and plain parquet roots."""
    if spark is not None and session_table_of(spark, root):
        for r in spark.sql(f"DESCRIBE FORMATTED {root}").collect():
            if r["col_name"] == "Location":
                loc = r["data_type"]
                return loc[len("file:"):] if loc.startswith("file:") else loc
        raise ValueError(f"session table {root!r} has no Location")
    return root


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int,
    key_col: str = "clip_id",
    part_col: str | None = "part",
) -> None:
    """Write ``df`` as a bucketed (and optionally hive-partitioned) table —
    the storage layout that ELIDES the engine's one table-scale shuffle.

    The payload ref-comparison join (operators/payload.py) is key-equi on
    ``clip_id`` with BOTH sides at table scale; over plain parquet roots it
    shuffles both sides every wave — the single biggest shuffle in the
    default suite at 10^12 clips. When clips and clips_ref are written
    bucketed by ``clip_id`` with the SAME bucket count, each scan reports
    ``HashPartitioning(clip_id, n)`` and the sort-merge join needs NO
    Exchange on either side: the join runs scan→sort→merge with zero
    network movement of the audio payloads (locked by the
    ``bucketed payload join`` plan-audit rule in scripts/audit_plans.py).
    This is the parquet-session-catalog rendering of an Iceberg
    storage-partitioned join: on a real deployment, write both tables with
    a ``bucket(N, clip_id)`` partition transform and enable
    ``spark.sql.sources.v2.bucketing.enabled`` — same plan shape, zero code
    changes here.

    Written as an EXTERNAL table (explicit ``path``) so the files land in
    caller-controlled storage and the checkpoint/lineage fingerprints keep
    reading the same hive-layout directories as plain roots. Bucket file
    names carry the bucket id; fingerprints digest (name, size) as always.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", os.path.abspath(path))
        .bucketBy(n_buckets, key_col)
        .sortBy(key_col)
    )
    if part_col is not None:
        w = w.partitionBy(part_col)
    w.saveAsTable(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    n_buckets: int,
    key_col: str = "clip_id",
    part_col: str | None = "part",
) -> None:
    """Re-attach an EXISTING :func:`write_bucketed` directory as a bucketed
    session-catalog table — the resume path. Session-catalog tables die
    with the Spark session; re-WRITING them on every job start would change
    the file manifest and void every checkpoint fingerprint. This DDL
    (CREATE TABLE ... USING PARQUET CLUSTERED BY ... LOCATION + partition
    recovery) re-declares the bucket spec over the same files, so the
    fingerprints — and therefore ``plan_resume``'s skip decisions — are
    byte-identical across restarts.

    CORRECTNESS CAVEAT (same as Hive's): the declaration is trusted, not
    verified — Spark assigns files to buckets by the bucket id in the FILE
    NAME. Only point this at directories produced by :func:`write_bucketed`
    (or another writer with the same bucket count and key); a mismatched
    declaration silently mis-buckets the join.
    """
    path = os.path.abspath(path)
    df = spark.read.parquet(path)
    data_cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != part_col
    )
    ddl = f"CREATE TABLE {table} ({data_cols}"
    if part_col is not None:
        part_type = df.schema[part_col].dataType.simpleString()
        ddl += f", `{part_col}` {part_type}"
    ddl += ") USING PARQUET "
    if part_col is not None:
        ddl += f"PARTITIONED BY (`{part_col}`) "
    ddl += (
        f"CLUSTERED BY (`{key_col}`) SORTED BY (`{key_col}`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    spark.sql(ddl)
    if part_col is not None:
        spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")


def iceberg_catalog_of(spark: SparkSession, location: str) -> str | None:
    """Catalog name when ``location`` names a table through a configured
    ``spark.sql.catalog.<name>``; None for filesystem paths. A location is
    treated as a table name only if it has no path separators, does not
    exist on disk, and its first dotted component matches a configured
    catalog — so plain parquet roots can never be misrouted."""
    if not location or "/" in location or os.path.sep in location:
        return None
    if os.path.exists(location):
        return None
    cat = location.split(".", 1)[0]
    try:
        spark.conf.get(f"spark.sql.catalog.{cat}")
    except Exception:
        return None
    return cat


def _iceberg_files(spark: SparkSession, table: str) -> DataFrame:
    """One scan of the ``files`` metadata table (manifest entries only — no
    data files touched), projected to (part, file_path, file_size_in_bytes)."""
    from pyspark.sql import functions as F

    return spark.table(f"{table}.files").select(
        F.col("partition.part").cast("int").alias("part"),
        "file_path",
        F.col("file_size_in_bytes").cast("long").alias("sz"),
    )


@dataclass(frozen=True)
class PartitionInfo:
    part: int
    n_files: int
    total_bytes: int


def list_partitions(root: str, spark: SparkSession | None = None) -> list[PartitionInfo]:
    """Enumerate partitions with file-count + byte-size stats.

    The byte sizes feed the skew planner (salting factor scales with
    partition byte-size — SURVEY.md §7.3 'Skew'). With a configured Iceberg
    catalog (pass ``spark``), stats come from the ``files`` metadata table
    — manifest reads, no data scan, same as the directory walk is
    metadata-only here.
    """
    if spark is not None and iceberg_catalog_of(spark, root):
        from pyspark.sql import functions as F

        rows = (
            _iceberg_files(spark, root)
            .groupBy("part")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("sz").alias("b"))
            .collect()
        )
        return sorted(
            (PartitionInfo(int(r["part"]), int(r["n"]), int(r["b"])) for r in rows),
            key=lambda p: p.part,
        )
    root = _fs_root(spark, root)
    out = []
    for name in sorted(os.listdir(root)):
        m = _PART_RE.match(name)
        if not m:
            continue
        pdir = os.path.join(root, name)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        total = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        out.append(PartitionInfo(int(m.group(1)), len(files), total))
    return sorted(out, key=lambda p: p.part)


def snapshot_id(root: str, spark: SparkSession | None = None) -> str:
    """Digest of the data-file manifest — the lineage token recorded per
    checkpointed partition. Changes whenever the file manifest (names +
    sizes) changes, i.e. on every new ingest/rewrite — matching Iceberg
    snapshot-id semantics. Same files on disk -> same id, so a resumed run
    can trust prior checkpoints. With an Iceberg catalog, this IS the
    table's current snapshot id (``<tbl>.snapshots``, latest commit).
    """
    if spark is not None and iceberg_catalog_of(spark, root):
        from pyspark.sql import functions as F

        row = (
            spark.table(f"{root}.snapshots")
            .orderBy(F.desc("committed_at"))
            .select("snapshot_id")
            .limit(1)
            .collect()
        )
        return str(row[0]["snapshot_id"]) if row else "empty-table"
    root = _fs_root(spark, root)
    h = hashlib.sha256()
    for dirpath, _dirnames, filenames in sorted(os.walk(root)):
        for f in sorted(filenames):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                rel = os.path.relpath(p, root)
                h.update(rel.encode())
                h.update(str(os.path.getsize(p)).encode())
    return h.hexdigest()[:16]


def partition_fingerprints(root: str, spark: SparkSession | None = None) -> dict[int, str]:
    """Per-partition digest of that partition's OWN file manifest (relative
    names + sizes) — lineage at partition grain. The global ``snapshot_id``
    changes on ANY write to the table; a partition fingerprint changes only
    when that partition's files change, so an incremental ingest that
    appends to 3 of 10^5 partitions re-validates exactly those 3 (checkpoint
    markers elsewhere stay valid). Matches Iceberg's per-partition manifest
    entries the same way snapshot_id matches its snapshot ids.

    Iceberg branch: the identical digest over that partition's manifest
    entries (``file_path``, ``file_size_in_bytes``) from the ``files``
    metadata table — collected at partition grain (O(partitions) driver
    rows), sorted by path for determinism.
    """
    if spark is not None and iceberg_catalog_of(spark, root):
        from pyspark.sql import functions as F

        rows = (
            _iceberg_files(spark, root)
            .groupBy("part")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("file_path", "sz"))
                ).alias("entries")
            )
            .collect()
        )
        out: dict[int, str] = {}
        for r in rows:
            h = hashlib.sha256()
            for e in r["entries"]:
                h.update(e["file_path"].encode())
                h.update(str(e["sz"]).encode())
            out[int(r["part"])] = h.hexdigest()[:16]
        return out
    root = _fs_root(spark, root)
    out = {}
    for name in sorted(os.listdir(root)):
        m = _PART_RE.match(name)
        if not m:
            continue
        pdir = os.path.join(root, name)
        h = hashlib.sha256()
        for f in sorted(os.listdir(pdir)):
            if f.endswith(".parquet"):
                h.update(f.encode())
                h.update(str(os.path.getsize(os.path.join(pdir, f))).encode())
        out[int(m.group(1))] = h.hexdigest()[:16]
    return out


def read_table(spark: SparkSession, root: str) -> DataFrame:
    # session-catalog (bucketed) tables MUST read via spark.table — a path
    # read of the same files would drop the bucket spec and reintroduce the
    # payload-join shuffle the bucketed layout exists to elide
    if iceberg_catalog_of(spark, root) or session_table_of(spark, root):
        return spark.table(root)
    return spark.read.parquet(root)


def read_partitions(spark: SparkSession, root: str, parts: list[int]) -> DataFrame:
    """Partition-pruned read: the IN-filter on the partition column is
    resolved at planning time — hive directory pruning for parquet roots
    (PartitionFilters in the scan node), manifest pruning for Iceberg tables
    — so only the listed partitions are touched.
    """
    return partition_slice(read_table(spark, root), parts)


def partition_slice(df: DataFrame, parts: list[int]) -> DataFrame:
    """The ``parts`` partitions of a :func:`read_table` frame, pruned the
    same way as :func:`read_partitions`. Slicing one frame again and again
    reuses its file listing: a parquet root is listed (and its schema
    inferred) when it is read, not when a slice of it is planned."""
    from pyspark.sql import functions as F

    return df.where(F.col("part").isin([int(p) for p in parts]))


def partition_health(
    spark: SparkSession,
    root: str,
    target_file_mb: float = 128.0,
    small_file_frac: float = 0.25,
) -> DataFrame:
    """Table-maintenance audit at MANIFEST grain: per partition, file count,
    bytes, rows (parquet footer metadata only — no data pages read), the
    mean file size vs the ``target_file_mb`` a healthy compaction run
    produces, and a ``compact`` recommendation when more than one file per
    partition averages under ``small_file_frac`` of the target.

    The small-file problem is the silent killer of scan throughput at
    10^12 rows (every file is a task + an open + a footer parse); Iceberg's
    ``rewrite_data_files`` fixes it but something has to DECIDE where to run
    it — this audit is that decision table. With a configured Iceberg
    catalog the report comes straight from the ``files`` metadata table
    (manifest entries: size + record_count per data file — no data pages,
    no driver loop); for filesystem roots it is rebuilt from the directory
    manifest + parquet footers, metadata-scale driver work exactly like
    ``snapshot_id``/``partition_fingerprints`` above.
    """
    if iceberg_catalog_of(spark, root):
        from pyspark.sql import functions as F

        per = (
            spark.table(f"{root}.files")
            .select(
                F.col("partition.part").cast("int").alias("part"),
                F.col("file_size_in_bytes").cast("long").alias("sz"),
                F.col("record_count").cast("long").alias("rc"),
            )
            .groupBy("part")
            .agg(
                F.count(F.lit(1)).cast("int").alias("n_files"),
                F.sum("rc").cast("long").alias("n_rows"),
                F.sum("sz").cast("long").alias("n_bytes"),
            )
        )
        mean_mb = F.round(
            F.col("n_bytes").cast("double") / F.col("n_files") / 1048576.0, 6
        )
        return per.select(
            "part",
            "n_files",
            "n_rows",
            "n_bytes",
            mean_mb.alias("mean_file_mb"),
            (
                (F.col("n_files") > 1)
                & (mean_mb < F.lit(target_file_mb * small_file_frac))
            ).alias("compact"),
        )

    import pyarrow.parquet as pq

    root = _fs_root(spark, root)
    rows = []
    for info in list_partitions(root):
        pdir = os.path.join(root, f"part={info.part}")
        files = [
            os.path.join(pdir, f)
            for f in sorted(os.listdir(pdir))
            if f.endswith(".parquet")
        ]
        n_bytes = 0
        n_rows = 0
        for fp in files:
            n_bytes += os.path.getsize(fp)
            n_rows += pq.ParquetFile(fp).metadata.num_rows
        n_files = len(files)
        mean_mb = (n_bytes / n_files / 1048576.0) if n_files else 0.0
        rows.append(
            (
                info.part,
                n_files,
                int(n_rows),
                int(n_bytes),
                round(mean_mb, 6),
                bool(n_files > 1 and mean_mb < target_file_mb * small_file_frac),
            )
        )
    return spark.createDataFrame(
        rows,
        "part int, n_files int, n_rows long, n_bytes long, "
        "mean_file_mb double, compact boolean",
    )
