"""Declarative schema + domain-constraint checks.

Reference analogue: the config-declared column map validated against a 1-row
API probe before the pipeline runs (SURVEY.md §1.3, app_utils/kobo_tools.py:
42-87 'missing field' violations) and the post-union column-count assertion
(data_download/nodes.py:126-129). Here the expected schema is a Spark
``StructType`` and the diff happens on driver metadata — zero data read —
while *value-domain* constraints (e.g. ``codec IN (...)``, ``sr_hz > 0``)
compile to one filter pass emitting violation rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import flagged_violations


@dataclass
class ColumnSpec:
    name: str
    dtype: str  # Spark simpleString, e.g. "string", "binary", "int"
    nullable: bool = True
    allowed: list | None = None  # value domain, compiled to isin()
    min_value: float | None = None
    max_value: float | None = None


@dataclass
class TableSchemaSpec:
    columns: list[ColumnSpec]
    key_col: str = "clip_id"
    part_col: str = "part"
    extra_predicates: dict[str, Column] = field(default_factory=dict)


def format_columns(
    df: DataFrame,
    mapping: dict[str, tuple[str, str]],
    keep_others: bool = False,
) -> DataFrame:
    """Config-driven rename + cast + optional projection in ONE ``select``
    (SURVEY.md P1, data_processing/nodes.py:14-47: the reference runs three
    separate passes — rename, astype, drop; Catalyst fuses ours into the
    scan projection, so only the mapped columns are ever read when
    ``keep_others=False``).

    ``mapping``: ``{new_name: (source_name, spark_dtype)}``.
    """
    cols = [F.col(src).cast(dtype).alias(new) for new, (src, dtype) in mapping.items()]
    if keep_others:
        mapped_srcs = {src for src, _ in mapping.values()}
        cols += [F.col(c) for c in df.columns if c not in mapped_srcs]
    return df.select(*cols)


def schema_diff(actual: StructType, spec: TableSchemaSpec) -> list[dict]:
    """Metadata-only structural diff: missing columns, type mismatches,
    unexpected extras. Runs on the driver against catalog metadata — the
    10^12-row table is never scanned.
    """
    actual_types = {f.name: f.dataType.simpleString() for f in actual.fields}
    out = []
    for c in spec.columns:
        if c.name not in actual_types:
            out.append({"column": c.name, "issue": "missing", "expected": c.dtype, "actual": None})
        elif actual_types[c.name] != c.dtype:
            out.append(
                {
                    "column": c.name,
                    "issue": "type_mismatch",
                    "expected": c.dtype,
                    "actual": actual_types[c.name],
                }
            )
    declared = {c.name for c in spec.columns} | {spec.part_col}
    for name in actual_types:
        if name not in declared:
            out.append({"column": name, "issue": "unexpected", "expected": None, "actual": actual_types[name]})
    return out


# Iceberg schema-evolution rules (Iceberg spec "Schema Evolution"): these
# primitive widenings are the ONLY type changes a reader contract survives.
_SAFE_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def schema_evolution(prev_types: dict[str, str], cur: StructType) -> list[dict]:
    """Snapshot-to-snapshot schema diff, classified by Iceberg evolution
    compatibility: added columns and safe primitive widenings are
    non-breaking (informational); dropped columns and any other type change
    break the validation contract (downstream readers / the spec'd checks
    can no longer trust the table shape).

    ``prev_types`` is {column: simpleString} as recorded at the previous
    validated snapshot (CheckpointStore.read_table_schema). Driver-metadata
    only — the table is never scanned."""
    cur_types = {f.name: f.dataType.simpleString() for f in cur.fields}
    out = []
    for name, pt in prev_types.items():
        ct = cur_types.get(name)
        if ct is None:
            out.append(
                {"column": name, "issue": "evolution_removed",
                 "expected": pt, "actual": None, "breaking": True}
            )
        elif ct != pt:
            widened = (pt, ct) in _SAFE_WIDENINGS
            out.append(
                {"column": name,
                 "issue": "evolution_widened" if widened else "evolution_retyped",
                 "expected": pt, "actual": ct, "breaking": not widened}
            )
    for name, ct in cur_types.items():
        if name not in prev_types:
            out.append(
                {"column": name, "issue": "evolution_added",
                 "expected": None, "actual": ct, "breaking": False}
            )
    return out


def constraint_flags(spec: TableSchemaSpec) -> list:
    """The row-level domain constraints of ``spec`` as ``(check, predicate,
    detail, severity)`` flags over the table's own columns (a null value
    fails only its ``nullable=False`` constraint)."""
    flags = []
    for c in spec.columns:
        col = F.col(c.name)
        if not c.nullable:
            flags.append((f"{c.name}:null", col.isNull()))
        if c.allowed is not None:
            flags.append((f"{c.name}:domain", col.isNotNull() & ~col.isin(c.allowed)))
        if c.min_value is not None:
            flags.append((f"{c.name}:below_min", col < F.lit(c.min_value)))
        if c.max_value is not None:
            flags.append((f"{c.name}:above_max", col > F.lit(c.max_value)))
    for name, pred in spec.extra_predicates.items():
        flags.append((name, ~pred))
    return [("schema_constraint", pred, F.lit(detail), 3.0) for detail, pred in flags]


def constraint_violations(df: DataFrame, spec: TableSchemaSpec) -> DataFrame:
    """Row-level domain violations as VIOLATION_SCHEMA rows.

    All predicates evaluate in one whole-stage-codegen projection over a
    single scan; the output is the union of per-constraint violation arrays
    exploded row-wise (no self-union of N scans).
    """
    return flagged_violations(df, constraint_flags(spec), spec.key_col, spec.part_col)


def json_key_profile(df: DataFrame, col: str) -> DataFrame:
    """Schema-on-read profile of a semi-structured JSON column: frequency of
    each observed KEY SET — the check that catches a producer rollout
    adding/dropping/renaming payload fields, which value-level extraction
    (nested_extract) and string-column type inference cannot see until a
    downstream job reads the missing key. Rows classify as '<null>' (column
    null), '<invalid>' (not a JSON object — Spark's permissive ``from_json``
    nulls malformed input AND non-object JSON; scalars/arrays are schema
    violations here, not key sets), or the comma-joined sorted key list
    ('' = empty object).

    Scale shape: one codegen-side ``from_json`` -> ``sort_array(map_keys)``
    projection (JacksonParser in the JVM — no Python), then a two-phase hash
    agg at key-set grain; observed key sets are bounded by producer-schema
    versions (a handful), so the aggregate is tiny and the share denominator
    joins back broadcast.

    Returns (key_set, n_rows, share).
    """
    parsed = F.from_json(F.col(col), "map<string,string>")
    key_set = (
        F.when(F.col(col).isNull(), F.lit("<null>"))
        .when(parsed.isNull(), F.lit("<invalid>"))
        .otherwise(F.concat_ws(",", F.sort_array(F.map_keys(parsed))))
    )
    counts = (
        df.select(key_set.alias("key_set"))
        .groupBy("key_set")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .localCheckpoint(eager=False)  # key-set grain; feeds total + join-back
    )
    from .column_stats import global_share

    return global_share(counts, "n_rows").select("key_set", "n_rows", "share")
