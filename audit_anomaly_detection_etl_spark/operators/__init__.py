"""Validation checks and large-scale data operators.

Every operator is a lazy ``DataFrame -> DataFrame`` program: nothing here
triggers an action, so the suite runner can compose checks into one plan per
pass and let Catalyst share the scan. Violation rows from every check share
one schema (``VIOLATION_SCHEMA``) so they union into a single ranked output,
mirroring the reference's ranked anomaly output (SURVEY.md O1,
model_output/nodes.py:86-112).
"""

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# (key, check, detail, part, severity) — severity ranks the final output;
# reference analogue: anomaly_prediction desc, anomaly_score desc.
VIOLATION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("check", StringType()),
        StructField("detail", StringType()),
        StructField("part", IntegerType()),
        StructField("severity", DoubleType()),
    ]
)

VIOLATION_COLS = [f.name for f in VIOLATION_SCHEMA.fields]


def flagged_violations(df, flags, key: str = "clip_id", part: str = "part"):
    """VIOLATION_SCHEMA rows from per-row flags in ONE projection: ``flags``
    lists ``(check, predicate, detail, severity)``; each row of ``df`` yields
    one violation per predicate that holds (a null predicate never does),
    via ``explode(array_compact(array(when(pred, struct(...)), ...)))``,
    keyed by its ``key`` and ``part`` columns."""
    from pyspark.sql import functions as F

    if not flags:
        return df.sparkSession.createDataFrame([], VIOLATION_SCHEMA)
    hits = F.array_compact(
        F.array(
            *[
                F.when(
                    pred,
                    F.struct(
                        F.lit(check).alias("c"),
                        F.lit(float(severity)).alias("s"),
                        detail.alias("d"),
                    ),
                )
                for check, pred, detail, severity in flags
            ]
        )
    )
    return df.select(
        F.col(key).alias("key"), F.col(part).alias("part"), F.explode(hits).alias("v")
    ).select(
        "key",
        F.col("v.c").alias("check"),
        F.col("v.d").alias("detail"),
        F.col("part").cast("int").alias("part"),
        F.col("v.s").alias("severity"),
    )


def keyed_frame(pdf, metrics: dict, *passthrough: str):
    """One mapInPandas output batch: the batch's ``clip_id``/``part`` (and
    any ``passthrough`` input columns) beside a kernel's metric columns."""
    import pandas as pd

    cols = {c: pdf[c].to_numpy() for c in ("clip_id", "part", *passthrough)}
    return pd.DataFrame({**cols, **metrics})


def remap_key_part(df, key_col: str, part_col: str):
    """Map a spec's custom key/part columns onto the ``clip_id``/``part``
    names the media/payload internals hardcode — via a single ``select``,
    not ``withColumnRenamed``: the rename silently no-ops on a misspelled
    column (surfacing later as UNRESOLVED_COLUMN blaming the wrong name)
    and DUPLICATES the name when the table already carries a different
    ``clip_id``/``part`` column (AMBIGUOUS_REFERENCE downstream). Here a
    missing column fails fast by name, and a pre-existing column under the
    target name is shadowed out (the downstream operator must see the
    spec's key, not a same-named bystander)."""
    if key_col == "clip_id" and part_col == "part":
        return df
    from pyspark.sql import functions as F

    missing = {key_col, part_col} - set(df.columns)
    if missing:
        raise ValueError(f"remap_key_part: column(s) {sorted(missing)} not in table")
    cols = []
    for c in df.columns:
        if c == key_col:
            cols.append(F.col(c).alias("clip_id"))
        elif c == part_col:
            cols.append(F.col(c).alias("part"))
        elif (c == "clip_id" and key_col != "clip_id") or (
            c == "part" and part_col != "part"
        ):
            continue
        else:
            cols.append(F.col(c))
    return df.select(*cols)
