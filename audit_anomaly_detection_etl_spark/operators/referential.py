"""Referential-integrity checks via joins.

Reference analogue: the audit<->questionnaire substring-membership counting
(SURVEY.md J6, features_engineering/nodes.py:300-335) and the UI's
``np.setdiff1d`` on id arrays (app_tab/interpretation.py:34). The north rule
upgrades these to proper transcript<->clip referential checks as joins.

The suite's check (``referential_violations``) is ONE full outer join of the
clip keys with the reference keys, which emits both directions from one
shuffle: rows with no reference (missing_ref) and reference rows with no
data row (orphan_ref) — the latter is the reference repo's "questionnaire
question never visited" analogue. Catalyst/AQE picks sort-merge or
shuffled-hash for the two sides (a full outer join cannot broadcast), AQE
skew-split handles hot keys, and key-bucketed tables join with no shuffle.
``anti_join`` keeps the one-direction form for the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import flagged_violations


def anti_join(left: DataFrame, right: DataFrame, key: str, broadcast: bool = True) -> DataFrame:
    r = right.select(key).distinct()
    if broadcast:
        r = F.broadcast(r)
    return left.join(r, key, "left_anti")


def substring_count_join(
    df: DataFrame,
    patterns: DataFrame,
    text_col: str,
    group_cols: list[str],
    pattern_col: str = "pattern",
    out_col: str = "match_count",
    literal: bool = False,
) -> DataFrame:
    """Per group, total occurrences of every pattern from a reference TABLE
    inside a string column — the reference's J6 generalized
    (features_engineering/nodes.py:300-335: questionnaire note names counted
    in each survey's visited-path strings via ``str.count`` per name, summed
    per audit).

    Plan: the pattern table collapses into ONE array row (sorted
    collect_set), broadcast onto the detail scan; each row evaluates
    ``aggregate(patterns, 0, acc + regexp_count(text, p))`` — no row
    explosion (the detail table never multiplies by n_patterns), one
    groupBy for the per-group sums. Pattern counts match pandas
    ``str.count`` (regex, non-overlapping); ``literal=True`` escapes regex
    metacharacters for verbatim-substring counting.

    Scale notes: patterns are a dimension table (thousands at most — the
    collect_set aggregate is one tiny shuffle); per-row cost is
    O(n_patterns) regex scans, the same work the reference does per row.
    Output: (group_cols..., out_col) — merge back with a broadcast join if
    row-level decoration is needed (the reference's final merge).
    """
    pats = patterns.groupBy().agg(
        F.sort_array(F.collect_set(pattern_col)).alias("__pats")
    )
    pat = lambda p: (
        F.regexp_replace(p, r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\$1") if literal else p
    )
    per_row = F.aggregate(
        "__pats",
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.regexp_count(F.col(text_col), pat(p)),
    )
    return (
        df.crossJoin(F.broadcast(pats))
        .select(*group_cols, per_row.alias("__n"))
        .groupBy(*group_cols)
        .agg(F.sum("__n").alias(out_col))
    )


def referential_violations(
    df: DataFrame,
    ref: DataFrame,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Both-direction orphan detection as VIOLATION_SCHEMA rows: a clip row
    the join leaves unmatched has no reference row, a reference row it
    leaves unmatched has no clip. A null key matches nothing, so it lands on
    its own side; a reference table without ``part_col`` gives null-part
    orphans."""
    clip = df.select(
        F.col(key_col).alias("_ck"), F.col(part_col).cast("int").alias("_cp"),
        F.lit(True).alias("_clip"),
    )
    ref_part = F.col(part_col) if part_col in ref.columns else F.lit(None)
    refs = ref.select(
        F.col(key_col).alias("_rk"), ref_part.cast("int").alias("_rp"),
        F.lit(True).alias("_ref"),
    )
    joined = clip.join(refs, F.col("_ck") == F.col("_rk"), "full").select(
        F.coalesce("_ck", "_rk").alias("_k"), F.coalesce("_cp", "_rp").alias("_p"),
        "_clip", "_ref",
    )
    return flagged_violations(
        joined,
        [
            ("referential_missing_ref", F.col("_ref").isNull(),
             F.lit("clip has no reference row"), 2.0),
            ("referential_orphan_ref", F.col("_clip").isNull(),
             F.lit("reference row has no clip"), 1.0),
        ],
        key="_k",
        part="_p",
    )


def fk_health_matrix(
    edges: list[tuple[str, DataFrame, str, str, DataFrame, str]],
) -> DataFrame:
    """One-report referential health across EVERY foreign-key edge of a
    schema: for each (edge_name, child_df, fk_col, parent_name, parent_df,
    pk_col), the child row count, distinct FK values, orphaned rows
    (FK value absent from the parent), null FKs, and an ok verdict.

    The reference checks one relationship at a time
    (data_processing/nodes.py merge-validate); a lake with a dozen tables
    needs the whole matrix in one run — this is the suite-level
    "referential" check generalized to any number of edges.

    Scale shape per edge: the child reduces to DISTINCT FK values FIRST
    (two-phase hash agg), so the anti-join against the parent runs at key
    grain, never row grain — orphan ROW counts come from joining the
    (distinct value, count) table, not re-scanning the child. Parents are
    typically dimension-sized: Spark broadcasts them under AQE; a huge
    parent degrades to a key-grain sort-merge join. Edges are independent
    one-row aggregates unioned at the end — Spark runs them as parallel
    jobs inside one action.
    """
    reports = []
    for edge_name, child, fk, parent_name, parent, pk in edges:
        vals = (
            child.select(F.col(fk).alias("__v"))
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        pkeys = parent.select(F.col(pk).alias("__v")).distinct()
        orphan = vals.where(F.col("__v").isNotNull()).join(pkeys, "__v", "left_anti")
        per_edge = vals.agg(
            # coalesce like the orphan sums below: an EMPTY child table
            # (truncated / not-yet-loaded) must report 0s and a defined ok
            # verdict, not NULL counts and ok=NULL
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("child_rows"),
            F.coalesce(
                F.sum(
                    F.when(F.col("__v").isNotNull(), F.col("__n")).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("nonnull_rows"),
            F.count(F.when(F.col("__v").isNotNull(), F.lit(1))).cast("long").alias(
                "distinct_fk"
            ),
        ).crossJoin(
            F.broadcast(
                orphan.agg(
                    F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("orphan_rows"),
                    F.count(F.lit(1)).cast("long").alias("orphan_values"),
                )
            )
        )
        reports.append(
            per_edge.select(
                F.lit(edge_name).alias("edge"),
                F.lit(parent_name).alias("parent"),
                "child_rows",
                (F.col("child_rows") - F.col("nonnull_rows")).alias("null_fk_rows"),
                "distinct_fk",
                "orphan_values",
                "orphan_rows",
                ((F.col("orphan_rows") == 0) & (F.col("child_rows") == F.col("nonnull_rows"))).alias("ok"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def aggregate_reconciliation(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    parent_col: str,
    child_expr,
    tol: float = 0.01,
) -> DataFrame:
    """Ledger-style aggregate reconciliation: a stored parent total against
    the sum of its child parts (order total vs line amounts, account balance
    vs postings, shard rollup vs detail). FK checks (anti_join / the FK
    health matrix) prove every child has a parent; this proves the NUMBERS
    still add up — the invariant that silently breaks when one side is
    reprocessed, a currency/ tax rule changes, or a backfill is partial.
    Every individual value is valid, so range/domain/outlier checks see
    nothing.

    Scale shape: the child table reduces to parent-key grain FIRST (one
    map-side-combinable sum of ``child_expr`` — the only full-detail scan),
    then a key-grain equi-join with the parent. Both sides are large, so no
    broadcast: Catalyst/AQE picks sort-merge or shuffled-hash and
    skew-splits hot keys. With both tables bucketed by the key (the layout
    the engine already writes for clips), the shuffle disappears entirely.

    Verdicts: ``consistent`` (|parent - sum| <= tol), ``mismatch``,
    ``missing_child`` (parent with no child rows — sum is undefined, not
    zero: a parent total of 0.0 with no children is its own signal), and
    ``null_amounts`` (child rows exist but every amount is NULL — a real
    discrepancy, distinct from the FK-gap bucket consumers treat
    missing_child as). Child-side orphans are the FK checks' job and are
    not re-reported.

    Returns one row per parent key: (parent_key, parent_value, child_sum,
    n_children, abs_diff, verdict).
    """
    agg = child.groupBy(F.col(child_key).alias(parent_key)).agg(
        F.sum(child_expr).alias("child_sum"),
        F.count(F.lit(1)).cast("long").alias("n_children"),
    )
    j = parent.select(
        F.col(parent_key), F.col(parent_col).cast("double").alias("parent_value")
    ).join(agg, parent_key, "left")
    diff = F.abs(F.col("parent_value") - F.col("child_sum"))
    return j.select(
        parent_key,
        "parent_value",
        "child_sum",
        F.coalesce(F.col("n_children"), F.lit(0)).alias("n_children"),
        diff.alias("abs_diff"),
        F.when(F.col("n_children").isNull(), F.lit("missing_child"))
        .when(F.col("child_sum").isNull(), F.lit("null_amounts"))
        .when(diff <= F.lit(float(tol)), F.lit("consistent"))
        .otherwise(F.lit("mismatch"))
        .alias("verdict"),
    )
