"""Order-dependent per-group procedures (SURVEY.md §2.5 W1-W3).

The reference's three ordered per-group computations rely on implicit pandas
file row order; here every one binds to an EXPLICIT ordering column
(SURVEY.md §7.3 "Order dependence") so the semantics survive Spark's
unordered shuffles.

- ``pace_max_ratio``   : W1 analogue (features_engineering/nodes.py:143-185)
  — per group, forward/backward *expanding medians* with
  ``min_periods = max(n // min_frac, 1)``, max of the backward/forward
  ratio. Running medians have no native Catalyst expression (framed
  ``median`` windows are rejected by the analyzer), so this is Python — but
  as a PACKED ``mapInPandas`` over key-partitioned sorted input, not
  grouped-map: many groups per Arrow batch (see in-function comment).
- ``active_duration``  : W2 analogue (features_engineering/nodes.py:188-222)
  — span minus the sum of gaps attributable to pause events. Fully native:
  ``lag`` window + conditional sum + min/max aggregate; no Python.
- ``backtrack_count``  : W3 analogue (features_engineering/nodes.py:387-439)
  — per group, for each "trigger" row (type in a small broadcast relation,
  value over threshold), count LATER rows whose type the trigger relates
  to. The reference's O(n^2) ``iterrows`` scan becomes an O(n * |types|)
  suffix-count vectorization inside ``applyInPandas``.

Scale notes (100 TB): ``applyInPandas`` shuffles once on the group key and
holds ONE group in memory per task — safe when groups are entity-grained
(sessions, surveys, users: 10^1..10^5 rows), which is the same contract the
reference's ``groupby().apply`` has. ``active_duration`` deliberately stays
in native expressions because it is the high-volume one in the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window


def pace_max_ratio(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    min_frac: int = 4,
    out_col: str = "max_pace_ratio",
) -> DataFrame:
    """Per group: max over rows of (backward expanding median / forward
    expanding median), both with ``min_periods = max(n // min_frac, 1)``.

    Returns one row per group: ``(group_col, n:long, out_col:double)``;
    ``out_col`` is null when no row satisfies both min_periods (n == 0 can't
    happen; n < 2*minp - 1 rows may still have an overlap row).
    """
    schema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType, True),
            StructField("n", LongType(), False),
            StructField(out_col, DoubleType(), True),
        ]
    )

    # Packed mapInPandas instead of groupBy().applyInPandas: grouped-map
    # pays ~2 ms of Arrow/pandas machinery PER GROUP (measured: a trivial
    # grouped-map over 1.5k entity groups at sf0.1 costs 3.2 s before any
    # median is computed), while entity groups are tiny. Packing many groups
    # per Arrow batch amortizes that to per-batch cost: hash-repartition on
    # the group key + sortWithinPartitions gives contiguous, fully-ordered
    # groups per partition; the generator buffers only the (possibly
    # batch-straddling) last group of each batch. Same single shuffle as
    # grouped-map, ~5x less Python overhead.

    def _process(pdf: pd.DataFrame):
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        keys = pdf[group_col].to_numpy()
        # contiguous group slices (partition is sorted by group, order)
        change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(keys)]))
        out_k, out_n, out_r = [], [], []
        for s, e in zip(starts, ends):
            v = pd.Series(vals[s:e])
            n = e - s
            minp = max(n // min_frac, 1)
            fwd = v.expanding(min_periods=minp).median().to_numpy()
            bwd = v[::-1].expanding(min_periods=minp).median()[::-1].to_numpy()
            ratio = bwd / fwd
            best = np.nanmax(ratio) if np.any(~np.isnan(ratio)) else None
            out_k.append(keys[s])
            out_n.append(n)
            out_r.append(best)
        return pd.DataFrame({group_col: out_k, "n": out_n, out_col: out_r})

    def pace_max_ratio_kernel(batches):
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf[group_col].iloc[-1]
            tail = pdf[group_col] == last
            buf = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield _process(head)
        if buf is not None and len(buf):
            yield _process(buf)

    src = (
        df.select(group_col, order_col, value_col)
        .repartition(F.col(group_col))
        .sortWithinPartitions(group_col, order_col)
    )
    return src.mapInPandas(pace_max_ratio_kernel, schema)


def active_duration(
    df: DataFrame,
    group_col: str,
    order_col: str,
    ts_col: str,
    type_col: str,
    pause_type: str,
) -> DataFrame:
    """Per group: total span minus time spent in gaps that END at a pause
    event, in milliseconds. Native plan: one window (lag over the explicit
    order) + one hash aggregate — the window and the aggregate share the
    same partitioning so Catalyst plans a single shuffle on ``group_col``.

    Span semantics: ``max(ts) - min(ts)``. The reference (W2,
    features_engineering/nodes.py:188-222) takes the POSITIONAL first/last
    rows of its file-ordered frame; when timestamps are monotone in
    ``order_col`` (the reference's implicit assumption) the two agree, and
    under out-of-order timestamps min/max is the robust choice — a
    deliberate deviation, kept because this engine's contract is an explicit
    order column, not file order.

    Output: ``(group_col, total_ms:double, pause_ms:double, active_ms:double,
    n_pauses:long)``.
    """
    w = Window.partitionBy(group_col).orderBy(order_col)
    # NTZ timestamps cast through session-TZ (engine pins UTC) so epoch
    # micros are well-defined and match naive-as-UTC readers
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_pause = (F.col(type_col) == pause_type) & gap.isNotNull()
    with_gap = df.select(
        group_col,
        us.alias("__us"),
        F.when(is_pause, gap).otherwise(F.lit(0)).alias("__pause_us"),
        is_pause.cast("long").alias("__is_pause"),
    )
    return with_gap.groupBy(group_col).agg(
        ((F.max("__us") - F.min("__us")) / 1000.0).alias("total_ms"),
        (F.sum("__pause_us") / 1000.0).alias("pause_ms"),
        (((F.max("__us") - F.min("__us")) - F.sum("__pause_us")) / 1000.0).alias("active_ms"),
        F.sum("__is_pause").alias("n_pauses"),
    )


def backtrack_count(
    df: DataFrame,
    related: dict[str, list[str]],
    group_col: str,
    order_col: str,
    type_col: str,
    value_col: str,
    threshold: float,
    out_col: str = "n_backtracks",
    filter_counted: bool = False,
) -> DataFrame:
    """Per group: sum over trigger rows (type ∈ related, value > threshold)
    of the number of LATER rows whose type is in ``related[trigger_type]``.

    ``related`` is the reference's constraint-reference matrix (SURVEY.md J7)
    — a tiny driver-built dict captured in the UDF closure (broadcast with
    the serialized function; no per-row lookup cost beyond a dict hit).

    ``filter_counted``: the reference (features_engineering/nodes.py:420-439)
    applies the ``value > threshold`` duration filter to the WHOLE table
    before its double loop, so counted later rows are filtered too; pass
    True for those exact semantics. The default (False) counts all later
    related rows — a deliberate deviation kept as the engine default (a
    glanced-at related question is still a revisit target) and what the
    q36 oracle encodes.

    Vectorization: one reversed cumsum per referenced type gives suffix
    counts; each trigger then reads its count in O(|related types|).
    Output: one row per group ``(group_col, out_col:long)`` — groups with no
    trigger rows emit 0 (the oracle must LEFT JOIN accordingly).
    """
    all_targets = sorted({t for v in related.values() for t in v})
    schema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType, True),
            StructField(out_col, LongType(), False),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        types = pdf[type_col].to_numpy()
        vals = pdf[value_col].to_numpy()
        # suffix[t][i] = # rows strictly after i with type == t
        # (and value > threshold too, under the reference's exact semantics)
        counted_ok = vals > threshold if filter_counted else np.ones(len(vals), dtype=bool)
        suffix = {}
        for t in all_targets:
            mask = ((types == t) & counted_ok).astype(np.int64)
            suffix[t] = np.cumsum(mask[::-1])[::-1] - mask
        total = 0
        for ttype, targets in related.items():
            trig = np.flatnonzero((types == ttype) & (vals > threshold))
            for t in targets:
                total += int(suffix[t][trig].sum()) if len(trig) else 0
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]], out_col: [total]})

    return (
        df.select(group_col, order_col, type_col, value_col)
        .groupBy(group_col)
        .applyInPandas(fn, schema)
    )
