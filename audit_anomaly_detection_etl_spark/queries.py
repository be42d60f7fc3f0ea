"""Driver-contract query catalog: Spark DataFrame programs + DuckDB oracles.

Every operator family from SURVEY.md §2 (and the training-data-pipeline
extensions: dedup / similarity / text analysis) is exposed here as a named
query over the driver's parquet tables, paired with an ANSI-ish SQL oracle
that DuckDB runs on the same files. The driver compares row counts, schemas,
and order-insensitive value hashes — so every computed column is aliased
identically on both sides, floats are rounded at precisions where the two
engines provably agree, and DuckDB-specific type quirks (DECIMAL inference,
HUGEINT sums) are cast away explicitly.

Cross-engine parity rules used throughout:
- cast aggregates: DuckDB ``sum(int) -> HUGEINT`` => ``CAST(... AS BIGINT)``;
  quantiles/medians always over ``CAST(... AS DOUBLE)`` (DECIMAL inference
  truncates).
- round money sums to 4dp (true values are exact multiples of 1e-4, so the
  1e-9 fp summation noise can never cross a rounding boundary); round
  means/ratios to 6dp (boundary-hit probability ~1e-10).
- both engines' ``round`` on DOUBLE is round-half-away-from-zero over the
  exact binary value — verified equivalent.
- regexp_replace needs the ``'g'`` flag in DuckDB to match Spark's
  replace-all default.
- Jaccard / cosine are computed with the same sequential fold on both sides
  (Spark ``aggregate``/``zip_with`` vs DuckDB ``list_sum(list_transform)``)
  so doubles match bit-for-bit.
- EXACT DECIMAL HALVES break ``round``: integer-derived averages (sum of
  longs / count) can land on shortest-repr halves like 33374.0610425, where
  Spark rounds the decimal repr (HALF_UP on BigDecimal.valueOf) and DuckDB
  the binary value — same double, different 6dp result. Never round such
  quantities: FLOOR at the integer grain instead (q106 floors the mean to
  the microsecond; s/n is never within an ulp of an integer unless exactly
  divisible, so floor is engine-stable).
- IEEE ``-0.0``: an exactly-zero rounded sum carries an engine-dependent
  sign (q118's final CUSUM); the gate comparator folds it (+ 0.0) in
  scripts/check_correctness.py and tests/test_oracle_parity.py.
- DuckDB's vectorized executor evaluates BOTH operands of AND/OR across the
  whole chunk — an error-raising guard (``json_valid(x) OR json_type(x)...``)
  only "works" until the table is big enough to batch bad rows with good
  ones (q130 passed sf0.01, threw at sf0.1). CASE arms ARE
  selection-vector lazy: put each guard in its own sequential WHEN.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import text as T
from .operators import column_stats as CS
from .operators import dedup, outliers, procedures, referential, similarity, uniqueness
from .operators import schema_check as SC

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) mirroring functions/text.py
# ---------------------------------------------------------------------------

# RE2 spelling of functions/text.py UNICODE_WS_RE (RE2's \s is ASCII-only,
# like Java's — the extras keep both engines splitting NBSP & friends)
_SQL_WS = (
    r"[\s\x{0085}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}"
    r"\x{202F}\x{205F}\x{3000}]+"
)


def _sql_words(col: str) -> str:
    # T.words: split on unicode-ws+ after trim, drop empties
    return (
        "list_filter(regexp_split_to_array(trim({c}), '{ws}'), x -> x != '')".format(
            c=col, ws=_SQL_WS
        )
    )


def _sql_norm(col: str) -> str:
    # T.normalized_text: collapse whitespace, THEN trim, then lower
    # (collapse-before-trim makes Spark's space-only trim and DuckDB's
    # unicode-ws trim coincide)
    return "lower(trim(regexp_replace({c}, '{ws}', ' ', 'g')))".format(
        c=col, ws=_SQL_WS
    )


def _sql_shingles(col: str, n: int = 3) -> str:
    w = _sql_words(_sql_norm(col))
    return (
        "list_distinct(list_transform(range(1, greatest(len({w}) - {nm1}, 0) + 1), "
        "i -> array_to_string(list_slice({w}, i, i + {nm1}), ' ')))"
    ).format(w=w, nm1=n - 1)


# ===========================================================================
# §2.4 aggregations
# ===========================================================================

@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                          AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                     AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)  AS sum_disc_price,
           ROUND(AVG(l_quantity), 6)                          AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                     AS avg_price,
           ROUND(AVG(l_discount), 6)                          AS avg_disc,
           COUNT(*)                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (SURVEY.md A1-class grouped aggs).
    Filter + all aggregates happen in one hash-agg pass with map-side
    combine; the shipdate predicate pushes into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "q02_topk_revenue_join",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d')                 AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q02(spark, sf_dir):
    """TPC-H Q3-shaped 3-way join + top-k (SURVEY.md J-class + O1).
    customer is the small dimension -> broadcast; the orders<->lineitem join
    shuffles on the order key; global top-10 uses TakeOrderedAndProject (no
    full sort materialization). Tie-break on l_orderkey for determinism."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@q(
    "q03_group_sigma_flags",
    """
    SELECT e.event_id,
           (e.value < b.m - 2 * b.s OR e.value > b.m + 2 * b.s) AS outside_sigma
    FROM events e
    JOIN (SELECT event_type, AVG(value) AS m, STDDEV_SAMP(value) AS s
          FROM events GROUP BY event_type) b USING (event_type)
    """,
)
def q03(spark, sf_dir):
    """Per-group mean +- 2*sigma outlier flags (SURVEY.md A3,
    data_processing/nodes.py:119-134). Aggregate-then-broadcast-join: the
    detail table never shuffles."""
    ev = _t(spark, sf_dir, "events")
    flagged = outliers.sigma_bounds_flags(ev, "value", ["event_type"], k=2.0)
    return flagged.select("event_id", F.col("outside_sigma"))


@q(
    "q04_group_iqr_flags",
    """
    SELECT e.event_id,
           (e.value < b.med - 1.5 * b.iqr OR e.value > b.med + 1.5 * b.iqr) AS outside_iqr
    FROM events e
    JOIN (SELECT event_type,
                 QUANTILE_CONT(CAST(value AS DOUBLE), 0.5) AS med,
                 QUANTILE_CONT(CAST(value AS DOUBLE), 0.75)
                   - QUANTILE_CONT(CAST(value AS DOUBLE), 0.25) AS iqr
          FROM events GROUP BY event_type) b USING (event_type)
    """,
)
def q04(spark, sf_dir):
    """Per-group median +- 1.5*IQR flags with exact interpolated quantiles
    (SURVEY.md A4, data_processing/nodes.py:137-148)."""
    ev = _t(spark, sf_dir, "events")
    return outliers.iqr_bounds_flags(ev, "value", ["event_type"], k=1.5).select(
        "event_id", "outside_iqr"
    )


@q(
    "q05_window_median_residuals",
    """
    SELECT user_id,
           ROUND(SUM(res), 4)                               AS res_sum,
           ROUND(MEDIAN(CAST(res AS DOUBLE)), 6)            AS res_median,
           ROUND(STDDEV_SAMP(res), 6)                       AS res_stddev,
           COUNT(*)                                         AS n
    FROM (SELECT user_id,
                 value - MEDIAN(CAST(value AS DOUBLE)) OVER (PARTITION BY event_type) AS res
          FROM events)
    GROUP BY user_id
    """,
)
def q05(spark, sf_dir):
    """Window median -> residual -> per-entity residual stats (SURVEY.md
    A2+A5, data_processing/nodes.py:104-116 + features_engineering 27-33).

    Cross-engine note: the output is the residual SUM, not the mean — the
    true sum terminates at 3 decimal digits (2dp values minus a 3dp
    interpolated median), so rounding at 4dp never sits on a half-boundary;
    the mean's denominator adds factors of n and produced exact 6dp-half
    values (e.g. 23.9650625) that Spark's BigDecimal round and DuckDB's
    multiply-round disagreed on by 1 ulp.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    res = ev.withColumn("res", F.col("value") - F.median("value").over(w))
    return res.groupBy("user_id").agg(
        F.round(F.sum("res"), 4).alias("res_sum"),
        F.round(F.median("res"), 6).alias("res_median"),
        F.round(F.stddev_samp("res"), 6).alias("res_stddev"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "q06_distinct_counts",
    """
    SELECT user_id,
           COUNT(DISTINCT event_type)                            AS n_types,
           COUNT(*)                                              AS n_events,
           ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT event_type), 6) AS events_per_type
    FROM events GROUP BY user_id
    """,
)
def q06(spark, sf_dir):
    """Per-entity distinct count + ratio (SURVEY.md A9,
    features_engineering/nodes.py:238-248). Exact tier of
    operators/vocab.py distinct_counts (``exact=False`` is the 10^12-row
    HLL path)."""
    from .operators import vocab

    ev = _t(spark, sf_dir, "events")
    return vocab.distinct_counts(ev, "user_id", "event_type", exact=True).select(
        "user_id",
        F.col("n_distinct").alias("n_types"),
        F.col("n_rows").alias("n_events"),
        F.col("rows_per_distinct").alias("events_per_type"),
    )


@q(
    "q07_conditional_counts",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE value > 10 AND props IS NOT NULL) AS BIGINT) AS n_big,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)             AS n_errors,
           CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT)     AS k_total
    FROM events GROUP BY user_id
    """,
)
def q07(spark, sf_dir):
    """Conditional counts + regex extraction (SURVEY.md A10/A11,
    features_engineering/nodes.py:279-283, 442-484)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(((F.col("value") > 10) & F.col("props").isNotNull()).cast("long")).alias("n_big"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        F.sum(F.regexp_extract("props", "[0-9]+", 0).cast("long")).alias("k_total"),
    )


@q(
    "q08_global_quantile_flag",
    """
    SELECT o_orderpriority,
           COUNT(*)                                        AS n_orders,
           CAST(COUNT(*) FILTER (
             WHERE o_totalprice < b.q1 - 1.5 * (b.q3 - b.q1)) AS BIGINT) AS n_low_outliers
    FROM orders, (SELECT QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
                         QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
                  FROM orders) b
    GROUP BY o_orderpriority
    """,
)
def q08(spark, sf_dir):
    """Two-pass global quantile flag (SURVEY.md A13,
    features_engineering/nodes.py:519-527): 1-row agg broadcast back."""
    o = _t(spark, sf_dir, "orders")
    flagged = outliers.global_low_quantile_flag(o, "o_totalprice", k=1.5)
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("low_outlier").cast("long")).alias("n_low_outliers"),
    )


@q(
    "q09_minmax_normalize",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(((l_extendedprice - b.pmin) / (b.pmax - b.pmin)
                + (l_discount - b.dmin) / (b.dmax - b.dmin)
                + (l_tax - b.tmin) / (b.tmax - b.tmin)) / 3, 6) AS score
    FROM lineitem,
         (SELECT MIN(l_extendedprice) pmin, MAX(l_extendedprice) pmax,
                 MIN(l_discount) dmin, MAX(l_discount) dmax,
                 MIN(l_tax) tmin, MAX(l_tax) tmax
          FROM lineitem) b
    """,
)
def q09(spark, sf_dir):
    """Global min-max normalize + row-mean score (SURVEY.md A14,
    model_output/nodes.py:43-55)."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy().agg(
        F.min("l_extendedprice").alias("pmin"),
        F.max("l_extendedprice").alias("pmax"),
        F.min("l_discount").alias("dmin"),
        F.max("l_discount").alias("dmax"),
        F.min("l_tax").alias("tmin"),
        F.max("l_tax").alias("tmax"),
    )
    score = (
        (F.col("l_extendedprice") - F.col("pmin")) / (F.col("pmax") - F.col("pmin"))
        + (F.col("l_discount") - F.col("dmin")) / (F.col("dmax") - F.col("dmin"))
        + (F.col("l_tax") - F.col("tmin")) / (F.col("tmax") - F.col("tmin"))
    ) / 3
    return li.crossJoin(F.broadcast(b)).select(
        "l_orderkey", "l_linenumber", F.round(score, 6).alias("score")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "q10_pivot_counts",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type='click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type='error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type='purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type='signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type='view')     AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def q10(spark, sf_dir):
    """Count-by-2-keys + pivot (SURVEY.md A15, plot_tools.py:107-111).
    Explicit value list avoids the extra distinct-values job."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count().na.fill(0)
    )


@q(
    "q11_unpivot",
    """
    WITH p AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type='click')    AS BIGINT) AS click,
             CAST(COUNT(*) FILTER (WHERE event_type='purchase') AS BIGINT) AS purchase
      FROM events GROUP BY user_id)
    SELECT user_id, 'click' AS etype, click AS cnt FROM p
    UNION ALL
    SELECT user_id, 'purchase' AS etype, purchase AS cnt FROM p
    """,
)
def q11(spark, sf_dir):
    """Unpivot / melt (SURVEY.md A16, plot_tools.py:114-115)."""
    ev = _t(spark, sf_dir, "events")
    p = ev.groupBy("user_id").pivot("event_type", ["click", "purchase"]).count().na.fill(0)
    return p.unpivot("user_id", ["click", "purchase"], "etype", "cnt")


@q(
    "q12_histogram",
    """
    SELECT CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) / 5500.0), 0), 19) AS INT) AS bin,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY 1
    """,
)
def q12(spark, sf_dir):
    """Equi-width histogram, clamped edge bins (SURVEY.md A19,
    plot_tools.py:61-66). Identical floor arithmetic on both engines —
    [0, 110000) in 20 bins of 5500."""
    li = _t(spark, sf_dir, "lineitem")
    b = F.least(
        F.greatest(F.floor((F.col("l_extendedprice") - 0.0) / 5500.0), F.lit(0)), F.lit(19)
    )
    return li.groupBy(b.cast("int").alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))


@q(
    "q13_descriptive_stats",
    """
    SELECT c_mktsegment,
           COUNT(c_acctbal)                                        AS n,
           ROUND(AVG(c_acctbal), 6)                                AS mean,
           ROUND(STDDEV_SAMP(c_acctbal), 6)                        AS stddev,
           ROUND(MIN(c_acctbal), 2)                                AS min,
           ROUND(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.25), 6) AS q25,
           ROUND(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.50), 6) AS q50,
           ROUND(QUANTILE_CONT(CAST(c_acctbal AS DOUBLE), 0.75), 6) AS q75,
           ROUND(MAX(c_acctbal), 2)                                AS max
    FROM customer GROUP BY c_mktsegment
    """,
)
def q13(spark, sf_dir):
    """Per-group describe() (SURVEY.md A18, plot_tools.py:608)."""
    c = _t(spark, sf_dir, "customer")
    v = F.col("c_acctbal")
    return c.groupBy("c_mktsegment").agg(
        F.count(v).alias("n"),
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.stddev_samp(v), 6).alias("stddev"),
        F.round(F.min(v), 2).alias("min"),
        F.round(F.percentile(v, F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile(v, F.lit(0.50)), 6).alias("q50"),
        F.round(F.percentile(v, F.lit(0.75)), 6).alias("q75"),
        F.round(F.max(v), 2).alias("max"),
    )


# ===========================================================================
# §2.3 joins / §2.7 set ops / engine checks on relational tables
# ===========================================================================

@q(
    "q14_anti_join_orphans",
    """
    SELECT c_custkey AS key, 'customer_without_orders' AS side FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT o_custkey AS key, 'order_without_customer' AS side FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def q14(spark, sf_dir):
    """Referential orphans both directions via anti-joins (SURVEY.md §2.7 +
    north-rule referential check; operators/referential.py)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    left = referential.anti_join(c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey").select(
        F.col("c_custkey").alias("key"), F.lit("customer_without_orders").alias("side")
    )
    right = referential.anti_join(o, c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey").select(
        F.col("o_custkey").alias("key"), F.lit("order_without_customer").alias("side")
    )
    return left.unionByName(right)


@q(
    "q15_semi_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q15(spark, sf_dir):
    """Left-semi join (missing from the reference's join zoo — SURVEY.md
    §2.3 'Missing vs Spark's join zoo')."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@q(
    "q16_union_width",
    """
    SELECT o_orderkey AS id, o_totalprice AS amount, NULL AS segment, 'orders' AS src FROM orders
    UNION ALL
    SELECT c_custkey AS id, c_acctbal AS amount, c_mktsegment AS segment, 'customer' AS src
    FROM customer
    """,
)
def q16(spark, sf_dir):
    """Union-all with schema widening (SURVEY.md S4,
    data_download/nodes.py:124-129): unionByName(allowMissingColumns)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("amount"), F.lit("orders").alias("src")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("amount"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("src"),
    )
    return o.unionByName(c, allowMissingColumns=True).select("id", "amount", "segment", "src")


@q(
    "q17_uniqueness_dups",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def q17(spark, sf_dir):
    """Salted two-phase duplicate-key detection (north-rule uniqueness check,
    operators/uniqueness.py; SURVEY.md A12 analogue)."""
    o = _t(spark, sf_dir, "orders")
    return uniqueness.duplicate_keys(o, ["o_custkey"])


@q(
    "q18_nested_extract",
    """
    SELECT vec_id,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_dim,
           CAST(LEN(embedding) AS INT)            AS dim
    FROM embeddings
    """,
)
def q18(spark, sf_dir):
    """Nested/array extraction (SURVEY.md P2, data_download/nodes.py:45-54)."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_dim"),
        F.size("embedding").alias("dim"),
    )


@q(
    "q19_string_funcs",
    """
    SELECT doc_id,
           {words}[1]                                    AS first_word,
           {words}[LEN({words})]                         AS last_word,
           LENGTH(text) = n_chars                        AS n_chars_ok,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers
    FROM documents
    """.format(words=_sql_words("text")),
)
def q19(spark, sf_dir):
    """String function surface (SURVEY.md §2.8: split/trim/regex)."""
    d = _t(spark, sf_dir, "documents")
    w = T.words(F.col("text"))
    return d.select(
        "doc_id",
        F.element_at(w, 1).alias("first_word"),
        F.element_at(w, -1).alias("last_word"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_ok"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("int").alias("n_numbers"),
    )


# ===========================================================================
# training-data pipeline: deduplication family
# ===========================================================================

@q(
    "q20_dedup_exact",
    """
    WITH h AS (SELECT doc_id, md5({norm}) AS text_md5 FROM documents),
         g AS (SELECT text_md5, CAST(COUNT(*) AS BIGINT) AS dup_count,
                      MIN(doc_id) AS canonical_id
               FROM h GROUP BY text_md5)
    SELECT h.doc_id, h.text_md5, g.dup_count,
           h.doc_id = g.canonical_id AS is_canonical
    FROM h JOIN g ON h.text_md5 IS NOT DISTINCT FROM g.text_md5
    """.format(norm=_sql_norm("text")),
)
def q20(spark, sf_dir):
    """Exact dedup via normalized-content hash (operators/dedup.py;
    SURVEY.md A12/W4 analogue, distributed)."""
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


_JACCARD_ORACLE = """
    WITH d AS (SELECT doc_id, {sh} AS sh FROM documents),
         dd AS (SELECT * FROM d WHERE len(sh) > 0),
         ex AS (SELECT doc_id, UNNEST(sh) AS g FROM dd),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) AS n FROM dd)
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
""".format(sh=_sql_shingles("text", 3))


@q("q21_ngram_jaccard", _JACCARD_ORACLE)
def q21(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (operators/dedup.py;
    the reference's substring-membership join J6 generalized)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.05)


def _minhash_sql() -> str:
    # Kirsch-Mitzenmacher: h_i = h1 + i*h2 over hex-prefix bigints of two
    # md5 digests — rebuilt digit-for-digit from dedup.minhash_signatures
    sig_cols = ",\n           ".join(
        "list_aggregate(list_transform(sh, s -> "
        "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) "
        "+ {i} * CAST(concat('0x', substr(md5('#' || s), 1, 14)) AS BIGINT)), 'min') AS h{i}".format(i=i)
        for i in range(dedup.N_HASHES)
    )
    band_rows = []
    for b in range(dedup.N_BANDS):
        cols = " || '|' || ".join(
            f"h{b * dedup.ROWS_PER_BAND + r}" for r in range(dedup.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bkey FROM sig"
        )
    bands = "\n         UNION ALL ".join(band_rows)
    return """
    WITH d AS (SELECT doc_id, {sh} AS sh FROM documents),
         dd AS (SELECT * FROM d WHERE len(sh) > 0),
         sig AS (SELECT doc_id,
           {sig_cols}
           FROM dd),
         bands AS ({bands}),
         sizes AS (SELECT band, bkey, COUNT(*) AS bn FROM bands GROUP BY 1, 2),
         ok AS (SELECT bands.* FROM bands JOIN sizes USING (band, bkey) WHERE bn <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM ok a JOIN ok b
                    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                 / len(list_distinct(da.sh || db.sh)), 6) AS jaccard
    FROM cand JOIN dd da ON da.doc_id = doc_a JOIN dd db ON db.doc_id = doc_b
    WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
          / len(list_distinct(da.sh || db.sh)) >= 0.2
    """.format(sh=_sql_shingles("text", 3), sig_cols=sig_cols, bands=bands)


@q("q22_minhash_lsh", _minhash_sql())
def q22(spark, sf_dir):
    """MinHash + banded LSH near-dup candidates, exact-Jaccard verified
    (operators/dedup.py). md5-lexicographic hashing makes the signature
    reproducible in any engine — the oracle rebuilds it verbatim."""
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def _simhash_sql() -> str:
    digit_cols = ",\n           ".join(
        "strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1 AS d{j}".format(p=j + 1, j=j)
        for j in range(16)
    )
    sums = []
    for k in range(64):
        j, shift = divmod(k, 4)
        sums.append(
            "SUM(CASE WHEN ((d{j} >> {s}) & 1) = 1 THEN 1 ELSE -1 END) AS s{k}".format(
                j=j, s=3 - shift, k=k
            )
        )
    sum_cols = ",\n           ".join(sums)
    bits = " || ".join(f"(CASE WHEN s{k} > 0 THEN '1' ELSE '0' END)" for k in range(64))
    return """
    WITH w AS (SELECT doc_id, UNNEST({words}) AS word FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hx FROM w),
         d AS (SELECT doc_id,
           {digit_cols}
           FROM h),
         s AS (SELECT doc_id,
           {sum_cols}
           FROM d GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash64 FROM s
    """.format(
        words=_sql_words(_sql_norm("text")), digit_cols=digit_cols, sum_cols=sum_cols, bits=bits
    )


@q("q23_simhash", _simhash_sql())
def q23(spark, sf_dir):
    """64-bit SimHash fingerprints (operators/dedup.py)."""
    return dedup.simhash_bits(_t(spark, sf_dir, "documents"))


# ===========================================================================
# training-data pipeline: similarity search over embeddings
# ===========================================================================

_COS_SQL = (
    "list_sum(list_transform(range(1, {d} + 1), i -> qa[i] * qb[i])) / "
    "(sqrt(list_sum(list_transform(range(1, {d} + 1), i -> qa[i] * qa[i]))) * "
    "sqrt(list_sum(list_transform(range(1, {d} + 1), i -> qb[i] * qb[i]))))"
).format(d=similarity.EMB_DIM)


@q(
    "q24_cosine_knn",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id < 5),
         b AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS qb
               FROM embeddings),
         scored AS (SELECT query_id, neighbor_id, ROUND({cos}, 6) AS cos
                    FROM q, b WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """.format(cos=_COS_SQL),
)
def q24(spark, sf_dir):
    """Brute-force exact cosine top-k (operators/similarity.py). Dot products
    are sequential folds in float64 on both engines -> bit-identical."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_knn(e, e.where(F.col("vec_id") < 5), k=5)


def _ann_sql() -> str:
    bucket_bits = []
    for h in similarity.HYPERPLANES:
        lit = "[" + ", ".join(repr(x) for x in h) + "]"
        bucket_bits.append(
            "(CASE WHEN list_sum(list_transform(range(1, {d} + 1), i -> v[i] * ({lit})[i])) > 0 "
            "THEN '1' ELSE '0' END)".format(d=similarity.EMB_DIM, lit=lit)
        )
    bucket = " || ".join(bucket_bits)
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         bk AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
         sizes AS (SELECT bucket, COUNT(*) AS bn FROM bk GROUP BY bucket),
         q AS (SELECT vec_id AS query_id, v AS qa, bucket FROM bk WHERE vec_id < 5),
         b AS (SELECT vec_id AS neighbor_id, v AS qb, bk.bucket
               FROM bk JOIN sizes USING (bucket) WHERE bn <= 1000),
         scored AS (SELECT query_id, neighbor_id, ROUND({cos}, 6) AS cos
                    FROM q JOIN b USING (bucket) WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """.format(bucket=bucket, cos=_COS_SQL)


@q("q25_ann_lsh", _ann_sql())
def q25(spark, sf_dir):
    """Random-hyperplane LSH ANN top-k (operators/similarity.py): candidates
    share the query's sign bucket; hyperplanes are fixed literals inlined in
    both engines."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_knn(e, e.where(F.col("vec_id") < 5), k=5)


@q(
    "q26_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         bk0 AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
         sizes AS (SELECT bucket, COUNT(*) AS bn FROM bk0 GROUP BY bucket),
         bk AS (SELECT bk0.* FROM bk0 JOIN sizes USING (bucket) WHERE bn <= 1000)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({cos_ab}, 6) AS cos
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos_ab} >= 0.6
    """.format(
        bucket=" || ".join(
            "(CASE WHEN list_sum(list_transform(range(1, {d} + 1), i -> v[i] * ({lit})[i])) > 0 "
            "THEN '1' ELSE '0' END)".format(
                d=similarity.EMB_DIM, lit="[" + ", ".join(repr(x) for x in h) + "]"
            )
            for h in similarity.HYPERPLANES
        ),
        cos_ab=(
            "list_sum(list_transform(range(1, {d} + 1), i -> a.v[i] * b.v[i])) / "
            "(sqrt(list_sum(list_transform(range(1, {d} + 1), i -> a.v[i] * a.v[i]))) * "
            "sqrt(list_sum(list_transform(range(1, {d} + 1), i -> b.v[i] * b.v[i]))))"
        ).format(d=similarity.EMB_DIM),
    ),
)
def q26(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs inside LSH buckets
    (operators/similarity.py)."""
    return similarity.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.6)


def _ivf_sql(nprobe: int = 2, k: int = 5) -> str:
    def dot_sql(c: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        return (
            "list_sum(list_transform(range(1, {d} + 1), x -> v[x] * ({lit})[x]))"
        ).format(d=similarity.EMB_DIM, lit=lit)

    cds = [dot_sql(c) for c in similarity.CENTROIDS]
    probe_structs = ", ".join(
        f"struct_pack(i := {i}, d := ({d}))" for i, d in enumerate(cds)
    )
    d_cols = ", ".join(f"({d}) AS d{i}" for i, d in enumerate(cds))
    # strict-> chain picks the LOWEST index on ties — same as ivf_assign
    assign, best = "0", "d0"
    for i in range(1, len(cds)):
        assign = f"CASE WHEN d{i} > {best} THEN {i} ELSE {assign} END"
        best = f"GREATEST({best}, d{i})"
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         qd AS (SELECT vec_id AS query_id, v AS qa,
                       unnest([{probe_structs}]) AS cd
                FROM e WHERE vec_id < 5),
         probes AS (SELECT query_id, qa, cd.i AS list_id FROM qd
                    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                               ORDER BY cd.d DESC, cd.i) <= {nprobe}),
         bd AS (SELECT vec_id, v, {d_cols} FROM e),
         b AS (SELECT vec_id AS neighbor_id, v AS qb, {assign} AS list_id FROM bd),
         scored AS (SELECT query_id, neighbor_id, ROUND({cos}, 6) AS cos
                    FROM probes JOIN b USING (list_id)
                    WHERE neighbor_id != query_id)
    SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """.format(
        probe_structs=probe_structs, nprobe=nprobe, d_cols=d_cols,
        assign=assign, cos=_COS_SQL, k=k,
    )


@q("q57_ivf_ann", _ivf_sql())
def q57(spark, sf_dir):
    """IVF approximate nearest neighbors (operators/similarity.py ivf_knn):
    base vectors coarse-quantized to their nearest centroid's list, queries
    probe their nprobe=2 nearest lists, exact cosine ranks candidates. The
    catalog query uses the fixed seeded CENTROIDS so both engines inline
    identical literals (production fits them with kmeans_fit on a driver
    sample — Faiss-style — then the same plan applies verbatim)."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_knn(e, e.where(F.col("vec_id") < 5), k=5, nprobe=2)


def _winnow_fps_sql(k: int = 3, w: int = 4) -> str:
    """DuckDB CTEs computing per-doc winnowing fingerprints as ``fps`` —
    mirrors functions/text.py winnow_fingerprints (md5-lexicographic)."""
    return """
    normd AS (SELECT doc_id, {ws} AS ws FROM documents),
    g AS (SELECT doc_id, ws, len(ws) - {km1} AS m FROM normd),
    grams AS (SELECT doc_id, m,
                     list_transform(range(1, m + 1),
                       i -> md5(array_to_string(list_slice(ws, i, i + {km1}), ' '))) AS gr
              FROM g),
    wins AS (SELECT doc_id,
                    CASE WHEN m < 1 THEN []::VARCHAR[]
                         WHEN m - {wm1} < 1 THEN [list_min(gr)]
                         ELSE list_distinct(list_transform(range(1, m - {wm1} + 1),
                                j -> list_min(list_slice(gr, j, j + {wm1}))))
                    END AS fps
             FROM grams)
    """.format(ws=_sql_words(_sql_norm("text")), km1=k - 1, wm1=w - 1)


@q(
    "q58_winnow_fingerprints",
    """
    WITH {cte}
    SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
           list_min(fps) AS fp_min, list_max(fps) AS fp_max
    FROM wins
    """.format(cte=_winnow_fps_sql()),
)
def q58(spark, sf_dir):
    """Winnowing document fingerprints (functions/text.py, the MOSS
    rolling-hash scheme): per-doc fingerprint count + lexicographic
    min/max. Fully native higher-order functions — no UDF, codegen'd; the
    md5-lexicographic window minimum is what both engines compute
    identically."""
    d = _t(spark, sf_dir, "documents")
    fps = T.winnow_fingerprints(F.col("text"), k=3, w=4)
    return d.select(
        "doc_id",
        F.size(fps).alias("n_fp"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
    )


@q(
    "q59_winnow_neardup",
    """
    WITH {cte},
    fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
    sizes AS (SELECT fp, COUNT(*) AS bn FROM fp0 GROUP BY fp),
    fp_ok AS (SELECT fp0.* FROM fp0 JOIN sizes USING (fp) WHERE bn <= 1000)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared
    FROM fp_ok a JOIN fp_ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 2
    """.format(cte=_winnow_fps_sql()),
)
def q59(spark, sf_dir):
    """Winnow-share near-dup pairs (operators/dedup.py winnow_neardup_pairs):
    docs sharing >= 2 winnowing fingerprints — catches shared passages of
    >= k+w-1 words that whole-document Jaccard dilutes. Bounded bucket
    self-join on the fingerprint (hot boilerplate fingerprints dropped at
    max_bucket, mirrored in the oracle)."""
    return dedup.winnow_neardup_pairs(
        _t(spark, sf_dir, "documents"), k=3, w=4, min_shared=2, max_bucket=1000
    )


@q("q61_wav_container_check")
def q61(spark, sf_dir):
    """WAV container consistency validation (operators/media.py
    wav_consistency_violations): the payload's OWN RIFF metadata (sample
    rate, format tag, duration) must agree with the table's declared
    columns — payload-level schema drift. Deterministic WAV table built from
    the synth clips (every 7th row gets a planted mismatch). Binary header
    parse => no SQL oracle; rows-only driver check, exact pytest oracle in
    tests/test_wav_container.py."""
    import numpy as np

    from .functions import codecs
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=200, n_parts=4, seed=11)
    pdf = t.clips.to_pandas()
    wav_rows = []
    for i, r in pdf.iterrows():
        codec = r["codec"] if r["codec"] in codecs.CODECS else "pcm_s16le"
        try:
            pcm = codecs.decode(r["bytes"], codec)
        except ValueError:
            pcm = np.zeros(10)
        wav = codecs.encode_wav(pcm, int(r["sr_hz"]), codec)
        sr, dur, cod = int(r["sr_hz"]), float(r["dur_ms"]), codec
        k = i % 7
        if k == 1:
            sr += 8000          # declared sr drifts from container
        elif k == 2:
            cod = "alaw" if cod != "alaw" else "ulaw"
        elif k == 3:
            wav = wav[: max(20, len(wav) // 2)]  # torn container
        wav_rows.append((r["clip_id"], int(r["part"]), wav, sr, dur, cod))
    df = spark.createDataFrame(
        wav_rows,
        "clip_id string, part int, bytes binary, sr_hz int, dur_ms double, codec string",
    )
    return (
        media.wav_consistency_violations(df)
        .groupBy("check")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("check")
    )


@q(
    "q63_sliding_window",
    """
    SELECT event_id,
           user_id,
           ROUND(AVG(value) OVER w, 6)            AS roll_mean,
           ROUND(MAX(value) OVER w, 2)            AS roll_max,
           CAST(COUNT(*) OVER w AS BIGINT)        AS roll_n,
           ROUND(value - LAG(value, 1, 0.0) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q63(spark, sf_dir):
    """Sliding row-frame window (SURVEY.md §2.5 notes the reference has NO
    sliding frames — this closes the engine-side gap): per-user rolling
    mean/max/count over the trailing 5 events plus lag delta, one window
    spec shared by all frames (single sort, single shuffle on user_id)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("roll_mean"),
        F.round(F.max("value").over(w), 2).alias("roll_max"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(wl), 6).alias("delta_prev"),
    )


@q(
    "q64_asof_join",
    """
    WITH snaps AS (SELECT user_id, ts, MAX(value) AS snap
                   FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
         l AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type <> 'signup')
    SELECT l.event_id,
           l.user_id,
           ROUND(l.value, 6)  AS value,
           s.ts               AS r_ts,
           ROUND(s.snap, 6)   AS r_snap
    FROM l ASOF LEFT JOIN snaps s
      ON l.user_id = s.user_id AND l.ts >= s.ts
    """,
)
def q64(spark, sf_dir):
    """Backward as-of join (operators/asof.py) — an operator native Spark
    lacks, composed as tagged-union + one last-value window pass (single
    key shuffle; a range-condition join would be per-key cartesian). Each
    event picks up the most recent prior 'signup' snapshot for its user;
    events before any signup keep nulls. DuckDB's native ASOF LEFT JOIN is
    the oracle — semantics (inclusive equal-ts, backward) must agree
    exactly."""
    from .operators import asof

    ev = _t(spark, sf_dir, "events")
    snaps = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap"))
    )
    left = ev.where(F.col("event_type") != "signup").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof.asof_join(left, snaps, on="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        "r_ts",
        F.round("r_snap", 6).alias("r_snap"),
    )


@q(
    "q65_interval_join",
    """
    WITH iv AS (SELECT user_id,
                       FLOOR(epoch(ts))          AS s,
                       FLOOR(epoch(ts)) + 3600.0 AS e
                FROM events WHERE event_type = 'signup'),
         pts AS (SELECT event_id, user_id, FLOOR(epoch(ts)) AS pt, value
                 FROM events WHERE event_type <> 'signup')
    SELECT p.event_id,
           p.user_id,
           ROUND(p.value, 6) AS value,
           i.s               AS interval_start
    FROM pts p JOIN iv i
      ON p.user_id = i.user_id AND p.pt >= i.s AND p.pt <= i.e
    """,
)
def q65(spark, sf_dir):
    """Interval/range join (operators/rangejoin.py): events landing inside
    the hour after each signup, per user. The Spark plan is the bucketed
    equi-join (explode intervals to covered bins, points join their single
    bin) — a raw inequality join would plan BroadcastNestedLoop; the oracle
    uses the plain inequality join SQL, proving the bucketing is
    result-transparent."""
    from .operators import rangejoin

    ev = _t(spark, sf_dir, "events")
    iv = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.unix_timestamp("ts").cast("double").alias("s"),
        (F.unix_timestamp("ts").cast("double") + 3600.0).alias("e"),
    )
    pts = ev.where(F.col("event_type") != "signup").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("double").alias("pt"),
        "value",
    )
    out = rangejoin.interval_join(
        pts, iv, ts_col="pt", start_col="s", end_col="e", by="user_id", bin_width=3600.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.col("s").alias("interval_start"),
    )


@q(
    "q66_stratified_cap",
    """
    SELECT source, doc_id, lang
    FROM (SELECT source, doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 10
    """,
)
def q66(spark, sf_dir):
    """Deterministic per-source cap sampling (training-data source
    balancing: keep at most 10 docs per source, chosen by hash order so the
    sample is stable across runs and cluster sizes — not sampleBy's
    bernoulli draw, which is seed+partitioning dependent). One window
    per source; WindowGroupLimit pushes the cap below the shuffle."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("source", "doc_id", "lang")
    )


@q(
    "q67_vocabulary",
    """
    SELECT w AS token,
           CAST(COUNT(*) AS BIGINT)         AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM (SELECT doc_id, unnest({words}) AS w FROM documents)
    GROUP BY w
    HAVING COUNT(*) >= 50
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q67(spark, sf_dir):
    """Vocabulary builder (training-data tokenizer prep): term frequency +
    document frequency per normalized token, thresholded. One explode + one
    hash agg with map-side combine; df via distinct-agg. At 100 TB the
    HAVING threshold prunes the long tail before the final shuffle via
    partial aggregation, and ``exact=False`` swaps df to an HLL sketch
    (operators/vocab.py; the oracle checks the exact tier)."""
    from .operators import vocab

    return vocab.vocabulary(_t(spark, sf_dir, "documents"), min_tf=50, exact=True)


@q(
    "q68_repetition_signals",
    """
    WITH w AS (SELECT doc_id, {words} AS ws FROM documents),
    toks AS (SELECT doc_id, unnest(ws) AS tok FROM w),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    ts AS (SELECT doc_id,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac,
                  ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c), 6) AS dup_token_frac
           FROM tc GROUP BY doc_id),
    bgs AS (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                          i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS bg
            FROM w),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg),
    bs AS (SELECT doc_id,
                  ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c), 6) AS dup_bigram_frac
           FROM bc GROUP BY doc_id)
    SELECT ts.doc_id, ts.n_tokens, ts.top_token_frac, ts.dup_token_frac,
           COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac,
           CASE WHEN ts.top_token_frac > 0.2
                     OR COALESCE(bs.dup_bigram_frac, 0.0) > 0.1
                THEN 1 ELSE 0 END AS repetitive
    FROM ts LEFT JOIN bs USING (doc_id)
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q68(spark, sf_dir):
    """Repetition quality signals (Gopher-rule family, Rae et al. 2021
    §A1.1.2): per-document duplicate-token fraction, top-token fraction and
    duplicate-bigram fraction + a repetitive flag — the standard
    pretraining-corpus filter for degenerate/boilerplate text, a quality
    axis the length/punct heuristics (q28) cannot see.

    Plan: two explodes (tokens via T.words, bigrams WITH multiplicity via
    T.ngrams) -> per-(doc, gram) hash counts -> per-doc reaggregation ->
    entity-grained left join. All hash aggs with map-side combine; no
    windows, no driver loops — at 10^12 docs this is explode + two
    two-phase aggs, the same shape as q67."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.words(T.normalized_text(F.col("text")))).alias("tok")
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ts = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_token_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c"),
            6,
        ).alias("dup_token_frac"),
    )
    bgs = d.select("doc_id", F.explode(T.ngrams(F.col("text"), 2)).alias("bg"))
    bc = bgs.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bs = bc.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c"),
            6,
        ).alias("dup_bigram_frac"),
    )
    j = ts.join(bs, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_token_frac",
        F.coalesce("dup_bigram_frac", F.lit(0.0)).alias("dup_bigram_frac"),
    )
    return j.withColumn(
        "repetitive",
        F.when(
            (F.col("top_token_frac") > 0.2) | (F.col("dup_bigram_frac") > 0.1), 1
        ).otherwise(0),
    )


@q("q69_audio_neardup")
def q69(spark, sf_dir):
    """Audio near-duplicate detection via spectral landmark fingerprints
    (operators/audiofp.py, Wang 2003) — the audio twin of the MinHash/LSH
    text tier: survives time shifts, G.711 re-encode, 16 kHz re-render and
    additive noise, none of which the byte-hash tier (q20 analogue) can see.

    Deterministic melody fixture with planted shifted/re-encoded duplicates
    (sources/synth.generate_melody_clips). FFT => no SQL oracle; driver
    records rows-only; tests/test_audiofp.py pins exact fingerprints against
    an independent plain-python implementation AND exact recall/precision
    against the fixture's transitive ground truth.

    Plan: mapInPandas fingerprinting (narrow) -> hash-equi self-join with a
    broadcast hot-hash anti-join bound -> two-level hash agg + a PAIR-
    partitioned window for offset smoothing. No cartesian, no unpartitioned
    window, no driver loops."""
    from .operators import audiofp
    from .sources import synth

    pdf = synth.generate_melody_clips(n_base=60, n_dup=18, seed=9)
    clips = spark.createDataFrame(pdf.drop(columns=["dup_of"]))
    return audiofp.neardup_pairs(clips)


_PII_TEXT_SQL = (
    "c_name || ' segment ' || c_mktsegment"
    " || CASE WHEN c_custkey % 3 = 0 THEN ' email user' ||"
    " CAST(c_custkey AS VARCHAR) || '@example.com' ELSE '' END"
    " || CASE WHEN c_custkey % 4 = 0 THEN ' call +1-202-555-' ||"
    " lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN c_custkey % 5 = 0 THEN ' ip 10.' ||"
    " CAST(c_custkey % 200 AS VARCHAR) || '.0.' ||"
    " CAST(1 + c_custkey % 100 AS VARCHAR) ELSE '' END"
)


@q(
    "q70_pii_stats",
    """
    WITH t AS (SELECT c_mktsegment, {text} AS txt FROM customer),
    m AS (SELECT c_mktsegment,
                 len(regexp_extract_all(txt, '{email}')) AS e,
                 len(regexp_extract_all(txt, '{phone}')) AS p,
                 len(regexp_extract_all(txt, '{ipv4}')) AS i,
                 length(txt) - length(
                     regexp_replace(regexp_replace(regexp_replace(
                         txt, '{email}', '<EMAIL>', 'g'),
                         '{phone}', '<PHONE>', 'g'),
                         '{ipv4}', '<IP>', 'g')) AS dchars
          FROM t)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_with_pii,
           CAST(SUM(e) AS BIGINT) AS n_email,
           CAST(SUM(p) AS BIGINT) AS n_phone,
           CAST(SUM(i) AS BIGINT) AS n_ipv4,
           CAST(SUM(dchars) AS BIGINT) AS redacted_chars
    FROM m GROUP BY c_mktsegment
    """.format(
        text=_PII_TEXT_SQL,
        email=r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        phone=r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
        ipv4=r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    ),
)
def q70(spark, sf_dir):
    """PII pattern detection + redaction stats (operators/pii.py): per
    market segment, rows scanned / rows containing PII / per-class match
    totals (email, phone, IPv4) / characters changed by redaction.

    The synthetic tables carry no natural PII, so the scan text is
    synthesized deterministically from key columns with IDENTICAL string
    expressions on both engines (rows cycle through none/some/all PII
    classes via key mod 3/4/5) — the detector itself is generic and the
    oracle exercises the full regex surface (count + replace-all parity,
    Java regex vs RE2).

    Plan: pure whole-stage-codegen expression work over one scan + a
    two-phase hash agg — no UDFs, no joins. At 10^12 rows this is the
    cheapest possible shape for a corpus-wide scrub audit."""
    from .operators import pii

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    txt = F.concat(
        F.col("c_name"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
        F.when(
            key % 3 == 0,
            F.concat(
                F.lit(" email user"), key.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            key % 4 == 0,
            F.concat(
                F.lit(" call +1-202-555-"),
                F.lpad((key % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            key % 5 == 0,
            F.concat(
                F.lit(" ip 10."),
                (key % 200).cast("string"),
                F.lit(".0."),
                (1 + key % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return pii.pii_stats(
        c.select("c_mktsegment", txt.alias("text")),
        text_col="text",
        group_cols=["c_mktsegment"],
    )


@q(
    "q71_decontamination",
    """
    WITH w AS (SELECT doc_id, source, {words} AS ws FROM documents),
    bg AS (SELECT doc_id AS bench_id,
                  unnest(list_distinct(list_transform(
                      range(1, greatest(len(ws) - 3, 0) + 1),
                      i -> array_to_string(list_slice(ws, i, i + 3), ' ')))) AS g
           FROM w WHERE source = 'src0'),
    keep AS (SELECT g FROM bg GROUP BY g HAVING COUNT(DISTINCT bench_id) <= 10),
    bk AS (SELECT bg.bench_id, bg.g FROM bg JOIN keep USING (g)),
    cg AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                      range(1, greatest(len(ws) - 3, 0) + 1),
                      i -> array_to_string(list_slice(ws, i, i + 3), ' ')))) AS g
           FROM w WHERE source <> 'src0')
    SELECT cg.doc_id,
           CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS matched_grams,
           CAST(COUNT(DISTINCT bk.bench_id) AS BIGINT) AS bench_docs
    FROM cg JOIN bk USING (g) GROUP BY cg.doc_id
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q71(spark, sf_dir):
    """Benchmark decontamination (dedup.ngram_contamination): corpus docs
    sharing any word 4-gram with a held-out benchmark split (source='src0'
    stands in for the eval suite; production uses 13-grams — GPT-3 App. C /
    Pile protocol), with a max_df=10 boilerplate-gram bound.

    Plan: benchmark gram table is small by definition => broadcast hash
    join; the corpus side is explode -> join -> two-phase agg and NEVER
    shuffles its text. The kill-list output is one row per contaminated
    doc."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_contamination(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        n=4,
        max_df=10,
    )


@q(
    "q72_sequence_packing",
    """
    WITH w AS (SELECT doc_id, source AS stream,
                      CAST(len({words}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, stream, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM w WHERE n_tokens > 0)
    SELECT doc_id, stream, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS start_pack,
           CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) AS end_pack,
           CAST(FLOOR((cum - 1) / 512.0)
                - FLOOR((cum - n_tokens) / 512.0) + 1 AS BIGINT) AS n_packs
    FROM c
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q72(spark, sf_dir):
    """Sequence packing (operators/packing.py): per-document assignment to
    fixed 512-token training context windows under concat-and-chunk
    packing, documents ordered by doc_id within each source stream.

    Plan: one scan + a per-stream ROWS-frame cumulative sum — the window is
    always partitioned (streams are the parallel unit; at corpus scale the
    stream key is a shard id with millions of values)."""
    from .operators import packing

    return packing.pack_offsets(_t(spark, sf_dir, "documents"), ctx=512)


@q(
    "q73_neardup_clusters",
    """
    WITH RECURSIVE {cte},
    fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
    sizes AS (SELECT fp, COUNT(*) AS bn FROM fp0 GROUP BY fp),
    fp_ok AS (SELECT fp0.* FROM fp0 JOIN sizes USING (fp) WHERE bn <= 1000),
    prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM fp_ok a JOIN fp_ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
              UNION SELECT doc_b, doc_a FROM prs),
    walk(n, m) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.n, e.v FROM walk w JOIN edges e ON w.m = e.u
    ),
    comp AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
             FROM walk GROUP BY n),
    lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY cluster_id) AS keep
    FROM lab
    """.format(cte=_winnow_fps_sql()),
)
def q73(spark, sf_dir):
    """Near-dup clustering + canonical retention (operators/components.py):
    connected components over the q59 winnow-share pair graph via
    alternating large-star/small-star (the MapReduce-scale CC algorithm —
    O(log^2 n) shuffle rounds, no driver graph state), then one verdict row
    per document: cluster id (= min doc_id of the component), cluster size,
    and ``keep`` marking the canonical survivor. ``WHERE NOT keep`` is the
    dedup kill-list.

    The oracle computes the same closure with a recursive CTE (min
    reachable id) — feasible at oracle scale, while the Spark side is the
    shape that survives 10^12 docs: the CC iteration touches only the PAIR
    graph (near-dup docs, tiny vs corpus) and the corpus-wide join adds
    one broadcast-able label table."""
    from .operators import components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.winnow_neardup_pairs(d, k=3, w=4, min_shared=2, max_bucket=1000)
    return components.dedup_clusters(d, pairs)


def _split_case_sql() -> str:
    """CASE expression over the md5 16-bit bucket mirroring
    operators/sampling.py split_thresholds(DEFAULT_SPLITS) exactly (the
    bounds are imported, not re-derived)."""
    from .operators import sampling

    ths = sampling.split_thresholds(sampling.DEFAULT_SPLITS)
    branches = " ".join(
        f"WHEN h < {bound} THEN '{name}'" for name, bound in ths[:-1]
    )
    return f"CASE {branches} ELSE '{ths[-1][0]}' END"


@q(
    "q82_split_leakage",
    """
    WITH d AS (
        SELECT doc_id, md5(substr({norm}, 1, 48)) AS text_md5,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS h
        FROM documents
    ),
    s AS (SELECT doc_id, text_md5, {case} AS split FROM d)
    SELECT text_md5,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list_distinct(list(split))), ',') AS splits,
           MIN(doc_id) AS first_doc
    FROM s GROUP BY text_md5
    HAVING COUNT(DISTINCT split) > 1
    """.format(norm=_sql_norm("text"), case=_split_case_sql()),
)
def q82(spark, sf_dir):
    """Cross-split contamination audit (sampling.split_leakage): normalized
    content fingerprints appearing in more than one of train/val/test — the
    eval-integrity check the id-hash splitter alone cannot give (duplicate
    content under different doc ids straddles splits). Keyed on the 48-char
    normalized-text prefix (prefix-dedup heuristic) so shared openings are
    caught even when tails diverge. One fingerprint hash-agg, per-group
    state bounded by the split count."""
    from .operators import sampling

    return sampling.split_leakage(_t(spark, sf_dir, "documents"), prefix_chars=48)


@q(
    "q83_embedding_qa",
    """
    WITH m AS (
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               CAST(len(list_filter(embedding, x -> isnan(x) OR isinf(x)))
                    AS INT) AS n_nonfinite,
               sqrt(coalesce(list_sum(list_transform(
                    CAST(embedding AS DOUBLE[]), x -> x * x)), 0)) AS nrm
        FROM embeddings
    ),
    d0 AS (SELECT mode(dim) AS dim0 FROM m),
    prof AS (
        SELECT avg(CASE WHEN n_nonfinite = 0 AND nrm > 1e-6 AND dim = dim0
                        THEN nrm END) AS mu,
               stddev_samp(CASE WHEN n_nonfinite = 0 AND nrm > 1e-6
                                AND dim = dim0 THEN nrm END) AS sd
        FROM m, d0
    )
    SELECT vec_id, dim, n_nonfinite,
           ROUND(nrm, 6) AS l2_norm,
           ROUND(CASE WHEN sd > 0 AND n_nonfinite = 0 AND nrm > 1e-6
                      AND dim = dim0 THEN (nrm - mu) / sd END, 6) AS norm_z,
           dim != dim0 AS dim_mismatch,
           n_nonfinite > 0 AS nonfinite,
           nrm <= 1e-6 AS zero_norm,
           coalesce(CASE WHEN sd > 0 AND n_nonfinite = 0 AND nrm > 1e-6
                         AND dim = dim0
                         THEN abs((nrm - mu) / sd) > 4.0 END,
                    FALSE) AS norm_outlier
    FROM m, d0, prof
    """,
)
def q83(spark, sf_dir):
    """Embedding hygiene validation (operators/embedqa.py): per-vector
    verdicts on dim mismatch vs the corpus modal dim, NaN/Inf elements,
    zero norm (undefined cosine), and finite-norm outliers (|z| > 4 vs the
    clean-vector profile) — the vector analogue of the audio payload
    checks. One narrow codegen pass + two broadcast 1-row aggregates."""
    from .operators import embedqa

    return embedqa.embedding_qa(_t(spark, sf_dir, "embeddings"))


@q(
    "q84_windowed_drift",
    """
    WITH e AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
    c AS (SELECT CAST(LEAST(GREATEST(FLOOR(value / 25.0), 0), 19) AS INT) AS bin,
                 date_trunc('day', ts) AS ws, COUNT(*) AS n
          FROM e GROUP BY 1, 2),
    ref AS (SELECT bin, CAST(SUM(n) AS DOUBLE) AS rn FROM c GROUP BY bin),
    reftot AS (SELECT SUM(rn) AS m FROM ref),
    bins AS (SELECT CAST(range AS INT) AS bin FROM range(0, 20)),
    refp AS (SELECT b.bin,
                    GREATEST(coalesce(rn, 0) / (SELECT m FROM reftot), 1e-9) AS pe,
                    coalesce(rn, 0) / (SELECT m FROM reftot) AS pe_raw
             FROM bins b LEFT JOIN ref USING (bin)),
    wins AS (SELECT ws, CAST(SUM(n) AS DOUBLE) AS total FROM c GROUP BY ws),
    dense AS (SELECT w.ws, w.total, b.bin, CAST(coalesce(c.n, 0) AS DOUBLE) AS n
              FROM wins w CROSS JOIN bins b
              LEFT JOIN c ON c.ws = w.ws AND c.bin = b.bin),
    terms AS (SELECT ws, total, bin,
                     GREATEST(n / total, 1e-9) AS pa, n / total AS pa_raw,
                     pe, pe_raw
              FROM dense JOIN refp USING (bin)),
    cdf AS (SELECT ws, total, (pa - pe) * LN(pa / pe) AS term,
                   SUM(pa_raw - pe_raw) OVER (PARTITION BY ws ORDER BY bin) AS d
            FROM terms)
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           CAST(ws + INTERVAL 1 DAY AS TIMESTAMP) AS window_end,
           CAST(total AS BIGINT) AS n_events,
           ROUND(SUM(term), 6) AS psi,
           ROUND(MAX(ABS(d)), 6) AS ks,
           ROUND(1.36 * sqrt((m + total) / (m * total)), 6) AS ks_crit,
           (SUM(term) > 0.25 OR MAX(ABS(d)) > 1.36 * sqrt((m + total) / (m * total)))
               AS drifted
    FROM cdf, reftot GROUP BY ws, total, m
    """,
)
def q84(spark, sf_dir):
    """Windowed distribution drift (streaming/drift_stream.py, batch path):
    per-day event-time histograms of ``value`` scored PSI + KS against the
    table-wide reference profile — the same plan Structured Streaming runs
    incrementally (watermarked window counts; the finalize touches only the
    #windows x #bins aggregate, ref profile is a 20-double literal, never a
    join). Oracle replicates the eps-floored PSI and un-floored ECDF KS of
    functions/stats exactly."""
    import numpy as np

    from .operators.drift import BinSpec, histogram
    from .streaming import drift_stream

    ev = _t(spark, sf_dir, "events")
    spec = BinSpec(col="value", lo=0.0, hi=500.0, n_bins=20)
    ref = np.zeros(spec.n_bins, dtype=np.int64)
    for r in histogram(ev, spec).collect():  # bounded: <= n_bins rows
        ref[r["bin"]] = r["count"]
    hist = drift_stream.windowed_histogram(ev, spec, ts_col="ts", window="1 day")
    return drift_stream.psi_over_windows(hist, spec, ref)


@q(
    "q85_filter_verdicts",
    """
    WITH docs0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    w AS (SELECT doc_id, text, {words} AS ws FROM docs0),
    s AS (SELECT doc_id, len(ws) AS n_words,
            CASE WHEN len(ws) > 0
                 THEN list_sum(list_transform(ws, x -> len(x)))
                      / CAST(len(ws) AS DOUBLE) ELSE 0.0 END AS mwl,
            CASE WHEN len(ws) > 0
                 THEN CAST(len(list_filter(ws,
                        x -> x IN ('the','a','of','to','and'))) AS DOUBLE)
                      / len(ws) ELSE 0.0 END AS stopr,
            CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
                / GREATEST(len(ws), 1) AS punctr
          FROM w),
    toks AS (SELECT doc_id, unnest(ws) AS tok FROM w),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    ts AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS topf
           FROM tc GROUP BY doc_id),
    bgs AS (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                          i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS bg
            FROM w),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg),
    bs AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                      / SUM(c) AS dupbf
           FROM bc GROUP BY doc_id),
    f AS (SELECT s.doc_id, n_words,
            n_words < 16 AS too_short,
            n_words > 100000 AS too_long,
            (mwl < 2.0 OR mwl > 12.0) AS word_len_out,
            punctr > 0.2 AS high_punct,
            stopr < 0.02 AS low_stopword,
            COALESCE(topf > 0.2 OR COALESCE(dupbf, 0.0) > 0.1, FALSE) AS repetitive
          FROM s LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id))
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           too_short, too_long, word_len_out, high_punct, low_stopword, repetitive,
           CAST(too_short::INT + too_long::INT + word_len_out::INT
                + high_punct::INT + low_stopword::INT + repetitive::INT AS INT)
               AS n_fail,
           (too_short::INT + too_long::INT + word_len_out::INT + high_punct::INT
                + low_stopword::INT + repetitive::INT = 0) AS keep,
           CASE WHEN too_short THEN 'too_short'
                WHEN too_long THEN 'too_long'
                WHEN word_len_out THEN 'word_len_out'
                WHEN high_punct THEN 'high_punct'
                WHEN low_stopword THEN 'low_stopword'
                WHEN repetitive THEN 'repetitive' END AS first_fail
    FROM f
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q85(spark, sf_dir):
    """Composite corpus-filter verdicts (operators/quality_filter.py): the
    ordered C4/Gopher rule stack — length, word-length, punctuation,
    stopword, repetition — with per-document keep/n_fail/first_fail
    attribution. Codegen scalars + the q68 explode-agg repetition shape +
    one entity-grained join."""
    from .operators import quality_filter

    return quality_filter.filter_verdicts(_t(spark, sf_dir, "documents"))


@q(
    "q86_fd_audit",
    """
    WITH c AS (SELECT l_returnflag,
                      coalesce(CAST(l_linestatus AS VARCHAR), ' null') AS rv,
                      COUNT(*) AS c
               FROM lineitem GROUP BY 1, 2),
    p AS (SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(MAX(c) AS BIGINT) AS maxc,
                 CAST(COUNT(DISTINCT rv) AS INT) AS n_rhs_values
          FROM c GROUP BY 1),
    d AS (SELECT c.l_returnflag, MIN(rv) AS dominant_rhs
          FROM c JOIN p USING (l_returnflag) WHERE c = maxc GROUP BY 1)
    SELECT p.l_returnflag,
           CASE WHEN dominant_rhs = ' null' THEN NULL ELSE dominant_rhs END
               AS dominant_rhs,
           n_rhs_values, n_rows,
           n_rows - maxc AS n_violations,
           ROUND(1.0 - CAST(n_rows - maxc AS DOUBLE) / n_rows, 6) AS conformance,
           n_rhs_values = 1 AS fd_holds
    FROM p JOIN d USING (l_returnflag)
    """,
)
def q86(spark, sf_dir):
    """Conditional functional-dependency audit (operators/fdaudit.py):
    data-driven check of the candidate dependency l_returnflag ->
    l_linestatus — per lhs group the dominant rhs value, deviating row
    count and conformance ratio (the cross-column invariant audit the
    static constraint matrix q36 cannot express). One two-phase hash agg
    over the data, then lhs-grain joins on the reduced counts."""
    from .operators import fdaudit

    return fdaudit.fd_audit(_t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_linestatus")


@q(
    "q87_categorical_drift",
    """
    WITH c AS (SELECT date_trunc('day', ts) AS b, event_type AS cat, COUNT(*) AS n
               FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    bt AS (SELECT b, CAST(SUM(n) AS DOUBLE) AS bt FROM c GROUP BY b),
    ct AS (SELECT cat, CAST(SUM(n) AS DOUBLE) AS ct FROM c GROUP BY cat),
    g AS (SELECT SUM(ct) AS gt FROM ct),
    grid AS (SELECT bt.b, bt.bt, ct.cat, ct.ct / (SELECT gt FROM g) AS share
             FROM bt CROSS JOIN ct),
    dense AS (SELECT grid.b, grid.bt, grid.cat,
                     CAST(coalesce(c.n, 0) AS DOUBLE) AS obs,
                     share * grid.bt AS exp
              FROM grid LEFT JOIN c ON c.b = grid.b AND c.cat = grid.cat),
    per AS (SELECT b, CAST(MAX(bt) AS BIGINT) AS n_events,
                   SUM((obs - exp) * (obs - exp) / exp) AS chi2,
                   CAST(COUNT(*) AS INT) AS ncat
            FROM dense GROUP BY b)
    SELECT CAST(b AS TIMESTAMP) AS window_start, n_events,
           ncat AS n_categories,
           ROUND(chi2, 6) AS chi2,
           CAST(ncat - 1 AS INT) AS dof,
           -- dof=0 guard mirrors operators/drift.categorical_drift: one
           -- category => chi2=0, crit=0, drifted=false (never NULL)
           CASE WHEN ncat > 1
                THEN ROUND((ncat - 1) * POW(1.0 - 2.0 / (9.0 * (ncat - 1))
                     + 1.6449 * sqrt(2.0 / (9.0 * (ncat - 1))), 3.0), 6)
                ELSE 0.0 END AS chi2_crit,
           CASE WHEN ncat > 1
                THEN chi2 > (ncat - 1) * POW(1.0 - 2.0 / (9.0 * (ncat - 1))
                     + 1.6449 * sqrt(2.0 / (9.0 * (ncat - 1))), 3.0)
                ELSE FALSE END AS drifted
    FROM per
    """,
)
def q87(spark, sf_dir):
    """Categorical drift (operators/drift.categorical_drift): per-day
    chi-square of the event_type distribution vs the table-wide shares,
    flagged against the Wilson-Hilferty alpha=0.05 critical value — the
    categorical counterpart of the numeric PSI/KS window checks (q84).
    One scan to (day, type) counts; everything downstream is
    aggregate-grain."""
    from .operators import drift as drift_ops

    return drift_ops.categorical_drift(_t(spark, sf_dir, "events"), "event_type")


@q(
    "q88_benford_audit",
    """
    WITH base AS (SELECT l_suppkey,
                         CAST(NULLIF(substr(regexp_replace(CAST(l_extendedprice AS VARCHAR),
                              '[^1-9]', '', 'g'), 1, 1), '') AS INT) AS d
                  FROM lineitem WHERE l_extendedprice IS NOT NULL),
    c AS (SELECT l_suppkey, d, COUNT(*) AS n FROM base WHERE d IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT l_suppkey, CAST(SUM(n) AS DOUBLE) AS nt FROM c GROUP BY 1),
    digits AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS v(d)),
    dense AS (SELECT t.l_suppkey, t.nt, digits.d,
                     CAST(coalesce(c.n, 0) AS DOUBLE) AS obs,
                     log10(1.0 + 1.0 / digits.d) AS exp_share
              FROM t CROSS JOIN digits
              LEFT JOIN c ON c.l_suppkey = t.l_suppkey AND c.d = digits.d),
    per AS (SELECT l_suppkey, CAST(MAX(nt) AS BIGINT) AS n_values,
                   SUM(abs(obs / nt - exp_share)) / 9.0 AS mad,
                   SUM((obs - exp_share * nt) * (obs - exp_share * nt)
                       / (exp_share * nt)) AS chi2
            FROM dense GROUP BY 1)
    SELECT l_suppkey, n_values,
           ROUND(mad, 6) AS mad, ROUND(chi2, 6) AS chi2,
           CASE WHEN mad < 0.006 THEN 'close'
                WHEN mad < 0.012 THEN 'acceptable'
                WHEN mad < 0.015 THEN 'marginal'
                ELSE 'nonconforming' END AS conformity
    FROM per
    """,
)
def q88(spark, sf_dir):
    """Benford first-digit conformance audit
    (operators/benford.benford_audit): per-supplier MAD/chi-square of the
    extended-price first-significant-digit distribution vs Benford's law,
    labeled with Nigrini's conformance bands — the model-free fabricated-
    data screen that complements the magnitude screens (q03-q08). Exact
    string-based digit extraction; one scan to (group, digit) counts."""
    from .operators import benford

    return benford.benford_audit(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", ["l_suppkey"]
    )


@q(
    "q89_wasserstein_drift",
    """
    WITH c AS (SELECT date_trunc('day', ts) AS b,
                      CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 10.0), 0), 24) AS INT) AS bin,
                      COUNT(*) AS n
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    bt AS (SELECT b, CAST(SUM(n) AS DOUBLE) AS bt FROM c GROUP BY b),
    g AS (SELECT bin, CAST(SUM(n) AS DOUBLE) AS ct FROM c GROUP BY bin),
    t AS (SELECT SUM(ct) AS gt FROM g),
    gs AS (SELECT bin, ct / (SELECT gt FROM t) AS q FROM g),
    bins AS (SELECT CAST(UNNEST(range(0, 25)) AS INT) AS bin),
    grid AS (SELECT bt.b, bt.bt, bins.bin FROM bt CROSS JOIN bins),
    dense AS (SELECT grid.b, grid.bt, grid.bin,
                     CAST(coalesce(c.n, 0) AS DOUBLE) / grid.bt AS p,
                     coalesce(gs.q, 0.0) AS q
              FROM grid
              LEFT JOIN c ON c.b = grid.b AND c.bin = grid.bin
              LEFT JOIN gs ON gs.bin = grid.bin),
    cum AS (SELECT b, bt,
                   SUM(p) OVER (PARTITION BY b ORDER BY bin) AS cp,
                   SUM(q) OVER (PARTITION BY b ORDER BY bin) AS cq
            FROM dense)
    SELECT CAST(b AS TIMESTAMP) AS window_start,
           CAST(MAX(bt) AS BIGINT) AS n_values,
           ROUND(10.0 * SUM(ABS(cp - cq)), 6) AS w1,
           ROUND(10.0 * SUM(ABS(cp - cq)) / 250.0, 6) AS w1_norm,
           (10.0 * SUM(ABS(cp - cq)) / 250.0) > 0.10 AS drifted
    FROM cum GROUP BY b
    """,
)
def q89(spark, sf_dir):
    """Wasserstein-1 (earth-mover) drift (operators/drift.wasserstein_drift):
    per-day W1 distance between the day's equi-width histogram of
    events.value and the table-wide one, in the column's own units plus a
    range-normalized drifted flag. Completes the drift family: PSI
    (share-space, q31/q84), KS (worst CDF gap), chi-square (categorical,
    q87) — W1 is the CDF *area* gap, robust to empty bins and sensitive to
    mean shifts KS saturates on. One detail scan to (day, bin) counts;
    cumulative sums run on the aggregate-grain dense grid in a partitioned
    window."""
    from .operators import drift as drift_ops

    return drift_ops.wasserstein_drift(
        _t(spark, sf_dir, "events"),
        drift_ops.BinSpec("value", 0.0, 250.0, 25),
    )


@q(
    "q90_hot_key_audit",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
    s AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot, CAST(COUNT(*) AS DOUBLE) AS nkeys
          FROM c)
    SELECT user_id, CAST(n AS BIGINT) AS n_rows,
           ROUND(n / tot, 6) AS share,
           ROUND(n / (tot / nkeys), 6) AS skew_ratio,
           CAST(CEIL(n / (tot / nkeys)) AS INT) AS salt_buckets
    FROM c CROSS JOIN s
    WHERE n > 1.25 * (tot / nkeys)
    """,
)
def q90(spark, sf_dir):
    """Hot-key skew audit (operators/skew.hot_keys): the keys whose row
    count exceeds 1.25x the mean rows-per-key, with the salting fan-out
    that would even them out — the planning-side complement of AQE's
    runtime skew-join splitter (AQE cannot split a single hot KEY for an
    aggregation; salting can). One detail scan to per-key counts; the
    stats row broadcasts back onto the counts subtree."""
    from .operators import skew

    return skew.hot_keys(_t(spark, sf_dir, "events"), ["user_id"])


@q(
    "q91_chronology_audit",
    """
    WITH s AS (SELECT user_id,
                      epoch_us(ts) - epoch_us(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY event_id)) AS back_us
               FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE back_us < 0) AS BIGINT) AS n_inversions,
           ROUND(COALESCE(MAX(CASE WHEN back_us < 0 THEN -back_us ELSE 0 END),
                          0) / 1e6, 6) AS max_backstep_sec,
           COUNT(*) FILTER (WHERE back_us < 0) = 0 AS monotonic
    FROM s GROUP BY user_id
    """,
)
def q91(spark, sf_dir):
    """Chronology audit (operators/sequence.chronology_audit): per-user
    count of timestamp inversions in event_id arrival order, plus the
    largest backward jump — the ingest-side version of the reference's
    backward-jump interview scan (SURVEY.md W3). Lag window partitioned by
    the entity key (never a global sort); integer-microsecond arithmetic
    end-to-end."""
    from .operators import sequence

    return sequence.chronology_audit(
        _t(spark, sf_dir, "events"), "user_id", "event_id", "ts"
    )


@q(
    "q92_sequence_gaps",
    """
    WITH a AS (SELECT CAST(FLOOR(event_id / 1000) AS BIGINT) AS id_bucket,
                      MIN(event_id) AS first_id, MAX(event_id) AS last_id,
                      COUNT(*) AS n_present,
                      COUNT(DISTINCT event_id) AS n_distinct
               FROM events WHERE event_id IS NOT NULL GROUP BY 1)
    SELECT id_bucket, first_id, last_id,
           CAST(n_present AS BIGINT) AS n_present,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(last_id - first_id + 1 - n_distinct AS BIGINT) AS n_missing,
           CAST(n_present - n_distinct AS BIGINT) AS n_dup,
           (last_id - first_id + 1 - n_distinct = 0
            AND n_present = n_distinct) AS complete
    FROM a
    """,
)
def q92(spark, sf_dir):
    """Dense-id completeness audit (operators/sequence.sequence_gaps):
    per-1000-id range, holes (span minus distinct) and duplicate surrogate
    ids — dropped or double-delivered events localized to the id range
    where they happened. Bucketing by id DIV size needs no global min/max
    pass; the report is span/size rows regardless of table size."""
    from .operators import sequence

    return sequence.sequence_gaps(_t(spark, sf_dir, "events"), "event_id", 1000)


@q(
    "q93_association_audit",
    """
    WITH cells AS (SELECT event_type AS a, EXTRACT(hour FROM ts) AS b,
                          COUNT(*) AS n
                   FROM events
                   WHERE event_type IS NOT NULL AND ts IS NOT NULL
                   GROUP BY 1, 2),
    rt AS (SELECT a, CAST(SUM(n) AS DOUBLE) AS rt FROM cells GROUP BY a),
    ct AS (SELECT b, CAST(SUM(n) AS DOUBLE) AS ct FROM cells GROUP BY b),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot,
                   CAST(COUNT(DISTINCT a) AS INT) AS n_a,
                   CAST(COUNT(DISTINCT b) AS INT) AS n_b
            FROM cells),
    s AS (SELECT SUM((CAST(cells.n AS DOUBLE) * CAST(cells.n AS DOUBLE))
                     / (rt.rt * ct.ct)) AS s
          FROM cells JOIN rt USING (a) JOIN ct USING (b)),
    f AS (SELECT tot.*, s.s,
                 tot.tot * (s.s - 1.0) AS chi2,
                 CAST((tot.n_a - 1) * (tot.n_b - 1) AS INT) AS dof
          FROM s CROSS JOIN tot)
    SELECT 'event_type' AS col_a, 'hour' AS col_b,
           CAST(tot AS BIGINT) AS n, n_a, n_b, dof,
           ROUND(chi2, 6) AS chi2,
           ROUND(dof * POW(1.0 - 2.0 / (9.0 * dof)
                 + 1.6449 * sqrt(2.0 / (9.0 * dof)), 3.0), 6) AS chi2_crit,
           ROUND(sqrt(GREATEST(chi2, 0.0)
                 / (tot * LEAST(n_a - 1, n_b - 1))), 6) AS cramers_v,
           chi2 > dof * POW(1.0 - 2.0 / (9.0 * dof)
                 + 1.6449 * sqrt(2.0 / (9.0 * dof)), 3.0) AS associated
    FROM f
    """,
)
def q93(spark, sf_dir):
    """Categorical-association audit (operators/association.cramers_v):
    chi-square independence + Cramér's V between the event-type mix and
    hour-of-day — the balance check marginal drift metrics cannot see (a
    producer biased toward one hour keeps both marginals plausible). Only
    OBSERVED contingency cells materialize (chi2 = n(sum obs^2/(rt ct) - 1));
    one detail scan to (type, hour) counts."""
    from .operators import association

    ev = _t(spark, sf_dir, "events")
    return association.cramers_v(
        ev, "event_type", F.hour("ts"), label_a="event_type", label_b="hour"
    )


@q(
    "q94_edit_verified_pairs",
    """
    WITH d AS (SELECT doc_id, {norm} AS nt FROM documents),
    k AS (SELECT doc_id, nt, substr(nt, 1, 24) AS pfx FROM d
          WHERE length(nt) >= 24),
    sz AS (SELECT pfx FROM k GROUP BY pfx HAVING COUNT(*) <= 1000),
    ok AS (SELECT k.* FROM k JOIN sz USING (pfx))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.nt, b.nt) AS INT) AS lev,
           ROUND(1.0 - levenshtein(a.nt, b.nt)
                 / CAST(GREATEST(length(a.nt), length(b.nt)) AS DOUBLE), 6)
               AS edit_sim
    FROM ok a JOIN ok b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE (1.0 - levenshtein(a.nt, b.nt)
           / CAST(GREATEST(length(a.nt), length(b.nt)) AS DOUBLE)) >= 0.9
    """.format(norm=_sql_norm("text")),
)
def q94(spark, sf_dir):
    """Exact edit-distance verification of near-dup candidates
    (operators/dedup.edit_verified_pairs): prefix-blocked pairs scored with
    full Levenshtein and an edit-similarity ratio — the precision pass run
    on the probabilistic tiers' survivors (q22/q23/q58) before deletion.
    The O(L^2)-per-pair kernel runs JVM-side (Catalyst levenshtein) on a
    bounded candidate set (hot prefixes dropped at max_bucket)."""
    from .operators import dedup as dedup_ops

    return dedup_ops.edit_verified_pairs(_t(spark, sf_dir, "documents"))


@q(
    "q96_label_noise_audit",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
    p AS (SELECT CAST(UNNEST(range(1, 65)) AS INT) AS pos),
    cpos AS (SELECT label, pos, AVG(v[pos]) AS c
             FROM e CROSS JOIN p GROUP BY label, pos),
    cent AS (SELECT label AS cand, list(c ORDER BY pos) AS cv
             FROM cpos GROUP BY label),
    d AS (SELECT e.vec_id, e.label, cent.cand,
                 list_sum(list_transform(range(1, 65),
                          i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d2
          FROM e CROSS JOIN cent),
    ow AS (SELECT vec_id, label, d2 AS own_d2 FROM d WHERE cand = label),
    oth AS (SELECT vec_id, d2, cand,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
            FROM d WHERE cand != label)
    SELECT ow.vec_id, ow.label,
           ROUND(own_d2, 6) AS own_d2,
           oth.cand AS nearest_other_label,
           ROUND(oth.d2, 6) AS nearest_other_d2,
           ROUND(oth.d2 - own_d2, 6) AS margin,
           oth.d2 < own_d2 AS suspect
    FROM ow JOIN oth ON ow.vec_id = oth.vec_id AND oth.rn = 1
    """,
)
def q96(spark, sf_dir):
    """Label-noise screen (operators/embedqa.label_noise_audit): per vector
    the squared distance to its own label centroid vs the nearest other
    centroid — negative margin flags probable mislabels / class-boundary
    rows for review before training. Centroids via one explode+hash-agg
    pass; scoring via broadcast centroids + zip_with fold (no explode, no
    Python)."""
    from .operators import embedqa

    return embedqa.label_noise_audit(_t(spark, sf_dir, "embeddings"))


@q(
    "q97_fk_health_matrix",
    """
    SELECT 'lineitem.l_orderkey' AS edge, 'orders' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_fk
          FROM lineitem) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'lineitem.l_partkey' AS edge, 'part' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_fk
          FROM lineitem) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM lineitem WHERE l_partkey IS NOT NULL
                  AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'lineitem.l_suppkey' AS edge, 'supplier' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_fk
          FROM lineitem) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM lineitem WHERE l_suppkey IS NOT NULL
                  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'orders.o_custkey' AS edge, 'customer' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_fk
          FROM orders) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'customer.c_nationkey' AS edge, 'nation' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(c_nationkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS distinct_fk
          FROM customer) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM customer WHERE c_nationkey IS NOT NULL
                  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'supplier.s_nationkey' AS edge, 'nation' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(s_nationkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS distinct_fk
          FROM supplier) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM supplier WHERE s_nationkey IS NOT NULL
                  AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)) o
    
    UNION ALL

    SELECT 'nation.n_regionkey' AS edge, 'region' AS parent,
           e.child_rows, e.null_fk_rows, e.distinct_fk,
           o.orphan_values, o.orphan_rows,
           (o.orphan_rows = 0 AND e.null_fk_rows = 0) AS ok
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
                 CAST(COUNT(*) - COUNT(n_regionkey) AS BIGINT) AS null_fk_rows,
                 CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS distinct_fk
          FROM nation) e
    CROSS JOIN (SELECT CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS orphan_values,
                       CAST(COUNT(*) AS BIGINT) AS orphan_rows
                FROM nation WHERE n_regionkey IS NOT NULL
                  AND n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey IS NOT NULL)) o
    """,
)
def q97(spark, sf_dir):
    """Whole-schema referential health matrix
    (operators/referential.fk_health_matrix): every FK edge of the star
    schema in one report — child rows, null FKs, distinct FK values,
    orphaned values/rows, ok verdict. Each edge reduces the child to
    DISTINCT key grain before the anti-join (two-phase agg; parent
    broadcast under AQE); the seven edges run as parallel one-row
    aggregates unioned at the end."""
    from .operators import referential as ref_ops

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re_ = _t(spark, sf_dir, "region")
    pa = _t(spark, sf_dir, "part")
    return ref_ops.fk_health_matrix([
        ("lineitem.l_orderkey", li, "l_orderkey", "orders", od, "o_orderkey"),
        ("lineitem.l_partkey", li, "l_partkey", "part", pa, "p_partkey"),
        ("lineitem.l_suppkey", li, "l_suppkey", "supplier", su, "s_suppkey"),
        ("orders.o_custkey", od, "o_custkey", "customer", cu, "c_custkey"),
        ("customer.c_nationkey", cu, "c_nationkey", "nation", na, "n_nationkey"),
        ("supplier.s_nationkey", su, "s_nationkey", "nation", na, "n_nationkey"),
        ("nation.n_regionkey", na, "n_regionkey", "region", re_, "r_regionkey"),
    ])


@q(
    "q98_profile_diff",
    """
    WITH r AS (
      SELECT 'o_totalprice' AS "column",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             AVG(o_totalprice) AS mean, STDDEV_SAMP(o_totalprice) AS stddev,
             CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) / COUNT(*) AS null_rate,
             CAST(MIN(o_totalprice) AS DOUBLE) AS mn, CAST(MAX(o_totalprice) AS DOUBLE) AS mx
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00' UNION ALL 
      SELECT 'o_custkey' AS "column",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             AVG(o_custkey) AS mean, STDDEV_SAMP(o_custkey) AS stddev,
             CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS null_rate,
             CAST(MIN(o_custkey) AS DOUBLE) AS mn, CAST(MAX(o_custkey) AS DOUBLE) AS mx
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    c AS (
      SELECT 'o_totalprice' AS "column",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             AVG(o_totalprice) AS mean, STDDEV_SAMP(o_totalprice) AS stddev,
             CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) / COUNT(*) AS null_rate,
             CAST(MIN(o_totalprice) AS DOUBLE) AS mn, CAST(MAX(o_totalprice) AS DOUBLE) AS mx
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' UNION ALL 
      SELECT 'o_custkey' AS "column",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             AVG(o_custkey) AS mean, STDDEV_SAMP(o_custkey) AS stddev,
             CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS null_rate,
             CAST(MIN(o_custkey) AS DOUBLE) AS mn, CAST(MAX(o_custkey) AS DOUBLE) AS mx
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    SELECT r."column", r.n_rows AS n_ref, c.n_rows AS n_cur,
           ROUND(r.mean, 6) AS mean_ref, ROUND(c.mean, 6) AS mean_cur,
           ROUND(ABS(c.mean - r.mean)
                 / sqrt(r.stddev * r.stddev / r.n_rows
                        + c.stddev * c.stddev / c.n_rows), 6) AS mean_shift_z,
           ROUND(r.null_rate, 6) AS null_rate_ref,
           ROUND(c.null_rate, 6) AS null_rate_cur,
           COALESCE(ABS(c.mean - r.mean)
                 / sqrt(r.stddev * r.stddev / r.n_rows
                        + c.stddev * c.stddev / c.n_rows) > 3.0, FALSE) AS mean_drift,
           COALESCE(c.null_rate - r.null_rate > 0.001, FALSE) AS null_regressed,
           COALESCE(c.mn < r.mn OR c.mx > r.mx, FALSE) AS range_breach
    FROM r JOIN c USING ("column")
    """,
)
def q98(spark, sf_dir):
    """Cross-snapshot profile regression (operators/column_stats.profile_diff
    over two column_stats passes): orders before vs after 1997 — per-column
    mean-shift z, null-rate delta, and min/max envelope breaches. Catches
    the "pipeline still runs but the new snapshot is subtly different"
    failures that re-derived bounds cannot see. Two single-pass profile
    scans; the diff joins two column-grain aggregates (broadcast)."""
    from .operators import column_stats as cs

    od = _t(spark, sf_dir, "orders")
    cut = "1997-01-01 00:00:00"
    num = ["o_totalprice", "o_custkey"]
    ref = cs.column_stats(od.where(F.col("o_orderdate") < cut), num)
    cur = cs.column_stats(od.where(F.col("o_orderdate") >= cut), num)
    return cs.profile_diff(ref, cur)


@q(
    "q99_zipf_audit",
    """
    WITH tok AS (SELECT UNNEST({words}) AS t FROM documents),
    c AS (SELECT t, COUNT(*) AS tf FROM tok GROUP BY t),
    top AS (SELECT t, tf FROM c ORDER BY tf DESC, t LIMIT 200),
    rk AS (SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, t) AS rank FROM top),
    xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y, tf
           FROM rk),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
                 CAST(MAX(tf) AS BIGINT) AS top_tf
          FROM xy)
    SELECT CAST(n AS BIGINT) AS n_terms, top_tf,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx) >= -1.5
            AND (n * sxy - sx * sy) / (n * sxx - sx * sx) <= -0.5
            AND (n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)) >= 0.8) AS zipf_ok
    FROM s
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q99(spark, sf_dir):
    """Zipf rank-frequency conformance audit (operators/vocab.zipf_audit):
    least-squares slope + r2 of ln(tf) on ln(rank) over the top-200 terms —
    flags machine-generated or template-heavy corpora whose head is too
    flat or too kinked for natural language. TakeOrderedAndProject bounds
    the head (no full-vocab sort); the fit is closed-form sums."""
    from .operators import vocab as vocab_ops

    return vocab_ops.zipf_audit(_t(spark, sf_dir, "documents"))


@q(
    "q100_funnel_conversion",
    """
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    s AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g),
    per AS (SELECT user_id, session_no,
                   MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS fc,
                   MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS lp,
                   MIN(ts) AS t0
            FROM s GROUP BY 1, 2)
    SELECT CAST(date_trunc('day', t0) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(fc) AS BIGINT) AS n_with_click,
           CAST(COUNT(CASE WHEN fc < lp THEN 1 END) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(CASE WHEN fc < lp THEN 1 END) AS DOUBLE)
                 / NULLIF(COUNT(fc), 0), 6) AS conv_rate
    FROM per GROUP BY 1
    """,
)
def q100(spark, sf_dir):
    """Session-funnel conversion audit: per day, the share of sessions
    where a click is STRICTLY FOLLOWED by a purchase inside the same
    30-min-gap session (q47 semantics) — ordered-containment over
    sessionized logs, the behavioral-integrity check a rate monitor (q81)
    cannot express. Partitioned windows only; sessions then days are two
    hash aggs."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_s = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn("new_session", new_s).withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = sess.groupBy("user_id", "session_no").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias("fc"),
        F.max(F.when(F.col("event_type") == "purchase", us)).alias("lp"),
        F.min("ts").alias("t0"),
    )
    conv = F.sum(F.when(F.col("fc") < F.col("lp"), 1).otherwise(0))
    clicks = F.count("fc")
    return per.groupBy(F.date_trunc("day", F.col("t0")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        clicks.cast("long").alias("n_with_click"),
        conv.cast("long").alias("n_converted"),
        F.round(F.try_divide(conv.cast("double"), clicks), 6).alias("conv_rate"),
    )


@q(
    "q101_mixture_materialize",
    """
    WITH per AS (SELECT source, CAST(SUM(len({words})) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens,
                   SUM(POW(CAST(n_tokens AS DOUBLE), 0.3)) AS tot_pw
            FROM per),
    f AS (SELECT source,
                 1.0 * (POW(CAST(n_tokens AS DOUBLE), 0.3) / tot_pw)
                     / (CAST(n_tokens AS DOUBLE) / tot_tokens) AS epochs
          FROM per CROSS JOIN tot),
    j AS (SELECT d.doc_id, d.source,
                 CAST(FLOOR(f.epochs) AS INT) AS base,
                 CAST(FLOOR((f.epochs - FLOOR(f.epochs)) * 65536) AS INT) AS ft,
                 ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 4))::BIGINT AS h
          FROM documents d JOIN f USING (source)),
    n AS (SELECT doc_id, source,
                 base + CASE WHEN h < ft THEN 1 ELSE 0 END AS n_copies
          FROM j)
    SELECT doc_id, source, CAST(UNNEST(range(1, n_copies + 1)) AS INT) AS copy
    FROM n WHERE n_copies >= 1
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q101(spark, sf_dir):
    """Deterministic mixture materialization
    (operators/sampling.mixture_materialize): emit each doc
    floor(epochs)+coin times under the alpha=0.3 temperature weights (q75)
    — upsampled low-resource sources, hash-thresholded downsampling, zero
    RNG state (the coin is md5(doc_id||salt)); per-source epochs broadcast
    back, fan-out is a guarded explode(sequence), no extra shuffle."""
    from .operators import sampling

    return sampling.mixture_materialize(_t(spark, sf_dir, "documents"))


@q(
    "q103_novel_categories",
    """
    WITH c AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_cur
               FROM events
               WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
                 AND event_type IS NOT NULL
               GROUP BY 1),
    r AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT) AS n_ref
          FROM events
          WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
            AND event_type IS NOT NULL
          GROUP BY 1)
    SELECT COALESCE(c.category, r.category) AS category,
           CASE WHEN r.category IS NULL THEN 'novel' ELSE 'vanished' END AS status,
           COALESCE(c.n_cur, 0) AS n_cur,
           COALESCE(r.n_ref, 0) AS n_ref
    FROM c FULL OUTER JOIN r USING (category)
    WHERE c.category IS NULL OR r.category IS NULL
    """,
)
def q103(spark, sf_dir):
    """Category-dictionary diff (operators/drift.novel_categories): enum
    values that appeared or vanished between the first and second half of
    the month — exact set difference at dictionary grain, catching the
    0.01%%-mass novel value chi-square/PSI are blind to. Both sides reduce
    to (category, count) before one dictionary-grain full-outer join."""
    from .operators import drift as drift_ops

    ev = _t(spark, sf_dir, "events")
    cut = "2024-01-16 00:00:00"
    return drift_ops.novel_categories(
        ev.where(F.col("ts") >= cut), ev.where(F.col("ts") < cut), "event_type"
    )


@q(
    "q106_burstiness_audit",
    """
    WITH g AS (SELECT user_id,
                      epoch_us(ts) - epoch_us(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY event_id)) AS gap_us
               FROM events),
    per AS (SELECT user_id,
                   CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
                   FLOOR(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us)) / 1e6
                       AS mean_gap,
                   STDDEV_SAMP(gap_us / 1e6) AS sd_gap
            FROM g GROUP BY user_id HAVING COUNT(gap_us) >= 2)
    SELECT user_id, n_gaps,
           mean_gap AS mean_gap_s,
           ROUND(sd_gap / mean_gap, 6) AS cv_gap,
           ROUND((sd_gap / mean_gap - 1.0) / (sd_gap / mean_gap + 1.0), 6)
               AS burstiness,
           ((sd_gap / mean_gap - 1.0) / (sd_gap / mean_gap + 1.0)) < -0.7
               AS metronomic
    FROM per
    """,
)
def q106(spark, sf_dir):
    """Inter-arrival burstiness audit: per user, the coefficient of
    variation of event gaps and the Goh-Barabasi burstiness B =
    (cv-1)/(cv+1) — B near -1 is metronomic (scripted/bot traffic), near +1
    extreme bursts; humans sit in between. A rate monitor (q81) sees volume
    anomalies, not rhythm anomalies. Lag window partitioned by the entity;
    one hash agg to entity grain; integer-microsecond gaps."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    # mean from EXACT integer-microsecond sums (one double division at the
    # end): double-sum order noise put one sf0.1 user's mean exactly on a
    # 6dp rounding boundary across engines; integer sums cannot
    per = (
        ev.select("user_id", gap_us.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (
                # floored to the MICROSECOND: integer-µs means can land on
                # exact decimal halves (s/n ending .5), where Spark rounds
                # the shortest decimal repr and DuckDB the binary — floor
                # has no half case and s/n never sits within an ulp of an
                # integer unless exactly divisible
                F.floor(F.sum("gap_us").cast("double") / F.count("gap_us"))
                / F.lit(1e6)
            ).alias("mean_gap"),
            F.stddev_samp(F.col("gap_us") / F.lit(1e6)).alias("sd_gap"),
        )
        .where(F.col("n_gaps") >= 2)
    )
    cv = F.col("sd_gap") / F.col("mean_gap")
    b = (cv - 1.0) / (cv + 1.0)
    return per.select(
        "user_id",
        "n_gaps",
        F.col("mean_gap").alias("mean_gap_s"),
        F.round(cv, 6).alias("cv_gap"),
        F.round(b, 6).alias("burstiness"),
        (b < -0.7).alias("metronomic"),
    )


@q(
    "q107_entropy_audit",
    """
    WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
               FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    per AS (SELECT user_id,
                   CAST(SUM(n) AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS INT) AS n_types,
                   CAST(SUM(n) AS DOUBLE) AS nt,
                   SUM(n * ln(CAST(n AS DOUBLE))) AS s
            FROM c GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           ROUND(ln(nt) - s / nt, 6) AS entropy,
           CASE WHEN n_types > 1
                THEN ROUND((ln(nt) - s / nt) / ln(CAST(n_types AS DOUBLE)), 6)
           END AS entropy_norm,
           (n_types > 1 AND
            (ln(nt) - s / nt) / ln(CAST(n_types AS DOUBLE)) < 0.5) AS low_diversity
    FROM per
    """,
)
def q107(spark, sf_dir):
    """Behavioral-diversity entropy audit: per user, Shannon entropy of the
    event-type mix via the shuffle-free identity H = ln N - (sum n_i ln
    n_i)/N — computed from (user, type) counts alone, no join-back, no
    window. Normalized by ln(k); low_diversity flags users locked on
    (nearly) one action, the single-behavior bots the burstiness check
    (q106) sees in time and this sees in action space."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("int").alias("n_types"),
        F.sum("n").cast("double").alias("nt"),
        F.sum(F.col("n") * F.log(F.col("n").cast("double"))).alias("s"),
    )
    h = F.log(F.col("nt")) - F.col("s") / F.col("nt")
    hn = h / F.log(F.col("n_types").cast("double"))
    return per.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(h, 6).alias("entropy"),
        F.when(F.col("n_types") > 1, F.round(hn, 6)).alias("entropy_norm"),
        ((F.col("n_types") > 1) & (hn < 0.5)).alias("low_diversity"),
    )


@q(
    "q108_regression_conformance",
    """
    WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                      SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
                      SUM(l_quantity * l_extendedprice) AS sxy,
                      SUM(l_quantity * l_quantity) AS sxx,
                      SUM(l_extendedprice * l_extendedprice) AS syy
               FROM lineitem),
    fit AS (SELECT n,
                   CASE WHEN sxx - sx * sx / n > 0
                        THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END
                       AS slope,
                   CASE WHEN sxx - sx * sx / n > 0
                        THEN sy / n - (sxy - sx * sy / n)
                             / (sxx - sx * sx / n) * sx / n END
                       AS intercept,
                   CASE WHEN n > 2 AND sxx - sx * sx / n > 0
                        THEN sqrt(((syy - sy * sy / n)
                                   - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                                     / (sxx - sx * sx / n)) / (n - 2.0)) END
                       AS rsd
            FROM s)
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROUND(l_extendedprice, 2) AS price,
           ROUND(intercept + slope * l_quantity, 4) AS predicted,
           ROUND((l_extendedprice - intercept - slope * l_quantity) / rsd, 6)
               AS resid_z
    FROM lineitem CROSS JOIN fit
    WHERE rsd > 0
      AND ABS(l_extendedprice - intercept - slope * l_quantity) > 3.0 * rsd
""",
)
def q108(spark, sf_dir):
    """Cross-field regression conformance: fit price ~ quantity globally in
    ONE aggregate pass (closed-form least squares over raw sums), broadcast
    the 1-row fit back, and emit only the rows whose residual exceeds 3
    residual-sigmas — the relationship-level outliers the per-column sigma
    screens (q03) cannot see because both fields are individually in range.
    Detail table is scanned twice (sums, then filter) with column pruning;
    output is bounded to the violators."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    sxc = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    sxxc = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syyc = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    # degenerate-fit guards (ANSI divide-by-zero otherwise): no x-variance
    # or n <= 2 means no regression exists -> NULL fit -> zero violations;
    # rsd == 0 (perfectly collinear) likewise cannot flag a 3-sigma residual
    slope = F.when(sxxc > 0, sxc / sxxc)
    fit = s.select(
        slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n")).alias(
            "intercept"
        ),
        F.when(
            (F.col("n") > 2) & (sxxc > 0),
            F.sqrt((syyc - sxc * sxc / sxxc) / (F.col("n") - 2.0)),
        ).alias("rsd"),
    )
    j = li.crossJoin(F.broadcast(fit))
    resid = y - F.col("intercept") - F.col("slope") * x
    return j.where(
        (F.col("rsd") > 0) & (F.abs(resid) > 3.0 * F.col("rsd"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(y, 2).alias("price"),
        F.round(F.col("intercept") + F.col("slope") * x, 4).alias("predicted"),
        F.round(resid / F.col("rsd"), 6).alias("resid_z"),
    )


@q(
    "q109_precision_audit",
    """
    SELECT col, n_rows, n_subcent,
           ROUND(CAST(n_subcent AS DOUBLE) / n_rows, 6) AS subcent_rate,
           n_subcent = 0 AS scale_ok
    FROM (
      SELECT 'l_extendedprice' AS col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN ROUND(l_extendedprice, 2) != l_extendedprice
                             THEN 1 END) AS BIGINT) AS n_subcent
      FROM lineitem
      UNION ALL
      SELECT 'o_totalprice',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN ROUND(o_totalprice, 2) != o_totalprice
                             THEN 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'c_acctbal',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN ROUND(c_acctbal, 2) != c_acctbal
                             THEN 1 END) AS BIGINT)
      FROM customer) t
    """,
)
def q109(spark, sf_dir):
    """Decimal-scale conformance audit: money columns carrying sub-cent
    fractions (round(x,2) != x) — the silent unit-mismatch / double-math
    contamination a min-max schema constraint cannot see (a value of
    104.56000000001 is in range and wrong). One conditional-count pass per
    table; scale_ok verdicts per column."""

    def one(df, col, table):
        v = F.col(col)
        return df.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum((F.round(v, 2) != v).cast("long")).alias("n_subcent"),
        )

    li = one(_t(spark, sf_dir, "lineitem"), "l_extendedprice", "lineitem")
    od = one(_t(spark, sf_dir, "orders"), "o_totalprice", "orders")
    cu = one(_t(spark, sf_dir, "customer"), "c_acctbal", "customer")
    u = li.unionByName(od).unionByName(cu)
    return u.select(
        "col",
        "n_rows",
        "n_subcent",
        F.round(F.col("n_subcent").cast("double") / F.col("n_rows"), 6).alias(
            "subcent_rate"
        ),
        (F.col("n_subcent") == 0).alias("scale_ok"),
    )


@q(
    "q110_key_hygiene",
    """
    WITH k AS (SELECT p_partkey, p_name,
                      lower(trim(regexp_replace(p_name, '{ws}', ' ', 'g'))) AS canon
               FROM part WHERE p_name IS NOT NULL),
    g AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_variants
          FROM k GROUP BY canon)
    SELECT canon, n_rows, n_variants
    FROM g WHERE n_variants > 1
    """.format(ws=_SQL_WS),
)
def q110(spark, sf_dir):
    """Key-hygiene near-miss audit: natural keys that collide after
    case/whitespace canonicalization but differ raw ('Clip_01 ' vs
    'clip_01') — exact dedup (q20) treats them as distinct and the
    uniqueness check passes, yet downstream joins fan out. Canonical-grain
    hash agg; only colliding groups are emitted."""
    pa = _t(spark, sf_dir, "part")
    canon = T.normalized_text(F.col("p_name"))
    return (
        pa.where(F.col("p_name").isNotNull())
        .select(canon.alias("canon"), "p_name")
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("p_name").cast("long").alias("n_variants"),
        )
        .where(F.col("n_variants") > 1)
    )


@q(
    "q111_vocab_divergence",
    """
    WITH tok AS (SELECT lang = 'en' AS a, UNNEST({words}) AS t FROM documents),
    c AS (SELECT t,
                 CAST(COUNT(CASE WHEN a THEN 1 END) AS BIGINT) AS na,
                 CAST(COUNT(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS nb
          FROM tok GROUP BY t),
    top AS (SELECT t, na, nb FROM c ORDER BY na + nb DESC, t LIMIT 500),
    tot AS (SELECT CAST(SUM(na) AS DOUBLE) AS ta, CAST(SUM(nb) AS DOUBLE) AS tb,
                   CAST(COUNT(*) AS INT) AS k
            FROM top),
    terms AS (SELECT (CASE WHEN na > 0 THEN (na / ta)
                           * ln((na / ta) / ((na / ta + nb / tb) / 2.0))
                      ELSE 0.0 END)
                   + (CASE WHEN nb > 0 THEN (nb / tb)
                           * ln((nb / tb) / ((na / ta + nb / tb) / 2.0))
                      ELSE 0.0 END) AS term,
                     ta, tb, k
              FROM top CROSS JOIN tot)
    SELECT CAST(MAX(ta) AS BIGINT) AS n_tokens_a,
           CAST(MAX(tb) AS BIGINT) AS n_tokens_b,
           MAX(k) AS k,
           ROUND(SUM(term) / 2.0, 6) AS jsd,
           ROUND(SUM(term) / 2.0 / 0.6931471805599453, 6) AS jsd_norm,
           SUM(term) / 2.0 / 0.6931471805599453 > 0.1 AS diverged
    FROM terms
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q111(spark, sf_dir):
    """Content-drift JSD (operators/vocab.vocab_divergence): Jensen-Shannon
    divergence between the English slice's and the rest's token
    distributions over the shared top-500 vocabulary — the corpus-content
    counterpart of the numeric drift family, bounded [0, ln 2]. One
    explode+conditional-sum pass (no self-join), TakeOrdered-bounded head,
    JSD summed at aggregate grain."""
    from .operators import vocab as vocab_ops

    return vocab_ops.vocab_divergence(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


@q(
    "q113_distinctive_terms",
    """
    WITH tok AS (SELECT source, UNNEST({words}) AS t FROM documents),
    c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(n) AS DOUBLE) AS ns FROM c GROUP BY source),
    gt AS (SELECT t, CAST(SUM(n) AS DOUBLE) AS ng FROM c GROUP BY t),
    g AS (SELECT CAST(SUM(ng) AS DOUBLE) AS ntot FROM gt),
    z AS (SELECT c.source, c.t, c.n,
                 ln((c.n + 0.5) / (st.ns - c.n + 0.5))
                 - ln((gt.ng - c.n + 0.5) / ((SELECT ntot FROM g) - st.ns
                                             - gt.ng + c.n + 0.5)) AS logodds,
                 1.0 / (c.n + 0.5) + 1.0 / (gt.ng - c.n + 0.5) AS var
          FROM c JOIN st USING (source) JOIN gt USING (t)),
    r AS (SELECT source, t AS token, n, ROUND(logodds / sqrt(var), 6) AS z,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY ROUND(logodds / sqrt(var), 6) DESC,
                                             t) AS rk
          FROM z)
    SELECT source, token, n, z, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q113(spark, sf_dir):
    """Distinctive-terms report (Monroe log-odds with a 0.5 Dirichlet
    prior): per source, the 5 tokens most over-represented vs the rest of
    the corpus, z-scored — the "what makes this slice different" audit
    behind the JSD alarm (q111: THAT something drifted; this: WHAT).
    One explode + hash agg to (source, token) counts; source and token
    totals join back broadcast; rank is a per-source WindowGroupLimit."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(T.words(T.normalized_text(F.col("text")))).alias("t")
    )
    c = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    c = c.localCheckpoint(eager=False)  # feeds st, gt and the join-back
    st = c.groupBy("source").agg(F.sum("n").cast("double").alias("ns"))
    gt = c.groupBy("t").agg(F.sum("n").cast("double").alias("ng"))
    g = gt.agg(F.sum("ng").alias("ntot"))
    j = (
        c.join(F.broadcast(st), "source")
        .join(gt, "t")
        .crossJoin(F.broadcast(g))
    )
    n = F.col("n").cast("double")
    lo = F.log((n + 0.5) / (F.col("ns") - n + 0.5)) - F.log(
        (F.col("ng") - n + 0.5) / (F.col("ntot") - F.col("ns") - F.col("ng") + n + 0.5)
    )
    var = 1.0 / (n + 0.5) + 1.0 / (F.col("ng") - n + 0.5)
    z = lo / F.sqrt(var)
    # rank on the ROUNDED z: raw ln() differs by ~1 ulp between engines,
    # which could flip near-tied ranks; 6dp is the parity grain throughout
    w = Window.partitionBy("source").orderBy(F.round(z, 6).desc(), F.col("t"))
    ranked = j.select(
        "source",
        F.col("t").alias("token"),
        F.col("n"),
        F.round(z, 6).alias("z"),
        F.row_number().over(w).alias("rk"),
    )
    return ranked.where(F.col("rk") <= 5)


@q(
    "q114_cohort_retention",
    """
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    first AS (SELECT user_id, MIN(d) AS cohort FROM ud GROUP BY user_id),
    act AS (SELECT f.cohort, date_diff('day', f.cohort, ud.d) AS day_offset,
                   ud.user_id
            FROM ud JOIN first f USING (user_id)),
    cell AS (SELECT cohort, day_offset,
                    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             FROM act GROUP BY 1, 2),
    base AS (SELECT cohort, n_users AS n0 FROM cell WHERE day_offset = 0)
    SELECT CAST(cell.cohort AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS INT) AS day_offset, n_users,
           ROUND(CAST(n_users AS DOUBLE) / n0, 6) AS retention
    FROM cell JOIN base USING (cohort)
    """,
)
def q114(spark, sf_dir):
    """Cohort-retention triangle: users grouped by first-seen day, distinct
    actives per (cohort, day-offset), retention vs the cohort's day 0 — a
    retention cliff on one cohort while volume stays flat means an
    instrumentation or ingest loss (q81 rate checks can't see it: other
    cohorts backfill the volume). Detail reduces to distinct (user, day)
    first; everything after is user- then cohort-grain; day-0 sizes join
    back broadcast. Exact tier here (hash oracle); the approx HLL tier
    (operators/sequence.cohort_retention exact=False) carries a tolerance
    pytest in tests/test_sequence.py."""
    from .operators import sequence

    ev = _t(spark, sf_dir, "events")
    return sequence.cohort_retention(ev, user_col="user_id", ts_col="ts")


@q(
    "q115_transition_drift",
    """
    WITH tr AS (SELECT ts,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY event_id)
                       || '->' || event_type AS cat
                FROM events WHERE event_type IS NOT NULL),
    c AS (SELECT date_trunc('day', ts) AS b, cat, COUNT(*) AS n
          FROM tr WHERE cat IS NOT NULL GROUP BY 1, 2),
    bt AS (SELECT b, CAST(SUM(n) AS DOUBLE) AS bt FROM c GROUP BY b),
    ct AS (SELECT cat, CAST(SUM(n) AS DOUBLE) AS ct FROM c GROUP BY cat),
    g AS (SELECT SUM(ct) AS gt FROM ct),
    grid AS (SELECT bt.b, bt.bt, ct.cat, ct.ct / (SELECT gt FROM g) AS share
             FROM bt CROSS JOIN ct),
    dense AS (SELECT grid.b, grid.bt, grid.cat,
                     CAST(coalesce(c.n, 0) AS DOUBLE) AS obs,
                     share * grid.bt AS exp
              FROM grid LEFT JOIN c ON c.b = grid.b AND c.cat = grid.cat),
    per AS (SELECT b, CAST(MAX(bt) AS BIGINT) AS n_events,
                   SUM((obs - exp) * (obs - exp) / exp) AS chi2,
                   CAST(COUNT(*) AS INT) AS ncat
            FROM dense GROUP BY b)
    SELECT CAST(b AS TIMESTAMP) AS window_start, n_events,
           ncat AS n_categories,
           ROUND(chi2, 6) AS chi2,
           CAST(ncat - 1 AS INT) AS dof,
           -- dof=0 guard mirrors operators/drift.categorical_drift: one
           -- category => chi2=0, crit=0, drifted=false (never NULL)
           CASE WHEN ncat > 1
                THEN ROUND((ncat - 1) * POW(1.0 - 2.0 / (9.0 * (ncat - 1))
                     + 1.6449 * sqrt(2.0 / (9.0 * (ncat - 1))), 3.0), 6)
                ELSE 0.0 END AS chi2_crit,
           CASE WHEN ncat > 1
                THEN chi2 > (ncat - 1) * POW(1.0 - 2.0 / (9.0 * (ncat - 1))
                     + 1.6449 * sqrt(2.0 / (9.0 * (ncat - 1))), 3.0)
                ELSE FALSE END AS drifted
    FROM per
    """,
)
def q115(spark, sf_dir):
    """Transition-matrix drift: per-day chi-square of the event-type BIGRAM
    (prev->next within each user's arrival order) distribution vs the
    table-wide one — ORDER-sensitive drift the marginal check (q87) cannot
    see: a bot that fires the same events in a different sequence keeps
    every marginal identical and still lights this up. One partitioned lag
    window to form transitions, then the same aggregate-grain chi-square
    grid as categorical_drift."""
    from .operators import drift as drift_ops

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    tr = (
        ev.where(F.col("event_type").isNotNull())
        .select(
            "ts",
            F.concat(
                F.lag("event_type").over(w), F.lit("->"), F.col("event_type")
            ).alias("transition"),
        )
        .where(F.col("transition").isNotNull())
    )
    return drift_ops.categorical_drift(tr, "transition")


@q(
    "q116_quantile_diff",
    """
    WITH a AS (SELECT CAST(0.1 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.1) AS v_ref FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.25 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.25) AS v_ref FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.5 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.5) AS v_ref FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.75 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.75) AS v_ref FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.9 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.9) AS v_ref FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    b AS (SELECT CAST(0.1 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.1) AS v_cur FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.25 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.25) AS v_cur FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.5 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.5) AS v_cur FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.75 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.75) AS v_cur FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          UNION ALL SELECT CAST(0.9 AS DOUBLE) AS q, QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.9) AS v_cur FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    SELECT a.q AS quantile,
           ROUND(a.v_ref, 6) AS v_ref, ROUND(b.v_cur, 6) AS v_cur,
           ROUND(b.v_cur - a.v_ref, 6) AS shift,
           ROUND(ABS(b.v_cur - a.v_ref) / NULLIF(a.v_ref, 0), 6) AS rel_shift,
           ABS(b.v_cur - a.v_ref) / NULLIF(a.v_ref, 0) > 0.05 AS drifted
    FROM a JOIN b USING (q)
    """,
)
def q116(spark, sf_dir):
    """Quantile-profile diff: decile-grid shift of o_totalprice between the
    pre/post-1997 snapshots — the SHAPE complement of profile_diff (q98:
    mean/sd/nulls; this: where in the distribution the mass moved, in value
    units per quantile). Exact `percentile` here (the oracle's grain); at
    10^12 rows the same operator swaps to `approx_percentile` like every
    other quantile tier in the engine. Two single-pass percentile
    aggregates, then a 5-row join."""
    od = _t(spark, sf_dir, "orders")
    cut = "1997-01-01 00:00:00"
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    v = F.col("o_totalprice").cast("double")

    def prof(df, alias):
        agg = df.agg(
            F.percentile(v, F.array(*[F.lit(x) for x in qs])).alias("vals")
        )
        return agg.select(
            F.posexplode("vals").alias("i", alias)
        ).select((F.element_at(F.array(*[F.lit(x) for x in qs]), F.col("i") + 1)).alias("quantile"), alias)

    a = prof(od.where(F.col("o_orderdate") < cut), "v_ref")
    b = prof(od.where(F.col("o_orderdate") >= cut), "v_cur")
    j = a.join(F.broadcast(b), "quantile")
    shift = F.col("v_cur") - F.col("v_ref")
    rel = F.abs(shift) / F.col("v_ref")
    return j.select(
        "quantile",
        F.round("v_ref", 6).alias("v_ref"),
        F.round("v_cur", 6).alias("v_cur"),
        F.round(shift, 6).alias("shift"),
        F.round(rel, 6).alias("rel_shift"),
        (rel > 0.05).alias("drifted"),
    )


@q(
    "q118_cusum_changepoint",
    """
    WITH d AS (SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    s AS (SELECT CAST(AVG(n) AS DOUBLE) AS mu, STDDEV_SAMP(CAST(n AS DOUBLE)) AS sd
          FROM d),
    z AS (SELECT day, n, (n - mu) / sd AS z FROM d CROSS JOIN s),
    c AS (SELECT day, n, ROUND(z, 6) AS z,
                 SUM(z) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS cusum
          FROM z)
    SELECT CAST(day AS TIMESTAMP) AS day, n, z,
           ROUND(cusum, 6) AS cusum,
           ABS(cusum) > 5.0 AS level_shift
    FROM c
    """,
)
def q118(spark, sf_dir):
    """CUSUM changepoint screen on the daily event rate: cumulative sum of
    standardized daily deviations — a sustained level shift accumulates
    linearly in the CUSUM long before any single day trips the MAD z-score
    (q81 catches spikes; this catches slow drifts of the mean). The ordered
    scan runs at DAY grain — bounded by the calendar (30 rows here, 3650 for
    a decade), never by table size, so the unpartitioned ordered window is
    bounded-by-construction like q32's histogram windows."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    d = d.localCheckpoint(eager=False)  # feeds stats + the z projection
    s = d.agg(
        F.avg("n").alias("mu"), F.stddev_samp(F.col("n").cast("double")).alias("sd")
    )
    z = d.crossJoin(F.broadcast(s)).select(
        "day", "n", ((F.col("n") - F.col("mu")) / F.col("sd")).alias("z")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusum = F.sum("z").over(w)
    return z.select(
        "day",
        "n",
        F.round("z", 6).alias("z"),
        F.round(cusum, 6).alias("cusum"),
        (F.abs(cusum) > 5.0).alias("level_shift"),
    )


@q(
    "q119_orc_roundtrip",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           CAST(SUM(o_custkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def q119(spark, sf_dir):
    """ORC sink/scan fidelity (sources/csvio.write_orc/read_orc): the
    orders table written to ORC and read back must aggregate identically to
    the parquet original (the oracle runs on the parquet) — value-exact
    round trip through the second columnar format, proving the engine can
    sit on a Hive/Trino-style ORC lake unchanged. Column pruning and
    predicate pushdown work on the ORC scan like parquet's."""
    import tempfile

    from .sources import csvio

    od = _t(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="q119_orc_")
    csvio.write_orc(od, d)
    back = csvio.read_orc(spark, d)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.sum("o_custkey").cast("long").alias("key_sum"),
    )


@q(
    "q120_slope_heterogeneity",
    """
    WITH s AS (SELECT l_suppkey,
                      CAST(COUNT(*) AS DOUBLE) AS n,
                      SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
                      SUM(l_quantity * l_extendedprice) AS sxy,
                      SUM(l_quantity * l_quantity) AS sxx
               FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) >= 30),
    f AS (SELECT l_suppkey, CAST(n AS BIGINT) AS n_rows,
                 (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope
          FROM s),
    g AS (SELECT AVG(slope) AS mu, STDDEV_SAMP(slope) AS sd FROM f)
    SELECT l_suppkey, n_rows,
           ROUND(slope, 6) AS slope,
           ROUND((slope - mu) / sd, 6) AS slope_z,
           ABS((slope - mu) / sd) > 3.0 AS heterogeneous
    FROM f CROSS JOIN g
    """,
)
def q120(spark, sf_dir):
    """Per-group regression heterogeneity: each supplier's own price ~
    quantity least-squares slope, z-scored against the population of
    slopes — a supplier whose price CURVE differs (not just its level) is
    invisible to the global fit (q108) and to per-column screens. One
    grouped-sums pass (five aggregates per group), slopes closed-form, the
    1-row slope-population stats broadcast back."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        )
        .where(F.col("n") >= 30)
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    f = s.select(
        "l_suppkey", F.col("n").cast("long").alias("n_rows"), slope.alias("slope")
    )
    f = f.localCheckpoint(eager=False)  # feeds stats + the z projection
    g = f.agg(F.avg("slope").alias("mu"), F.stddev_samp("slope").alias("sd"))
    z = (F.col("slope") - F.col("mu")) / F.col("sd")
    return f.crossJoin(F.broadcast(g)).select(
        "l_suppkey",
        "n_rows",
        F.round("slope", 6).alias("slope"),
        F.round(z, 6).alias("slope_z"),
        (F.abs(z) > 3.0).alias("heterogeneous"),
    )


_TYPE_PATTERNS = [
    ("pct_int", "^-?[0-9]+$"),
    ("pct_num", "^-?[0-9]+\\.[0-9]+$"),
    ("pct_date", "^[0-9]{4}-[0-9]{2}-[0-9]{2}"),
    ("pct_bool", "^(true|false)$"),
    ("pct_json", "^\\{.*\\}$"),
]


def _type_audit_sql(table: str, col: str) -> str:
    pats = ",\n           ".join(
        "ROUND(CAST(COUNT(CASE WHEN regexp_matches(lower(trim({c})), '{p}') "
        "THEN 1 END) AS DOUBLE) / NULLIF(COUNT({c}), 0), 6) AS {a}".format(
            c=col, p=p, a=a
        )
        for a, p in _TYPE_PATTERNS
    )
    return (
        "SELECT '{t}.{c}' AS col, CAST(COUNT({c}) AS BIGINT) AS n_values,\n"
        "           {pats}\n    FROM {t}"
    ).format(t=table, c=col, pats=pats)


@q(
    "q121_type_inference_audit",
    """
    {a}
    UNION ALL
    {b}
    UNION ALL
    {c}
    """.format(
        a=_type_audit_sql("events", "props"),
        b=_type_audit_sql("orders", "o_orderpriority"),
        c=_type_audit_sql("documents", "lang"),
    ),
)
def q121(spark, sf_dir):
    """Stringly-typed column detection: per string column, the share of
    non-null values that fully parse as int / decimal / date-prefixed /
    bool / JSON object — a column whose values are 100%% JSON (events.props
    here) or 100%% numeric is carrying a miscast schema, which every
    downstream mean/range constraint silently skips. Pure codegen
    conditional-count aggregates (regexps are anchored and RE2-safe on both
    engines), one row per audited column."""

    def one(df, table, col):
        c = F.lower(F.trim(F.col(col)))
        aggs = [
            F.count(F.col(col)).cast("long").alias("n_values"),
        ] + [
            F.round(
                F.count(F.when(c.rlike(p), F.lit(1))).cast("double")
                / F.nullif(F.count(F.col(col)), F.lit(0)),
                6,
            ).alias(a)
            for a, p in _TYPE_PATTERNS
        ]
        return df.agg(F.lit(f"{table}.{col}").alias("col"), *aggs)

    a = one(_t(spark, sf_dir, "events"), "events", "props")
    b = one(_t(spark, sf_dir, "orders"), "orders", "o_orderpriority")
    c = one(_t(spark, sf_dir, "documents"), "documents", "lang")
    return a.unionByName(b).unionByName(c)


@q(
    "q122_k_anonymity",
    """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
                      CAST(LEAST(GREATEST(FLOOR((c_acctbal - -1000.0) / 1100.0),
                           0), 9) AS INT) AS bal_bin
               FROM customer),
    c AS (SELECT c_nationkey, c_mktsegment, bal_bin, COUNT(*) AS n
          FROM q GROUP BY 1, 2, 3)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_combos,
           CAST(MIN(n) AS BIGINT) AS min_combo,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_below_k,
           ROUND(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                 / SUM(n), 6) AS pct_below_k,
           MIN(n) >= 5 AS k_anonymous
    FROM c
    """,
)
def q122(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier combination
    (nation, market segment, account-balance decile): the share of rows
    whose combo appears fewer than k times — the re-identification risk
    screen a privacy-conscious training pipeline runs beside the PII regex
    scan (q70: direct identifiers; this: identifying COMBINATIONS of
    innocent columns). One hash agg to combo grain + a one-row summary."""
    cu = _t(spark, sf_dir, "customer")
    bal_bin = (
        F.least(
            F.greatest(F.floor((F.col("c_acctbal") - (-1000.0)) / 1100.0), F.lit(0)),
            F.lit(9),
        )
    ).cast("int")
    c = cu.groupBy("c_nationkey", "c_mktsegment", bal_bin.alias("bal_bin")).agg(
        F.count(F.lit(1)).alias("n")
    )
    below = F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(F.lit(0)))
    return c.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_combos"),
        F.min("n").cast("long").alias("min_combo"),
        below.cast("long").alias("n_rows_below_k"),
        F.round(below.cast("double") / F.sum("n"), 6).alias("pct_below_k"),
        (F.min("n") >= 5).alias("k_anonymous"),
    )


@q(
    "q123_correlation_matrix",
    """
    WITH s AS (SELECT corr(l_quantity, l_extendedprice) AS c_qty_price,
                      corr(l_quantity, l_discount) AS c_qty_disc,
                      corr(l_quantity, l_tax) AS c_qty_tax,
                      corr(l_extendedprice, l_discount) AS c_price_disc,
                      corr(l_extendedprice, l_tax) AS c_price_tax,
                      corr(l_discount, l_tax) AS c_disc_tax,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM lineitem)
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           ROUND(c_qty_price, 6) AS corr, ABS(c_qty_price) > 0.9 AS collinear
    FROM s
    UNION ALL SELECT 'l_quantity', 'l_discount', n, ROUND(c_qty_disc, 6),
           ABS(c_qty_disc) > 0.9 FROM s
    UNION ALL SELECT 'l_quantity', 'l_tax', n, ROUND(c_qty_tax, 6),
           ABS(c_qty_tax) > 0.9 FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_discount', n, ROUND(c_price_disc, 6),
           ABS(c_price_disc) > 0.9 FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_tax', n, ROUND(c_price_tax, 6),
           ABS(c_price_tax) > 0.9 FROM s
    UNION ALL SELECT 'l_discount', 'l_tax', n, ROUND(c_disc_tax, 6),
           ABS(c_disc_tax) > 0.9 FROM s
    """,
)
def q123(spark, sf_dir):
    """Full pairwise correlation matrix of the numeric columns in ONE
    aggregation pass (all six corr() aggregates fuse into a single
    hash-agg job — never six scans): the profiling staple behind feature
    selection and the collinearity flag (|r| > 0.9 means one column is
    redundant or leaked from the other). Unpivoted to (col_a, col_b) rows
    driver-side from the 1-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [F.corr(a, b).alias(f"c_{i}") for i, (a, b) in enumerate(pairs)]
    s = li.agg(*aggs, F.count(F.lit(1)).cast("long").alias("n"))
    # the 1-row aggregate feeds SIX union branches; Catalyst does not share
    # common subplans, so without pinning the scan+agg would run six times
    s = s.localCheckpoint(eager=False)
    rows = None
    for i, (a, b) in enumerate(pairs):
        r = s.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            "n",
            F.round(F.col(f"c_{i}"), 6).alias("corr"),
            (F.abs(F.col(f"c_{i}")) > 0.9).alias("collinear"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


@q("q125_label_conflicts")
def q125(spark, sf_dir):
    """Conflicting-label audit (operators/uniqueness.label_conflicts): one
    bit-identical audio payload carrying DIFFERENT transcripts — a labeling
    error or corrupted join that re-recording semantics cannot excuse
    (inverse of q124). One planted conflict demonstrates the path; digests
    computed inside the scan. Rows-only; the planted oracle lives in
    tests/test_fk_matrix.py alongside q124's."""
    from .operators import uniqueness as u
    from .sources import synth

    t = synth.generate_clips(n_clips=800, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    conflicted = clips.where(F.col("clip_id") == "clip-0007-00000000").withColumn(
        "transcript", F.concat(F.col("transcript"), F.lit(" [conflicting label]"))
    )
    return u.label_conflicts(clips.unionByName(conflicted))


@q(
    "q126_sentinel_audit",
    """
    SELECT col, sentinel, n, ROUND(CAST(n AS DOUBLE) / total, 6) AS share
    FROM (
      SELECT 'events.value' AS col, '0.0' AS sentinel,
             CAST(COUNT(CASE WHEN value = 0.0 THEN 1 END) AS BIGINT) AS n,
             CAST(COUNT(value) AS DOUBLE) AS total
      FROM events
      UNION ALL
      SELECT 'events.value', '-1.0',
             CAST(COUNT(CASE WHEN value = -1.0 THEN 1 END) AS BIGINT),
             CAST(COUNT(value) AS DOUBLE)
      FROM events
      UNION ALL
      SELECT 'documents.text', 'empty/na',
             CAST(COUNT(CASE WHEN lower(trim(text)) IN ('', 'n/a', 'null',
                  'none', 'unknown') THEN 1 END) AS BIGINT),
             CAST(COUNT(text) AS DOUBLE)
      FROM documents
      UNION ALL
      SELECT 'part.p_size', '0',
             CAST(COUNT(CASE WHEN p_size = 0 THEN 1 END) AS BIGINT),
             CAST(COUNT(p_size) AS DOUBLE)
      FROM part) t
    """,
)
def q126(spark, sf_dir):
    """Sentinel-value audit: counts of the classic placeholder values (0,
    -1, '', 'n/a', 'null', ...) per column — null-rate checks (q31) miss
    sentinel contamination entirely because sentinels ARE non-null, yet a
    column whose zeros are really "unknown" poisons every mean and bound.
    Pure conditional-count aggregates, one row per (column, sentinel)."""

    def num(df, table, col, sval):
        v = F.col(col)
        return df.agg(
            F.lit(f"{table}.{col}").alias("col"),
            F.lit(str(sval)).alias("sentinel"),
            F.count(F.when(v == sval, F.lit(1))).cast("long").alias("n"),
            F.count(v).cast("double").alias("total"),
        )

    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")
    pa = _t(spark, sf_dir, "part")
    txt = F.lower(F.trim(F.col("text")))
    d = docs.agg(
        F.lit("documents.text").alias("col"),
        F.lit("empty/na").alias("sentinel"),
        F.count(
            F.when(txt.isin("", "n/a", "null", "none", "unknown"), F.lit(1))
        ).cast("long").alias("n"),
        F.count(F.col("text")).cast("double").alias("total"),
    )
    u = (
        num(ev, "events", "value", 0.0)
        .unionByName(num(ev, "events", "value", -1.0))
        .unionByName(d)
        .unionByName(num(pa, "part", "p_size", 0))
    )
    return u.select(
        "col",
        "sentinel",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


@q("q127_quarantine")
def q127(spark, sf_dir):
    """Quarantine sink (plans/runner.quarantine_rows, jobs/validate.py
    --quarantine): FULL rows for every violating key with a per-key summary
    (checks set, max severity, count) — the table a curation pipeline
    subtracts from training input. Violations reduce to key grain before
    joining back, so the shuffle carries summaries, not payloads; duplicate
    detail rows fan out intentionally (both copies of a dup are
    quarantined). Synth-table demo over schema+uniqueness violations;
    rows-only — the exact oracle (key cover, duplicate multiplicity,
    summary consistency) lives in tests/test_quarantine.py."""
    from .operators import schema_check, uniqueness
    from .plans.runner import quarantine_rows
    from .plans.spec import default_clips_schema_spec
    from .sources import synth

    t = synth.generate_clips(n_clips=600, n_parts=8, seed=11)
    clips = spark.createDataFrame(t.clips.to_pandas())
    v = schema_check.constraint_violations(
        clips, default_clips_schema_spec()
    ).unionByName(uniqueness.uniqueness_violations(clips))
    qd = quarantine_rows(clips, v)
    return qd.select(
        "clip_id",
        "part",
        "codec",
        F.concat_ws("|", F.col("checks")).alias("checks"),
        "max_severity",
        "n_violations",
    )


@q(
    "q128_null_patterns",
    """
    WITH p AS (
      SELECT CASE WHEN value < 2.0 THEN NULL ELSE user_id END AS u,
             CASE WHEN event_type = 'error' THEN NULL ELSE props END AS pr,
             CASE WHEN user_id % 17 = 0 THEN NULL ELSE value END AS v
      FROM events
    ), b AS (
      SELECT (CASE WHEN u IS NULL THEN '1' ELSE '0' END) ||
             (CASE WHEN pr IS NULL THEN '1' ELSE '0' END) ||
             (CASE WHEN v IS NULL THEN '1' ELSE '0' END) AS pattern,
             concat_ws(',',
                       CASE WHEN u IS NULL THEN 'user_id' END,
                       CASE WHEN pr IS NULL THEN 'props' END,
                       CASE WHEN v IS NULL THEN 'value' END) AS null_cols
      FROM p
    ), c AS (
      SELECT pattern, null_cols, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM b GROUP BY 1, 2
    )
    SELECT pattern, null_cols, n_rows,
           ROUND(n_rows * 1.0 / t.total, 6) AS share
    FROM c, (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c) t
    """,
)
def q128(spark, sf_dir):
    """Missingness-pattern profile: frequency of each observed null/present
    combination — separates independent column nullness from correlated
    row-level loss (a dropped join side collapses onto one pattern). The
    events table ships null-free, so three deterministic masks plant
    overlapping missingness first (the operator itself is generic —
    operators/column_stats.py:null_pattern_profile). One codegen projection
    + one pattern-grain hash agg; share joins back broadcast."""
    ev = _t(spark, sf_dir, "events")
    planted = ev.select(
        F.when(F.col("value") < 2.0, F.lit(None)).otherwise(F.col("user_id")).alias("user_id"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("props")).alias("props"),
        F.when(F.col("user_id") % 17 == 0, F.lit(None)).otherwise(F.col("value")).alias("value"),
    )
    return CS.null_pattern_profile(planted, ["user_id", "props", "value"])


@q(
    "q129_reconciliation",
    """
    WITH agg AS (
      SELECT l_orderkey AS o_orderkey,
             SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS child_sum,
             CAST(COUNT(*) AS BIGINT) AS n_children
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey,
           ROUND(CAST(o_totalprice AS DOUBLE), 4) AS parent_value,
           CAST(COALESCE(a.n_children, 0) AS BIGINT) AS n_children,
           CASE WHEN a.n_children IS NULL THEN 'missing_child'
                WHEN a.child_sum IS NULL THEN 'null_amounts'
                WHEN ABS(CAST(o_totalprice AS DOUBLE) - a.child_sum) <= 0.01
                     THEN 'consistent'
                ELSE 'mismatch' END AS verdict
    FROM orders o LEFT JOIN agg a USING (o_orderkey)
    """,
)
def q129(spark, sf_dir):
    """Ledger reconciliation audit
    (operators/referential.aggregate_reconciliation): the stored order
    total vs the sum of its line amounts under the TPC-H price formula —
    the adds-up invariant FK checks can't see (q14/q97 prove key cover,
    not arithmetic). Child reduces to key grain first; key-grain
    sort-merge/AQE join, no broadcast (both sides large). The synthetic
    tables violate the invariant by construction, so the report exercises
    both mismatch and missing_child verdicts. The float child_sum/abs_diff
    columns stay operator-side (cross-engine sum order differs at 1e-10;
    rounding them would gamble on boundaries) — the catalog projects the
    exact-safe columns plus the tolerance verdict."""
    rec = referential.aggregate_reconciliation(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
        "o_totalprice",
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax")),
    )
    return rec.select(
        "o_orderkey",
        F.round("parent_value", 4).alias("parent_value"),
        "n_children",
        "verdict",
    )


@q(
    "q130_json_key_profile",
    """
    WITH p AS (
      SELECT CASE WHEN event_id % 7 = 0 THEN '{"k": 1, "extra": "x"}'
                  WHEN event_id % 11 = 0 THEN 'oops'
                  WHEN event_id % 13 = 0 THEN NULL
                  ELSE props END AS props
      FROM events
    ), b AS (
      -- json_valid and json_type must sit in SEPARATE sequential WHENs:
      -- DuckDB's vectorized executor evaluates both operands of an OR on
      -- the whole chunk, so json_type() throws on malformed rows once the
      -- table is big enough to batch them together (seen at sf0.1, not
      -- sf0.01); CASE arms are selection-vector lazy, OR operands are not
      SELECT CASE WHEN props IS NULL THEN '<null>'
                  WHEN NOT json_valid(props) THEN '<invalid>'
                  WHEN json_type(props) != 'OBJECT' THEN '<invalid>'
                  ELSE COALESCE(array_to_string(list_sort(json_keys(props)), ','), '')
             END AS key_set
      FROM p
    ), c AS (
      SELECT key_set, CAST(COUNT(*) AS BIGINT) AS n_rows FROM b GROUP BY 1
    )
    SELECT key_set, n_rows, ROUND(n_rows * 1.0 / t.total, 6) AS share
    FROM c, (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c) t
    """,
)
def q130(spark, sf_dir):
    """JSON key-set schema profile (schema_check.json_key_profile):
    frequency of each observed payload key set — catches producer schema
    drift in semi-structured columns (a field added/dropped/renamed) that
    value extraction (q18) and string type inference (q121) can't see. The
    events props column ships single-schema, so deterministic masks plant a
    new-field variant, malformed rows and nulls first. JVM-side from_json
    projection, key-set-grain hash agg, broadcast share join-back. Oracle
    classifies non-object JSON as '<invalid>' via json_type to match
    Spark's map-typed from_json semantics."""
    ev = _t(spark, sf_dir, "events")
    planted = ev.select(
        F.when(F.col("event_id") % 7 == 0, F.lit('{"k": 1, "extra": "x"}'))
        .when(F.col("event_id") % 11 == 0, F.lit("oops"))
        .when(F.col("event_id") % 13 == 0, F.lit(None))
        .otherwise(F.col("props"))
        .alias("props")
    )
    return SC.json_key_profile(planted, "props")


@q(
    "q131_xlsx_roundtrip",
    """
    SELECT CAST(s_nationkey AS INT) AS s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(s_acctbal), 2) AS total_bal,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
    FROM supplier GROUP BY s_nationkey
    """,
)
def q131(spark, sf_dir):
    """Excel report sink/scan fidelity (sources/xlsxio.py — SURVEY.md S7,
    reference catalog.yml ExcelDataSet outputs): the supplier table written
    to a dependency-free SpreadsheetML .xlsx and read back must aggregate
    identically to the parquet original (oracle runs on the parquet).
    Driver-side bounded-report sink by design — Excel outputs are per-audit
    human reports, capped at Excel's own sheet limit with a refuse-don't-
    truncate guard; sharedStrings files from Excel/openpyxl also parse
    (tests/test_xlsxio.py)."""
    import os
    import tempfile

    from .sources import xlsxio

    sup = _t(spark, sf_dir, "supplier")
    fd, p = tempfile.mkstemp(suffix=".xlsx", prefix="q131_")
    os.close(fd)
    try:
        xlsxio.write_xlsx(sup, p)
        # read_xlsx parses eagerly on the driver, so the file can go now —
        # repeated gate/bench invocations must not accumulate temp files
        back = xlsxio.read_xlsx(spark, p)
    finally:
        os.unlink(p)
    return back.groupBy(F.col("s_nationkey").cast("int").alias("s_nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        F.sum("s_suppkey").cast("long").alias("key_sum"),
    )


@q(
    "q132_encoding_audit",
    """
    WITH planted AS (
      SELECT lang,
             CASE WHEN doc_id % 11 = 0 THEN text || ' caf__MOJI_E__ __REPL__'
                  WHEN doc_id % 13 = 0 THEN '__BOM__' || text
                  ELSE text END AS text
      FROM documents WHERE text IS NOT NULL)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text) - length(replace(text, '__REPL__', '')))
                AS BIGINT) AS repl_chars,
           CAST(SUM(length(text)
                    - length(regexp_replace(text, '__CTRL__', '', 'g')))
                AS BIGINT) AS ctrl_chars,
           CAST(SUM(CAST(FLOOR((length(text)
                    - length(regexp_replace(text, '__MOJI__', '', 'g'))) / 2)
                    AS BIGINT)) AS BIGINT) AS mojibake_seqs,
           CAST(SUM(CASE WHEN contains(text, '__BOM__') THEN 1 ELSE 0 END)
                AS BIGINT) AS bom_docs
    FROM planted
    GROUP BY lang
    """.replace("__MOJI_E__", "Ã©")
    .replace("__REPL__", T.REPL_CHAR)
    .replace("__CTRL__", T.CTRL_CHAR_RE)
    .replace("__MOJI__", T.MOJIBAKE_RE)
    .replace("__BOM__", T.BOM_CHAR),
)
def q132(spark, sf_dir):
    """Encoding-hygiene audit (functions/text.py encoding signals,
    the "encoding" entry of plans/checks.py — SURVEY.md §2.8 string
    screens): per-language totals of U+FFFD replacement chars, C0
    control chars/DEL, UTF-8-as-latin-1 mojibake signatures and in-body
    BOMs. This corruption class defeats byte-equality checks (upstream
    mojibake lands in BOTH the clip and its reference transcript), so
    content inspection is the only detector; the same expressions run
    default-ON in the validation suite over synth-planted anomalies
    (tests/test_encoding.py asserts exact planted parity).

    Plan: counts are length-differences under global replace — pure
    whole-stage-codegen string expressions in one scan, two-phase hash agg
    at language grain (a handful of groups). The regex constants use the
    Java-regex/RE2 common escape subset so the identical pattern string
    feeds Spark and the DuckDB oracle. The driver's documents table is
    pure ASCII, so corruption is planted in-query on deterministic doc_id
    slices (the q130/q133 pattern) — the oracle verifies non-zero counts,
    not an all-zeros no-op; the suite path gets its real signal from the
    synth injector (tests/test_encoding.py)."""
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    planted = d.select(
        "lang",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" cafÃ© " + T.REPL_CHAR)),
        )
        .when(F.col("doc_id") % 13 == 0, F.concat(F.lit(T.BOM_CHAR), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = F.col("text")
    return planted.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.repl_char_count(t)).cast("long").alias("repl_chars"),
        F.sum(T.ctrl_char_count(t)).cast("long").alias("ctrl_chars"),
        F.sum(T.mojibake_count(t)).cast("long").alias("mojibake_seqs"),
        F.sum(F.when(F.contains(t, F.lit(T.BOM_CHAR)), 1).otherwise(0))
        .cast("long")
        .alias("bom_docs"),
    )


@q(
    "q133_unit_mismatch",
    """
    WITH p AS (SELECT event_type,
                      CASE WHEN event_type = 'click' AND event_id % 3 = 0
                           THEN value * 1000000 ELSE value END AS v
               FROM events WHERE value IS NOT NULL AND value > 0),
    d AS (SELECT event_type,
                 CASE WHEN v >= 1e15 THEN 15
                      WHEN v >= 1
                      THEN CAST(length(CAST(CAST(FLOOR(v) AS BIGINT) AS VARCHAR)) - 1 AS INT)
                      ELSE -1 END AS decade
          FROM p),
    c AS (SELECT event_type, decade, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY 1, 2),
    s AS (SELECT event_type, decade, n,
                 SUM(n) OVER (PARTITION BY event_type) AS n_pos,
                 CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share
          FROM c),
    h AS (SELECT event_type, decade, n_pos,
                 decade - LAG(decade) OVER (PARTITION BY event_type ORDER BY decade) AS gap
          FROM s WHERE share >= 0.05)
    SELECT event_type,
           CAST(MAX(n_pos) AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n_heavy,
           string_agg(CAST(decade AS VARCHAR), ',' ORDER BY decade) AS heavy_decades,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap,
           COALESCE(MAX(gap), 0) >= 3 AS mixed_units
    FROM h GROUP BY event_type
    """,
)
def q133(spark, sf_dir):
    """Mixed-units magnitude audit (operators/column_stats.py:
    mixed_unit_audit): detects one producer logging seconds where another
    logs milliseconds — two in-range magnitude clusters separated by empty
    decades. Range constraints pass both modes, drift-vs-self sees a stable
    distribution, and Benford (q88) tests leading digits only, so this
    ingestion-bug class has no other detector in the suite. The 'click'
    slice is planted with a deterministic x10^6 factor on every third
    event_id (the q130 planting pattern) — the audit must flag exactly that
    group and clear the other four.

    Plan: one scan -> decade-grain hash agg (map-side combine, <= ~20 rows
    per group shuffled at any input size); share/gap windows run over the
    tiny decade-grain aggregate partitioned by group. Decades use exact
    digit-count arithmetic, not floor(log10) — float log rounding at exact
    powers of ten can disagree across engines."""
    ev = _t(spark, sf_dir, "events")
    planted = ev.select(
        "event_type",
        F.when(
            (F.col("event_type") == "click") & (F.col("event_id") % 3 == 0),
            F.col("value") * 1000000,
        )
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return CS.mixed_unit_audit(planted, "v", "event_type")


@q(
    "q74_split_assignment",
    """
    WITH b AS (SELECT source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS h,
                      len({words}) AS nt
               FROM documents),
    s AS (SELECT source, {case} AS split, nt FROM b)
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM s GROUP BY source, split
    """.format(words=_sql_words(_sql_norm("text")), case=_split_case_sql()),
)
def q74(spark, sf_dir):
    """Deterministic train/val/test split audit (operators/sampling.py):
    membership is a pure function of md5(doc_id) -> 16-bit bucket vs
    cumulative thresholds (90/5/5), so re-runs, backfills, and both engines
    agree row-for-row; the report is per (source, split) doc + token mass —
    the leakage-audit table.

    Plan: one scan, per-row codegen hash expression, two-phase hash agg —
    no shuffle of the corpus itself at 10^12 rows."""
    from .operators import sampling

    return sampling.split_report(_t(spark, sf_dir, "documents"))


@q(
    "q75_mixing_weights",
    """
    WITH w AS (SELECT source, len({words}) AS nt FROM documents),
    s AS (SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
          FROM w GROUP BY source),
    t AS (SELECT SUM(n_tokens) AS tot_tokens,
                 SUM(POW(CAST(n_tokens AS DOUBLE), 0.3)) AS tot_pw
          FROM s)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS p_tokens,
           ROUND(POW(CAST(n_tokens AS DOUBLE), 0.3) / tot_pw, 6) AS weight,
           ROUND((POW(CAST(n_tokens AS DOUBLE), 0.3) / tot_pw)
                 / (CAST(n_tokens AS DOUBLE) / tot_tokens), 6) AS sample_factor
    FROM s, t
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q75(spark, sf_dir):
    """Temperature-weighted corpus mixing (operators/sampling.py
    mixing_weights, alpha=0.3 — the XLM-R/T5 multilingual sampling rule):
    per-source token share p, sampling weight proportional to p^alpha, and
    sample_factor (= epochs of that source per natural epoch under the
    weighted sampler).

    Plan: two-phase hash agg to ~#sources rows, then a broadcast crossJoin
    against the 1-row totals — totals are never an unpartitioned window."""
    from .operators import sampling

    return sampling.mixing_weights(_t(spark, sf_dir, "documents"), alpha=0.3)


@q("q77_audio_qa_signals")
def q77(spark, sf_dir):
    """Recording-QA signal sweep (media.audio_features extended=True): per
    partition, mean DC offset plus counts of hard-clipped (clip_ratio>1%),
    mostly-silent (silence_ratio>50%) and DC-biased (|dc|>0.01) clips —
    the corpus-health dashboard a recording pipeline watches. Binary decode
    => no SQL oracle; rows-only driver check, exact numpy-oracle pytest in
    tests/test_audio_quality.py. Same single mapInPandas decode pass as
    q44 (three extra reduceat sums, no extra scan)."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    feats = media.audio_features(clips, extended=True)
    return feats.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("dc_offset"), 6).alias("mean_dc"),
        F.sum((F.col("clip_ratio") > 0.01).cast("long")).alias("n_clipped"),
        F.sum((F.col("silence_ratio") > 0.5).cast("long")).alias("n_silent"),
        F.sum((F.abs(F.col("dc_offset")) > 0.01).cast("long")).alias("n_dc_biased"),
    )


@q(
    "q81_rate_anomaly",
    """
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, MEDIAN(CAST(n_events AS DOUBLE)) AS med FROM c
        GROUP BY 1
    ),
    d AS (
        SELECT c.*, m.med FROM c JOIN m USING (event_type)
    ),
    md AS (
        SELECT event_type, MEDIAN(abs(n_events - med)) AS mad FROM d
        GROUP BY 1
    )
    SELECT d.event_type, bucket_ts, CAST(n_events AS BIGINT) AS n_events,
           ROUND(med, 6) AS med_rate,
           ROUND(mad, 6) AS mad_rate,
           ROUND(0.6745 * (n_events - med) / NULLIF(mad, 0.0), 6) AS robust_z,
           CAST(CASE WHEN mad = 0.0
                     THEN CASE WHEN n_events != med THEN 1 ELSE 0 END
                     WHEN abs(0.6745 * (n_events - med) / mad) > 3.5
                     THEN 1 ELSE 0 END AS INTEGER) AS anomalous
    FROM d JOIN md USING (event_type)
    """,
)
def q81(spark, sf_dir):
    """Ingestion-rate anomaly monitor (outliers.rate_anomaly): per
    (event_type, hour) event counts scored with a robust MAD z against the
    type's own rate history — flags producer stalls and replay storms at
    the bucket level before any row-level check runs. Detail rows collapse
    to a tiny (types x hours) count table first; both medians and both
    join-backs run broadcast on that aggregate."""
    from .operators import outliers

    return outliers.rate_anomaly(_t(spark, sf_dir, "events"))


@q("q80_payload_drift")
def q80(spark, sf_dir):
    """Payload-level drift detection (drift.payload_drift): PSI/KS over the
    decoded RMS-dBFS distribution between snapshots — the content-drift
    tier the metadata histograms (q32) cannot see. Two comparisons: a
    fresh generation from the same process (must NOT drift) and the same
    corpus re-mastered at 0.45x gain (must drift; ~-7 dB shift). The gain
    re-encode is driver-side fixture prep, like q55's staging — the
    measured plan is the two mapInPandas decode passes + hash-agg
    histograms. Binary payloads => rows-only driver check; exact numpy
    PSI oracle in tests/test_media_streaming.py."""
    from .functions import codecs
    from .operators import drift
    from .sources import synth

    base = synth.generate_clips(n_clips=300, n_parts=8, seed=7).clips.to_pandas()
    fresh = synth.generate_clips(n_clips=300, n_parts=8, seed=8).clips.to_pandas()
    gained = base.copy()
    gained["bytes"] = [
        codecs.encode(codecs.decode(b, c) * 0.45, c) if c in codecs.CODECS else b
        for b, c in zip(gained["bytes"], gained["codec"])
    ]
    a = spark.createDataFrame(base)
    out_same = drift.payload_drift(a, spark.createDataFrame(fresh)).select(
        F.lit("same_dist").alias("snapshot"), "*"
    )
    out_gain = drift.payload_drift(a, spark.createDataFrame(gained)).select(
        F.lit("gain_shift").alias("snapshot"), "*"
    )
    return out_same.unionByName(out_gain)


@q(
    "q78_segment_plan",
    """
    WITH d AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) * 60 AS dur
        FROM documents WHERE length(text) > 0
    ),
    k AS (
        SELECT doc_id, dur,
               CASE WHEN dur <= 30000 THEN 0
                    ELSE CAST(ceil((dur - 30000) / 15000.0) AS BIGINT)
               END AS k_max
        FROM d
    ),
    s AS (
        SELECT doc_id, dur,
               unnest(generate_series(0, k_max)) AS seg_idx
        FROM k
    )
    SELECT doc_id,
           CAST(seg_idx AS BIGINT) AS seg_idx,
           CAST(seg_idx * 15000 AS BIGINT) AS start_ms,
           CAST(LEAST(seg_idx * 15000 + 30000, dur) AS BIGINT) AS end_ms,
           CAST(LEAST(seg_idx * 15000 + 30000, dur) - seg_idx * 15000 AS BIGINT)
               AS seg_ms
    FROM s
    """,
)
def q78(spark, sf_dir):
    """Training-window segmentation plan (packing.segment_plan): every doc
    mapped to overlapping 30 s windows with a 15 s hop — the chunking step
    that turns arbitrary-length recordings into fixed-context training
    examples. Duration is derived deterministically from text length
    (60 ms/char) so the plan is SQL-expressible and hash-gated; the binary
    twin that actually cuts payload bytes on sample boundaries is
    q79_segment_slices.

    Plan: one codegen projection + explode(sequence) — no shuffle, no UDF;
    rows are generated executor-side (~dur/hop per item), so 10^12 clips
    segment without any driver involvement."""
    from .operators import packing

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select(
            "doc_id", (F.length("text").cast("long") * 60).alias("dur_ms")
        )
    )
    return packing.segment_plan(
        docs, id_col="doc_id", dur_col="dur_ms", window_ms=30_000, hop_ms=15_000
    )


@q("q79_segment_slices")
def q79(spark, sf_dir):
    """Materialized training windows (media.slice_segments): each clip's
    payload cut into 1 s / 0.5 s-hop segments on exact sample boundaries,
    geometry computed from the ACTUAL decodable sample count; unsliceable
    payloads (unknown codec, torn byte length) surface as slice_ok=false
    rows. Aggregated per partition: clips, segments, sliced bytes,
    unsliceable count, max segment end. Binary payloads => no SQL oracle;
    rows-only driver check + exact numpy oracle in
    tests/test_media_streaming.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=11)
    clips = spark.createDataFrame(t.clips.to_pandas())
    segs = media.slice_segments(clips, window_ms=1_000, hop_ms=500)
    return segs.groupBy("part").agg(
        # distinct grain: per PARTITION, bounded by rows-per-part (keyed agg)
        F.countDistinct("clip_id").alias("n_clips"),
        F.sum(F.col("slice_ok").cast("long")).alias("n_segs"),
        F.sum(F.when(F.col("slice_ok"), F.col("n_bytes")).otherwise(F.lit(0))).alias(
            "seg_bytes"
        ),
        F.sum((~F.col("slice_ok")).cast("long")).alias("n_unsliceable"),
        F.max(F.when(F.col("slice_ok"), F.col("end_samp"))).alias("max_end_samp"),
    )


@q(
    "q76_lm_quality_score",
    """
    WITH w AS (SELECT doc_id, {words} AS ws FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS big
           FROM w WHERE len(ws) >= 2),
    c2 AS (SELECT big, COUNT(*) AS c2 FROM bg GROUP BY big),
    c1 AS (SELECT split_part(big, ' ', 1) AS w1, COUNT(*) AS c1
           FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM (
              SELECT split_part(big, ' ', 1) AS w FROM bg
              UNION
              SELECT split_part(big, ' ', 2) FROM bg)),
    sc AS (SELECT bg.doc_id, c2.c2, c1.c1, v.v
           FROM bg JOIN c2 USING (big)
           JOIN c1 ON split_part(bg.big, ' ', 1) = c1.w1, v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((c2 + 1.0) / (c1 + v))), 6) AS lm_score
    FROM sc GROUP BY doc_id
    """.format(words=_sql_words(_sql_norm("text"))),
)
def q76(spark, sf_dir):
    """Bigram LM quality scoring (operators/lmscore.py — the CCNet-style
    perplexity filter tier): add-one-smoothed word-bigram model trained on
    the corpus itself, each doc scored by mean -ln P(w2|w1) (log-perplexity
    per bigram; the drop-the-tail filter signal).

    Plan: ONE bigram explode shared (lazy localCheckpoint) across model
    counts and the scoring side; hash-equi joins on bigram/context keys;
    V is a broadcast 1-row aggregate. min_count prunes the Zipf tail to
    keep the model broadcast-able at corpus scale (unused here so the
    oracle stays exact)."""
    from .operators import lmscore

    return lmscore.lm_scores(_t(spark, sf_dir, "documents"))


@q("q62_resample_audio")
def q62(spark, sf_dir):
    """Normalize-to-16kHz resampling (operators/media.py resample_audio):
    the standard audio training-data prep step — decode, np.interp linear
    resample, re-encode pcm_s16le; undecodable clips quarantine as ok=false.
    Binary transform => rows-only driver check; exact kernel + operator
    oracles in tests/test_resample.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=200, n_parts=4, seed=21)
    clips = spark.createDataFrame(t.clips.to_pandas())
    out = media.resample_audio(clips, target_sr=16000)
    return out.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_samples").alias("total_samples"),
        F.sum(F.length("bytes")).alias("total_bytes"),
    ).orderBy("ok")


@q(
    "q60_cube",
    """
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS priority,
           ROUND(SUM(o_totalprice), 4) AS total,
           CAST(COUNT(*) AS BIGINT)    AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q60(spark, sf_dir):
    """Cube aggregation (SURVEY.md §2.4 'missing vs Spark agg surface',
    completing q43's rollup): all 2^k grouping sets in one pass — Spark
    expands grouping-id partials map-side, so the detail table is scanned
    once for every subtotal combination. GROUPING() sentinels as in q43."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").alias("__g1"),
            F.grouping("o_orderpriority").alias("__g2"),
        )
        .select(
            F.when(F.col("__g1") == 1, "(all)").otherwise(F.col("o_orderstatus")).alias("status"),
            F.when(F.col("__g2") == 1, "(all)").otherwise(F.col("o_orderpriority")).alias("priority"),
            "total",
            "n",
        )
    )


# ===========================================================================
# training-data pipeline: text analysis
# ===========================================================================

def _langid_sql() -> str:
    score_cols = []
    for lang, markers in T.LANG_MARKERS.items():
        terms = " + ".join(
            "len(list_filter({w}, x -> x = '{m}'))".format(w=_sql_words("lower(text)"), m=m)
            for m in markers
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = list(T.LANG_MARKERS)
    expr, best = f"'{langs[0]}'", f"s_{langs[0]}"
    for lang in langs[1:]:
        expr = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"GREATEST({best}, s_{lang})"
    return """
    WITH s AS (SELECT doc_id, lang, {scores} FROM documents)
    SELECT doc_id, lang AS labeled_lang, {expr} AS predicted_lang FROM s
    """.format(scores=", ".join(score_cols), expr=expr)


@q("q27_lang_id", _langid_sql())
def q27(spark, sf_dir):
    """Marker-word language id (functions/text.py). Parity of the heuristic
    is asserted; the synthetic corpus is shared-vocabulary so accuracy is
    not the point (SURVEY.md §5)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.predicted_lang(F.col("text")).alias("predicted_lang"),
    )


@q(
    "q28_quality_score",
    """
    SELECT doc_id,
           CAST(len({w}) AS INT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INT) AS n_punct,
           ROUND((LEAST(len({w}) / 50.0, 1.0)
                + GREATEST(0.0, 1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
                                      / GREATEST(len({w}), 1))
                + LEAST(1.0, (CASE WHEN len({w}) > 0
                              THEN CAST(len(list_filter({wl}, x -> x IN ('the','a','of','to','and'))) AS DOUBLE)
                                   / len({wl})
                              ELSE 0.0 END) * 5.0)) / 3.0, 6) AS quality
    FROM documents
    """.format(w=_sql_words("text"), wl=_sql_words("lower(text)")),
)
def q28(spark, sf_dir):
    """Document quality scoring: length/punctuation/stopword composite
    (functions/text.py; features_engineering quality-feature analogue)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.word_count(F.col("text")).alias("n_words"),
        T.punct_count(F.col("text")).cast("int").alias("n_punct"),
        T.quality_score(F.col("text")).alias("quality"),
    )


@q(
    "q29_token_count",
    """
    SELECT doc_id,
           CAST(len({w}) AS INT)                                             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{tok}')) AS INT)               AS bpe_tokens
    FROM documents
    """.format(w=_sql_words("text"), tok=T.TOKEN_REGEX),
)
def q29(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex (functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.word_count(F.col("text")).alias("ws_tokens"),
        T.bpe_token_count(F.col("text")).cast("int").alias("bpe_tokens"),
    )


@q(
    "q30_fingerprint",
    "SELECT doc_id, md5({norm}) AS fp FROM documents".format(norm=_sql_norm("text")),
)
def q30(spark, sf_dir):
    """Content fingerprint over normalized text (functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint_md5(F.col("text")).alias("fp"))


# ===========================================================================
# engine checks as relational queries: column stats + drift
# ===========================================================================

@q(
    "q31_column_stats",
    """
    SELECT 'l_quantity' AS column,
           ROUND(MIN(l_quantity), 6) AS min, ROUND(MAX(l_quantity), 6) AS max,
           ROUND(AVG(l_quantity), 6) AS mean, ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev,
           ROUND(CAST(COUNT(*) - COUNT(l_quantity) AS DOUBLE) / COUNT(*), 6) AS null_rate,
           COUNT(*) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           ROUND(MIN(l_extendedprice), 6), ROUND(MAX(l_extendedprice), 6),
           ROUND(AVG(l_extendedprice), 6), ROUND(STDDEV_SAMP(l_extendedprice), 6),
           ROUND(CAST(COUNT(*) - COUNT(l_extendedprice) AS DOUBLE) / COUNT(*), 6),
           COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           ROUND(MIN(l_discount), 6), ROUND(MAX(l_discount), 6),
           ROUND(AVG(l_discount), 6), ROUND(STDDEV_SAMP(l_discount), 6),
           ROUND(CAST(COUNT(*) - COUNT(l_discount) AS DOUBLE) / COUNT(*), 6),
           COUNT(*)
    FROM lineitem
    """,
)
def q31(spark, sf_dir):
    """North-rule column stats (operators/column_stats.py): one agg pass,
    every stat for every column."""
    li = _t(spark, sf_dir, "lineitem")
    out = CS.column_stats(li, numeric_cols=["l_quantity", "l_extendedprice", "l_discount"])
    return out.select(
        "column",
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        F.round("null_rate", 6).alias("null_rate"),
        "n_rows",
    )


@q(
    "q32_drift_psi_ks",
    """
    WITH binned AS (
      SELECT (l_returnflag = 'R') AS snap,
             CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) / 5500.0), 0), 19) AS INT) AS bin
      FROM lineitem),
    counts AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (WHERE NOT snap) AS DOUBLE) AS e,
             CAST(COUNT(*) FILTER (WHERE snap) AS DOUBLE)     AS a
      FROM binned GROUP BY bin),
    probs AS (
      SELECT bin,
             GREATEST(e / SUM(e) OVER (), 1e-9) AS pe,
             GREATEST(a / SUM(a) OVER (), 1e-9) AS pa
      FROM counts),
    cdf AS (
      SELECT SUM(pa - pe) OVER (ORDER BY bin) AS d,
             (pa - pe) * LN(pa / pe)          AS term
      FROM probs)
    SELECT ROUND(SUM(term), 6) AS psi, ROUND(MAX(ABS(d)), 6) AS ks FROM cdf
    """,
)
def q32(spark, sf_dir):
    """Distribution drift: PSI + KS between two snapshots of lineitem
    (returnflag='R' vs rest) over a 20-bin equi-width histogram — the
    north-rule drift check expressed fully relationally (operators/drift.py
    is the collect-to-numpy variant used by the suite runner)."""
    li = _t(spark, sf_dir, "lineitem")
    b = F.least(
        F.greatest(F.floor((F.col("l_extendedprice") - 0.0) / 5500.0), F.lit(0)), F.lit(19)
    ).cast("int")
    counts = (
        li.select((F.col("l_returnflag") == "R").alias("snap"), b.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(~F.col("snap"), 1).otherwise(0)).cast("double").alias("e"),
            F.sum(F.when(F.col("snap"), 1).otherwise(0)).cast("double").alias("a"),
        )
    )
    wall = Window.partitionBy()
    probs = counts.select(
        "bin",
        F.greatest(F.col("e") / F.sum("e").over(wall), F.lit(1e-9)).alias("pe"),
        F.greatest(F.col("a") / F.sum("a").over(wall), F.lit(1e-9)).alias("pa"),
    )
    wcdf = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = probs.select(
        F.sum(F.col("pa") - F.col("pe")).over(wcdf).alias("d"),
        ((F.col("pa") - F.col("pe")) * F.log(F.col("pa") / F.col("pe"))).alias("term"),
    )
    return cdf.agg(F.round(F.sum("term"), 6).alias("psi"), F.round(F.max(F.abs(F.col("d"))), 6).alias("ks"))


# ===========================================================================
# clips engine smoke (non-SQL-expressible: binary audio decode)
# ===========================================================================

@q("q33_payload_validate")
def q33(spark, sf_dir):
    """Audio payload validation summary on a deterministic synthesized clips
    table (binary decode in Arrow-batched pandas UDFs — no SQL oracle
    possible; the driver records a rows-only check, and
    tests/test_payload.py asserts exact violation parity against the
    generator sidecar)."""
    from .operators import payload
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    ref = spark.createDataFrame(t.clips_ref.to_pandas())
    rep = payload.payload_report(clips, ref)
    return rep.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.sum((F.coalesce(F.col("snr_db"), F.lit(-1e9)) >= 30.0).cast("long")).alias("n_snr_ok"),
        F.sum(F.col("transcript_ok").cast("long")).alias("n_transcript_ok"),
    )


# ===========================================================================
# §2.5 ordered per-group procedures (W1-W3) + remaining agg families
# ===========================================================================

@q(
    "q34_active_duration",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) AS us,
             CASE WHEN event_type = 'view'
                   AND LAG(epoch_us(ts)) OVER w IS NOT NULL
                  THEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w ELSE 0 END AS pause_us,
             CASE WHEN event_type = 'view'
                   AND LAG(epoch_us(ts)) OVER w IS NOT NULL
                  THEN 1 ELSE 0 END AS is_pause
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
    SELECT user_id,
           (MAX(us) - MIN(us)) / 1000.0                  AS total_ms,
           SUM(pause_us) / 1000.0                        AS pause_ms,
           ((MAX(us) - MIN(us)) - SUM(pause_us)) / 1000.0 AS active_ms,
           CAST(SUM(is_pause) AS BIGINT)                 AS n_pauses
    FROM g GROUP BY user_id
    """,
)
def q34(spark, sf_dir):
    """W2 analogue (features_engineering/nodes.py:188-222): session span
    minus pause gaps, bound to the explicit event_id order — fully native
    lag-window + aggregate, one shuffle. Integer-microsecond arithmetic end
    to end; the single /1000.0 at the output is the same double op in both
    engines."""
    ev = _t(spark, sf_dir, "events")
    return procedures.active_duration(
        ev, group_col="user_id", order_col="event_id", ts_col="ts",
        type_col="event_type", pause_type="view",
    )


@q(
    "q35_pace_ratio",
    """
    WITH o AS (
      SELECT user_id,
             COUNT(*) OVER wf                            AS nf,
             MEDIAN(CAST(value AS DOUBLE)) OVER wf       AS mf,
             COUNT(*) OVER wb                            AS nb,
             MEDIAN(CAST(value AS DOUBLE)) OVER wb       AS mb,
             COUNT(*) OVER (PARTITION BY user_id)        AS n
      FROM events
      WINDOW wf AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(CASE WHEN nf >= GREATEST(n // 4, 1) AND nb >= GREATEST(n // 4, 1)
                          THEN mb / mf END), 6) AS max_pace_ratio
    FROM o GROUP BY user_id
    """,
)
def q35(spark, sf_dir):
    """W1 analogue (features_engineering/nodes.py:143-185): forward/backward
    expanding medians with min_periods = n//4, max backward/forward ratio.
    Spark side is grouped-map applyInPandas (running medians have no native
    expression); the oracle rebuilds it with framed window medians."""
    ev = _t(spark, sf_dir, "events")
    out = procedures.pace_max_ratio(
        ev, group_col="user_id", order_col="event_id", value_col="value", min_frac=4
    )
    return out.select("user_id", "n", F.round("max_pace_ratio", 6).alias("max_pace_ratio"))


_BACKTRACK_RELATED = {"error": ["click", "view"], "purchase": ["signup"]}


@q(
    "q36_backtracks",
    """
    WITH rel AS (
      SELECT * FROM (VALUES ('error','click'), ('error','view'), ('purchase','signup'))
             AS t(ttype, rtype)),
    trig AS (
      SELECT user_id, event_id, event_type FROM events
      WHERE event_type IN ('error','purchase') AND value > 10.0),
    hits AS (
      SELECT tr.user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM trig tr
      JOIN rel r ON tr.event_type = r.ttype
      JOIN events b ON b.user_id = tr.user_id AND b.event_type = r.rtype
                   AND b.event_id > tr.event_id
      GROUP BY tr.user_id)
    SELECT u.user_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_backtracks
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN hits h USING (user_id)
    """,
)
def q36(spark, sf_dir):
    """W3 analogue (features_engineering/nodes.py:387-439): per group, count
    later occurrences of types related to each trigger row. The reference's
    O(n^2) iterrows scan becomes a suffix-count vectorization inside
    applyInPandas with the small relation matrix in the closure (J7
    analogue); the oracle is the equivalent self-join."""
    ev = _t(spark, sf_dir, "events")
    return procedures.backtrack_count(
        ev, related=_BACKTRACK_RELATED, group_col="user_id", order_col="event_id",
        type_col="event_type", value_col="value", threshold=10.0,
    )


@q(
    "q37_two_level_agg",
    """
    WITH spans AS (
      SELECT user_id, event_type,
             date_diff('microsecond', MIN(ts), MAX(ts)) AS span_us
      FROM events GROUP BY user_id, event_type),
    with_med AS (
      SELECT user_id,
             span_us - MEDIAN(CAST(span_us AS DOUBLE)) OVER (PARTITION BY event_type) AS resid
      FROM spans)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)            AS n_groups,
           ROUND(SUM(resid) / 1000.0, 4)       AS resid_sum_ms,
           ROUND(MEDIAN(CAST(resid AS DOUBLE)) / 1000.0, 4) AS resid_median_ms,
           ROUND(STDDEV_SAMP(resid) / 1000.0, 4)            AS resid_stddev_ms
    FROM with_med GROUP BY user_id
    """,
)
def q37(spark, sf_dir):
    """Two-level aggregation (SURVEY.md A7, features_engineering/nodes.py:
    71-86): (user,type) spans -> median span per type (window over the
    GROUPED table, tiny) -> per-user residual stats. Two shuffles total:
    the group-by and the window; the detail table is aggregated before any
    window touches it."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("span_us")
    )
    w = Window.partitionBy("event_type")
    resid = spans.withColumn("resid", F.col("span_us") - F.median("span_us").over(w))
    return resid.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.round(F.sum("resid") / 1000.0, 4).alias("resid_sum_ms"),
        F.round(F.median("resid") / 1000.0, 4).alias("resid_median_ms"),
        F.round(F.stddev_samp("resid") / 1000.0, 4).alias("resid_stddev_ms"),
    )


@q(
    "q38_time_range_check",
    """
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S')  AS first_ts,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S')  AS last_ts,
           HOUR(MIN(ts)) BETWEEN 7 AND 18          AS daytime_start,
           CAST(MIN(ts) AS DATE) = CAST(MAX(ts) AS DATE) AS same_day
    FROM events GROUP BY user_id
    """,
)
def q38(spark, sf_dir):
    """Time-range check (SURVEY.md A8, features_engineering/nodes.py:
    108-139): first/last timestamps + daytime/same-day flags — the
    reference's row-wise apply(check_daytime) replaced by native
    hour()/to_date() comparisons."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.hour(F.min("ts")).between(7, 18).alias("daytime_start"),
        (F.to_date(F.min("ts")) == F.to_date(F.max("ts"))).alias("same_day"),
    )


@q(
    "q39_format_columns",
    """
    SELECT CAST(event_id AS VARCHAR)  AS id,
           CAST(user_id AS INT)       AS uid,
           CAST(value AS DOUBLE)      AS amount,
           CAST(event_type AS VARCHAR) AS kind
    FROM events
    """,
)
def q39(spark, sf_dir):
    """Config-driven rename+cast+project (SURVEY.md P1, data_processing/
    nodes.py:14-47) — one select, so Catalyst prunes the scan to exactly
    the mapped columns (operators/schema_check.py format_columns)."""
    ev = _t(spark, sf_dir, "events")
    return SC.format_columns(
        ev,
        {
            "id": ("event_id", "string"),
            "uid": ("user_id", "int"),
            "amount": ("value", "double"),
            "kind": ("event_type", "string"),
        },
    )


@q(
    "q40_ensemble_vote",
    """
    SELECT event_id,
           CASE WHEN value > 15 THEN 1 ELSE 0 END AS m1,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS m2,
           CASE WHEN props IS NULL THEN 1 ELSE 0 END AS m3,
           CASE WHEN value > 15
                 AND (CASE WHEN value > 15 THEN 1 ELSE 0 END
                    + CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                    + CASE WHEN props IS NULL THEN 1 ELSE 0 END) >= 2
                THEN 1 ELSE 0 END AS anomaly_prediction
    FROM events
    """,
)
def q40(spark, sf_dir):
    """Ensemble vote conditional (model_output/nodes.py:23-39: -1/1 remap +
    'primary model fires AND >= 2 of 3 agree'): three detector flags with
    the same vote rule over deterministic predicates."""
    ev = _t(spark, sf_dir, "events")
    m1 = F.when(F.col("value") > 15, 1).otherwise(0)
    m2 = F.when(F.col("event_type") == "error", 1).otherwise(0)
    m3 = F.when(F.col("props").isNull(), 1).otherwise(0)
    vote = F.when((m1 == 1) & ((m1 + m2 + m3) >= 2), 1).otherwise(0)
    return ev.select(
        "event_id", m1.alias("m1"), m2.alias("m2"), m3.alias("m3"),
        vote.alias("anomaly_prediction"),
    )


@q(
    "q41_grouped_ci",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)            AS n,
           ROUND(AVG(value), 6)                AS mean,
           ROUND(1.96 * STDDEV_SAMP(value) / SQRT(COUNT(*)), 6) AS ci95_half_width
    FROM events GROUP BY event_type
    """,
)
def q41(spark, sf_dir):
    """Grouped mean + normal-approx 95% CI half-width (SURVEY.md A20,
    plot_tools.py:294-344; z=1.96 literal as the reference's t-quantile
    stand-in at large n)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.lit(1.96) * F.stddev_samp("value") / F.sqrt(F.count(F.lit(1))), 6).alias(
            "ci95_half_width"
        ),
    )


@q(
    "q42_discrete_classify",
    """
    SELECT 'event_type' AS column, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct,
           COUNT(DISTINCT event_type) <= 20 AS is_discrete
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(DISTINCT user_id) AS BIGINT),
           COUNT(DISTINCT user_id) <= 20
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(DISTINCT value) AS BIGINT),
           COUNT(DISTINCT value) <= 20
    FROM events
    """,
)
def q42(spark, sf_dir):
    """Variable-type classification by distinct cardinality (SURVEY.md A21,
    plot_tools.py:38-59). Exact here for oracle parity; the 10^12-row path
    swaps approx_count_distinct — same plan shape, no extra shuffle."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    for c in ["event_type", "user_id", "value"]:
        parts.append(
            ev.agg(
                F.lit(c).alias("column"),
                F.countDistinct(c).alias("n_distinct"),
                (F.countDistinct(c) <= 20).alias("is_discrete"),
            ).select("column", "n_distinct", "is_discrete")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@q(
    "q43_rollup",
    """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT)  AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q43(spark, sf_dir):
    """Rollup / grouping-sets (SURVEY.md §2.4 'missing vs Spark agg
    surface') — subtotals + grand total in one pass via partial aggregation
    with grouping-id expansion. GROUPING() sentinels keep the output
    null-free (subtotal rows are distinguishable from genuine null keys and
    the driver's sort-based hash never compares None with str)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").alias("__g1"),
            F.grouping("l_linestatus").alias("__g2"),
        )
        .select(
            F.when(F.col("__g1") == 1, "(all)").otherwise(F.col("l_returnflag")).alias("returnflag"),
            F.when(F.col("__g2") == 1, "(all)").otherwise(F.col("l_linestatus")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


# ===========================================================================
# multimodal: audio features / image metadata / video frame plans
# ===========================================================================

@q("q44_audio_features")
def q44(spark, sf_dir):
    """Audio feature extraction (operators/media.py): batch-vectorized decode
    -> RMS/peak/ZCR per clip over a deterministic synthesized clips table.
    Binary decode => no SQL oracle; driver records rows-only; pytest asserts
    a per-clip numpy oracle (tests/test_media_streaming.py)."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    feats = media.audio_features(clips)
    return feats.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.round(F.avg("rms"), 6).alias("mean_rms"),
        F.round(F.avg("zcr"), 6).alias("mean_zcr"),
    )


@q("q95_loudness_audit")
def q95(spark, sf_dir):
    """Loudness-normalization gain / clipping-headroom audit
    (operators/media.loudness_audit over audio_features): per clip the gain
    to hit -20 dBFS RMS, the headroom before the peak clips, and a verdict
    (ok / boost / boost_clips / attenuate / undecodable) — boost_clips rows
    are the clips a normalizing pipeline must limit or quarantine. Binary
    decode => rows-only for the driver; exact numpy dBFS oracle in
    tests/test_loudness.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    audit = media.loudness_audit(media.audio_features(clips))
    return audit.groupBy("part", "verdict").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("gain_db"), 6).alias("mean_gain_db"),
        F.round(F.min("headroom_db"), 6).alias("min_headroom_db"),
    )


@q("q102_transcode_qa")
def q102(spark, sf_dir):
    """Transcode round-trip fidelity audit (operators/media.transcode_qa):
    per clip, SNR of decode -> re-encode-to-ulaw -> decode vs the original
    PCM, with transparent/acceptable/degraded/undecodable verdicts — run
    before bulk-transcoding a corpus to a cheaper codec. Vectorized
    concat decode + one samplewise encode + reduceat SNR sums; binary
    decode => rows-only for the driver, exact numpy oracle in
    tests/test_transcode.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    qa = media.transcode_qa(clips, target_codec="ulaw")
    return qa.groupBy("part", "verdict").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("snr_db"), 6).alias("mean_snr_db"),
        F.round(F.min("snr_db"), 6).alias("min_snr_db"),
    )


@q("q104_bandwidth_audit")
def q104(spark, sf_dir):
    """Upsampled-content detection (operators/media.bandwidth_audit): ZCR
    x sr/2 bandwidth proxy vs the declared Nyquist budget — flags clips
    whose content is band-limited far below the container rate (naive
    upsampling / storage waste). Catalyst over one audio_features pass;
    rows-only for the driver, sine/noise numpy oracle in
    tests/test_transcode.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    audit = media.bandwidth_audit(media.audio_features(clips), clips)
    return audit.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("band_limited").cast("long")).alias("n_band_limited"),
        F.round(F.avg("bw_ratio"), 6).alias("mean_bw_ratio"),
    )


@q("q105_partition_health")
def q105(spark, sf_dir):
    """Table-maintenance audit (sources/tableio.partition_health): per
    Iceberg-style partition, file/row/byte counts from parquet FOOTERS only
    plus a small-file compaction recommendation — the decision table for
    rewrite_data_files. Deterministic synthesized table (seeded synth);
    manifest-grain driver work, rows-only for the driver; planted-small-file
    pytest in tests/test_synth.py."""
    import tempfile

    from .sources import synth, tableio

    d = tempfile.mkdtemp(prefix="q105_")
    t = synth.generate_clips(n_clips=800, n_parts=8, seed=7)
    synth.write_clip_tables(t, d)
    import os

    return tableio.partition_health(spark, os.path.join(d, "clips"), target_file_mb=1.0)


@q("q112_dup_locality")
def q112(spark, sf_dir):
    """Duplicate-locality audit (operators/uniqueness.dup_locality_report):
    do duplicated keys stay inside one storage partition (bucket contract
    holds -> per-partition checks are complete and resumable) or straddle
    partitions (must flip to key_partitioned=False)? One two-phase agg to
    dup-key grain + a one-row summary. Runs on the deterministic synth
    clips table whose injector plants intra-partition dups; rows-only for
    the driver, planted cross-partition pytest in tests/test_fk_matrix.py."""
    from .operators import uniqueness as u
    from .sources import synth

    t = synth.generate_clips(n_clips=800, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    return u.dup_locality_report(clips)


@q("q117_byte_length_audit")
def q117(spark, sf_dir):
    """Pre-decode byte-length triage (operators/payload.byte_length_audit):
    declared (dur_ms, sr_hz, codec) vs actual payload byte length — finds
    truncated/mis-codec'd/mis-unit clips in a pure codegen projection, no
    decode. The cheap tier in front of the SNR check (q33). Rows-only for
    the driver; planted-violation pytest in tests/test_payload.py."""
    from .operators import payload as payload_ops
    from .sources import synth

    t = synth.generate_clips(n_clips=800, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    audit = payload_ops.byte_length_audit(clips)
    return audit.groupBy("part", "verdict").agg(F.count(F.lit(1)).alias("n"))


@q("q124_transcript_reuse")
def q124(spark, sf_dir):
    """Label-reuse audit (operators/uniqueness.transcript_reuse):
    transcripts attached to more than one distinct audio payload — the
    inverse of exact dedup (one text, many recordings: re-recordings or a
    fanned-out join). Payload bytes reduce to md5 digests inside the scan;
    rows-only for the driver, planted-reuse pytest in tests/test_fk_matrix.py."""
    from .operators import uniqueness as u
    from .sources import synth

    t = synth.generate_clips(n_clips=800, n_parts=8, seed=7)
    clips = spark.createDataFrame(t.clips.to_pandas())
    # the synth injector duplicates FULL rows (same audio), so plant one
    # deterministic reuse: re-record clip 0 with one extra byte of audio
    rerecorded = clips.where(F.col("clip_id") == "clip-0007-00000000").withColumn(
        "bytes", F.concat(F.col("bytes"), F.lit(bytearray(b"\x00\x00")))
    )
    return u.transcript_reuse(clips.unionByName(rerecorded))


@q("q134_dropout_audit")
def q134(spark, sf_dir):
    """Interior-dropout detection (operators/media.dropout_audit): runs of
    digital silence >= 30 ms strictly INSIDE the clip — buffer underruns /
    network dropouts the global silence_ratio signal cannot separate from
    room tone. Fixture plants 50 ms mid-clip zero windows into a
    deterministic subset of synth clips (decode -> zero -> re-encode, so
    the gap survives the clip's own codec, including A-law's nonzero zero
    code). Binary decode => rows-only for the driver; exact run-length
    numpy oracle in tests/test_dropout.py."""
    import numpy as np

    from .functions import codecs
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    pdf = t.clips.to_pandas()
    for i in range(0, len(pdf), 9):  # deterministic ~11% subset
        c, b, sr = pdf.at[i, "codec"], pdf.at[i, "bytes"], int(pdf.at[i, "sr_hz"])
        if (
            c in codecs.CODECS
            and b
            and sr > 0
            and len(b) % codecs.bytes_per_sample(c) == 0
        ):
            pcm = np.array(codecs.decode(b, c), dtype=np.float64)
            w = int(sr * 0.05)  # 50 ms gap
            s = len(pcm) // 4
            if s > 0 and s + w < len(pcm) - 1:
                pcm[s : s + w] = 0.0
                pdf.at[i, "bytes"] = codecs.encode(pcm, c)
    clips = spark.createDataFrame(pdf)
    audit = media.dropout_audit(clips, min_run_ms=30.0)
    return audit.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_dropouts") > 0).cast("long")).alias("n_with_dropouts"),
        F.sum("n_dropouts").alias("total_dropouts"),
        F.round(F.max("max_dropout_ms"), 3).alias("max_dropout_ms"),
    )


@q("q135_codec_sniff")
def q135(spark, sf_dir):
    """Mislabeled-codec sniff (operators/payload.codec_sniff_audit): decode
    under the declared codec AND every byte-length-consistent alternative,
    flag clips whose declared decode is noise-like while an alternative is
    plausible — the ulaw<->alaw swap byte_length arithmetic cannot see and
    the SNR check misses without a ref row. Fixture swaps the declared law
    on a deterministic subset of G.711 clips (bytes untouched). Binary
    decode => rows-only for the driver; planted-swap exact oracle in
    tests/test_codec_sniff.py."""
    from .operators import payload as payload_ops
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    pdf = t.clips.to_pandas()
    swap = {"ulaw": "alaw", "alaw": "ulaw"}
    for i in range(0, len(pdf), 7):  # deterministic ~14% subset
        c = pdf.at[i, "codec"]
        if c in swap:
            pdf.at[i, "codec"] = swap[c]
    audit = payload_ops.codec_sniff_audit(spark.createDataFrame(pdf))
    return audit.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("suspect_codec").cast("long")).alias("n_suspect"),
        F.round(F.avg(F.when(F.col("suspect_codec"), F.col("roughness_ratio"))), 4).alias(
            "mean_suspect_ratio"
        ),
    )


@q("q136_tonal_audit")
def q136(spark, sf_dir):
    """Synthetic-tone detection (operators/media.tonal_audit): Hann-windowed
    spectral flatness separates machine-generated narrowband tones (test
    signals, IVR beeps, placeholder sines — no broadband noise floor,
    flatness <= ~1e-4) from recorded-style content (>= ~2e-2), a content-
    provenance class every byte/SNR tier passes. Fixture plants pure-tone
    swaps via the synth injector's independent tone stream (tone_rate).
    Binary decode + FFT => rows-only for the driver; per-codec planted-tone
    exact oracle in tests/test_tonal.py."""
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7, tone_rate=0.03)
    clips = spark.createDataFrame(t.clips.to_pandas())
    audit = media.tonal_audit(clips)
    return audit.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("tonal").cast("long")).alias("n_tonal"),
        F.round(F.min(F.when(F.col("tonal"), F.col("dominant_hz"))), 1).alias(
            "min_tonal_hz"
        ),
        F.round(F.max(F.when(F.col("tonal"), F.col("dominant_hz"))), 1).alias(
            "max_tonal_hz"
        ),
    )


@q(
    "q137_granularity_audit",
    """
    WITH b AS (SELECT event_type,
                      CAST(FLOOR(value * 100) AS BIGINT) + 1 AS v0
               FROM events WHERE value IS NOT NULL),
    p AS (SELECT event_type,
                 CASE WHEN event_type = 'view' THEN v0 * 100
                      WHEN event_type = 'click' THEN v0 * 10
                      ELSE v0 END AS v
          FROM b),
    g AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CASE WHEN abs(v) % 10 = 0 THEN 1 ELSE 0 END) AS m10,
                 SUM(CASE WHEN abs(v) % 100 = 0 THEN 1 ELSE 0 END) AS m100,
                 SUM(CASE WHEN abs(v) % 1000 = 0 THEN 1 ELSE 0 END) AS m1000,
                 CAST(COUNT(DISTINCT abs(v) % 100) AS BIGINT) AS n_res_100
          FROM p GROUP BY event_type)
    SELECT event_type, n,
           CAST(FLOOR(CAST(m10 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS ppm_mult_10,
           CAST(FLOOR(CAST(m100 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS ppm_mult_100,
           CAST(FLOOR(CAST(m1000 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS ppm_mult_1000,
           n_res_100,
           CASE WHEN FLOOR(CAST(m1000 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) >= 990000 THEN 'quantized_1000'
                WHEN FLOOR(CAST(m100 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) >= 990000 THEN 'quantized_100'
                WHEN FLOOR(CAST(m10 AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) >= 990000 THEN 'quantized_10'
                ELSE 'unit' END AS granularity
    FROM g
    """,
)
def q137(spark, sf_dir):
    """Producer-quantization audit (operators/column_stats.py:
    granularity_audit): per-group share of values that are exact multiples
    of 10/100/1000 plus distinct residues mod 100 — one producer rounding
    dur_ms to deciseconds/seconds while others log millisecond grain. The
    precision loss stays in range, keeps its magnitude decade (q133's
    mixed-unit audit is blind to it) and drifts no histogram coarser than
    the quantum. Fixture plants x100 quantization on 'view' and x10 on
    'click' (the q133 planting pattern); the audit must name each grain
    and report the rest as 'unit'.

    Plan: one scan -> one per-group hash agg with map-side combine; the
    distinct aggregate runs over abs(v) % 100 (domain <= 100), so its
    expand carries <= 100 rows per group at any input size. ppm shares are
    FLOOR(m*1e6/n) integer-domain arithmetic — bit-identical across
    engines."""
    ev = _t(spark, sf_dir, "events")
    v0 = F.floor(F.col("value") * 100).cast("bigint") + F.lit(1)
    planted = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.when(F.col("event_type") == "view", v0 * 100)
        .when(F.col("event_type") == "click", v0 * 10)
        .otherwise(v0)
        .alias("v"),
    )
    return CS.granularity_audit(planted, "v", "event_type")


@q("q138_stutter_audit")
def q138(spark, sf_dir):
    """Stuck-buffer detection (operators/media.stutter_audit): runs of >= 3
    bit-identical non-silent 20 ms frames — a looping DMA/jitter buffer
    repeating real audio, the CONTENT sibling of q134's silence dropouts
    (identical silent frames are excluded here; dropout owns them). Real
    recordings never repeat a frame bit-exactly, and the stateless codecs
    preserve source-frame identity through encode/decode. Fixture tiles one
    20 ms frame 5x into a deterministic subset of synth clips (decode ->
    tile -> re-encode). Binary decode => rows-only for the driver; exact
    frame-repeat oracle in tests/test_stutter.py."""
    import numpy as np

    from .functions import codecs
    from .operators import media
    from .sources import synth

    t = synth.generate_clips(n_clips=400, n_parts=8, seed=7)
    pdf = t.clips.to_pandas()
    for i in range(0, len(pdf), 9):  # deterministic ~11% subset
        c, b, sr = pdf.at[i, "codec"], pdf.at[i, "bytes"], int(pdf.at[i, "sr_hz"])
        if (
            c in codecs.CODECS
            and b
            and sr > 0
            and len(b) % codecs.bytes_per_sample(c) == 0
        ):
            pcm = np.array(codecs.decode(b, c), dtype=np.float64)
            flen = int(round(sr * 0.020))
            s = len(pcm) // 4
            if s > 0 and s + 5 * flen < len(pcm) - 1:
                pcm[s : s + 5 * flen] = np.tile(pcm[s : s + flen], 5)
                pdf.at[i, "bytes"] = codecs.encode(pcm, c)
    clips = spark.createDataFrame(pdf)
    audit = media.stutter_audit(clips, frame_ms=20.0, min_repeats=3)
    return audit.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_stutters") > 0).cast("long")).alias("n_with_stutters"),
        F.max("max_repeat_frames").alias("max_repeat_frames"),
        F.round(F.max("stutter_ms_total"), 3).alias("max_stutter_ms"),
    )


@q(
    "q45_frame_plan",
    """
    WITH v AS (SELECT CAST(event_id AS VARCHAR) AS video_id,
                      24.0 + 6.0 * (user_id % 3)                AS fps,
                      CAST(FLOOR(1000 + (value * 37)) AS INT)   AS dur_ms
               FROM events WHERE event_id < 200)
    SELECT video_id,
           CAST(ROUND(k * 500.0 / 1000.0 * fps) AS INT) AS frame_idx,
           CAST(k * 500.0 AS DOUBLE)                    AS ts_ms
    FROM v, UNNEST(range(0, GREATEST(CAST(FLOOR(dur_ms / 500.0) AS INT) - 1, 0) + 1)) AS t(k)
    WHERE dur_ms IS NOT NULL AND dur_ms > 0
    """,
)
def q45(spark, sf_dir):
    """Video frame-sampling plan (operators/media.py): metadata -> one row
    per sampled frame via sequence+explode (UDTF-style generator, SURVEY.md
    §2.10 'no UDTFs' gap filled natively). The videos table is derived
    deterministically from events so the DuckDB oracle can rebuild it."""
    from .operators import media

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    videos = ev.select(
        F.col("event_id").cast("string").alias("video_id"),
        (F.lit(24.0) + 6.0 * (F.col("user_id") % 3)).alias("fps"),
        F.floor(F.lit(1000) + (F.col("value") * 37)).cast("int").alias("dur_ms"),
    )
    return media.frame_sample_plan(videos, every_ms=500.0)


@q(
    "q46_corr_covar",
    """
    SELECT event_type,
           ROUND(CORR(value, epoch_us(ts) / 1000000.0), 6)     AS corr_value_time,
           ROUND(COVAR_SAMP(value, value * 2.0), 6)            AS covar_vv2,
           ROUND(VAR_SAMP(value), 6)                           AS var_value
    FROM events GROUP BY event_type
    """,
)
def q46(spark, sf_dir):
    """Correlation / covariance / variance aggregates (extends the
    SURVEY.md A-class stat surface; all algebraic => map-side combine)."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    return ev.groupBy("event_type").agg(
        F.round(F.corr(F.col("value"), epoch), 6).alias("corr_value_time"),
        F.round(F.covar_samp(F.col("value"), F.col("value") * 2.0), 6).alias("covar_vv2"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
    )


@q(
    "q47_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    s AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g)
    SELECT user_id,
           CAST(session_no AS BIGINT)  AS session_no,
           CAST(COUNT(*) AS BIGINT)    AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS first_event
    FROM s GROUP BY user_id, session_no
    """,
)
def q47(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + conditional flag +
    running sum = session id — the event-log session semantics the reference
    hardcodes per-survey (W2 family), generalized and fully window-native."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_s = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000), 1
    ).otherwise(0)
    sessions = ev.withColumn("new_session", new_s).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


@q(
    "q48_topk_per_group",
    """
    SELECT user_id, event_id, value,
           CAST(rk AS INT) AS rk
    FROM (SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
          FROM events)
    WHERE rk <= 3
    """,
)
def q48(spark, sf_dir):
    """Top-k per group via rank window (SURVEY.md §2.5 'no ranking functions'
    gap + O2 top-k semantics, distributed). Spark pushes a per-partition
    top-k (WindowGroupLimit) below the shuffle, so the full sort never
    materializes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "event_id", "value", F.col("rk").cast("int").alias("rk"))
    )


# ===========================================================================
# CSV / JSON source-sink (S3/S5/S6) + table-driven substring-count join (J6)
# ===========================================================================

def _stage_dir(sf_dir: str, name: str) -> str:
    import hashlib

    return f"/tmp/sparkgraft_stage/{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}/{name}"


def _stage_once(sf_dir: str, name: str, writer) -> str:
    """Idempotent deterministic staging: write once per (sf_dir, name), keyed
    by the _SUCCESS marker."""
    import os

    d = _stage_dir(sf_dir, name)
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        writer(d)
    return d


@q(
    "q52_csv_union_scan",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                              AS n,
           ROUND(SUM(value), 4)                                  AS value_sum,
           CAST(COUNT(*) FILTER (WHERE props IS NULL) AS BIGINT) AS n_null_props
    FROM events GROUP BY event_type
    """,
)
def q52(spark, sf_dir):
    """CSV fan-out scan (SURVEY.md S3/S6, data_download/nodes.py:76-131):
    events staged to 4 header-bearing CSV part files, read back via
    read_csv_union (per-file header binding + name strip + source-id attach
    + widened union + width check), cast through the config-driven P1
    formatter, re-aggregated. The oracle aggregates the original parquet table —
    a hash match proves the CSV round-trip is value-exact including null
    round-tripping."""
    import glob

    from .sources import csvio

    def write(d):
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "props"
        )
        csvio.write_csv(ev, d, n_files=4)

    d = _stage_once(sf_dir, "events_csv", write)
    files = sorted(glob.glob(f"{d}/part-*.csv"))
    raw = csvio.read_csv_union(spark, files, id_col="source_id")
    ev = SC.format_columns(
        raw,
        {
            "event_type": ("event_type", "string"),
            "value": ("value", "double"),
            "props": ("props", "string"),
        },
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
    )


@q(
    "q53_json_roundtrip",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 6)     AS value_avg,
           ROUND(MAX(value), 2)     AS value_max
    FROM events GROUP BY event_type
    """,
)
def q53(spark, sf_dir):
    """JSON-lines sink + scan round trip (SURVEY.md S5, catalog.yml raw-JSON
    datasets): doubles survive at full precision; the scan binds an explicit
    DDL schema (no inference pass)."""
    from .sources import csvio

    def write(d):
        ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
        csvio.write_json(ev, d, n_files=2)

    d = _stage_once(sf_dir, "events_json", write)
    ev = csvio.read_json(spark, d, schema="event_id bigint, event_type string, value double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("value_avg"),
        F.round(F.max("value"), 2).alias("value_max"),
    )


@q(
    "q54_substring_count_join",
    """
    WITH pats AS (SELECT DISTINCT {w}[1] AS pattern FROM documents WHERE doc_id < 5)
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS match_count
    FROM (SELECT d.lang,
                 LEN(regexp_extract_all(d.text, p.pattern)) AS cnt
          FROM documents d, pats p)
    GROUP BY lang
    """.format(w=_sql_words("text")),
)
def q54(spark, sf_dir):
    """Table-driven substring-membership count join (SURVEY.md J6,
    features_engineering/nodes.py:300-335): patterns come from a reference
    DataFrame (here: first words of docs 0-4), broadcast as ONE collected
    array; per-group totals of regexp_count occurrences — no row explosion
    (operators/referential.py substring_count_join)."""
    d = _t(spark, sf_dir, "documents")
    patterns = (
        d.where(F.col("doc_id") < 5)
        .select(F.element_at(T.words(F.col("text")), 1).alias("pattern"))
        .distinct()
    )
    return referential.substring_count_join(
        d, patterns, text_col="text", group_cols=["lang"], out_col="match_count"
    )


# ===========================================================================
# anomaly-model ensemble scoring (model_training + model_output analogues)
# ===========================================================================

USER_FEATURE_COLS = ["n_events", "mean_value", "std_value", "n_errors", "max_value"]


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity feature table (features_engineering analogue): one row per
    user, numeric features only — the ensemble's fit/score input. Every
    feature is rounded at 6dp so the fit sample is bit-stable regardless of
    partial-aggregation order."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.coalesce(F.stddev_samp("value"), F.lit(0.0)), 6).alias("std_value"),
        F.sum((F.col("event_type") == "error").cast("long")).cast("double").alias("n_errors"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


ENSEMBLE_SEED = 20240817


def fit_user_ensemble(spark: SparkSession, sf_dir: str):
    from .operators import scoring

    feats = user_features(spark, sf_dir)
    return feats, scoring.fit_ensemble(
        feats, USER_FEATURE_COLS, id_col="user_id", seed=ENSEMBLE_SEED
    )


@q("q49_anomaly_ensemble")
def q49(spark, sf_dir):
    """3-detector anomaly ensemble (operators/scoring.py): seeded numpy
    IsolationForest + robust-z + kNN-distance, driver-side fit, broadcast-
    model mapInPandas scoring, native normalize + vote. Matches
    model_output/nodes.py:14-55 semantics (predict remap, invert-all-scores
    min-max mean, primary-AND-majority vote). Model scoring is not
    SQL-expressible -> rows-only driver check; pytest holds the exact-parity
    numpy oracle (tests/test_scoring.py)."""
    from .operators import scoring

    feats, model = fit_user_ensemble(spark, sf_dir)
    out = scoring.anomaly_output(scoring.score_ensemble(feats, model))
    return out.select(
        "user_id",
        "iforest_pred",
        "robust_z_pred",
        "knn_pred",
        "anomaly_prediction",
        F.round("anomaly_score", 6).alias("anomaly_score"),
    )


@q(
    "q50_ranked_anomalies",
    """
    WITH feats AS (
      SELECT user_id,
             CAST(COUNT(*) AS DOUBLE)   AS n_events,
             ROUND(AVG(value), 6)       AS mean_value,
             CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS DOUBLE)
               / COUNT(*)               AS err_rate,
             STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
      FROM events GROUP BY user_id),
    g1 AS (SELECT MEDIAN(CAST(mean_value AS DOUBLE)) AS med_mv,
                  MEDIAN(CAST(n_events AS DOUBLE))   AS med_ne FROM feats),
    g2 AS (SELECT MEDIAN(ABS(mean_value - med_mv)) AS mad_mv,
                  MEDIAN(ABS(n_events - med_ne))   AS mad_ne
           FROM feats, g1),
    z AS (SELECT f.user_id, f.first_ts, f.err_rate,
                 ABS(f.mean_value - med_mv) / GREATEST(1.4826 * mad_mv, 1e-9) AS z_mv,
                 ABS(f.n_events - med_ne)   / GREATEST(1.4826 * mad_ne, 1e-9) AS z_ne
          FROM feats f, g1, g2),
    nb AS (SELECT MIN(z_mv) AS lo1, MAX(z_mv) AS hi1,
                  MIN(z_ne) AS lo2, MAX(z_ne) AS hi2,
                  MIN(err_rate) AS lo3, MAX(err_rate) AS hi3 FROM z),
    scored AS (
      SELECT z.user_id, z.first_ts,
             CASE WHEN z_mv > 2 THEN 1 ELSE 0 END AS p1,
             CASE WHEN z_ne > 2 THEN 1 ELSE 0 END AS p2,
             CASE WHEN err_rate > 0.3 THEN 1 ELSE 0 END AS p3,
             ROUND(((CASE WHEN hi1 > lo1 THEN (z_mv - lo1) / (hi1 - lo1) ELSE 0.0 END)
                  + (CASE WHEN hi2 > lo2 THEN (z_ne - lo2) / (hi2 - lo2) ELSE 0.0 END)
                  + (CASE WHEN hi3 > lo3 THEN (err_rate - lo3) / (hi3 - lo3) ELSE 0.0 END))
                  / 3.0, 6) AS anomaly_score
      FROM z, nb)
    SELECT user_id, first_ts, p1, p2, p3,
           CASE WHEN p1 = 1 AND p1 + p2 + p3 >= 2 THEN 1 ELSE 0 END AS anomaly_prediction,
           anomaly_score,
           CAST(ROW_NUMBER() OVER (
             ORDER BY CASE WHEN p1 = 1 AND p1 + p2 + p3 >= 2 THEN 1 ELSE 0 END DESC,
                      anomaly_score DESC, user_id) AS INT) AS rank
    FROM scored
    """,
)
def q50(spark, sf_dir):
    """Ranked anomaly output with DETERMINISTIC (SQL-expressible) detector
    scores: robust-z over two features + an error-rate detector, the same
    invert/min-max/mean normalization and primary-AND-majority vote as the
    ensemble, then the reference's merge-back + (prediction desc, score desc)
    ranked ordering (model_output/nodes.py:60-112) via
    scoring.ranked_anomalies. Two extra passes over the tiny entity-grained
    features table compute exact median/MAD (1-row aggs broadcast back)."""
    from .operators import scoring

    ev = _t(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        (
            F.sum((F.col("event_type") == "error").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("err_rate"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )
    g1 = feats.groupBy().agg(
        F.median("mean_value").alias("med_mv"), F.median("n_events").alias("med_ne")
    )
    g2 = (
        feats.crossJoin(F.broadcast(g1))
        .groupBy()
        .agg(
            F.median(F.abs(F.col("mean_value") - F.col("med_mv"))).alias("mad_mv"),
            F.median(F.abs(F.col("n_events") - F.col("med_ne"))).alias("mad_ne"),
            F.first("med_mv").alias("med_mv"),
            F.first("med_ne").alias("med_ne"),
        )
    )
    z = feats.crossJoin(F.broadcast(g2)).select(
        "user_id",
        "first_ts",
        "err_rate",
        (
            F.abs(F.col("mean_value") - F.col("med_mv"))
            / F.greatest(F.lit(1.4826) * F.col("mad_mv"), F.lit(1e-9))
        ).alias("z_mv"),
        (
            F.abs(F.col("n_events") - F.col("med_ne"))
            / F.greatest(F.lit(1.4826) * F.col("mad_ne"), F.lit(1e-9))
        ).alias("z_ne"),
    )
    nb = z.groupBy().agg(
        F.min("z_mv").alias("lo1"), F.max("z_mv").alias("hi1"),
        F.min("z_ne").alias("lo2"), F.max("z_ne").alias("hi2"),
        F.min("err_rate").alias("lo3"), F.max("err_rate").alias("hi3"),
    )

    def _norm(v, lo, hi):
        return F.when(F.col(hi) > F.col(lo), (F.col(v) - F.col(lo)) / (F.col(hi) - F.col(lo))).otherwise(F.lit(0.0))

    scored = z.crossJoin(F.broadcast(nb)).select(
        "user_id",
        "first_ts",
        F.when(F.col("z_mv") > 2, 1).otherwise(0).alias("p1"),
        F.when(F.col("z_ne") > 2, 1).otherwise(0).alias("p2"),
        F.when(F.col("err_rate") > 0.3, 1).otherwise(0).alias("p3"),
        F.round(
            (_norm("z_mv", "lo1", "hi1") + _norm("z_ne", "lo2", "hi2") + _norm("err_rate", "lo3", "hi3"))
            / 3.0,
            6,
        ).alias("anomaly_score"),
    )
    pred = F.when((F.col("p1") == 1) & (F.col("p1") + F.col("p2") + F.col("p3") >= 2), 1).otherwise(0)
    output = scored.select("user_id", "p1", "p2", "p3", pred.alias("anomaly_prediction"), "anomaly_score")
    raw = scored.select("user_id", "first_ts")
    ranked = scoring.ranked_anomalies(output, raw, "user_id")
    return ranked.select(
        "user_id", "first_ts", "p1", "p2", "p3", "anomaly_prediction", "anomaly_score", "rank"
    )


@q("q51_anomaly_attribution")
def q51(spark, sf_dir):
    """Per-entity top-k feature attribution for the primary model — the SHAP
    interpretation analogue (model_output/nodes.py:116-125) as exact ablation
    deltas against the fit-sample median baseline (operators/scoring.py).
    Forest evaluation is not SQL-expressible -> rows-only driver check;
    tests/test_scoring.py holds the exact numpy oracle."""
    from .operators import scoring

    feats, model = fit_user_ensemble(spark, sf_dir)
    att = scoring.anomaly_attribution(feats, model, id_col="user_id", top_k=2)
    return att.select("user_id", "rank", "feature", F.round("delta", 6).alias("delta"))


# ===========================================================================
# REST API scan (S1) + dedicated null-drop filter (P3)
# ===========================================================================

@q(
    "q55_rest_api_scan",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 4) AS acctbal_sum,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key
    FROM customer GROUP BY c_mktsegment
    """,
)
def q55(spark, sf_dir):
    """Paged REST API scan (SURVEY.md S1, data_download/nodes.py:20-33 +
    kobo_tools.py probes): the customer table staged as a 4-page JSON "API"
    (each page a ``{"results": [...], "next": <url>}`` document), fetched
    through RestSource with the file:// transport — credential-format check,
    reachability probe, and 1-row column probe run first, then the paged
    scan stages JSON-lines and hands parsing to executors under an explicit
    DDL schema. The oracle aggregates the original parquet — a hash match
    proves the API round-trip is value-exact."""
    import json as _json
    import os

    from .sources import restio

    def write(d):
        os.makedirs(d, exist_ok=True)
        rows = [
            _json.loads(s)
            for s in _t(spark, sf_dir, "customer")
            .orderBy("c_custkey")
            .toJSON()
            .collect()
        ]
        n_pages = 4
        per = (len(rows) + n_pages - 1) // n_pages
        for i in range(n_pages):
            nxt = f"file://{d}/page{i + 1}.json" if i + 1 < n_pages else None
            with open(os.path.join(d, f"page{i}.json"), "w") as f:
                _json.dump({"results": rows[i * per : (i + 1) * per], "next": nxt}, f)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    d = _stage_once(sf_dir, "customer_api", write)
    src = restio.RestSource(
        f"file://{d}/page0.json",
        credentials="Token " + "ab" * 20,
        transport=restio.file_transport,
        retry_delay=0,
    )
    ok, msg = src.check_credentials_format()
    assert ok, msg
    status, msg = src.check_reachability()
    assert status == "Success", msg
    violations = src.check_columns(
        {k: {"mapping": k} for k in ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]}
    )
    assert violations == [], violations
    cust = src.scan_json(
        spark,
        _stage_dir(sf_dir, "customer_api_stage"),
        schema="c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string",
    )
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 4).alias("acctbal_sum"),
        F.min("c_custkey").alias("min_key"),
    )


@q(
    "q56_null_drop",
    """
    WITH derived AS (
      SELECT event_type,
             CASE WHEN value < 5 THEN NULL ELSE value END AS v,
             NULLIF(event_type, 'error')                  AS et
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT)                           AS rows_before,
           CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT)  AS null_v,
           CAST(COUNT(*) FILTER (WHERE et IS NULL) AS BIGINT) AS null_et,
           CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND et IS NOT NULL)
                AS BIGINT)                                    AS rows_after,
           ROUND(SUM(v) FILTER (WHERE v IS NOT NULL AND et IS NOT NULL), 4)
                                                              AS v_sum_after
    FROM derived
    """,
)
def q56(spark, sf_dir):
    """Dedicated null-drop filter (SURVEY.md P3,
    features_engineering/nodes.py:546-559): derive two deterministically
    nullable columns (testdata carries no physical nulls), log-style
    pre-drop accounting (row count + per-column NaN counts — the reference
    logs ``df.shape`` and ``isna().sum()``), then ``na.drop`` over the
    subset and re-aggregate. One scan: the pre/post accounting is a single
    conditional aggregate, not two jobs."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") < 5, None).otherwise(F.col("value")).alias("v"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("et"),
    )
    pre = ev.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.sum(F.col("v").isNull().cast("long")).alias("null_v"),
        F.sum(F.col("et").isNull().cast("long")).alias("null_et"),
    )
    post = (
        ev.na.drop(subset=["v", "et"])
        .agg(
            F.count(F.lit(1)).alias("rows_after"),
            F.round(F.sum("v"), 4).alias("v_sum_after"),
        )
    )
    # both sides are 1-row aggregates of the same cheap projection; the join
    # is a literal-broadcast crossJoin (the A13 two-pass pattern). At 100 TB
    # the two branches fuse into ONE conditional aggregate (null_* via
    # sum(isNull), rows_after via sum(isNotNull-and)) — kept separate here so
    # na.drop itself is in the executed plan.
    return pre.crossJoin(post)


def entry_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the validation engine pointed at the driver's relational
    tables — one verdict row per check family with violation counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dups = uniqueness.duplicate_keys(o, ["o_custkey"]).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("uniqueness_o_custkey").alias("check"), F.col("n"))
    orphans = (
        referential.anti_join(c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("customers_without_orders").alias("check"), F.col("n"))
    )
    low = (
        outliers.global_low_quantile_flag(o, "o_totalprice")
        .agg(F.sum(F.col("low_outlier").cast("long")).alias("n"))
        .select(F.lit("low_price_outliers").alias("check"), F.col("n"))
    )
    nulls = (
        _t(spark, sf_dir, "lineitem")
        .agg(F.sum(F.col("l_quantity").isNull().cast("long")).alias("n"))
        .select(F.lit("lineitem_quantity_nulls").alias("check"), F.col("n"))
    )
    return dups.unionByName(orphans).unionByName(low).unionByName(nulls)


# ---------------------------------------------------------------------------
# constraint suggestion (operators/profiler.py)
# ---------------------------------------------------------------------------

def _suggest_sql(col: str, dtype: str, kind: str, with_vals: bool = False) -> str:
    """One column's constraint-suggestion profile in DuckDB SQL, mirroring
    operators/profiler.py:suggest_constraints. ``kind``: num | ts | str."""
    is_cat = f"COUNT(DISTINCT {col}) BETWEEN 1 AND 20" if kind == "str" else "FALSE"
    min_num = f"CAST(MIN({col}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
    max_num = f"CAST(MAX({col}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
    min_ts = (
        f"STRFTIME(MIN({col}), '%Y-%m-%d %H:%M:%S')"
        if kind == "ts" else "CAST(NULL AS VARCHAR)"
    )
    max_ts = (
        f"STRFTIME(MAX({col}), '%Y-%m-%d %H:%M:%S')"
        if kind == "ts" else "CAST(NULL AS VARCHAR)"
    )
    min_len = f"CAST(MIN(LENGTH({col})) AS BIGINT)" if kind == "str" else "CAST(NULL AS BIGINT)"
    max_len = f"CAST(MAX(LENGTH({col})) AS BIGINT)" if kind == "str" else "CAST(NULL AS BIGINT)"
    # mirror profiler.py: the csv rendering is withheld when any value
    # contains the join char (lossy; phantom domain values otherwise)
    vals = (
        f"""CASE WHEN {is_cat}
                 AND MAX(CASE WHEN {col} LIKE '%,%' THEN 1 ELSE 0 END) = 0
            THEN
              (SELECT string_agg(v, ',' ORDER BY v)
               FROM (SELECT DISTINCT {col} AS v FROM orders
                     WHERE {col} IS NOT NULL) sub)
            END"""
        if with_vals else "CAST(NULL AS VARCHAR)"
    )
    return f"""
    SELECT '{col}' AS col, '{dtype}' AS dtype,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           COUNT(*) > 0 AND COUNT({col}) = COUNT(*) AS suggest_not_null,
           COUNT(*) > 0 AND COUNT({col}) = COUNT(*)
               AND COUNT(DISTINCT {col}) = COUNT(*) AS suggest_unique_key,
           {is_cat} AS is_categorical,
           {min_num} AS min_num, {max_num} AS max_num,
           {min_ts} AS min_ts, {max_ts} AS max_ts,
           {min_len} AS min_len, {max_len} AS max_len,
           {vals} AS allowed_csv
    FROM orders"""


@q(
    "q139_constraint_suggestion",
    " UNION ALL ".join(
        [
            _suggest_sql("o_orderkey", "bigint", "num"),
            _suggest_sql("o_custkey", "bigint", "num"),
            _suggest_sql("o_orderstatus", "string", "str", with_vals=True),
            _suggest_sql("o_totalprice", "double", "num"),
            _suggest_sql("o_orderdate", "timestamp_ntz", "ts"),
            _suggest_sql("o_orderpriority", "string", "str", with_vals=True),
        ]
    ),
)
def q139(spark, sf_dir):
    """Constraint suggestion (the Deequ ConstraintSuggestion idea; the
    reference's hand-authored YAML column map automated — SURVEY.md §1.3):
    ONE profiling aggregate over the table proposes NOT NULL / unique-key /
    numeric-range / categorical-domain constraints per column, with the
    sorted value list materialized only for the explicitly named
    categorical candidates. spec_from_suggestions turns these rows into a
    runnable TableSchemaSpec (closure pytest: the suggested spec re-applied
    to the profiled data yields zero violations)."""
    from .operators import profiler

    return profiler.suggest_constraints(
        _t(spark, sf_dir, "orders"),
        [
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
        value_cols=("o_orderstatus", "o_orderpriority"),
    )


@q(
    "q140_metric_regression",
    """
    WITH g AS (SELECT STRFTIME(ts, '%Y-%m-%d') AS run, event_type AS series,
                      CAST(COUNT(*) AS DOUBLE) AS n_events,
                      CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users
               FROM events GROUP BY 1, 2),
    h AS (SELECT run, series, 'n_events' AS metric, n_events AS value FROM g
          UNION ALL
          SELECT run, series, 'n_users' AS metric, n_users AS value FROM g),
    mx AS (SELECT MAX(run) AS latest FROM h),
    p AS (SELECT h.* FROM h, mx WHERE h.run < mx.latest),
    med AS (SELECT series, metric, CAST(COUNT(*) AS BIGINT) AS n_prior,
                   median(value) AS med
            FROM p GROUP BY 1, 2),
    mad AS (SELECT p.series, p.metric, median(ABS(p.value - med.med)) AS mad
            FROM p JOIN med ON p.series = med.series AND p.metric = med.metric
            GROUP BY 1, 2),
    l AS (SELECT h.* FROM h, mx WHERE h.run = mx.latest)
    SELECT l.series, l.metric,
           ROUND(l.value, 6) AS latest_value,
           med.n_prior,
           ROUND(med.med, 6) AS med_prior,
           ROUND(mad.mad, 6) AS mad_prior,
           ROUND(ABS(l.value - med.med), 6) AS abs_dev,
           ABS(l.value - med.med) > 4.0 * mad.mad + 1e-9 AS anomalous
    FROM l
    JOIN med ON l.series = med.series AND l.metric = med.metric
    JOIN mad ON l.series = mad.series AND l.metric = mad.metric
    WHERE med.n_prior >= 3
    """,
)
def q140(spark, sf_dir):
    """Run-over-run metric anomaly screen (operators/metric_history.py —
    the Deequ anomaly-detection idea over the engine's own metrics log):
    per (series, metric) the LATEST run's value is screened against the
    robust median +- k*MAD envelope of all prior runs. Here the history is
    derived deterministically from the events table (run = calendar day,
    series = event_type, metrics = row count + distinct users); in the
    validation job the same operator runs over
    <checkpoint>/metrics_log/*.jsonl (jobs/validate.py). Metric-grain data
    throughout: one agg + two grouped medians + one equi-join back."""
    from .operators.metric_history import metric_anomalies

    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("run"),
        F.col("event_type").alias("series"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        # distinct grain: per (run, series) group — keyed two-phase agg; swap
        # approx_count_distinct for a cheaper metric at 10^12 rows if 1-2%
        # error is acceptable for the screen (vocab.py tier pattern)
        F.countDistinct("user_id").cast("double").alias("n_users"),
    )
    hist = g.select(
        "run",
        "series",
        F.stack(
            F.lit(2),
            F.lit("n_events"), F.col("n_events"),
            F.lit("n_users"), F.col("n_users"),
        ).alias("metric", "value"),
    )
    return metric_anomalies(
        hist, run_col="run", key_cols=("series",), metric_col="metric",
        value_col="value", k=4.0,
    )


# ===========================================================================
# Exact TreeSHAP attribution (round 5 — the reference's SHAP step made exact)
# ===========================================================================

@q("q141_shap_attribution")
def q141(spark, sf_dir):
    """Exact path-dependent TreeSHAP for the primary IsolationForest
    (operators/treeshap.py) — the reference's shap.TreeExplainer step
    (model_output/nodes.py:116-125) computed exactly, replacing q51's
    ablation analogue. Attribution is scoped to the vote-FLAGGED rows (the
    reference applies SHAP to its anomaly output; at scale attribution is
    interpretation-grade, so the contamination-sized subset is the bound).
    Forest evaluation is not SQL-expressible -> rows-only driver check;
    tests/test_treeshap.py holds the brute-force-Shapley and additivity
    oracles."""
    from .operators import treeshap

    feats, model = fit_user_ensemble(spark, sf_dir)
    att = treeshap.shap_attribution(
        feats, model, id_col="user_id", top_k=2, flagged_only=True
    )
    return att.select("user_id", "rank", "feature", F.round("phi", 6).alias("phi"))


# ===========================================================================
# Real image pixel decode QA (round 5 — PNG + baseline JPEG, stdlib codecs)
# ===========================================================================

@q("q142_image_decode_qa")
def q142(spark, sf_dir):
    """Pixel-decode QA over a mixed PNG/JPEG/corrupt image table
    (operators/media.image_features, decoder='auto'): REAL decodes via the
    stdlib codecs (functions/png.py, functions/jpeg.py — both bomb-safe,
    refusing at a header-derived bound before allocating), container
    sniffed per payload, malformed bytes degrading to decode_ok=False.
    Aggregates decode rate + mean Rec.601 luma per container format.
    Binary pixel decode is not SQL-expressible -> rows-only driver check;
    exact pixel/luma oracles live in tests/test_jpeg.py and
    tests/test_png.py."""
    import numpy as np

    from .functions.jpeg import encode_jpeg
    from .functions.png import encode_png
    from .operators import media

    rng = np.random.default_rng(142)
    rows = []
    for i in range(24):
        h, w = 8 + int(rng.integers(0, 24)), 8 + int(rng.integers(0, 24))
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        if i % 3 == 0:
            raw = encode_png(px, filter_type=int(rng.integers(0, 5)))
        elif i % 3 == 1:
            raw = encode_jpeg(px, quality=90, subsample=bool(i % 2))
        else:  # corrupt: truncated JPEG
            raw = encode_jpeg(px, quality=90)[: 40 + int(rng.integers(0, 40))]
        rows.append((f"img-{i:03d}", bytearray(raw)))
    # coalesce: 24 fixture rows across default parallelism would spin ~32
    # Arrow python workers PER mapInPandas pass — worker startup, not
    # decode, would dominate the measured CPU (catalog-scaling audit)
    imgs = spark.createDataFrame(rows, "image_id string, bytes binary").coalesce(2)
    feats = media.image_features(imgs, decoder="auto")
    meta = media.image_metadata(imgs).select("image_id", "format")
    return (
        feats.join(F.broadcast(meta), "image_id")
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
            F.round(F.avg(F.when(F.col("decode_ok"), F.col("mean_lum"))), 4).alias(
                "mean_lum"
            ),
        )
        .orderBy("format")
    )


@q("q143_video_container_audit")
def q143(spark, sf_dir):
    """Video container audit (operators/media.video_metadata): REAL
    ISO-BMFF box-walk parse (functions/mp4.py — brand, mvhd duration,
    trak handler types, tkhd dimensions; no codec library), malformed
    containers degrading to container_ok=False. Aggregated per brand:
    parse rate, video-track presence, mean duration. Binary container
    parse is not SQL-expressible -> rows-only driver check; exact field
    and aggregate oracles in tests/test_mp4.py."""
    from .functions.mp4 import build_minimal_mp4
    from .operators import media

    rows = []
    for i in range(18):
        if i % 3 == 0:
            raw = build_minimal_mp4(
                duration_ms=1000.0 + 250.0 * i, width=640, height=360
            )
        elif i % 3 == 1:
            raw = build_minimal_mp4(
                duration_ms=500.0 + 100.0 * i, width=None, brand=b"mp42"
            )
        else:  # corrupt: truncated mid-moov
            raw = build_minimal_mp4(duration_ms=1000.0)[: 40 + i]
        rows.append((f"vid-{i:03d}", bytearray(raw)))
    # coalesce: see q142 — bound Arrow worker startup on the tiny fixture
    videos = spark.createDataFrame(rows, "video_id string, bytes binary").coalesce(2)
    return (
        media.video_metadata(videos)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("container_ok").cast("long")).alias("n_ok"),
            F.sum(F.col("has_video").cast("long")).alias("n_video"),
            F.round(F.avg("dur_ms"), 2).alias("mean_dur_ms"),
        )
        .orderBy("brand")
    )
